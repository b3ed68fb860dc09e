package graft.changesets

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Retrieval

/** Segmented postings-index maintenance (Pipeline.publishPostings /
  * appendPostings) — the retrieval analog of AnnAppendSpec, gated
  * end-to-end by q148's append≡rebuild BM25 hash. Binding properties:
  * append ≡ rebuild on the postings multiset (df/dl additivity over
  * disjoint-doc segments), O(delta) writes, immutable-version
  * rollback, disjoint-batch and fresh-token requires, retention GC.
  */
class PostingsLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}"))
      .toDF("doc_id", "text")

  private def postRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("append ≡ rebuild: the segment union IS the full-corpus postings table") {
    val dir = tmpDir("post-append")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 30), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "day2", docs(30 until 50), "doc_id", "text")
    val cur = Pipeline.readCurrentPostings(dir).get
    assert(cur.endsWith("post-day2"))
    val grown = postRows(Pipeline.readPostingsIndex(spark, cur)
      .select(col("term"), col("doc"), col("tf")))
    val scratch = postRows(Retrieval.postings(docs(0 until 50), "doc_id", "text")
      .select(col("term"), col("doc"), col("tf")))
    assert(grown === scratch)
    // and the BM25 probe over the union matches a from-scratch search
    val q = Seq((1000L, "alpha word1")).toDF("doc_id", "text")
    val viaSegments = Retrieval.bm25OverPostings(
        q, Pipeline.readPostingsIndex(spark, cur), "doc_id", "text", k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toList
    val viaRebuild = Retrieval.searchTopKBm25(q, docs(0 until 50), "doc_id", "text", k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toList
    assert(viaSegments === viaRebuild)
  }

  test("append cost is O(delta): base segment byte-untouched, delta tokenizes new docs only") {
    val dir = tmpDir("post-odelta")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 30), "doc_id", "text")
    def filesUnder(root: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val store = new java.io.File(s"$dir/_postings_segments")
    val baseFiles = filesUnder(new java.io.File(store, "seg-base"))
    Pipeline.appendPostings(spark, dir, "day2", docs(30 until 50), "doc_id", "text")
    assert(filesUnder(new java.io.File(store, "seg-base")) === baseFiles,
      "append rewrote the base segment — cost is O(index), not O(delta)")
    assert(Pipeline.readPostingsManifest(Pipeline.readCurrentPostings(dir).get) ===
      Seq("_postings_segments/seg-base", "_postings_segments/seg-day2"))
    val delta = spark.read.parquet(s"$dir/_postings_segments/seg-day2")
    assert(delta.agg(min(col("doc"))).head.getLong(0) >= 30L)
  }

  test("disjoint-batch and fresh-token contracts are checked; rollback is a pointer flip") {
    val dir = tmpDir("post-guards")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 30), "doc_id", "text")
    // overlapping batch: doc 29 already indexed
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.appendPostings(spark, dir, "day2", docs(29 until 40), "doc_id", "text")
    }
    assert(e1.getMessage.contains("disjoint"))
    // reusing the live version token
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.appendPostings(spark, dir, "base", docs(30 until 40), "doc_id", "text")
    }
    assert(e2.getMessage.contains("fresh version token"))
    // a real append, then rollback: the base version still reads as
    // exactly the base postings
    Pipeline.appendPostings(spark, dir, "day2", docs(30 until 40), "doc_id", "text")
    val base = postRows(Pipeline.readPostingsIndex(spark, s"$dir/post-base")
      .select(col("term"), col("doc"), col("tf")))
    assert(base === postRows(Retrieval.postings(docs(0 until 30), "doc_id", "text")
      .select(col("term"), col("doc"), col("tf"))))
    Pipeline.postingsStore.flipPointer(dir, "post-base", "base")
    assert(Pipeline.readCurrentPostings(dir).get.endsWith("post-base"))
  }

  test("retention keeps segments any retained manifest references, reaps orphans") {
    val dir = tmpDir("post-gc")
    Pipeline.publishPostings(spark, dir, "d1", docs(0 until 10), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "d2", docs(10 until 20), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "d3", docs(20 until 30), "doc_id", "text")
    Pipeline.postingsStore.applyRetention(dir, keep = 1,
      protect = Pipeline.readCurrentPostings(dir))
    assert(!new java.io.File(s"$dir/post-d1").exists())
    assert(!new java.io.File(s"$dir/post-d2").exists())
    // d3's manifest references all three segments — none reaped
    val segs = new java.io.File(s"$dir/_postings_segments").listFiles().map(_.getName).toSet
    assert(segs === Set("seg-d1", "seg-d2", "seg-d3"))
    // an orphan (publish crashed pre-manifest) IS reaped
    val orphan = new java.io.File(s"$dir/_postings_segments/seg-orphan")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-0.parquet"), "x")
    Pipeline.postingsStore.applyRetention(dir, keep = 1,
      protect = Pipeline.readCurrentPostings(dir))
    assert(!orphan.exists())
    assert(Pipeline.readPostingsIndex(spark,
      Pipeline.readCurrentPostings(dir).get).select(col("doc")).distinct().count() === 30L)
  }

  test("compact: one segment, postings preserved, rollback intact, token collision guarded") {
    val dir = tmpDir("post-compact")
    Pipeline.publishPostings(spark, dir, "d1", docs(0 until 20), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "d2", docs(20 until 35), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "d3", docs(35 until 50), "doc_id", "text")
    val preCompact = postRows(Pipeline.readPostingsIndex(
        spark, Pipeline.readCurrentPostings(dir).get)
      .select(col("term"), col("doc"), col("tf")))
    Pipeline.compactPostings(spark, dir, "w1")
    val cur = Pipeline.readCurrentPostings(dir).get
    assert(cur.endsWith("post-w1"))
    assert(Pipeline.readPostingsManifest(cur) === Seq("_postings_segments/seg-w1"))
    assert(postRows(Pipeline.readPostingsIndex(spark, cur)
      .select(col("term"), col("doc"), col("tf"))) === preCompact)
    // rollback to the pre-compact version still reads all three segments
    Pipeline.postingsStore.flipPointer(dir, "post-d3", "d3")
    assert(postRows(Pipeline.readPostingsIndex(
        spark, Pipeline.readCurrentPostings(dir).get)
      .select(col("term"), col("doc"), col("tf"))) === preCompact)
    Pipeline.postingsStore.flipPointer(dir, "post-w1", "w1")
    // reusing a retained version token post-compaction must fail, not
    // overwrite an immutable segment older manifests reference
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendPostings(spark, dir, "d2", docs(50 until 60), "doc_id", "text")
    }
    assert(e.getMessage.contains("already references"))
    // single-segment compact is a no-op returning the live dir
    assert(Pipeline.compactPostings(spark, dir, "w2") === cur)
  }

  test("deletePostings: delete == rebuild-without; history unaffected; segments untouched") {
    val dir = tmpDir("post-del")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 40), "doc_id", "text")
    val baseDir = Pipeline.readCurrentPostings(dir).get
    Pipeline.deletePostings(spark, dir, "takedown",
      docs(25 until 40), "doc_id")
    val cur = Pipeline.readCurrentPostings(dir).get
    // live read = rebuild over the surviving docs, bit-for-bit
    assert(postRows(Pipeline.readPostingsIndex(spark, cur)
        .select(col("term"), col("doc"), col("tf")))
      === postRows(Retrieval.postings(docs(0 until 25), "doc_id", "text")
        .select(col("term"), col("doc"), col("tf"))))
    // the RETAINED pre-delete version still sees everything (time
    // travel), and the data segment list is byte-identical — deletion
    // is a manifest operation
    assert(postRows(Pipeline.readPostingsIndex(spark, baseDir)
        .select(col("term"), col("doc"), col("tf")))
      === postRows(Retrieval.postings(docs(0 until 40), "doc_id", "text")
        .select(col("term"), col("doc"), col("tf"))))
    assert(Pipeline.readPostingsManifest(cur) === Pipeline.readPostingsManifest(baseDir))
    assert(Pipeline.postingsStore.readManifest(cur).tombstones.size === 1)
  }

  test("re-appending a deleted doc resurrects it (tombstone set shrinks)") {
    val dir = tmpDir("post-resurrect")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 30), "doc_id", "text")
    Pipeline.deletePostings(spark, dir, "takedown", docs(20 until 30), "doc_id")
    // re-append docs 20-24 (now absent from the live index) — without
    // the resurrection rule the stale tombstone would hide them and
    // the append would silently index nothing
    Pipeline.appendPostings(spark, dir, "readd", docs(20 until 25), "doc_id", "text")
    val cur = Pipeline.readCurrentPostings(dir).get
    assert(postRows(Pipeline.readPostingsIndex(spark, cur)
        .select(col("term"), col("doc"), col("tf")))
      === postRows(Retrieval.postings(docs(0 until 25), "doc_id", "text")
        .select(col("term"), col("doc"), col("tf"))))
    // full resurrection clears the tombstone list entirely
    Pipeline.appendPostings(spark, dir, "readd2", docs(25 until 30), "doc_id", "text")
    assert(Pipeline.postingsStore.readManifest(
      Pipeline.readCurrentPostings(dir).get).tombstones.isEmpty)
  }

  test("compaction materializes deletions: one clean segment, tombstones cleared") {
    val dir = tmpDir("post-del-compact")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 30), "doc_id", "text")
    Pipeline.deletePostings(spark, dir, "takedown", docs(10 until 30), "doc_id")
    // single data segment + live tombstones: compact must still run
    // (materializing the deletion IS the rewrite)
    val compacted = Pipeline.compactPostings(spark, dir, "weekly")
    assert(compacted !== Pipeline.readPostingsManifest(compacted).head)
    assert(Pipeline.postingsStore.readManifest(compacted).tombstones.isEmpty)
    assert(Pipeline.readPostingsManifest(compacted).size === 1)
    assert(postRows(Pipeline.readPostingsIndex(spark, compacted)
        .select(col("term"), col("doc"), col("tf")))
      === postRows(Retrieval.postings(docs(0 until 10), "doc_id", "text")
        .select(col("term"), col("doc"), col("tf"))))
  }
}
