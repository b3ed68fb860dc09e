package graft.changesets

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{AnnModel, Similarity}

/** No-retrain ANN index maintenance (Pipeline.appendAnn). The binding
  * properties:
  *
  *   - append ≡ rebuild: growing a published pair by a batch encoded
  *     with the FROZEN model must produce exactly the index (and
  *     therefore exactly the probe results) that indexing everything
  *     from scratch with the same model produces;
  *   - O(delta) cost: an append writes ONLY its delta segment and a
  *     new manifest — pre-existing segment files are byte-untouched
  *     and the model artifact is referenced, never copied;
  *   - versioning: each append is its own immutable manifest, so the
  *     pointer flip back is a true rollback, and retention
  *     garbage-collects only segments no retained manifest references.
  */
class AnnAppendSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private def vec(id: Long): Array[Double] =
    Array.tabulate(dims)(d => math.sin(id * 31 + d * 7) * 10)
  private def emb(ids: Range) =
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private val coarse = Array.tabulate(4)(c => vec(1000 + c))
  private val codebooks = Array.tabulate(2)(m =>
    Array.tabulate(4)(c => vec(2000 + m * 10 + c).slice(m * 4, m * 4 + 4)))

  private def indexRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("neighbor_id").cast("long"), col("cluster").cast("int"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet

  private def pairIndex(dir: String) =
    Pipeline.readAnnIndex(spark, Pipeline.readCurrentAnn(dir).get)

  test("append == rebuild: index contents and probe results match from-scratch") {
    val dir = tmpDir("ann-append")
    val day1 = Similarity.ivfPqIndex(emb(0 until 40), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    Pipeline.appendAnn(spark, dir, "day2", emb(40 until 70), "vec_id", "embedding")

    val cur = Pipeline.readCurrentAnn(dir).get
    assert(cur.endsWith("ann-day2"), "pointer must advance to the appended pair")
    val grown = Pipeline.readAnnIndex(spark, cur)
    val scratch = Similarity.ivfPqIndex(emb(0 until 70), "vec_id", "embedding", coarse, codebooks)
    assert(indexRows(grown) === indexRows(scratch))

    // probes agree too, and see day-2 vectors
    val model = AnnModel.load(spark, Pipeline.annModelDir(cur))
    def probe(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqProbe(emb(0 until 3), ix, "vec_id", "embedding",
          k = 5, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val viaAppend = probe(grown)
    assert(viaAppend === probe(scratch))
    assert(grown.filter(col("neighbor_id") >= 40).count() === 30)
  }

  test("append cost is O(delta): base segment byte-untouched, delta-sized writes, shared model") {
    val dir = tmpDir("ann-odelta")
    val day1 = Similarity.ivfPqIndex(emb(0 until 40), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)

    def filesUnder(root: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val segStore = new java.io.File(s"$dir/_ann_segments")
    val modelStore = new java.io.File(s"$dir/_ann_models")
    val baseSegFiles = filesUnder(new java.io.File(segStore, "seg-day1"))
    val baseModelFiles = filesUnder(modelStore)

    Pipeline.appendAnn(spark, dir, "day2", emb(40 until 70), "vec_id", "embedding")

    // 1. the base segment's files are IDENTICAL objects after the
    //    append — same paths, sizes, mtimes (nothing rewritten)
    assert(filesUnder(new java.io.File(segStore, "seg-day1")) === baseSegFiles,
      "append rewrote base segment files — cost is O(index), not O(delta)")
    // 2. no new model artifact: the manifest references day1's model
    assert(filesUnder(modelStore) === baseModelFiles, "append copied the model artifact")
    val (modelRef, segRefs) = Pipeline.readAnnManifest(Pipeline.readCurrentAnn(dir).get)
    assert(modelRef === "_ann_models/model-day1")
    assert(segRefs === Seq("_ann_segments/seg-day1", "_ann_segments/seg-day2"))
    // 3. the new segment holds exactly the delta's rows
    val deltaRows = spark.read.parquet(s"$dir/_ann_segments/seg-day2")
    assert(deltaRows.count() === 30)
    assert(deltaRows.agg(min(col("neighbor_id"))).head.getLong(0) >= 40)
  }

  test("append is an immutable new pair: pointer flip back is a true rollback") {
    val dir = tmpDir("ann-rollback")
    val day1 = Similarity.ivfPqIndex(emb(0 until 40), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    val day1Rows = indexRows(pairIndex(dir))
    Pipeline.appendAnn(spark, dir, "day2", emb(40 until 70), "vec_id", "embedding")
    // the day-1 pair is untouched by the append
    assert(indexRows(Pipeline.readAnnIndex(spark, s"$dir/ann-day1")) === day1Rows)
    // flip back: the reader protocol sees exactly the day-1 index again
    Pipeline.annStore.flipPointer(dir, "ann-day1", "day1")
    assert(indexRows(pairIndex(dir)) === day1Rows)
  }

  test("retention GC keeps every segment a retained manifest references, reaps the rest") {
    val dir = tmpDir("ann-gc")
    val day1 = Similarity.ivfPqIndex(emb(0 until 20), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    Pipeline.appendAnn(spark, dir, "day2", emb(20 until 30), "vec_id", "embedding")
    Pipeline.appendAnn(spark, dir, "day3", emb(30 until 40), "vec_id", "embedding")
    // keep only the newest manifest (day3) — it references day1's
    // model and ALL THREE segments, so GC must reap nothing
    Pipeline.annStore.applyRetention(dir, keep = 1, protect = Pipeline.readCurrentAnn(dir))
    assert(!new java.io.File(s"$dir/ann-day1").exists())
    assert(!new java.io.File(s"$dir/ann-day2").exists())
    val segs = new java.io.File(s"$dir/_ann_segments").listFiles().map(_.getName).toSet
    assert(segs === Set("seg-day1", "seg-day2", "seg-day3"))
    assert(pairIndex(dir).count() === 40)

    // an orphaned segment (publish crashed before its manifest commit)
    // IS reaped
    val orphan = new java.io.File(s"$dir/_ann_segments/seg-orphan")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-0.parquet"), "x")
    Pipeline.annStore.applyRetention(dir, keep = 1, protect = Pipeline.readCurrentAnn(dir))
    assert(!orphan.exists(), "unreferenced segment must be garbage-collected")
    assert(pairIndex(dir).count() === 40, "GC touched referenced segments")
  }

  test("appendAnn refuses a version that resolves to the live pair (self-overwrite)") {
    val dir = tmpDir("ann-selfoverwrite")
    val day1 = Similarity.ivfPqIndex(emb(0 until 20), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendAnn(spark, dir, "day1", emb(20 until 30), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("overwrite the index it is reading"))
    // live pair untouched by the refused append
    assert(Pipeline.readAnnIndex(spark, s"$dir/ann-day1").count() === 20)
  }

  test("appendAnn refuses a batch whose ids already exist (disjoint-batch contract)") {
    val dir = tmpDir("ann-dupbatch")
    val day1 = Similarity.ivfPqIndex(emb(0 until 20), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    Pipeline.appendAnn(spark, dir, "day2", emb(20 until 30), "vec_id", "embedding")
    // replaying day2's batch under a NEW version would duplicate ids
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendAnn(spark, dir, "day2-retry", emb(20 until 30), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("batches must be disjoint"))
    // pointer still on the last good pair
    assert(Pipeline.readCurrentAnn(dir).get.endsWith("ann-day2"))
  }

  test("compactAnn: one segment, identical index + probes, rollback across it intact") {
    val dir = tmpDir("ann-compact")
    val day1 = Similarity.ivfPqIndex(emb(0 until 40), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    Pipeline.appendAnn(spark, dir, "day2", emb(40 until 70), "vec_id", "embedding")
    Pipeline.appendAnn(spark, dir, "day3", emb(70 until 90), "vec_id", "embedding")
    val preRows = indexRows(pairIndex(dir))
    val preDay2 = indexRows(Pipeline.readAnnIndex(spark, s"$dir/ann-day2"))

    val compacted = Pipeline.compactAnn(spark, dir, "wk1")
    assert(Pipeline.readCurrentAnn(dir).get === compacted)
    // layout: ONE segment, the SAME frozen model reference
    val (modelRef, segRefs) = Pipeline.readAnnManifest(compacted)
    assert(modelRef === "_ann_models/model-day1", "compaction must not touch the model")
    assert(segRefs === Seq("_ann_segments/seg-wk1"))
    // contents: bit-identical index rows, so probes are identical too
    assert(indexRows(pairIndex(dir)) === preRows)
    val model = AnnModel.load(spark, Pipeline.annModelDir(compacted))
    def probe(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqProbe(emb(0 until 3), ix, "vec_id", "embedding",
          k = 5, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val scratch = Similarity.ivfPqIndex(emb(0 until 90), "vec_id", "embedding", coarse, codebooks)
    assert(probe(pairIndex(dir)) === probe(scratch))
    // rollback across the compaction: pre-compact manifests still read
    // their exact segment prefix (old segments are never rewritten)
    assert(indexRows(Pipeline.readAnnIndex(spark, s"$dir/ann-day2")) === preDay2)
    Pipeline.annStore.flipPointer(dir, "ann-day2", "day2")
    assert(indexRows(pairIndex(dir)) === preDay2)
  }

  test("compactAnn on a single-segment pair is a no-op; collision with a retained ref refused") {
    val dir = tmpDir("ann-compact-noop")
    val day1 = Similarity.ivfPqIndex(emb(0 until 20), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    val live = Pipeline.readCurrentAnn(dir).get
    // already compact: same dir back, no version burned, nothing written
    assert(Pipeline.compactAnn(spark, dir, "wk1") === live)
    assert(!new java.io.File(s"$dir/ann-wk1").exists())
    // two segments now; a compact under a version whose segment ref a
    // RETAINED (non-live) manifest holds must refuse — overwriting
    // seg-day1 would corrupt rollback to ann-day1
    Pipeline.appendAnn(spark, dir, "day2", emb(20 until 30), "vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pipeline.compactAnn(spark, dir, "day1")
    }
    assert(e.getMessage.contains("retained manifest already references"))
    // after GC ages ann-day1 out, retention keeps every segment the
    // compacted manifest references
    Pipeline.compactAnn(spark, dir, "wk2", keepHistory = 1)
    assert(pairIndex(dir).count() === 30)
    val segs = new java.io.File(s"$dir/_ann_segments").listFiles().map(_.getName).toSet
    assert(segs === Set("seg-wk2"), s"old segments must GC once unreferenced, got $segs")
  }

  test("appendAnn after a compaction refuses tokens colliding with PRE-compact segments") {
    // r14 advice #1: post-compaction the LIVE manifest names only
    // seg-<wk>, but ann-day2's retained manifest still references
    // seg-day2 for byte-exact rollback — a 'day2' re-run passing the
    // require would mode(overwrite) that segment and corrupt rollback
    val dir = tmpDir("ann-postcompact-collide")
    val day1 = Similarity.ivfPqIndex(emb(0 until 20), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    Pipeline.appendAnn(spark, dir, "day2", emb(20 until 30), "vec_id", "embedding")
    val day2Rows = indexRows(Pipeline.readAnnIndex(spark, s"$dir/ann-day2"))
    Pipeline.compactAnn(spark, dir, "wk1")
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendAnn(spark, dir, "day2", emb(30 until 35), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("retained manifest already references"))
    // rollback to the pre-compact pair still reads byte-exact
    assert(indexRows(Pipeline.readAnnIndex(spark, s"$dir/ann-day2")) === day2Rows)
  }

  test("absorbAnnBatch replay after a compaction skips — the commit record survives") {
    // r14 advice #2: foreachBatch is at-least-once; a replayed batch
    // id must be recognized as absorbed even after compactAnn rewrote
    // the segment list, or the stream crash-loops on the duplicate-id
    // require. The manifest's absorbed-id set is the durable record.
    val dir = tmpDir("ann-absorb-compact")
    val base = Similarity.ivfPqIndex(emb(0 until 20), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "base", base, coarse, codebooks)
    Pipeline.absorbAnnBatch(spark, dir, 1L, emb(20 until 30), "vec_id", "embedding")
    Pipeline.compactAnn(spark, dir, "wk1")
    val cur = Pipeline.readCurrentAnn(dir).get
    assert(Pipeline.annStore.readManifest(cur).absorbed === Set(1L),
      "compaction must carry the absorbed-batch record forward")
    val before = indexRows(pairIndex(dir))
    // the replay: same batch id, same (or re-fetched) vectors
    val ret = Pipeline.absorbAnnBatch(spark, dir, 1L, emb(20 until 30), "vec_id", "embedding")
    assert(ret === cur, "replay must return the live pair, not append")
    assert(indexRows(pairIndex(dir)) === before, "replay must not change the index")
    // a genuinely new batch still appends, and carries the record on
    Pipeline.absorbAnnBatch(spark, dir, 2L, emb(30 until 35), "vec_id", "embedding")
    assert(Pipeline.annStore.readManifest(Pipeline.readCurrentAnn(dir).get).absorbed === Set(1L, 2L))
    assert(pairIndex(dir).count() === 35)
  }

  test("appendAnn before the first publish fails loudly") {
    val dir = tmpDir("ann-nopair")
    val e = intercept[IllegalStateException] {
      Pipeline.appendAnn(spark, dir, "day1", emb(0 until 5), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("publishAnn must run first"))
  }

  test("deleteAnn: delete == rebuild-without; history intact; segments byte-untouched") {
    val dir = tmpDir("ann-del")
    val full = Similarity.ivfPqIndex(emb(0 until 40), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", full, coarse, codebooks)
    val baseDir = Pipeline.readCurrentAnn(dir).get
    Pipeline.deleteAnn(spark, dir, "takedown", emb(25 until 40), "vec_id")
    val cur = Pipeline.readCurrentAnn(dir).get
    val without = Similarity.ivfPqIndex(emb(0 until 25), "vec_id", "embedding", coarse, codebooks)
    assert(indexRows(Pipeline.readAnnIndex(spark, cur)) === indexRows(without))
    // the RETAINED pre-delete pair still sees everything (time travel)
    // and names the SAME data segments — deletion is a manifest op
    assert(indexRows(Pipeline.readAnnIndex(spark, baseDir)) === indexRows(full))
    assert(Pipeline.readAnnManifest(cur)._2 === Pipeline.readAnnManifest(baseDir)._2)
    assert(Pipeline.annStore.readManifest(cur).tombstones.size === 1)
  }

  test("re-appending deleted vectors resurrects them; compaction materializes deletions") {
    val dir = tmpDir("ann-resurrect")
    val day1 = Similarity.ivfPqIndex(emb(0 until 30), "vec_id", "embedding", coarse, codebooks)
    Pipeline.publishAnn(spark, dir, "day1", day1, coarse, codebooks)
    Pipeline.deleteAnn(spark, dir, "takedown", emb(20 until 30), "vec_id")
    // re-append half the deleted ids: the dup check reads the filtered
    // index, and the takedown's tombstone is scoped to the segment it
    // deleted from, so the appended rows show
    Pipeline.appendAnn(spark, dir, "readd", emb(20 until 25), "vec_id", "embedding")
    val afterReadd = Pipeline.readCurrentAnn(dir).get
    assert(indexRows(Pipeline.readAnnIndex(spark, afterReadd)) === indexRows(
      Similarity.ivfPqIndex(emb(0 until 25), "vec_id", "embedding", coarse, codebooks)))
    assert(Pipeline.annStore.readManifest(afterReadd).tombstones.size === 1)
    // compaction materializes the remaining deletion and clears the
    // tombstone list (the single-segment+tombstones early-return case
    // is pinned on the postings side)
    val compacted = Pipeline.compactAnn(spark, dir, "weekly")
    assert(Pipeline.annStore.readManifest(compacted).tombstones.isEmpty)
    assert(indexRows(Pipeline.readAnnIndex(spark, compacted)) === indexRows(
      Similarity.ivfPqIndex(emb(0 until 25), "vec_id", "embedding", coarse, codebooks)))
  }
}
