package graft.changesets

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  private def writeXml(ids: Seq[Int]): String = {
    val body = ids.map(i =>
      s"""<changeset id="$i" created_at="2024-01-0${i % 9 + 1}T00:00:00Z" open="false" user="u$i" uid="$i" num_changes="1" comments_count="0"/>""")
      .mkString("\n")
    val f = Files.createTempFile("pipe", ".osm")
    Files.writeString(f,
      s"""<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n$body\n</osm>""")
    f.toString
  }

  test("change detection: first run processes, unchanged skips, force reruns") {
    val pub = tmpDir("pipe-pub")
    val state = tmpDir("pipe-state")
    val xml = writeXml(Seq(1, 2, 3))

    val r1 = Pipeline.run(spark, xml, pub, state, sourceVersion = "v1")
    assert(r1.ran && r1.rows === 3L)
    assert(Files.exists(Paths.get(pub, "index.json")))
    assert(Pipeline.readMarker(state).contains("v1"))
    assert(spark.read.parquet(s"$pub/changesets.parquet").count() === 3L)

    val r2 = Pipeline.run(spark, xml, pub, state, sourceVersion = "v1")
    assert(!r2.ran && r2.reason.contains("unchanged"))

    val r3 = Pipeline.run(spark, xml, pub, state, sourceVersion = "v1", force = true)
    assert(r3.ran && r3.reason === "forced")
  }

  test("new source version overwrites the published artifact") {
    val pub = tmpDir("pipe-pub2")
    val state = tmpDir("pipe-state2")
    Pipeline.run(spark, writeXml(Seq(1, 2)), pub, state, sourceVersion = "v1")
    Pipeline.run(spark, writeXml(Seq(1, 2, 3, 4)), pub, state, sourceVersion = "v2")
    assert(spark.read.parquet(s"$pub/changesets.parquet").count() === 4L)
    assert(Pipeline.readMarker(state).contains("v2"))
    val idx = Files.readString(Paths.get(pub, "index.json"))
    assert(idx.contains("\"rows\": 4"))
  }

  test("hostile version token: pointer JSON stays parseable, artifact stays in publishDir") {
    val pub = tmpDir("pipe-pub-hostile")
    val state = tmpDir("pipe-state-hostile")
    // path separators, a quote, a backslash, and a control char — each
    // would misplace the artifact or corrupt the pointer unescaped
    val nasty = "v1/../esc\"ape\\to\tkens"
    val r = Pipeline.runPointer(spark, writeXml(Seq(1, 2)), pub, state,
      sourceVersion = nasty)
    assert(r.ran && r.rows === 2L)
    // the artifact landed INSIDE publishDir (separators neutralized)
    val resolved = Pipeline.readCurrent(pub)
    assert(resolved.isDefined)
    assert(Paths.get(resolved.get).toAbsolutePath.normalize
      .startsWith(Paths.get(pub).toAbsolutePath.normalize))
    assert(spark.read.parquet(resolved.get).count() === 2L)
    // the pointer file is valid JSON despite the raw token's quote
    // and control char (the raw token round-trips through the escape)
    val ptr = Files.readString(Paths.get(pub, "current.json"))
    assert(ptr.contains("\\\"") && ptr.contains("\\t"))
    // change detection still compares the RAW token
    val r2 = Pipeline.runPointer(spark, writeXml(Seq(1, 2)), pub, state,
      sourceVersion = nasty)
    assert(!r2.ran && r2.reason.contains("unchanged"))
  }

  test("retention keeps the newest N versioned artifacts") {
    val pub = tmpDir("pipe-pub3")
    val state = tmpDir("pipe-state3")
    val xml = writeXml(Seq(1))
    (1 to 7).foreach(v =>
      Pipeline.run(spark, xml, pub, state, sourceVersion = s"v$v", keepHistory = 3))
    val versioned = Files.list(Paths.get(pub)).toArray.map(_.toString)
      .filter(_.matches(".*/changesets-v\\d+\\.parquet$")).sorted
    assert(versioned.length === 3)
    assert(versioned.last.endsWith("changesets-v7.parquet"))
  }

  test("mergeSnapshots keeps incoming rows on id conflict, unions the rest") {
    import spark.implicits._
    val published = Seq(
      (1L, "2024-01-01T00:00:00Z", true, 0L),   // will close in incoming
      (2L, "2024-01-02T00:00:00Z", false, 5L))
      .toDF("id", "created_at", "open", "num_changes")
      .withColumn("created_at", to_timestamp(col("created_at")))
    val incoming = Seq(
      (1L, "2024-01-01T00:00:00Z", false, 9L),  // closed, counts final
      (3L, "2024-01-03T00:00:00Z", true, 1L))   // brand new
      .toDF("id", "created_at", "open", "num_changes")
      .withColumn("created_at", to_timestamp(col("created_at")))
    val merged = Pipeline.mergeSnapshots(published, incoming)
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3)))
    assert(merged.toSeq === Seq((1L, false, 9L), (2L, false, 5L), (3L, true, 1L)))
  }

  test("publish swap recovers from a crash between the two renames") {
    val pub = tmpDir("pipe-pub5")
    val state = tmpDir("pipe-state5")
    Pipeline.run(spark, writeXml(Seq(1, 2, 3)), pub, state, sourceVersion = "v1")

    // simulate a crash after move(latest -> retired) but before
    // move(staging -> latest): the stable name is gone, the only copy
    // of the previous publish sits under the hidden .retired name
    Files.move(
      Paths.get(pub, "changesets.parquet"),
      Paths.get(pub, ".changesets.parquet.retired"))
    assert(!Files.exists(Paths.get(pub, "changesets.parquet")))

    // a reader-side recovery restores the stable artifact as-is
    Pipeline.recoverPublish(pub)
    assert(spark.read.parquet(s"$pub/changesets.parquet").count() === 3L)

    // and the next run after the same crash state must NOT destroy the
    // only surviving copy before its own publish lands
    Files.move(
      Paths.get(pub, "changesets.parquet"),
      Paths.get(pub, ".changesets.parquet.retired"))
    Pipeline.run(spark, writeXml(Seq(1, 2, 3, 4)), pub, state, sourceVersion = "v2")
    assert(spark.read.parquet(s"$pub/changesets.parquet").count() === 4L)
    assert(!Files.exists(Paths.get(pub, ".changesets.parquet.retired")))
  }

  test("pointer-flip publish: a reader sees a complete artifact at every step of the swap") {
    val pub = tmpDir("pipe-ptr1")
    val state = tmpDir("pipe-ptr1-state")

    // the reader protocol under test: resolve the pointer, open what it
    // names. Run it at every interleaving point of the v2 publish.
    def readerSees(): Long = {
      val cur = Pipeline.readCurrent(pub)
      assert(cur.isDefined, "pointer must resolve once the first publish landed")
      spark.read.parquet(cur.get).count()
    }

    // publish v1 end-to-end
    val r1 = Pipeline.runPointer(spark, writeXml(Seq(1, 2, 3)), pub, state, sourceVersion = "v1")
    assert(r1.ran && r1.rows === 3L)
    assert(readerSees() === 3L)

    // --- begin the v2 publish, step by step, probing the reader at
    // each point an object-store reader could land ---

    // step 1: the v2 artifact is PARTIALLY written (simulated: a
    // directory with a stray non-parquet temp file, as mid-upload).
    // The pointer still names v1 — the reader must still see 3 rows.
    val v2dir = Paths.get(pub, "changesets-v2.parquet")
    Files.createDirectories(v2dir)
    Files.writeString(v2dir.resolve("_temporary-upload"), "partial bytes")
    assert(readerSees() === 3L)

    // step 2: artifact fully written (real convert), pointer not yet
    // flipped — reader still on v1. A crash here needs NO recovery.
    Files.delete(v2dir.resolve("_temporary-upload"))
    Files.delete(v2dir)
    ChangesetConverter.convert(spark, writeXml(Seq(1, 2, 3, 4)), v2dir.toString,
      ChangesetConverter.Options())
    assert(readerSees() === 3L)

    // step 3: the flip — one atomic small-object write. Reader now
    // sees v2, immediately and completely.
    Pipeline.flipPointer(pub, "changesets-v2.parquet", 4L, "v2")
    assert(readerSees() === 4L)

    // the v1 artifact is still intact (immutable history): a reader
    // that resolved the pointer BEFORE the flip and is still scanning
    // v1 mid-query finishes correctly.
    assert(spark.read.parquet(s"$pub/changesets-v1.parquet").count() === 3L)
  }

  test("pointer-flip publish: retention never deletes the pointed-at artifact") {
    val pub = tmpDir("pipe-ptr2")
    val state = tmpDir("pipe-ptr2-state")
    (1 to 5).foreach(v =>
      Pipeline.runPointer(spark, writeXml(1 to v), pub, state,
        sourceVersion = s"v$v", keepHistory = 2))
    // pointer names v5; v5 + one more survive
    assert(Pipeline.readCurrent(pub).get.endsWith("changesets-v5.parquet"))
    assert(spark.read.parquet(Pipeline.readCurrent(pub).get).count() === 5L)

    // rollback: flip the pointer BACK to v4, then age it out by
    // retention — the protected artifact must survive
    Pipeline.flipPointer(pub, "changesets-v4.parquet", 4L, "v4")
    Pipeline.applyRetention(pub, keep = 1, protect = Pipeline.readCurrent(pub))
    assert(spark.read.parquet(Pipeline.readCurrent(pub).get).count() === 4L)
  }

  test("ANN publish: index+model version as ONE pair; rollback rolls both; reader is never split") {
    import spark.implicits._
    val pub = tmpDir("pipe-ann")
    def model(v: Double) = (
      Array(Array(v, v), Array(v + 1, v + 1)),
      Array(Array(Array(v, v), Array(v + 9, v + 9))))
    def index(n: Int) = (0 until n).map(i => (i.toLong, i % 2)).toDF("vec_id", "cluster")

    // the reader protocol: resolve the pointer ONCE, open both halves
    // through the same manifest — index rows and model must come from
    // the same build
    def readerSees(): (Long, Double) = {
      val dir = Pipeline.readCurrentAnn(pub).get
      val rows = Pipeline.readAnnIndex(spark, dir).count()
      val m = graft.operators.AnnModel.load(spark, Pipeline.annModelDir(dir))
      (rows, m.coarse(0)(0))
    }

    val (c1, cb1) = model(1.0)
    Pipeline.publishAnn(spark, pub, "v1", index(3), c1, cb1)
    assert(readerSees() === ((3L, 1.0)))

    // interleaving probe: v2 partially written (segment landed, model
    // and manifest not yet) — the pointer still names v1, so a reader
    // sees the COMPLETE v1 pair, never v2's index with v1's model
    index(4).write.partitionBy("cluster")
      .parquet(s"$pub/_ann_segments/seg-v2")
    assert(readerSees() === ((3L, 1.0)))

    val (c2, cb2) = model(2.0)
    Pipeline.publishAnn(spark, pub, "v2", index(4), c2, cb2)
    assert(readerSees() === ((4L, 2.0)))

    // rollback: ONE pointer flip reverts BOTH halves
    Pipeline.annStore.flipPointer(pub, "ann-v1", "v1")
    assert(readerSees() === ((3L, 1.0)))

    // retention never deletes the pointed-at pair, even when mtime
    // ordering would age it out after the rollback (keep=0 ages out
    // every unprotected pair)
    Pipeline.annStore.applyRetention(pub, keep = 0, protect = Pipeline.readCurrentAnn(pub))
    assert(readerSees() === ((3L, 1.0)))
    assert(!Files.exists(Paths.get(pub, "ann-v2")), "unprotected pair should age out")
  }

  test("safeVersion: sanitized names are injective (distinct raw tokens never collide)") {
    // clean tokens keep their exact name (artifact names stay stable)
    assert(Pipeline.safeVersion("v7") === "v7")
    // 'a/b' sanitizes to 'a_b' — without the hash suffix it would
    // overwrite the artifact of the DISTINCT raw token 'a_b'
    val slashed = Pipeline.safeVersion("a/b")
    assert(slashed !== Pipeline.safeVersion("a_b"))
    assert(Pipeline.safeVersion("a_b") === "a_b")
    assert(!slashed.contains("/") && slashed.startsWith("a_b-"))
    // two different raws with the SAME sanitized form also differ
    assert(Pipeline.safeVersion("a\\b") !== slashed)
  }

  test("retention is mtime-ordered, not token-ordered (Last-Modified-style tokens)") {
    val pub = tmpDir("pipe-pub4")
    // tokens whose lexicographic order INVERTS arrival order — like
    // HTTP Last-Modified weekday-first strings
    val tokens = Seq("Wed-21-Oct", "Mon-26-Oct", "Fri-30-Oct")
    tokens.zipWithIndex.foreach { case (tok, i) =>
      val d = Paths.get(pub, s"changesets-$tok.parquet")
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), s"stub$i")
      Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    Pipeline.applyRetention(pub, keep = 1)
    val left = Files.list(Paths.get(pub)).toArray.map(_.toString)
      .filter(_.matches(".*/changesets-.*\\.parquet$"))
    // newest by mtime survives even though its token sorts first
    assert(left.toSeq.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq("changesets-Fri-30-Oct.parquet"))
  }
}
