package graft.changesets

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** The versioned segment store under both indexes, at its commit
  * points. A write is: data segments, then the manifest, then the
  * pointer flip, then retention. Each crash state is built from
  * outside, with no hook in the store:
  *
  *   - after the data write: a segment dir with no manifest naming it,
  *     written directly (a postings one with its lexicon, which a
  *     postings write stores before the manifest);
  *   - after the manifest commit: the op runs, then the pointer is
  *     flipped back to its parent.
  *
  * In both, readers must see exactly the parent version, retention
  * must delete no segment or model a retained manifest references, an
  * absorb replay must converge to the uninterrupted run, and an
  * explicit-token op retried under a fresh token must read the same
  * (postings: with the same stored statistics). Retention must order
  * versions by manifest `seq`, not mtime.
  */
class SegmentStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private def vec(id: Long): Array[Double] =
    Array.tabulate(dims)(d => math.sin(id * 31 + d * 7) * 10)
  private def emb(ids: Range) = ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  private val coarse = Array.tabulate(4)(c => vec(1000 + c))
  private val codebooks = Array.tabulate(2)(m =>
    Array.tabulate(4)(c => vec(2000 + m * 10 + c).slice(m * 4, m * 4 + 4)))
  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}")).toDF("doc_id", "text")

  /** One index, driven through its public Pipeline functions. */
  private abstract class Index(val name: String, val store: SegmentStore, val prefix: String,
      val segmentDir: String) {
    def publish(dir: String, v: String, ids: Range): String
    def append(dir: String, v: String, ids: Range): String
    def delete(dir: String, v: String, ids: Range): String
    def compact(dir: String, v: String): String
    def absorb(dir: String, batchId: Long, ids: Range): String
    def read(versionDir: String): DataFrame
  }

  private object Ann extends Index("ANN", Pipeline.annStore, "ann-", "_ann_segments") {
    def publish(dir: String, v: String, ids: Range) = Pipeline.publishAnn(spark, dir, v,
      Similarity.ivfPqIndex(emb(ids), "vec_id", "embedding", coarse, codebooks), coarse, codebooks)
    def append(dir: String, v: String, ids: Range) =
      Pipeline.appendAnn(spark, dir, v, emb(ids), "vec_id", "embedding")
    def delete(dir: String, v: String, ids: Range) =
      Pipeline.deleteAnn(spark, dir, v, emb(ids), "vec_id")
    def compact(dir: String, v: String) = Pipeline.compactAnn(spark, dir, v)
    def absorb(dir: String, batchId: Long, ids: Range) =
      Pipeline.absorbAnnBatch(spark, dir, batchId, emb(ids), "vec_id", "embedding")
    def read(versionDir: String) = Pipeline.readAnnIndex(spark, versionDir)
  }

  private object Postings extends Index("postings", Pipeline.postingsStore, "post-",
      "_postings_segments") {
    def publish(dir: String, v: String, ids: Range) =
      Pipeline.publishPostings(spark, dir, v, docs(ids), "doc_id", "text")
    def append(dir: String, v: String, ids: Range) =
      Pipeline.appendPostings(spark, dir, v, docs(ids), "doc_id", "text")
    def delete(dir: String, v: String, ids: Range) =
      Pipeline.deletePostings(spark, dir, v, docs(ids), "doc_id")
    def compact(dir: String, v: String) = Pipeline.compactPostings(spark, dir, v)
    def absorb(dir: String, batchId: Long, ids: Range) =
      Pipeline.absorbPostingsBatch(spark, dir, batchId, docs(ids), "doc_id", "text")
    def read(versionDir: String) = Pipeline.readPostingsIndex(spark, versionDir)
  }

  /** Every row of a version, duplicates kept. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  private def live(ix: Index, dir: String): String = ix.store.readCurrent(dir).get

  /** The parent every op starts from: two segments (v0, v1). */
  private def parent(ix: Index, tag: String): String = {
    val dir = tmpDir(s"crash-${ix.prefix}$tag")
    ix.publish(dir, "v0", 0 until 10)
    ix.append(dir, "v1", 10 until 15)
    dir
  }

  /** Every ref of every retained manifest is on disk. */
  private def assertRefsIntact(ix: Index, dir: String): Unit =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith(ix.prefix) && new java.io.File(f, "manifest.json").exists)
      .flatMap(f => ix.store.readManifest(f.toString).refs)
      .foreach(r => assert(Files.exists(Paths.get(dir, r)), s"retention deleted referenced $r"))

  /** The crash state's contract: the parent is live and reads as
    * before, and the tightest retention keeps everything a retained
    * manifest references.
    */
  private def assertParentLive(ix: Index, dir: String, parentRows: Seq[String]): Unit = {
    assert(live(ix, dir).endsWith(s"/${ix.prefix}v1"))
    assert(rows(ix.read(live(ix, dir))) === parentRows)
    ix.store.applyRetention(dir, keep = 1, protect = ix.store.readCurrent(dir))
    assertRefsIntact(ix, dir)
    assert(rows(ix.read(live(ix, dir))) === parentRows)
  }

  /** A half-finished data write: a segment dir no manifest names,
    * holding a postings write's lexicon too — one that disagrees with
    * what the ref's own write would store.
    */
  private def writeOrphan(ix: Index, dir: String, ref: String): Unit = {
    val rows = ix.read(live(ix, dir))
    rows.write.parquet(s"$dir/$ref")
    if (ix eq Postings) rows.groupBy(col("term")).agg((count(lit(1)) * 2).as("df"))
      .write.parquet(s"$dir/$ref/${SegmentStore.LexiconDir}")
  }

  /** A postings version's stored statistics for a few terms. */
  private def figures(ix: Index, versionDir: String) =
    if (ix eq Postings) Pipeline.storedPostingsStatistics(ix.read(versionDir),
      Seq("alpha", "beta", "doc3", "doc21", "word0"))
    else None

  private val ops: Seq[(String, String, (Index, String, String) => String)] = Seq(
    ("publish", "seg", (ix, dir, v) => ix.publish(dir, v, 0 until 20)),
    ("append", "seg", (ix, dir, v) => ix.append(dir, v, 20 until 25)),
    ("delete", "tomb", (ix, dir, v) => ix.delete(dir, v, 3 until 6)),
    ("compact", "seg", (ix, dir, v) => ix.compact(dir, v)))

  for (ix <- Seq(Ann, Postings); (op, written, run) <- ops)
    test(s"${ix.name} $op: a crash at either commit point leaves the parent live; a retry converges") {
      val clean = run(ix, parent(ix, s"$op-clean"), "x")
      val expected = rows(ix.read(clean))
      val expectedFigures = figures(ix, clean)
      assert(expectedFigures.isDefined === (ix eq Postings))

      // after the data write: nothing references the segment, so the
      // same token simply rewrites it
      val d1 = parent(ix, s"$op-data")
      val parentRows = rows(ix.read(live(ix, d1)))
      writeOrphan(ix, d1, s"${ix.segmentDir}/$written-x")
      assertParentLive(ix, d1, parentRows)
      assert(!Files.exists(Paths.get(d1, ix.segmentDir, s"$written-x")), "orphan not collected")
      writeOrphan(ix, d1, s"${ix.segmentDir}/$written-x")
      val retried = run(ix, d1, "x")
      assert(rows(ix.read(retried)) === expected)
      assert(figures(ix, retried) === expectedFigures)
      assertRefsIntact(ix, d1)

      // after the manifest commit: the committed version keeps its
      // token, so the retry runs under a fresh one
      val d2 = parent(ix, s"$op-manifest")
      run(ix, d2, "x")
      ix.store.flipPointer(d2, s"${ix.prefix}v1", "v1")
      assertParentLive(ix, d2, parentRows)
      if (op != "publish") intercept[IllegalArgumentException](run(ix, d2, "x"))
      val retriedFresh = run(ix, d2, "x-retry")
      assert(rows(ix.read(retriedFresh)) === expected)
      assert(figures(ix, retriedFresh) === expectedFigures)
      assertRefsIntact(ix, d2)
    }

  for (ix <- Seq(Ann, Postings))
    test(s"${ix.name} absorb: a replay after a crash at either commit point converges") {
      val expected = rows(ix.read(ix.absorb(parent(ix, "absorb-clean"), 7L, 30 until 35)))

      val d1 = parent(ix, "absorb-data")
      val parentRows = rows(ix.read(live(ix, d1)))
      writeOrphan(ix, d1, s"${ix.segmentDir}/seg-batch-7")
      assertParentLive(ix, d1, parentRows)
      writeOrphan(ix, d1, s"${ix.segmentDir}/seg-batch-7")
      assert(rows(ix.read(ix.absorb(d1, 7L, 30 until 35))) === expected)
      assertRefsIntact(ix, d1)

      // the manifest names the batch but the pointer never moved: the
      // replay completes that commit instead of refusing the token
      val d2 = parent(ix, "absorb-manifest")
      ix.absorb(d2, 7L, 30 until 35)
      ix.store.flipPointer(d2, s"${ix.prefix}v1", "v1")
      assertParentLive(ix, d2, parentRows)
      val replayed = ix.absorb(d2, 7L, 30 until 35)
      assert(replayed.endsWith(s"/${ix.prefix}batch-7") && live(ix, d2) === replayed)
      assert(rows(ix.read(replayed)) === expected)
      assertRefsIntact(ix, d2)
      // and a further replay is the ordinary already-absorbed skip
      assert(ix.absorb(d2, 7L, 30 until 35) === replayed)
    }

  test("absorb replay refuses a committed batch version that does not extend the live one") {
    val dir = parent(Postings, "absorb-diverged")
    Postings.absorb(dir, 7L, 30 until 35)
    // the live version moved on without the batch: completing the
    // batch's commit would drop v2, so the replay must refuse
    Postings.store.flipPointer(dir, "post-v1", "v1")
    Postings.append(dir, "v2", 40 until 45)
    val e = intercept[IllegalArgumentException](Postings.absorb(dir, 7L, 30 until 35))
    assert(e.getMessage.contains("already references"))
    assert(live(Postings, dir).endsWith("/post-v2"))
  }

  for (ix <- Seq(Ann, Postings))
    test(s"${ix.name} absorb replay refuses to undo a takedown committed after the crash") {
      val dir = parent(ix, "absorb-takedown")
      ix.absorb(dir, 7L, 30 until 35)
      ix.store.flipPointer(dir, s"${ix.prefix}v1", "v1")
      // same segments and absorbed set as the batch's parent; only the
      // tombstones differ, so flipping to the batch would resurrect 3..5
      ix.delete(dir, "v2", 3 until 6)
      val withoutTakedown = rows(ix.read(live(ix, dir)))
      val e = intercept[IllegalArgumentException](ix.absorb(dir, 7L, 30 until 35))
      assert(e.getMessage.contains("already references"))
      assert(live(ix, dir).endsWith(s"/${ix.prefix}v2"))
      assert(rows(ix.read(live(ix, dir))) === withoutTakedown)
      val idCol = if (ix eq Ann) "neighbor_id" else "doc"
      assert(ix.read(live(ix, dir)).where(col(idCol).between(3, 5)).isEmpty)
    }

  for (ix <- Seq(Ann, Postings))
    test(s"${ix.name} retention orders versions by manifest seq, not directory mtime") {
      val dir = tmpDir(s"seq-${ix.prefix}")
      ix.publish(dir, "v0", 0 until 10)
      ix.append(dir, "v1", 10 until 15)
      ix.append(dir, "v2", 15 until 20)
      val names = Seq("v0", "v1", "v2").map(ix.prefix + _)
      assert(names.map(n => ix.store.readManifest(s"$dir/$n").seq) === Seq(1L, 2L, 3L))
      // a copy (or an object store) can leave any mtimes: invert them
      names.zipWithIndex.foreach { case (n, i) =>
        Files.setLastModifiedTime(Paths.get(dir, n), FileTime.fromMillis(1000000L - i * 60000L))
      }
      ix.store.applyRetention(dir, keep = 2)
      assert(names.map(n => Files.exists(Paths.get(dir, n))) === Seq(false, true, true),
        "the oldest version by seq must go")
      assert(rows(ix.read(live(ix, dir))).nonEmpty)
      assertRefsIntact(ix, dir)
    }
}
