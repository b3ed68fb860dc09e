package graft.changesets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Retrieval, Similarity}

/** The lifecycle probes over segment-store versions: BM25 scoring
  * from the per-doc statistics the postings segments store (`dl`,
  * `lead`) agrees with scoring that derives them and with a rebuild,
  * also for versions mixing segments written with and without them;
  * the collection statistics a version's refs store at write time
  * (lexicons, nd, Σ dl) equal the aggregate's after every lifecycle
  * step, and every frame that is not a version as read, or a version
  * with a ref that stored none, takes the aggregate; scoped tombstones
  * let a re-added id show exactly once in both stores; a warm BM25
  * probe stays within its job budget and compiles no code for a new
  * version, and the ANN probe plan evaluates no vector arithmetic.
  */
class LifecycleProbeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Seq[Int], rev: String = "") =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}$rev")).toDF("doc_id", "text")
  private def ids(xs: Int*) = xs.map(_.toLong).toDF("id")

  // query id 1000 appears twice, so its terms count twice, as ever
  private val queries = Seq((1000L, "alpha word1 doc45"), (1000L, "beta doc7 word2"),
    (1001L, "shared word0 doc12 doc12")).toDF("doc_id", "text")

  private def bm25(post: DataFrame) =
    Retrieval.bm25OverPostings(queries, post, "doc_id", "text", k = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).sorted.toList

  private val queryTerms =
    Seq("alpha", "word1", "doc45", "beta", "doc7", "word2", "shared", "word0", "doc12", "changed")

  /** The stored statistics of a version frame for the query terms. */
  private def stored(post: DataFrame) = Pipeline.storedPostingsStatistics(post, queryTerms)

  /** (nd, Σ dl, df per query term) of a rebuilt postings table. */
  private def aggregated(post: DataFrame) = {
    val p = Retrieval.withDocStats(post)
    val totals = p.agg(count_if(col("lead")), coalesce(sum(col("tf")), lit(0L))).head()
    val df = p.filter(col("term").isin(queryTerms: _*)).groupBy(col("term")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (totals.getLong(0), totals.getLong(1), df)
  }

  /** Rewrite a segment as a writer from before a stored column or the
    * lexicon would have left it: `cols` only, no `_lexicon`.
    */
  private def rewriteSegment(seg: String, cols: String*): Unit = {
    val tmp = tmpDir("probe-rewrite") + "/seg"
    spark.read.parquet(seg).select(cols.map(col): _*).write.parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seg))
    org.apache.commons.io.FileUtils.moveDirectory(new java.io.File(tmp), new java.io.File(seg))
  }

  /** The rows with their stored statistics, as a multiset. */
  private def statRows(df: DataFrame) =
    df.select(col("term"), col("doc"), col("tf"), col("dl"), col("lead")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  test("stored, derived and rebuilt statistics score alike: 2 segments, 1 tombstone, duplicate query ids") {
    val dir = tmpDir("probe-stats")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 40), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "day2", docs(40 until 70), "doc_id", "text")
    Pipeline.deletePostings(spark, dir, "del", ids(5, 45), "id")
    val post = Pipeline.readPostingsIndex(spark, Pipeline.readCurrentPostings(dir).get)
    assert(Set("dl", "lead").subsetOf(post.columns.toSet))
    val rebuilt = Retrieval.postings(docs((0 until 70).filterNot(Set(5, 45))), "doc_id", "text")
    assert(statRows(post) === statRows(Retrieval.withDocStats(rebuilt)))
    val stored = bm25(post)
    assert(stored.nonEmpty)
    assert(stored === bm25(post.select(col("term"), col("doc"), col("tf"))))
    assert(stored === bm25(rebuilt))
  }

  test("a version mixing a segment written without dl/lead and new segments scores like a rebuild") {
    val dir = tmpDir("probe-mixed")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 40), "doc_id", "text")
    // rewrite the base segment as a writer from before the stored
    // statistics would have left it
    rewriteSegment(s"$dir/_postings_segments/seg-base", "term", "doc", "tf")
    Pipeline.appendPostings(spark, dir, "day2", docs(40 until 70), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "day3", docs(70 until 80), "doc_id", "text")
    Pipeline.deletePostings(spark, dir, "del", ids(5, 45), "id")
    val live = (0 until 80).filterNot(Set(5, 45))
    val rebuilt = Retrieval.postings(docs(live), "doc_id", "text")
    val post = Pipeline.readPostingsIndex(spark, Pipeline.readCurrentPostings(dir).get)
    assert(post.columns.toSet === Set("term", "doc", "tf"))
    assert(bm25(post) === bm25(rebuilt))
    // compaction writes the statistics the old segment lacked
    val compacted = Pipeline.compactPostings(spark, dir, "weekly")
    val compactedPost = Pipeline.readPostingsIndex(spark, compacted)
    assert(statRows(compactedPost) === statRows(Retrieval.withDocStats(rebuilt)))
    assert(bm25(compactedPost) === bm25(rebuilt))
  }

  test("re-appending deleted ids: each shows once with its new rows, in both stores") {
    // postings: docs 20-24 come back with changed text
    val postDir = tmpDir("probe-readd-post")
    Pipeline.publishPostings(spark, postDir, "base", docs(0 until 30), "doc_id", "text")
    Pipeline.deletePostings(spark, postDir, "takedown", ids(20 until 30: _*), "id")
    Pipeline.appendPostings(spark, postDir, "readd", docs(20 until 25, " changed"), "doc_id", "text")
    val post = Pipeline.readPostingsIndex(spark, Pipeline.readCurrentPostings(postDir).get)
    val rebuiltDocs = docs(0 until 20).union(docs(20 until 25, " changed"))
    val rebuilt = Retrieval.postings(rebuiltDocs, "doc_id", "text")
    assert(statRows(post) === statRows(Retrieval.withDocStats(rebuilt)))
    assert(bm25(post) === bm25(rebuilt))

    // ANN: vectors 20-24 come back with changed components
    val dims = 8
    def vec(id: Long, salt: Int): Array[Double] =
      Array.tabulate(dims)(d => math.sin(id * 31 + d * 7 + salt) * 10)
    def emb(ids: Seq[Int], salt: Int) =
      ids.map(i => (i.toLong, vec(i, salt))).toDF("vec_id", "embedding")
    val coarse = Array.tabulate(4)(c => vec(1000 + c, 0))
    val codebooks = Array.tabulate(2)(m =>
      Array.tabulate(4)(c => vec(2000 + m * 10 + c, 0).slice(m * 4, m * 4 + 4)))
    val annDir = tmpDir("probe-readd-ann")
    Pipeline.publishAnn(spark, annDir, "base",
      Similarity.ivfPqIndex(emb(0 until 30, 0), "vec_id", "embedding", coarse, codebooks),
      coarse, codebooks)
    Pipeline.deleteAnn(spark, annDir, "takedown", ids(20 until 30: _*), "id")
    Pipeline.appendAnn(spark, annDir, "readd", emb(20 until 25, 3), "vec_id", "embedding")
    val index = Pipeline.readAnnIndex(spark, Pipeline.readCurrentAnn(annDir).get)
    val neighborIds = index.select(col("neighbor_id")).collect().map(_.getLong(0))
    assert(neighborIds.length === neighborIds.distinct.length, "a re-added id shows more than once")
    def annRows(df: DataFrame) = df.select(col("neighbor_id"), col("cluster"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    assert(annRows(index) === annRows(Similarity.ivfPqIndex(
      emb(0 until 20, 0).union(emb(20 until 25, 3)), "vec_id", "embedding", coarse, codebooks)))
  }

  test("stored statistics, the aggregate and a rebuild agree after every lifecycle step") {
    val dir = tmpDir("probe-steps")
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    def add(ids: Seq[Int], rev: String = "") =
      docs(ids, rev).collect().foreach(r => live(r.getLong(0)) = r.getString(1))
    def check(step: String, versionDir: String): Unit = {
      val post = Pipeline.readPostingsIndex(spark, versionDir)
      val rebuilt = Retrieval.postings(live.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      assert(stored(post) === Some(aggregated(rebuilt)), step)
      val scores = bm25(post)
      assert(scores.nonEmpty, step)
      // a projection of the same rows takes the aggregate
      assert(scores === bm25(post.select(post.columns.map(col).toSeq: _*)), step)
      assert(scores === bm25(rebuilt), step)
    }
    add(0 until 40)
    check("publish", Pipeline.publishPostings(spark, dir, "base", docs(0 until 40), "doc_id", "text"))
    add(40 until 70)
    check("append", Pipeline.appendPostings(spark, dir, "day2", docs(40 until 70), "doc_id", "text"))
    Seq(5L, 45L).foreach(live.remove)
    check("delete", Pipeline.deletePostings(spark, dir, "del1", ids(5, 45), "id"))
    live.remove(46L)
    check("double delete", Pipeline.deletePostings(spark, dir, "del2", ids(5, 46), "id"))
    add(Seq(5), " changed")
    check("re-add", Pipeline.appendPostings(spark, dir, "readd", docs(Seq(5), " changed"),
      "doc_id", "text"))
    check("compact", Pipeline.compactPostings(spark, dir, "weekly"))
    Seq(12L).foreach(live.remove)
    check("delete after compaction", Pipeline.deletePostings(spark, dir, "del3", ids(12), "id"))
    add(70 until 80)
    check("absorb", Pipeline.absorbPostingsBatch(spark, dir, 7L, docs(70 until 80), "doc_id", "text"))
  }

  test("a filtered, projected or checkpointed version frame takes the aggregate") {
    val dir = tmpDir("probe-derived")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 40), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "day2", docs(40 until 60), "doc_id", "text")
    val cur = Pipeline.deletePostings(spark, dir, "del", ids(3, 44), "id")
    val live = (0 until 60).filterNot(Set(3, 44))
    val post = Pipeline.readPostingsIndex(spark, cur)
    assert(stored(post).isDefined)
    val checkpointed = post.localCheckpoint()
    try {
      for ((name, frame, rows) <- Seq(
          ("filter", post.filter(col("doc") =!= 7L), live.filterNot(_ == 7)),
          ("projection", post.select(col("term"), col("doc"), col("tf")), live),
          ("localCheckpoint", checkpointed, live))) {
        assert(stored(frame).isEmpty, name)
        assert(bm25(frame) === bm25(Retrieval.postings(docs(rows), "doc_id", "text")), name)
      }
    } finally graft.Checkpoints.release(checkpointed)
  }

  test("a version with a ref that stored no statistics takes the aggregate; compaction stores them") {
    val dir = tmpDir("probe-unfigured")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 40), "doc_id", "text")
    val appended = Pipeline.appendPostings(spark, dir, "day2", docs(40 until 70), "doc_id", "text")
    val rebuilt = Retrieval.postings(docs(0 until 70), "doc_id", "text")
    // the manifest names the base segment's figures, its lexicon is gone
    rewriteSegment(s"$dir/_postings_segments/seg-base", "term", "doc", "tf", "dl", "lead")
    assert(Pipeline.postingsStore.readManifest(appended).figured)
    assert(stored(Pipeline.readPostingsIndex(spark, appended)).isEmpty)
    assert(bm25(Pipeline.readPostingsIndex(spark, appended)) === bm25(rebuilt))
    // a manifest from before the statistics: no `stats` field at all
    val manifest = java.nio.file.Paths.get(appended, "manifest.json")
    val json = graft.Json.Mapper.readTree(manifest.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    json.remove("stats")
    java.nio.file.Files.writeString(manifest, graft.Json.Mapper.writeValueAsString(json))
    assert(!Pipeline.postingsStore.readManifest(appended).figured)
    // a delete on it stores no tombstone figures: the version could not use them
    val deleted = Pipeline.deletePostings(spark, dir, "del", ids(5), "id")
    assert(Pipeline.postingsStore.readManifest(deleted).stats.isEmpty)
    val live = (0 until 70).filterNot(_ == 5)
    val liveRebuilt = Retrieval.postings(docs(live), "doc_id", "text")
    assert(stored(Pipeline.readPostingsIndex(spark, deleted)).isEmpty)
    assert(bm25(Pipeline.readPostingsIndex(spark, deleted)) === bm25(liveRebuilt))
    val compacted = Pipeline.compactPostings(spark, dir, "weekly")
    val post = Pipeline.readPostingsIndex(spark, compacted)
    assert(stored(post) === Some(aggregated(liveRebuilt)))
    assert(bm25(post) === bm25(liveRebuilt))
  }

  test("warm probes: a BM25 probe runs 4 Spark jobs, 5 over a tombstone, and compiles no code " +
      "on a new version; the ANN probe plan holds no vec_dot") {
    val dir = tmpDir("probe-jobs")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 60), "doc_id", "text")
    Pipeline.appendPostings(spark, dir, "day2", docs(60 until 80), "doc_id", "text")
    val q = Seq((1000L, "alpha word1 doc45 beta")).toDF("doc_id", "text")
    def probe() = Retrieval.bm25OverPostings(q, Pipeline.readPostingsIndex(spark,
      Pipeline.readCurrentPostings(dir).get), "doc_id", "text", k = 10).collect()
    def withinBudget(most: Int, what: String): Unit = {
      val warm = probe()
      val (again, jobs) = jobsDuring(probe())
      assert(again.toSeq === warm.toSeq)
      assert(jobs.failed === 0)
      assert(jobs.started <= most, s"a warm BM25 probe of a $what version ran ${jobs.started} Spark jobs")
    }
    withinBudget(4, "clean")
    // a new version of the same shape holds more and longer docs:
    // another avgdl, other idfs, the same plan
    Pipeline.appendPostings(spark, dir, "day3", docs(80 until 95, " longer tail"), "doc_id", "text")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    probe()
    assert(compiles.getCount - before === 0L, "a BM25 probe of a new version compiled code")
    Pipeline.deletePostings(spark, dir, "del", ids(3, 61), "id")
    withinBudget(5, "tombstoned")

    val dims = 8
    val vecs = (0 until 40).map(i => (i.toLong, Array.tabulate(dims)(d => math.cos(i * 13 + d))))
      .toDF("vec_id", "embedding")
    val coarse = Array.tabulate(4)(c => Array.tabulate(dims)(d => math.cos(c * 5 + d * 3)))
    val codebooks = Array.tabulate(2)(m => Array.tabulate(4)(c => Array.tabulate(4)(d => math.sin(m + c + d))))
    val built = Similarity.ivfPqIndex(vecs, "vec_id", "embedding", coarse, codebooks)
    val annDir = tmpDir("probe-jobs-ann")
    Pipeline.publishAnn(spark, annDir, "base", built, coarse, codebooks)
    val index = Pipeline.readAnnIndex(spark, Pipeline.readCurrentAnn(annDir).get)
    val annQ = spark.createDataFrame(java.util.Arrays.asList(Row(-1L, Seq.fill(dims)(0.5))),
      vecs.schema)
    // the analyzed plan: a local query frame's in-plan LUT would be
    // folded away before execution, so only analysis shows it
    def plan(df: DataFrame) = df.queryExecution.analyzed.toString
    val probePlan = plan(Similarity.ivfPqProbe(annQ, index, "vec_id", "embedding", 3, coarse, codebooks, 2))
    assert(!probePlan.contains("vec_dot"), probePlan)
    // the check can see it: the index build evaluates vec_dot in its plan
    assert(plan(built).contains("vec_dot"))
  }
}
