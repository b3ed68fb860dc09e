package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.changesets.Pipeline
import graft.operators.Retrieval

/** Streaming retrieval-index ingest (postingsIngestStream /
  * absorbPostingsBatch): the streamed segment union must equal a
  * from-scratch postings build over everything ingested (the q148
  * additivity invariant), and the absorbed-batch commit record must
  * make replays no-ops — INCLUDING after a compaction rewrites the
  * segment list (the r14 ANN-advice crash-loop scenario, here guarded
  * from day one).
  */
class PostingsIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}"))
      .toDF("doc_id", "text")

  private def postRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("term"), col("doc"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed segments == from-scratch postings over everything ingested") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("pis")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 20), "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.postingsIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", dir, tmpDir("pis-chk"))
    try {
      input.addData((20 until 30).map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}")): _*)
      q.processAllAvailable()
      input.addData((30 until 40).map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val cur = Pipeline.readCurrentPostings(dir).get
    assert(postRows(Pipeline.readPostingsIndex(spark, cur))
      === postRows(Retrieval.postings(docs(0 until 40), "doc_id", "text")))
    // both batch ids are durably recorded as absorbed
    assert(Pipeline.postingsStore.readManifest(cur).absorbed === Set(0L, 1L))
  }

  test("replayed batch ids skip — before AND after a compaction rewrites the segments") {
    val dir = tmpDir("pis-replay")
    Pipeline.publishPostings(spark, dir, "base", docs(0 until 10), "doc_id", "text")
    val b1 = docs(10 until 20)
    Pipeline.absorbPostingsBatch(spark, dir, 7L, b1, "doc_id", "text")
    val afterFirst = Pipeline.readCurrentPostings(dir).get
    // immediate replay: same id -> no new version, no disjointness trip
    assert(Pipeline.absorbPostingsBatch(spark, dir, 7L, b1, "doc_id", "text")
      === afterFirst)
    // compaction rewrites the live manifest to ONE segment...
    Pipeline.compactPostings(spark, dir, "weekly")
    val compacted = Pipeline.readCurrentPostings(dir).get
    assert(Pipeline.readPostingsManifest(compacted).size === 1)
    // ...and the absorbed record must survive it: a late replay still
    // skips instead of crash-looping on the duplicate-doc require
    assert(Pipeline.absorbPostingsBatch(spark, dir, 7L, b1, "doc_id", "text")
      === compacted)
    assert(postRows(Pipeline.readPostingsIndex(spark, compacted))
      === postRows(Retrieval.postings(docs(0 until 20), "doc_id", "text")))
  }
}
