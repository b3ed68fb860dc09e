package graft

import java.nio.file.Files

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle for eagerly-checkpointed DataFrames.
  *
  * The iterative operators (Dedup.connectedComponents,
  * Dedup.ngramJaccardPairs, Similarity.trainKMeans/pqTrain) truncate
  * lineage with eager `localCheckpoint(true)` — correct for iteration,
  * but the materialized blocks live in the block manager until the
  * backing RDD is explicitly unpersisted. In a long-lived session
  * (a curation pipeline, the bench harness) un-released checkpoints
  * accumulate until memory pressure throttles every later job, so
  * every internal checkpoint an operator no longer needs is released
  * before it returns, and checkpoint-BACKED results carry a release
  * contract: consume the result (write/collect/count), then call
  * [[Checkpoints.release]] on it.
  *
  * Releasing is safe only once the frame's consumers have run — a
  * local checkpoint has no lineage to recompute from, so an action
  * after release fails with a missing-block error (by design: the
  * contract is explicit release, not GC hope).
  */
object Checkpoints {

  /** Unpersist every checkpoint-backed RDD referenced by `df`'s plan
    * (no-op for plans without one). Non-blocking; idempotent.
    */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `body`'s result over a fresh temp dir (a throwaway index the query
    * builds, probes and drops), materialized by an eager local
    * checkpoint, with the dir deleted only once nothing can read it.
    * Every Spark job `body` and the checkpoint start carries a job tag;
    * before the delete the helper waits until no tagged job has run for
    * a few polls. The checkpoint returning is not enough: adaptive
    * execution can leave stage jobs (a broadcast it no longer needs, a
    * shuffle stage of a replanned join) running after the result is
    * complete, and deleting under them fails them with FILE_NOT_EXIST.
    * The dir is deleted whether or not `body` throws.
    */
  def overTempDir(spark: SparkSession, prefix: String)(body: String => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory(prefix)
    val tag = s"graft-tempdir-${dir.getFileName}"
    sc.addJobTag(tag)
    try body(dir.toString).localCheckpoint(true)
    finally {
      sc.removeJobTag(tag)
      try awaitJobs(spark, tag) finally graft.changesets.Pipeline.deleteRecursively(dir)
    }
  }

  /** Block until no job tagged `tag` has been running for three polls
    * in a row (the status store learns of jobs through the listener
    * bus, so one idle poll may precede a just-submitted job's start).
    */
  private def awaitJobs(spark: SparkSession, tag: String): Unit = {
    val tracker = spark.sparkContext.statusTracker
    def running = tracker.getJobIdsForTag(tag).exists(id =>
      tracker.getJobInfo(id).exists(j =>
        j.status == JobExecutionStatus.RUNNING || j.status == JobExecutionStatus.UNKNOWN))
    var idle = 0
    while (idle < 3) {
      idle = if (running) 0 else idle + 1
      Thread.sleep(10)
    }
  }

  /** Total bytes currently held by persisted/checkpointed RDD blocks —
    * the leak detector the bench records per query (a growing number
    * across unrelated queries means someone skipped release()).
    */
  def storageBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
