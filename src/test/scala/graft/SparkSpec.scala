package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session;
  * getOrCreate makes every suite reuse it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started on this thread (and on the threads it spawns,
    * which inherit its job group) while `body` runs: how many started,
    * and how many of those failed. A marker job run afterwards flushes
    * the listener bus — events arrive in order, so once the marker's
    * start is seen every earlier start has been — and the count then
    * waits for every started job to end, so a job `body` left running
    * is counted with its outcome.
    */
  def jobsDuring[A](body: => A): (A, SparkSpec.Jobs) = {
    val sc = spark.sparkContext
    val group = s"spec-body-${java.util.UUID.randomUUID}"
    val started, ended, failed = ConcurrentHashMap.newKeySet[Int]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if g == group => started.add(e.jobId)
          case Some(g) if g == s"$group-marker" => marker.countDown()
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId)) {
          e.jobResult match { case _: JobFailed => failed.add(e.jobId); case _ => () }
          ended.add(e.jobId)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "spec body")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker job")
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!ended.containsAll(started) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ended.containsAll(started),
        s"jobs ${started.asScala.toSeq.diff(ended.asScala.toSeq).sorted} never ended")
      (out, SparkSpec.Jobs(started.size, failed.size))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  final case class Jobs(started: Int, failed: Int)
}
