package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work of one operation, attributed through its job group. */
final class OpSpark {
  var jobs = 0
  var failedJobs = 0
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long, Boolean)] // (job, startMs, endMs, failed)
}

/** The benchmark's own listener, registered once per session. Every
  * job carries the job group the harness set around the operation
  * that submitted it; jobs, stages, tasks, shuffle, spill, I/O and job
  * spans are summed per group. Failed jobs are always counted; the
  * rest only while `full` is set (the traced phase).
  */
final class OpListener extends SparkListener {
  @volatile var full = false
  private val byGroup = new ConcurrentHashMap[String, OpSpark]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def of(g: String): OpSpark = byGroup.computeIfAbsent(g, _ => new OpSpark)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).synchronized { of(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = Option(jobGroup.remove(e.jobId)).getOrElse("")
    val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    val failed = e.jobResult != JobSucceeded
    val s = of(g)
    s.synchronized {
      if (failed) s.failedJobs += 1
      if (full) s.jobSpans += ((e.jobId, start, e.time, failed))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = Option(stageGroup.remove(info.stageId)).getOrElse("")
    if (!full) return
    val s = of(g)
    val m = info.taskMetrics
    s.synchronized {
      s.stages += 1
      if (info.numTasks == 1) s.singleTaskStages += 1
      s.tasks += info.numTasks
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** The Spark work of a finished group; call after the bus drained. */
  def take(group: String): OpSpark = Option(byGroup.remove(group)).getOrElse(new OpSpark)
}

/** Closed-loop operation runner: one client, each operation issued
  * after the previous one completed. An operation fails when it
  * throws, fails its output check, or leaves a failed Spark job
  * behind; a failed operation is counted and never timed.
  */
final class Harness(val spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new OpListener
  sc.addSparkListener(listener)

  private var tracing = false
  def traced: Boolean = tracing
  def traced_=(on: Boolean): Unit = { tracing = on; listener.full = on }

  var attempted = 0L
  var failed = 0L
  // samples carry the operation they belong to, so a deferred check
  // that fails can withdraw them
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
  def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((opId, v))
  def values(name: String): Seq[Double] = samples.get(name).toSeq.flatMap(_.map(_._2))
  /** Samples of `name` recorded by traced, or by untraced, operations. */
  def values(name: String, traced: Boolean): Seq[Double] =
    samples.get(name).toSeq.flatMap(_.collect { case (id, v) if tracedOps(id) == traced => v })
  def median(name: String): Option[Double] =
    Some(values(name)).filter(_.nonEmpty).map(Stats.median)
  def clearSamples(): Unit = samples.clear()

  private val pending = mutable.ArrayBuffer.empty[(Int, String, () => Unit)]

  // spans: monotonic nanos mapped onto the wall clock of the job events
  private val nanoBase = System.nanoTime()
  private val wallBaseMs = System.currentTimeMillis()
  private def wallMs(nanos: Long): Double = wallBaseMs + (nanos - nanoBase) / 1e6
  val spans = mutable.ArrayBuffer.empty[Stats.Span]
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Boolean)] // (op, job, startMs, endMs, failed)
  private var opId = 0
  private val tracedOps = mutable.Set.empty[Int]
  private var depth = 0

  /** Time a layer call inside an operation. While traced, the call
    * becomes a span and its seconds a sample of metric `layer`.
    */
  def span[A](layer: String)(body: => A): A =
    if (!tracing) body
    else {
      depth += 1
      val d = depth
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        depth -= 1
        spans += Stats.Span(layer, opId, t0, t1, d)
        record(layer, (t1 - t0) / 1e9)
      }
    }

  /** Run one operation and its output check (outside the timed
    * window). Returns the operation's seconds, or None if it failed.
    * A `layerProbe` operation exists only to time one layer: its Spark
    * work stays out of the per-operation `spark.*` samples. A
    * `deferCheck` operation's check runs at the next [[settle]]; if it
    * fails there, the operation is failed and its samples withdrawn.
    */
  def op[A](name: String, layerProbe: Boolean = false, deferCheck: Boolean = false)(body: => A)(
      check: A => Unit): Option[Double] = {
    opId += 1
    val group = s"perfbench-op-$opId"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    BenchBus.drain(sc)
    val work = listener.take(group)
    val problem = res match {
      case Left(e) => Some(s"threw $e")
      case Right(a) if deferCheck => pending += ((opId, name, () => check(a))); None
      case Right(a) =>
        try { check(a); None } catch { case NonFatal(e) => Some(s"output check: ${e.getMessage}") }
    }
    val problems = problem.toSeq ++
      (if (work.failedJobs > 0) Seq(s"${work.failedJobs} failed Spark job(s)") else Nil)
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] op $opId $name FAILED: ${problems.mkString("; ")}")
      return None
    }
    val sec = (t1 - t0) / 1e9
    System.err.println(f"[perfbench] op $opId $name $sec%.4f s, ${work.jobs} jobs")
    if (tracing) {
      tracedOps += opId
      spans += Stats.Span(name, opId, t0, t1, 0)
      work.jobSpans.foreach { case (j, a, b, f) => jobSpans += ((opId, j, a, b, f)) }
    }
    if (tracing && !layerProbe) {
      val fromMs = wallMs(t0).toLong
      val untilMs = math.ceil(wallMs(t1)).toLong
      record("spark.jobs", work.jobs)
      record("spark.failed_jobs", work.failedJobs)
      record("spark.stages", work.stages)
      record("spark.single_task_stages", work.singleTaskStages)
      record("spark.tasks", work.tasks.toDouble)
      record("spark.task_s", work.taskMs / 1e3)
      record("spark.shuffle_read_bytes", work.shuffleRead.toDouble)
      record("spark.shuffle_write_bytes", work.shuffleWrite.toDouble)
      record("spark.spill_bytes", work.spill.toDouble)
      record("spark.input_bytes", work.input.toDouble)
      record("spark.output_bytes", work.output.toDouble)
      record("spark.driver_gap_s",
        Stats.uncovered(fromMs, untilMs, work.jobSpans.map(s => (s._2, s._3)).toSeq) / 1e3)
      record("spark.gc_s", work.gcMs / 1e3)
      record("spark.storage_bytes_after", graft.Checkpoints.storageBytes(spark).toDouble)
    }
    Some(sec)
  }

  /** Run the deferred checks, on as many threads as there are cores:
    * they are independent, and a workload shares work between them
    * thread-safely. A failed one fails its operation.
    */
  def settle(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val outcomes = Await.result(Future.traverse(pending.toSeq) { case (id, name, check) =>
      Future(scala.util.Try(check())).map(t => (id, name, t))
    }, scala.concurrent.duration.Duration.Inf)
    outcomes.foreach {
      case (id, name, scala.util.Failure(e)) =>
        failed += 1
        System.err.println(s"[perfbench] op $id $name FAILED: output check: ${e.getMessage}")
        samples.values.foreach(_.filterInPlace(_._1 != id))
        spans.filterInPlace(_.op != id)
        jobSpans.filterInPlace(_._1 != id)
      case _ =>
    }
    pending.clear()
  }

  /** Spans as JSON lines: every operation, every layer call inside it
    * with its self time, and every Spark job of the operation.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = Stats.selfTimes(spans.toSeq).toMap
    val lines = spans.sortBy(s => (s.op, s.start, s.depth)).map { s =>
      f"""{"kind":"layer","layer":"${s.layer}","op":${s.op},"depth":${s.depth},""" +
        f""""start_ms":${wallMs(s.start)}%.3f,"end_ms":${wallMs(s.end)}%.3f,""" +
        f""""self_ms":${self(s) / 1e6}%.3f}"""
    } ++ jobSpans.map { case (o, j, a, b, f) =>
      s"""{"kind":"spark_job","op":$o,"job":$j,"start_ms":$a,"end_ms":$b,"failed":$f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Median self seconds per layer over the traced spans. */
  def selfSeconds: Seq[(String, Double)] =
    Stats.selfTimes(spans.toSeq).groupBy(_._1.layer).toSeq.sortBy(_._1)
      .map { case (l, xs) => l -> Stats.median(xs.map(_._2 / 1e9)) }
}
