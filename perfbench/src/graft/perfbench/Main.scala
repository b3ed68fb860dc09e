package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One workload against the library, from outside: a closed-loop
  * client calling public functions on `local[<cores>]`, inputs made
  * from `--seed`, every output checked.
  *
  * {{{
  * Main --workload <convert|curate|lifecycle|decode> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * Main --selfcheck --work <dir>
  * Main --record --work <dir>
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates
  * traced and untraced steps of the same schedule: spans around every
  * layer call and Spark job spans from [[OpListener]] in the traced
  * steps, the per-layer metrics, and the tracing overhead as the traced
  * minus the untraced median operation time. The last stdout line is
  * the result JSON.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: Path = Paths.get(".bench_build/work"),
      selfcheck: Boolean = false, record: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--selfcheck" :: t => parse(t, a.copy(selfcheck = true))
    case "--record" :: t => parse(t, a.copy(record = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  val workloads: Map[String, () => Workload] = Map(
    "convert" -> (() => new ConvertWorkload),
    "curate" -> (() => new CurateWorkload),
    "lifecycle" -> (() => new LifecycleWorkload),
    "decode" -> (() => new DecodeWorkload))

  def session(work: Path): SparkSession = {
    val spark = graft.GraftSession.builder("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process, from the kernel. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv.toList)
    Files.createDirectories(a.work)
    if (a.selfcheck) { SelfCheck.run(a.work); return }
    if (a.record) { Record.run(a.work); return }
    val wl = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'"))()
    val spark = session(a.work)
    log(f"${a.workload}: session up ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after start")
    try {
      val h = new Harness(spark)
      wl.setup(h, a.work, a.seed)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      log(f"${a.workload}: set-up $setupS%.2f s")
      val metrics = if (!a.trace) {
        loop(h, wl, a.seconds, traceRun = false)
        Seq(
          ("setup_s", setupS, "s"),
          ("op_s", h.median("op_s").get, "s"),
          ("rss_peak_mb", rssPeakMb(), "MB"))
      } else {
        loop(h, wl, a.seconds, traceRun = true)
        val untraced = Stats.median(h.values("op_s", traced = false))
        val tracedS = Stats.median(h.values("op_s", traced = true))
        val spansFile = a.work.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")
        h.writeSpans(spansFile)
        log(s"spans: $spansFile")
        h.selfSeconds.foreach { case (l, s) => log(f"self time $l%-40s $s%.4f s") }
        log(f"tracing overhead ${tracedS - untraced}%.4f s per operation " +
          f"(traced $tracedS%.4f, untraced $untraced%.4f)")
        val derived = wl.derived(h) ++ Map(
          "failed_share" -> h.failed.toDouble / h.attempted,
          "trace.overhead_s" -> (tracedS - untraced))
        Layers.forWorkload(a.workload).map { case (name, unit) =>
          val v = derived.get(name).orElse(h.median(name))
          (name, v.getOrElse(0.0), unit)
        }
      }
      log(s"${h.failed} of ${h.attempted} operations failed")
      metrics.foreach { case (n, v, u) => log(f"$n%-40s $v%14.6f $u") }
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
        s""""failed": ${h.failed}, "metrics": {$body}}""")
    } finally spark.stop()
    log(f"done ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after start")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Closed loop for `seconds`: steps back to back, at least three. A
    * traced run alternates traced and untraced steps, the first one
    * traced, so both kinds do the same work at the same point of the
    * run; it runs at least two of the workload's cycles, so every step
    * of a cycle is traced once.
    */
  private def loop(h: Harness, wl: Workload, seconds: Double, traceRun: Boolean): Unit = {
    val t0 = System.nanoTime()
    val minSteps = if (traceRun) math.max(4, 2 * wl.stepsPerCycle) else 3
    var i = 0
    while (i < minSteps || (System.nanoTime() - t0) / 1e9 < seconds) {
      h.traced = traceRun && i % 2 == 0
      wl.step(h, i)
      i += 1
    }
    h.traced = false
    val c0 = System.nanoTime()
    h.settle()
    wl.settled()
    log(f"deferred checks ${(System.nanoTime() - c0) / 1e9}%.2f s")
    for (traced <- if (traceRun) Seq(false, true) else Seq(false)) {
      val kind = if (traced) "traced" else "untraced"
      val times = h.values("op_s", traced)
      if (times.isEmpty) throw new IllegalStateException(s"every $kind operation failed; nothing was timed")
      log(f"$kind: ${times.size} timed operations, median ${Stats.median(times)}%.4f s, " +
        f"trend ${Stats.relativeTrend(times) * 100}%.1f%%")
    }
  }
}

/** A workload: inputs and warm-up in `setup`, one timed unit of work
  * per `step` (recording an `op_s` sample when it succeeded).
  */
trait Workload {
  def setup(h: Harness, work: Path, seed: Long): Unit
  def step(h: Harness, i: Int): Unit
  /** Per-layer metrics computed from the run rather than sampled. */
  def derived(h: Harness): Map[String, Double] = Map.empty
  /** Called after the deferred checks ran. */
  def settled(): Unit = ()
  /** Steps in one cycle of the workload's schedule, an odd number: a
    * traced run runs two cycles at least, so each step of a cycle is
    * traced once.
    */
  def stepsPerCycle: Int = 1

  /** Warm up with `passes` units of work (fewer if `capS` runs out). A
    * fixed count, not a time, so a slow machine does not start timing
    * with less compiled code. Spark's passes keep falling for longer
    * than a run can afford, so whether they levelled off is logged.
    */
  protected def warmUp(h: Harness, passes: Int, capS: Double): Unit = {
    val t0 = System.nanoTime()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.size < passes && (System.nanoTime() - t0) / 1e9 < capS) {
      val p0 = System.nanoTime()
      step(h, -1 - times.size)
      times += (System.nanoTime() - p0) / 1e9
    }
    h.settle()
    settled()
    h.clearSamples()
    Main.log(s"warm-up passes: ${times.map(p => f"$p%.3f").mkString(", ")}; " +
      s"levelled off: ${Stats.levelled(times.toSeq)}")
  }
}
