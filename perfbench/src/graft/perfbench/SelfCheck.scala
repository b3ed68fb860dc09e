package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Unit checks of the benchmark itself: the seeded generator, failure
  * attribution through the listener, and the statistics. Exits non-zero
  * on the first failed check.
  */
object SelfCheck {
  private var passed = 0

  private def check(what: String)(cond: Boolean): Unit = {
    if (!cond) throw new AssertionError(s"selfcheck failed: $what")
    passed += 1
    Main.log(s"ok: $what")
  }

  private def approx(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def run(work: Path): Unit = {
    generator(work)
    stats()
    val spark = Main.session(work)
    try listener(spark) finally spark.stop()
    println(s"selfcheck: $passed checks passed")
  }

  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def generator(work: Path): Unit = {
    val a = ChangesetXml.write(work.resolve("gen-a"), 7L, 2000, 3)
    val b = ChangesetXml.write(work.resolve("gen-b"), 7L, 2000, 3)
    val c = ChangesetXml.write(work.resolve("gen-c"), 8L, 2000, 3)
    check("same seed gives byte-identical changeset files")(
      tree(work.resolve("gen-a")) == tree(work.resolve("gen-b")) && a == b)
    check("a different seed gives different changeset files")(
      tree(work.resolve("gen-a")) != tree(work.resolve("gen-c")) && a.checksum != c.checksum)
    check("three files, 2000 changesets")(tree(work.resolve("gen-a")).size == 3 && a.rows == 2000)
    check("same seed gives the same corpus")(Corpus.docs(3L, 50) == Corpus.docs(3L, 50))
    val ds = Corpus.docs(3L, 2000)
    val (dups, plain) = ds.partition(_.text.endsWith(" dup"))
    check("documents have 10 to 99 words of the vocabulary")(plain.forall { d =>
      val ws = d.text.split(' ')
      ws.length >= Corpus.minWords && ws.length <= Corpus.maxWords && ws.forall(Corpus.vocab.contains)
    })
    check("about one document in twenty is a near-duplicate")(
      dups.size > ds.size / 40 && dups.size < ds.size / 10)
    check("embeddings are unit length")(Corpus.vecs(3L, 100).forall(v =>
      math.abs(math.sqrt(v.v.map(x => x.toDouble * x).sum) - 1) < 1e-5))
  }

  def stats(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("tail keeps 10 samples beyond it")(Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 100)))
    check("tail of 11 samples is the lowest")(Stats.tail((1 to 11).map(_.toDouble)).map(_.value).contains(1.0))
    check("no tail below 11 samples")(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    check("median of even and odd counts")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    // op window [0, 100): jobs [10, 30) and [20, 50) overlap, [90, 120)
    // sticks out of the window, [200, 210) lies outside it
    check("driver gap over overlapping job spans")(
      Stats.uncovered(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L), (200L, 210L))) == 50)
    check("driver gap with no jobs is the whole window")(Stats.uncovered(0, 100, Nil) == 100)
    check("driver gap with nested job spans")(Stats.uncovered(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
    import Stats.Span
    val spans = Seq(
      Span("op", 1, 0, 100, 0), Span("a", 1, 10, 40, 1), Span("b", 1, 30, 60, 1),
      Span("a.inner", 1, 12, 20, 2), Span("op", 2, 200, 250, 0))
    val self = Stats.selfTimes(spans).map { case (s, t) => (s.layer, s.op) -> t }.toMap
    check("self time subtracts the union of overlapping children")(self(("op", 1)) == 50)
    check("self time subtracts only direct children")(self(("a", 1)) == 22 && self(("b", 1)) == 30)
    check("a leaf's self time is its duration")(self(("a.inner", 1)) == 8 && self(("op", 2)) == 50)
    val warming = Seq(63.9, 49.1, 42.4, 38.8, 34.3, 32.3, 35.7, 29.8)
    check("warm-up continues while passes keep falling")(
      (2 to warming.size).forall(n => !Stats.levelled(warming.take(n))))
    check("warm-up stops once two passes are no faster than the best before them")(
      Stats.levelled(Seq(10.0, 6.0, 6.1, 5.9)) && !Stats.levelled(Seq(10.0, 6.0, 5.8)) &&
        !Stats.levelled(Seq(10.0, 6.0, 6.1, 5.0)))
    check("a falling series shows a downward trend")(Stats.relativeTrend(warming) < -0.4)
    val flat = Seq(1.0, 1.02, 0.99, 1.01, 0.98, 1.0, 1.03, 0.99)
    check("a flat series shows no downward trend")(math.abs(Stats.relativeTrend(flat)) < 0.05)
    check("a linear series' trend is its relative span")(
      approx(Stats.relativeTrend(Seq(1.0, 2.0, 3.0)), 1.0))
  }

  def listener(spark: org.apache.spark.sql.SparkSession): Unit = {
    val h = new Harness(spark)
    h.traced = true
    val ok = h.op("ok")(spark.range(1000).count())(n => require(n == 1000))
    check("a passing operation is timed and counted")(ok.isDefined && h.attempted == 1 && h.failed == 0)
    check("its job, stage and task are attributed to it")(
      h.values("spark.jobs").last >= 1 && h.values("spark.tasks").last >= 1)
    val boom = h.op("throws") {
      spark.range(10).rdd.map(i => if (i == 3) throw new IllegalStateException("boom") else i).count()
    }(_ => ())
    check("an operation whose job throws is failed, not timed")(boom.isEmpty && h.failed == 1)
    // the defect of timing such an operation as fast: the exception is
    // swallowed, but the failed job is still there
    val swallowed = h.op("swallows") {
      try spark.range(10).rdd.map(i => if (i == 3) throw new IllegalStateException("boom") else i).count()
      catch { case _: Exception => -1L }
    }(_ => ())
    check("an operation that swallows a failed job is still failed")(swallowed.isEmpty && h.failed == 2)
    val badOutput = h.op("wrong")(spark.range(5).count())(n => require(n == 6, "wrong count"))
    check("an operation whose output check fails is failed")(badOutput.isEmpty && h.failed == 3)
    val after = h.op("ok again")(spark.range(10).count())(n => require(n == 10))
    check("failures do not leak into the next operation")(after.isDefined && h.failed == 3 &&
      h.values("spark.failed_jobs").last == 0)
    h.traced = false
    h.op("untraced")(spark.range(3).count())(_ => ()).foreach(h.record("split.s", _))
    h.traced = true
    h.op("traced")(spark.range(3).count())(_ => ()).foreach(h.record("split.s", _))
    check("traced and untraced samples are told apart")(
      h.values("split.s", traced = false).size == 1 && h.values("split.s", traced = true).size == 1)
    h.record("deferred.s", 1.0)
    val deferred = h.op("deferred", deferCheck = true)(spark.range(3).count())(n => require(n == 4, "wrong"))
    h.record("deferred.s", deferred.get)
    check("a deferred check does not run inside the operation")(deferred.isDefined && h.failed == 3)
    h.settle()
    check("a failed deferred check fails its operation and withdraws its samples")(
      h.failed == 4 && h.values("deferred.s") == Seq(1.0))
  }
}
