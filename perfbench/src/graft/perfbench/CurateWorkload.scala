package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `curate`: repeated passes over eight read-only text-curation queries
  * of the repo's registry; the seed sets the query order of each pass.
  * Native functions, the Dedup/Retrieval/NgramLm operators, shuffle and
  * iterative checkpoints do the work; nothing writes artifacts.
  *
  * Each query is timed in four phases: build (`fn(spark, dir)`), plan
  * (`queryExecution.executedPlan`), exec (`collect()`: the whole result,
  * which the check needs, where `count()` would let Catalyst prune
  * columns) and release (`Checkpoints.release`). Every result's
  * order-independent hash must equal the one recorded in
  * `perfbench/expected.txt`.
  *
  * Every traced pass is followed by the [[FunctionScans]].
  */
final class CurateWorkload extends Workload {
  private var dir: String = _
  private var rng: java.util.SplittableRandom = _
  private var expected: Map[String, (Long, Long)] = _
  private lazy val fns = graft.SparkEntry.queries

  def setup(h: Harness, work: Path, seed: Long): Unit = {
    dir = work.resolve("data").toString
    Corpus.writeDocuments(h.spark, dir, CurateWorkload.corpusSeed, CurateWorkload.docs)
    h.spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    expected = Expected.load("curate")
    rng = new java.util.SplittableRandom(seed)
    warmUp(h, passes = 1, capS = 60)
  }

  def step(h: Harness, i: Int): Unit = {
    val order = shuffled(Layers.curateQueries)
    val times = order.flatMap { q =>
      val t = h.op(q)(CurateWorkload.runQuery(h, fns(q), dir)) { rows =>
        val got = RowHash.rows(rows)
        val want = expected.getOrElse(q, throw new IllegalStateException(s"no recorded hash for $q"))
        require(got == want, s"$q result (rows, hash) $got, recorded $want")
      }
      t.foreach(h.record(s"queries.${q}_s", _))
      t
    }
    if (times.size == order.size) h.record("op_s", times.sum)
    if (h.traced) FunctionScans.run(h)
  }

  private def shuffled[A](xs: Seq[A]): Seq[A] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong())).shuffle(xs)

  override def derived(h: Harness): Map[String, Double] =
    Map("curate.pass_s" -> h.median("op_s").get)
}

object CurateWorkload {
  /** The corpus is fixed so its result hashes can be recorded once. */
  val corpusSeed = 20261017L
  val docs = 200

  def runQuery(h: Harness, fn: (SparkSession, String) => DataFrame, dir: String): Array[Row] = {
    val df = h.span("queries.build_s")(fn(h.spark, dir))
    h.span("queries.plan_s")(df.queryExecution.executedPlan)
    val rows = h.span("queries.exec_s")(df.collect())
    h.span("queries.release_s")(graft.Checkpoints.release(df))
    rows
  }
}
