package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Recorded result hashes of the fixed `curate` and `decode` inputs,
  * in `perfbench/expected.txt`: one `<workload> <result> <rows> <hash>`
  * line each. `Record` prints the file's content from the current code.
  */
object Expected {
  def path: String = sys.props.getOrElse("perfbench.expected", "perfbench/expected.txt")

  def load(workload: String): Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+"))
      .collect { case Array(`workload`, key, rows, hash) => key -> ((rows.toLong, hash.toLong)) }
      .toMap
}

/** Prints the expected-hash lines for the fixed inputs, and writes the
  * corpus as `<work>/data/documents.parquet` so the queries can be
  * cross-checked against their DuckDB oracles (scripts/check_correctness.py).
  */
object Record {
  def run(work: java.nio.file.Path): Unit = {
    val spark = Main.session(work)
    try {
      val h = new Harness(spark)
      val data = work.resolve("data").toString
      Corpus.writeDocuments(spark, data, CurateWorkload.corpusSeed, CurateWorkload.docs)
      val queries = graft.SparkEntry.queries
      val curate = Layers.curateQueries.map { q =>
        val (n, s) = RowHash.rows(CurateWorkload.runQuery(h, queries(q), data))
        s"curate $q $n $s"
      }
      val media = work.resolve("media").toString
      DecodeWorkload.encodeAll(spark, media)
      val encoded = DecodeWorkload.read(spark, media)
      val decode = DecodeWorkload.carriers.map(_._1).map { kind =>
        val (n, s) = RowHash.rows(DecodeWorkload.decode(encoded(kind), kind).collect())
        s"decode $kind $n $s"
      }
      (curate ++ decode).foreach(println)
    } finally spark.stop()
  }
}
