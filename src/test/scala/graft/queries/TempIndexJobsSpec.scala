package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The queries that build, probe and drop a throwaway postings index
  * (`Checkpoints.overTempDir`) leave no failed Spark job behind: the
  * temp dir is deleted only after every job the query started has
  * ended, so no job reads a deleted segment. Inputs are a 500-document
  * table, the size of the smallest test scale.
  */
class TempIndexJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tmpDir("temp-index-sf")
    val vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
      "window", "small", "hash", "join", "spark", "group", "query", "row", "data", "slow",
      "filter", "customer", "line", "batch", "value", "stream", "a", "of", "and", "index", "page")
    val rnd = new scala.util.Random(7)
    (0 until 500).map { i =>
      val text = Seq.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, text, Seq("en", "es", "de", "fr", "zh")(i % 5), s"src${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  Seq("q148_postings_append", "q158_postings_compact", "q170_postings_timetravel",
    "q172_postings_delete", "q186_cdc_index_maint").foreach { name =>
    test(s"$name leaves no failed Spark job and no temp index") {
      val temps = () => new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .count(_.startsWith(name.take(4) + "-postings"))
      val before = temps()
      val (rows, jobs) = jobsDuring(SparkEntry.queries(name)(spark, dir).count())
      assert(rows > 0L)
      assert(jobs.started > 0)
      assert(jobs.failed === 0, s"$name left ${jobs.failed} failed Spark job(s)")
      assert(temps() === before, s"$name left its temp index behind")
    }
  }
}
