package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The queries that build, probe and drop a throwaway index, state or
  * export dir (`Checkpoints.overTempDir`, or q92's delete before any
  * job reads the dir) leave no failed Spark job behind: the temp dir is
  * deleted only after every job the query started has ended, so no job
  * reads a deleted file. Nor do they leave the dir behind. Inputs have
  * the size of the smallest test scale: a 500-document table and 500
  * 64-dimensional embeddings.
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
    (0 until 500).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), i % 10))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private val postings = Seq("q148_postings_append", "q158_postings_compact",
    "q170_postings_timetravel", "q172_postings_delete", "q186_cdc_index_maint")

  (postings.map(name => name -> s"${name.take(4)}-postings") ++ Seq(
    "q92_ivfpq_fixed" -> "q92-model", "q106_ann_append" -> "q106-ann",
    "q124_hh_increment" -> "q124-state", "q125_bloom_index_increment" -> "q125-index",
    "q133_ann_compact" -> "q133-ann", "q140_format_roundtrip" -> "q140-fmt",
    "q155_cms_increment" -> "q155-cms", "q171_ann_timetravel" -> "q171-ann",
    "q173_ann_delete" -> "q173-ann", "q185_cdc_log" -> "q185-cdc",
    "q195_recrawl_increment" -> "q195-state", "q218_export_readback" -> "q218-export",
    "q222_export_append" -> "q222-export", "q232_chunk_ann_lifecycle" -> "q232-ann",
    "q255_chunk_ann_absorb" -> "q255-ann")).foreach { case (name, prefix) =>
    val what = if (postings.contains(name)) "temp index" else "temp dir"
    test(s"$name leaves no failed Spark job and no $what") {
      val temps = () => new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .count(_.startsWith(prefix))
      val before = temps()
      val (rows, jobs) = jobsDuring(SparkEntry.queries(name)(spark, dir).count())
      assert(rows > 0L)
      assert(jobs.started > 0)
      assert(jobs.failed === 0, s"$name left ${jobs.failed} failed Spark job(s)")
      assert(temps() === before, s"$name left its $what behind")
    }
  }
}
