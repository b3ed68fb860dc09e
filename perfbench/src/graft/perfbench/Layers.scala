package graft.perfbench

/** Every per-layer metric a traced run prints, with its unit. A layer
  * a workload does not reach reads 0 there: that workload bypasses it.
  * perfbench/README.md says which end-to-end metric each should move.
  * `all` is the set of the benchmarked workloads (BENCHMARK.json);
  * `convert` and `curate` add their own layers.
  */
object Layers {
  val functions: Seq[String] = Seq(
    "tokens", "poly_hash", "nfc_normalize", "hash60_md5", "md5_bin", "gram_hashes",
    "stopword_hits", "explode_ngrams", "explode_tri_contexts", "sorted_intersect_count",
    "vec_dot")

  val curateQueries: Seq[String] = Seq(
    "q28_minhash_lsh", "q29_simhash", "q30_ngram_jaccard", "q79_substring_dedup",
    "q108_ngram_lm_ppm", "q115_curation_pipeline", "q143_bm25_search", "q152_snippets")

  val spark: Seq[(String, String)] =
    Seq(
      "spark.jobs" -> "count", "spark.failed_jobs" -> "count", "spark.stages" -> "count",
      "spark.single_task_stages" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes", "spark.driver_gap_s" -> "s", "spark.gc_s" -> "s",
      "spark.storage_bytes_after" -> "bytes")

  val offBenchmark: Seq[(String, String)] =
    Seq(
      "changesets.parse_s" -> "s", "changesets.parse_fast_s" -> "s",
      "changesets.write_s" -> "s", "changesets.out_bytes_per_row" -> "bytes",
      "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
      "queries.release_s" -> "s") ++
    curateQueries.map(q => s"queries.${q}_s" -> "s") ++
    Seq("convert.rows_per_s" -> "1/s", "curate.pass_s" -> "s")

  val all: Seq[(String, String)] = spark ++ functions.map(f => s"functions.${f}_s" -> "s") ++
    Seq(
      "pipeline.append_ann_s" -> "s", "pipeline.append_postings_s" -> "s",
      "pipeline.delete_ann_s" -> "s", "pipeline.delete_postings_s" -> "s",
      "pipeline.compact_ann_s" -> "s", "pipeline.compact_postings_s" -> "s",
      "pipeline.read_ann_index_s" -> "s", "pipeline.read_postings_index_s" -> "s",
      "pipeline.asof_read_s" -> "s", "pipeline.bytes_written_per_op" -> "bytes",
      "pipeline.files_written_per_op" -> "count", "pipeline.live_segments" -> "count",
      "operators.similarity.ivfpq_probe_s" -> "s", "operators.retrieval.bm25_s" -> "s",
      "media.png_s" -> "s", "media.jpeg_s" -> "s", "media.webp_s" -> "s",
      "media.tiff_g4_s" -> "s", "media.flac_s" -> "s", "sources.pdf_s" -> "s",
      "sources.warc_gz_s" -> "s", "sources.avro_s" -> "s",
      // the workload-named figures: per-layer here, because the
      // end-to-end set is the one every workload reports
      "lifecycle.append_s" -> "s", "lifecycle.delete_s" -> "s", "lifecycle.compact_s" -> "s",
      "lifecycle.ann_probe_p50_s" -> "s", "lifecycle.bm25_probe_p50_s" -> "s",
      "lifecycle.space_amp" -> "ratio", "decode.objects_per_s" -> "1/s",
      "failed_share" -> "ratio", "trace.overhead_s" -> "s")

  def forWorkload(w: String): Seq[(String, String)] =
    if (w == "convert" || w == "curate") all ++ offBenchmark else all
}
