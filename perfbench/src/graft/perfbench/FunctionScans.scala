package graft.perfbench

import org.apache.spark.sql.DataFrame

/** One `noop`-sink scan per native function the session extensions
  * inject, over the `documents` view's `text` column: the
  * `functions.<name>_s` layer metrics of a traced run.
  */
object FunctionScans {
  /** Each injected function over `documents.text`, with the arguments
    * the queries use.
    */
  val scans: Seq[(String, String)] = {
    val vec = "transform(slice(gram_hashes(text), 1, 32), x -> CAST(x % 1000 AS DOUBLE) / 1000.0)"
    Seq(
      "tokens" -> "SELECT tokens(text) FROM documents",
      "poly_hash" -> "SELECT poly_hash(text) FROM documents",
      "nfc_normalize" -> "SELECT nfc_normalize(text) FROM documents",
      "hash60_md5" -> "SELECT hash60_md5(text) FROM documents",
      "md5_bin" -> "SELECT md5_bin(text) FROM documents",
      "gram_hashes" -> "SELECT gram_hashes(text) FROM documents",
      "stopword_hits" -> "SELECT stopword_hits(tokens(text), 'en') FROM documents",
      "explode_ngrams" -> "SELECT explode_ngrams(tokens(text), 3) FROM documents",
      "explode_tri_contexts" -> "SELECT explode_tri_contexts(tokens(text)) FROM documents",
      "sorted_intersect_count" ->
        "SELECT sorted_intersect_count(gram_hashes(text), gram_hashes(lower(text))) FROM documents",
      "vec_dot" -> s"SELECT vec_dot($vec, $vec) FROM documents")
  }

  /** Write `df` to the `noop` sink; returns the rows it produced. */
  def noop(df: DataFrame): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** One layer-probe operation per scan, named apart from the layer
    * span inside it so the two do not share self-time samples.
    */
  def run(h: Harness): Unit = scans.foreach { case (name, sql) =>
    val layer = s"functions.${name}_s"
    h.op(s"scan:$name", layerProbe = true)(h.span(layer)(noop(h.spark.sql(sql)))) { n =>
      require(n > 0, s"$layer produced no rows")
    }
  }
}
