package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Quality

/** Text-analysis operators over the `documents` table — language ID,
  * quality scoring, token counting, fingerprinting (the first-pass
  * filters of a training-data pipeline). Pure narrow per-row Catalyst
  * expressions + one aggregation; at 100 TB each runs as a single
  * codegen'd scan stage with only `text` (+ grouping keys) read from
  * parquet.
  *
  * Oracle discipline: every Spark expression here has a DuckDB mirror
  * built from the same md5/regex/list primitives evaluated in the same
  * order (see TextFunctions scaladoc).
  */
object TextAnalytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Shared DuckDB SQL fragments mirroring TextFunctions. */
  private val tokensSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
  private def stopSql(lang: String): String =
    stopwords(lang).mkString("['", "', '", "']")
  private def hitsSql(lang: String): String =
    s"len(list_filter(toks, t -> list_contains(${stopSql(lang)}, t)))"

  // ---------------------------------------------------------------- q23
  /** Language ID distribution: detected language per doc, aggregated
    * with the declared lang column for a confusion-style breakdown.
    */
  /** Plan shape: explode tokens once, score all languages as codegen'd
    * conditional sums in ONE grouped aggregation (partial agg map-side),
    * then the argmax chain over the four score columns. The per-row
    * `langId` Column (TextFunctions) has the same semantics; this form
    * hashes each token once instead of once per language lambda.
    */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"doc_id", $"lang", explode_outer(tokens($"text")).as("tk"))
    val scores = toks.groupBy($"doc_id", $"lang")
      .agg(sumHits(langOrder.head), langOrder.tail.map(sumHits): _*)
    val best = greatest(langOrder.map(l => col(s"s_$l")): _*)
    val detected = langOrder.foldRight(lit("und"): Column) { (l, els) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    scores.withColumn("lang_detected", detected)
      .groupBy($"lang", $"lang_detected")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"lang_detected")
  }

  private def sumHits(lang: String): Column =
    sum(when(col("tk").isin(stopwords(lang): _*), 1).otherwise(0)).as(s"s_$lang")

  private val q23Sql = {
    val best = langOrder.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val chain = langOrder.foldRight("'und'") { (l, els) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
    s"""SELECT lang, lang_detected, count(*) AS n_docs FROM (
       |  SELECT lang, $chain AS lang_detected FROM (
       |    SELECT lang, ${langOrder.map(l => s"${hitsSql(l)} AS s_$l").mkString(", ")},
       |      $best AS best
       |    FROM (SELECT lang, $tokensSql AS toks FROM documents)))
       |GROUP BY lang, lang_detected
       |ORDER BY lang, lang_detected""".stripMargin
  }

  // --------------------------------------------------------------- q217
  /** q23's language-ID confusion breakdown routed through the MODEL
    * BOUNDARY (LangId.langIdWithModel + the stand-in stopword
    * classifier) instead of the Column expression: the same oracle
    * gates that the batched-mapPartitions plumbing — batching, row
    * passthrough, tag alignment — changes nothing, which is the
    * pipeline shape a production classifier drops into (the q131
    * encode-boundary discipline applied to language ID).
    */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tagged = graft.operators.LangId.langIdWithModel(
      t(s, dir, "documents").select($"doc_id", $"lang", $"text"),
      "text", new graft.operators.LangId.StopwordLangClassifier, batchSize = 64)
    tagged.groupBy($"lang", col("lang_detected"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", col("lang_detected"))
  }

  private val q217Sql = q23Sql

  // --------------------------------------------------------------- q238
  /** Model quality scoring through the batched boundary
    * (QualityModel.scoreWithModel + the frozen hashing-trick linear
    * scorer): the fastText-style learned keep/drop filter with its
    * REAL input layer — unigram+bigram features, polyHash buckets,
    * integer dot product — oracle-recomputed feature by feature in
    * DuckDB. A bucket-width slip, a lost bigram, a floor-division
    * sign bug, or a batch misalignment in the mapPartitions plumbing
    * all hash-fail.
    */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val scored = graft.operators.QualityModel.scoreWithModel(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", new graft.operators.QualityModel.HashedLinearScorer(1024), batchSize = 64)
    scored
      .select(col("doc_id"),
        (size(toks) + greatest(size(toks) - 1, lit(0))).cast("long").as("n_features"),
        col("quality_model_score").as("quality_score"))
      .withColumn("verdict",
        when(col("quality_score") >= 0, lit("keep")).otherwise(lit("drop")))
      .orderBy(col("doc_id"))
  }

  private val q238Sql = {
    val ph = graft.functions.TextFunctions.polyHashSql.format("x", "x")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    list_concat(toks,
       |      CASE WHEN len(toks) >= 2
       |        THEN list_transform(range(1, len(toks)),
       |          i -> concat(toks[CAST(i AS INTEGER)], ' ', toks[CAST(i+1 AS INTEGER)]))
       |        ELSE [] END) AS feats
       |  FROM tk),
       |s AS (
       |  SELECT doc_id, len(feats) AS nf,
       |    coalesce(list_sum(list_transform(feats,
       |      x -> ((($ph) % 1024) * 2654435761 + 97) % 2001 - 1000)), 0) AS ws
       |  FROM f)
       |SELECT doc_id, CAST(nf AS BIGINT) AS n_features,
       |  CAST(CASE WHEN nf = 0 THEN 0 ELSE (ws * 1000) // nf END AS BIGINT) AS quality_score,
       |  CASE WHEN (CASE WHEN nf = 0 THEN 0 ELSE (ws * 1000) // nf END) >= 0
       |    THEN 'keep' ELSE 'drop' END AS verdict
       |FROM s
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q246
  /** Gopher-style heuristic rule battery (Quality.gopherRules — Rae
    * et al. 2021 §A1.1 adapted to exact integer arithmetic): the
    * named gate set a pre-train pipeline runs before any learned
    * filter, each rule's MEASUREMENT and verdict surfaced per doc
    * (word count, mille-scaled mean word length, stopword hits,
    * most-common-word mass, distinct fraction). All map-only
    * higher-order array expressions; the oracle recomputes every
    * measurement and every verdict.
    */
  private def q246(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.gopherRules(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q246Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, len(toks) AS wc,
       |    list_sum(list_transform(toks, t -> length(t))) AS chs,
       |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS stop_hits,
       |    list_max(list_transform(list_distinct(toks),
       |      w -> len(list_filter(toks, t -> t = w)))) AS topc,
       |    len(list_distinct(toks)) AS dw
       |  FROM tk WHERE len(toks) > 0)
       |SELECT doc_id, CAST(wc AS BIGINT) AS wc,
       |  CAST(chs*1000 // wc AS BIGINT) AS mwl_milli,
       |  CAST(stop_hits AS BIGINT) AS stop_hits,
       |  CAST(topc*1000 // wc AS BIGINT) AS top_frac_milli,
       |  CAST(dw*1000 // wc AS BIGINT) AS distinct_frac_milli,
       |  wc >= 30 AS r1_wc,
       |  chs*1000 // wc BETWEEN 3200 AND 4300 AS r2_mwl,
       |  stop_hits >= 2 AS r3_stop,
       |  topc*1000 // wc <= 200 AS r4_top,
       |  dw*1000 // wc >= 400 AS r5_distinct,
       |  (wc >= 30 AND chs*1000 // wc BETWEEN 3200 AND 4300 AND stop_hits >= 2
       |    AND topc*1000 // wc <= 200 AND dw*1000 // wc >= 400) AS keep
       |FROM m
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q247
  /** T5-style span corruption (Packing.spanCorrupt): the denoising
    * example constructor — deterministic 3-token spans replaced by
    * incrementing sentinels, targets assembled sentinel-by-sentinel.
    * A head that lands mid-run (doc_id mod 7 in {1,2}) is a CLIPPED
    * span start — sentinel_0 with 3 - mod tokens — so no masked token
    * is dropped without a sentinel (r18 ADVICE). The oracle rebuilds
    * input AND target strings per doc, including the clipped-head
    * rule; a span boundary slip, a sentinel numbering bug, or a lost
    * merged run all hash-fail.
    */
  private def q247(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.spanCorrupt(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q247Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
       |st AS (
       |  SELECT doc_id, toks, n,
       |    list_filter(range(0, n), p -> (doc_id + p) % 7 = 0
       |      OR (p = 0 AND (doc_id + p) % 7 < 3)) AS starts
       |  FROM d)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
       |  CAST(len(starts) AS BIGINT) AS n_spans,
       |  array_to_string(list_filter(list_transform(range(0, n), p ->
       |    CASE WHEN (doc_id + p) % 7 = 0 OR (p = 0 AND (doc_id + p) % 7 < 3)
       |           THEN '<extra_id_' || (len(list_filter(starts, x -> x <= p)) - 1) || '>'
       |         WHEN (doc_id + p) % 7 < 3 THEN NULL
       |         ELSE toks[CAST(p + 1 AS INTEGER)] END),
       |    x -> x IS NOT NULL), ' ') AS input_text,
       |  array_to_string(list_transform(range(0, len(starts)), k ->
       |    '<extra_id_' || k || '> ' ||
       |    array_to_string(list_transform(
       |      range(starts[CAST(k + 1 AS INTEGER)],
       |            least(starts[CAST(k + 1 AS INTEGER)] + 3
       |                    - (doc_id + starts[CAST(k + 1 AS INTEGER)]) % 7, n)),
       |      p -> toks[CAST(p + 1 AS INTEGER)]), ' ')), ' ') AS target_text
       |FROM st
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q248
  /** Fill-in-the-middle rewrite (Packing.fimTransform): PSM and SPM
    * serializations at deterministic n/3, 2n/3 split points — the
    * code-model pretraining transform. Oracle rebuilds both strings.
    */
  private def q248(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.fimTransform(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q248Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
       |c AS (SELECT doc_id, toks, n, n // 3 AS c1, (2 * n) // 3 AS c2 FROM d),
       |p AS (
       |  SELECT doc_id, n,
       |    array_to_string(toks[1 : CAST(c1 AS INTEGER)], ' ') AS pre,
       |    array_to_string(toks[CAST(c1 + 1 AS INTEGER) : CAST(c2 AS INTEGER)], ' ') AS mid,
       |    array_to_string(toks[CAST(c2 + 1 AS INTEGER) : CAST(n AS INTEGER)], ' ') AS suf
       |  FROM c)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
       |  '<PRE> ' || pre || ' <SUF> ' || suf || ' <MID> ' || mid AS psm,
       |  '<SUF> ' || suf || ' <PRE> ' || pre || ' <MID> ' || mid AS spm
       |FROM p
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q223
  /** RAG sliding-window chunking (Retrieval.chunkSliding): 32-token
    * windows every 24 tokens — consecutive chunks share 8 tokens of
    * context, the segmenter that feeds chunk-level embedding and
    * retrieval. The oracle re-derives every window with DuckDB list
    * slicing over the same tokenizer, so an off-by-one in the window
    * start, a lost final partial window, or a wrong overlap all
    * hash-fail.
    */
  private def q223(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.chunkSliding(
        t(s, dir, "documents"), "doc_id", "text", winTokens = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q223Sql =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS nt FROM d WHERE len(toks) > 0),
       |w AS (SELECT doc_id, toks,
       |        unnest(range(1 + (greatest(nt - 32, 0) + 23) // 24)) AS k
       |      FROM n)
       |SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
       |  CAST(len(toks[CAST(k*24 + 1 AS INTEGER) : CAST(k*24 + 32 AS INTEGER)])
       |    AS INTEGER) AS n_tokens,
       |  array_to_string(toks[CAST(k*24 + 1 AS INTEGER) : CAST(k*24 + 32 AS INTEGER)],
       |    ' ') AS chunk
       |FROM w
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Per-document quality score + the filter a pipeline would apply
    * (keep score >= 0.5), returning the kept docs.
    *
    * Truncated (floor), not rounded, to 6 digits: the score is a sum
    * of small-integer ratios, so its double expansion regularly lands
    * EXACTLY on a .5 at the cut digit — where Spark (BigDecimal
    * HALF_UP on the exact expansion) and DuckDB (double-multiply
    * rounding) disagree by 1e-6 (first seen at sf0.1, doc with score
    * 0.5046875). floor(x*1e6)/1e6 is identical double arithmetic on
    * both engines: no tie to break.
    */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", (floor(qualityScore($"text") * 1e6) / 1e6).as("quality"))
      .filter($"quality" >= 0.5)
      .orderBy($"doc_id")
  }

  private val q24Sql =
    s"""SELECT doc_id, quality FROM (
       |  SELECT doc_id, floor((
       |    0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       |    + 0.3 * (CAST(len(list_filter(toks, t -> list_contains(${stopSql("en")}, t))) AS DOUBLE)
       |             / CAST(greatest(len(toks), 1) AS DOUBLE))
       |    + 0.3 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
       |             / CAST(greatest(length(text), 1) AS DOUBLE))) * 1e6) / 1e6 AS quality
       |  FROM (SELECT doc_id, text, $tokensSql AS toks FROM documents))
       |WHERE quality >= 0.5
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Token statistics per source: whitespace tokens, BPE-ish subword
    * tokens, chars — the budget numbers for a training-data corpus.
    */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"source",
        whitespaceTokenCount($"text").as("ws"),
        bpeTokenCount($"text").as("bpe"),
        length($"text").as("chars"))
      .groupBy($"source")
      .agg(
        sum($"ws").as("ws_tokens"),
        sum($"bpe").as("bpe_tokens"),
        sum($"chars").as("n_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy($"source")
  }

  private val q25Sql =
    s"""SELECT source,
       |  CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))) AS BIGINT) AS ws_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '$bpePattern'))) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  count(*) AS n_docs
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Both fingerprints per document: the order-insensitive content
    * fingerprint and the positional rolling fingerprint (detects
    * reordered vs verbatim duplication when compared).
    */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        contentFingerprint($"text").as("content_fp"),
        rollingFingerprint($"text").as("rolling_fp"))
      .orderBy($"doc_id")
  }

  private val q26Sql =
    s"""SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS content_fp,
       |  CAST(list_sum(list_transform(toks, (x, i) ->
       |    (CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT) % 2147483647 * i) % 2147483647))
       |    AS BIGINT) AS rolling_fp
       |FROM (SELECT doc_id, $tokensSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Deterministic stratified sampling — the reproducible corpus-
    * downsampling operator (rand()-based sampleBy is not replayable
    * across retries/engines): keep ~20% of documents per language by
    * thresholding the md5-derived hash of the doc id. Rates are exact
    * functions of the data, so reruns and the oracle agree bit-wise.
    */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(pmod(graft.functions.TextFunctions.hash60(concat(lit("sample|"), $"doc_id")), lit(100)) < 20)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(length($"text")).as("sampled_chars"))
      .orderBy($"lang")
  }

  private val q45Sql =
    """SELECT lang, count(*) AS n_sampled, CAST(sum(length(text)) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE CAST(concat('0x', substring(md5(concat('sample|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 20
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Histogram binning: document lengths in fixed 50-char buckets
    * (floor-division binning — the portable form of width_bucket).
    */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(floor($"n_chars" / 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
      .orderBy($"bucket")
  }

  private val q46Sql =
    """SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket,
      |  count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Weighted corpus mixture — the training-mix construction operator:
    * a per-source target rate dim (web-ish sources downsampled hard,
    * curated ones kept high) broadcast-joined onto the corpus, rows
    * kept by the same deterministic md5-threshold rule as q45 but with
    * the PER-STRATUM rate. The reproducible equivalent of
    * `df.stat.sampleBy` (whose rand() draw is not replayable across
    * retries, engines, or task re-executions — at 100 TB a re-run
    * speculative task would emit a DIFFERENT sample).
    *
    * Plan: weights dim is broadcast (20 rows), corpus never shuffles
    * until the final per-source aggregate — map-side combined, so the
    * shuffle carries one row per (source) per partition.
    */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = mixtureWeights.toDF("source", "pct")
    t(s, dir, "documents")
      .join(broadcast(weights), Seq("source"))
      .filter(pmod(graft.functions.TextFunctions.hash60(concat(lit("mix|"), $"doc_id")),
        lit(100)) < $"pct")
      .groupBy($"source", $"pct")
      .agg(count(lit(1)).as("n_selected"), sum($"n_chars").as("sel_chars"))
      .orderBy($"source")
  }

  /** The mixture spec: src0..src19 cycle through 80/50/25/10 percent
    * target rates (same literal table in the SQL oracle).
    */
  private val mixtureWeights: Seq[(String, Int)] =
    (0 until 20).map(i => (s"src$i", Seq(80, 50, 25, 10)(i % 4)))

  private val q82Sql = {
    val values = mixtureWeights.map { case (src, pct) => s"('$src', $pct)" }.mkString(", ")
    s"""WITH w(source, pct) AS (VALUES $values)
       |SELECT source, pct, count(*) AS n_selected, CAST(sum(n_chars) AS BIGINT) AS sel_chars
       |FROM documents JOIN w USING (source)
       |WHERE CAST(concat('0x', substring(md5(concat('mix|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < pct
       |GROUP BY source, pct
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  /** Per-group quantile-threshold filter: how many documents sit
    * strictly above their language's median length. The
    * quantile-as-threshold pattern (exact `percentile`, interpolated)
    * with the per-group cut broadcast back onto the rows — the shape
    * behind "keep the top half by quality per language" curation
    * rules. The metric is integer (n_chars) so the interpolated median
    * is exactly x or x.5 in IEEE double and the Spark/DuckDB halves
    * agree bit-wise.
    */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val med = docs.groupBy($"lang")
      .agg(percentile($"n_chars", lit(0.5)).as("median_chars"))
    docs.join(broadcast(med), Seq("lang"))
      .groupBy($"lang", $"median_chars")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_chars" > $"median_chars", 1L).otherwise(0L)).as("n_above"))
      .select($"lang", $"n_docs", $"n_above", $"median_chars")
      .orderBy($"lang")
  }

  private val q83Sql =
    """WITH med AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS median_chars
      |  FROM documents GROUP BY lang)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_chars > median_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  median_chars
      |FROM documents JOIN med USING (lang)
      |GROUP BY lang, median_chars
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Sequence packing (GPT-style concat-and-chunk): documents in
    * doc_id order are laid head-to-tail into a token stream; a
    * document is assigned to the bin where it STARTS
    * (floor(start_offset / budget)). Per bin: docs, token mass, and
    * the doc-id range — the batch-construction op of every LLM
    * trainer.
    *
    * The global running offset is NOT a single-partition window (the
    * naive `Window.orderBy(doc_id)` serializes the whole corpus
    * through one task): it is a two-level prefix sum over data-derived
    * blocks — block = doc_id div blockSize, a partition-local cumsum
    * WITHIN each block (parallel window, hash-shuffled on the block
    * key), then a cumsum over per-block totals (corpus/blockSize rows
    * — the only serial window) broadcast back as exclusive offsets.
    * Partitioning-independent by construction (blocks are data values,
    * not spark_partition_id), so the result is deterministic under any
    * executor layout. At 100 TB: blockSize sized so block count stays
    * driver-friendly (1e6 blocks of 1e5 docs), every heavy stage stays
    * parallel.
    *
    * All arithmetic is integer-exact; the oracle recomputes the same
    * packing with a plain window cumsum (fine at oracle scale).
    */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 256L // tokens per packed sequence
    val blockSize = 100L
    val W = org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("blk", ($"doc_id" / blockSize).cast("long"))
    // level 1: cumsum within each block (parallel across blocks)
    val local = toks.withColumn("local_cum",
      sum($"n_tok").over(W.partitionBy($"blk").orderBy($"doc_id")
        .rowsBetween(W.unboundedPreceding, 0)))
    // level 2: exclusive running offset over per-block totals (tiny)
    val offsets = local.groupBy($"blk").agg(sum($"n_tok").as("btotal"))
      .withColumn("offset",
        coalesce(sum($"btotal").over(W.orderBy($"blk")
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select($"blk", $"offset")
    local.join(broadcast(offsets), Seq("blk"))
      .withColumn("start_off", $"offset" + $"local_cum" - $"n_tok")
      .withColumn("bin", floor($"start_off" / budget).cast("long"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"bin")
  }

  private val q87Sql =
    s"""WITH tk AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tok
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, n_tok,
       |    sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
       |  FROM tk)
       |SELECT CAST(floor(start_off / 256) AS BIGINT) AS bin,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum
       |GROUP BY 1
       |ORDER BY bin""".stripMargin

  // --------------------------------------------------------------- q182
  /** Packed-sequence BOUNDARY MAP — the row-level companion of q87's
    * bin summary: for every document, which packed sequence it starts
    * in and at which token offset WITHIN that sequence. This is the
    * artifact a packed-training loader actually consumes — sample
    * boundaries drive attention masking (no cross-document attention)
    * and per-example provenance inside a packed batch; the summary
    * alone cannot reconstruct them. Same two-level prefix sum as q87
    * (block-local cumsum + per-block offsets broadcast back — no
    * global window over data rows); off_in_bin = start_off − bin·B is
    * pure integer arithmetic on top. Oracle: the plain window cumsum
    * re-derivation.
    */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 256L
    val blockSize = 100L
    val W = org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("blk", ($"doc_id" / blockSize).cast("long"))
    val local = toks.withColumn("local_cum",
      sum($"n_tok").over(W.partitionBy($"blk").orderBy($"doc_id")
        .rowsBetween(W.unboundedPreceding, 0)))
    val offsets = local.groupBy($"blk").agg(sum($"n_tok").as("btotal"))
      .withColumn("offset",
        coalesce(sum($"btotal").over(W.orderBy($"blk")
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select($"blk", $"offset")
    local.join(broadcast(offsets), Seq("blk"))
      .withColumn("start_off", $"offset" + $"local_cum" - $"n_tok")
      .withColumn("bin", floor($"start_off" / budget).cast("long"))
      .select($"bin", $"doc_id",
        ($"start_off" - $"bin" * budget).as("off_in_bin"), $"n_tok")
      .orderBy($"bin", $"off_in_bin", $"doc_id")
  }

  private val q182Sql =
    s"""WITH tk AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tok
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, n_tok,
       |    sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
       |  FROM tk)
       |SELECT CAST(floor(start_off / 256) AS BIGINT) AS bin, doc_id,
       |  CAST(start_off - floor(start_off / 256) * 256 AS BIGINT) AS off_in_bin,
       |  n_tok
       |FROM cum
       |ORDER BY bin, off_in_bin, doc_id""".stripMargin

  // --------------------------------------------------------------- q234
  /** Greedy NO-SPLIT sequence packing (operators.Packing.packGreedy,
    * r18) — the SFT-style counterpart of q87/q182: documents never
    * split across packed sequences; a doc that would overflow the
    * 256-token window closes the bin, an over-window doc owns a bin
    * alone (flagged). Sequential by nature, so the operator packs
    * within 128-doc id-blocks (one shuffle on the block key, bounded
    * per-group fold, bins never cross blocks — the shard-local
    * production shape) with globally unique bin ids by construction.
    * The oracle replays the exact recurrence as a RECURSIVE CTE over
    * the per-block doc sequence — a wrong close rule, overflow rule,
    * fill accumulation, or block/bin id arithmetic all hash-fail.
    */
  private def q234(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packGreedy(
        t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 256L, blockDocs = 128L)
      .orderBy(col("doc_id"))

  private val q234Sql =
    s"""WITH RECURSIVE tk AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tok,
       |    doc_id // 128 AS blk
       |  FROM documents),
       |seq AS (
       |  SELECT doc_id, n_tok, blk,
       |    row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
       |  FROM tk),
       |pack AS (
       |  SELECT blk, rn, doc_id, n_tok,
       |    CAST(0 AS BIGINT) AS bin_local,
       |    n_tok AS fill,
       |    0 AS pos,
       |    n_tok > 256 AS overflow
       |  FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT s.blk, s.rn, s.doc_id, s.n_tok,
       |    p.bin_local + (CASE WHEN p.overflow OR (p.fill > 0 AND
       |      (s.n_tok > 256 OR p.fill + s.n_tok > 256)) THEN 1 ELSE 0 END),
       |    CASE WHEN p.overflow OR (p.fill > 0 AND
       |      (s.n_tok > 256 OR p.fill + s.n_tok > 256))
       |      THEN s.n_tok ELSE p.fill + s.n_tok END,
       |    CASE WHEN p.overflow OR (p.fill > 0 AND
       |      (s.n_tok > 256 OR p.fill + s.n_tok > 256))
       |      THEN 0 ELSE p.pos + 1 END,
       |    s.n_tok > 256
       |  FROM pack p JOIN seq s ON s.blk = p.blk AND s.rn = p.rn + 1)
       |SELECT doc_id, n_tok, CAST(blk * 128 + bin_local AS BIGINT) AS bin_id,
       |  CAST(pos AS INTEGER) AS bin_pos, CAST(fill AS BIGINT) AS bin_fill,
       |  overflow
       |FROM pack
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Deterministic train/val/test split — 90/5/5 by a salted content
    * hash of the document id (`split|` salt keeps it independent of
    * q82's `mix|` sampling hash, so the two decisions never
    * correlate). The assignment is a pure per-row expression:
    * replayable across task retries, stable across reruns and
    * engines (the md5-prefix hash is the q82 idiom), and map-only —
    * the corpus shuffles only for the report aggregate. Output: per
    * (split, lang) doc count and char mass, the balance sheet a
    * training run records.
    */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("split|"), $"doc_id")), lit(100))
    t(s, dir, "documents")
      .withColumn("split",
        when(h < 90, "train").when(h < 95, "val").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("split_chars"))
      .orderBy($"split", $"lang")
  }

  private val q98Sql =
    """WITH h AS (
      |  SELECT lang, n_chars,
      |    CAST(concat('0x', substring(md5(concat('split|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS hv
      |  FROM documents)
      |SELECT CASE WHEN hv < 90 THEN 'train' WHEN hv < 95 THEN 'val' ELSE 'test' END AS split,
      |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS split_chars
      |FROM h
      |GROUP BY 1, 2
      |ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Overlapping fixed-size token chunking — the RAG / long-context
    * prep sibling of q87's packing: each document yields windows of
    * `chunk`=32 tokens starting every `stride`=24 (8-token overlap);
    * the last window truncates at the document end, and a document
    * shorter than one chunk yields exactly one window.
    * numChunks = 1 + ceil(max(0, n - chunk) / stride), all integer
    * arithmetic mirrored exactly in the oracle (`div` / `//`).
    *
    * Map-only plan: computed start sequence exploded per row + array
    * slices — no shuffle before the output sort, so chunking a 100 TB
    * corpus is one embarrassingly parallel scan. Chunk content is
    * pinned via md5 of the space-joined window, so the gate verifies
    * the actual token content of every chunk, not just counts.
    */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunk = 32
    val stride = 24
    t(s, dir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .withColumn("n", size($"toks").cast("long"))
      .withColumn("nc",
        expr(s"if(n <= $chunk, 1L, 1L + ((n - $chunk + $stride - 1) div $stride))"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0L), $"nc" - 1)).as("chunk_id"))
      .withColumn("start_tok", $"chunk_id" * stride + 1)
      .withColumn("ctoks", slice($"toks", $"start_tok".cast("int"), lit(chunk)))
      .select($"doc_id", $"chunk_id", $"start_tok",
        size($"ctoks").cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", $"ctoks")).as("chunk_fp"))
      .orderBy($"doc_id", $"chunk_id")
  }

  private val q96Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |tn AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
       |       FROM tk WHERE len(toks) > 0),
       |ch AS (
       |  SELECT doc_id, toks, i AS chunk_id, i * 24 + 1 AS start_tok
       |  FROM tn, unnest(range(0,
       |    CASE WHEN n <= 32 THEN 1 ELSE 1 + ((n - 32 + 24 - 1) // 24) END)) AS u(i))
       |SELECT doc_id, chunk_id, start_tok,
       |  CAST(len(toks[start_tok : start_tok + 31]) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(toks[start_tok : start_tok + 31], ' ')) AS chunk_fp
       |FROM ch
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Epoch upsampling: per-source repeat factors (curated sources see
    * more epochs than web crawl), materialized as an explode over
    * `sequence(1, reps)` — each epoch of each document is a row with
    * its epoch index, the shape a packing/shuffling stage consumes.
    * Broadcast dim join + map-only explode: the corpus shuffles only
    * for the final report aggregate.
    */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = epochReps.toDF("source", "reps")
    t(s, dir, "documents")
      .join(broadcast(reps), Seq("source"))
      .select($"source", $"doc_id", $"n_chars",
        explode(sequence(lit(1), $"reps")).as("epoch"))
      .groupBy($"source", $"epoch")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("epoch_chars"))
      .orderBy($"source", $"epoch")
  }

  /** src0..src19 cycle through 3/1/2/1 epochs (mirrored in the SQL). */
  private val epochReps: Seq[(String, Int)] =
    (0 until 20).map(i => (s"src$i", Seq(3, 1, 2, 1)(i % 4)))

  private val q88Sql = {
    val values = epochReps.map { case (src, r) => s"('$src', $r)" }.mkString(", ")
    s"""WITH w(source, reps) AS (VALUES $values)
       |SELECT source, CAST(epoch AS INTEGER) AS epoch, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS epoch_chars
       |FROM documents JOIN w USING (source), unnest(range(1, reps + 1)) AS e(epoch)
       |GROUP BY source, epoch
       |ORDER BY source, epoch""".stripMargin
  }

  // --------------------------------------------------------------- q109
  /** DSIR importance-resampling mixture (operators.Dsir — Xie et al.
    * NeurIPS'23): q82's static per-source rates generalized to
    * per-document importance weights under hashed unigram+bigram
    * bucket models — target = the corpus's English documents, raw =
    * the whole corpus, expected sample size k=100. Selection is the
    * deterministic threshold-keep rule (q82's md5 idiom) with the
    * acceptance bound cross-multiplied into exact integers:
    * u·Σw < k·10⁶·w_i — replayable across retries, engines, and
    * partitionings. The oracle re-derives features, both smoothed
    * bucket models, the ppm ratio table, the weighted integer mean,
    * and the acceptance rule; the float log-importance surface is
    * spec-gated in DsirSpec instead.
    */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    graft.operators.Dsir.resample(
        docs, docs.filter($"lang" === "en"), "doc_id", "text", k = 100)
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .select($"doc_id", $"lang", $"n_feat", $"score_ppm")
      .orderBy($"doc_id")
  }

  private val q109Sql = {
    val B = graft.operators.Dsir.DefaultBuckets
    val poly = graft.functions.TextFunctions.polyHashSql.format("g", "g")
    s"""WITH tk9 AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |gr AS (
       |  SELECT doc_id, unnest(toks) AS g FROM tk9
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS g
       |  FROM tk9 WHERE len(toks) >= 2),
       |f AS (SELECT doc_id, $poly % $B AS bucket, count(*) AS n
       |      FROM gr GROUP BY 1, 2),
       |rcnt AS (SELECT bucket, sum(n) AS r FROM f GROUP BY 1),
       |tcnt AS (SELECT bucket, sum(n) AS t
       |         FROM f JOIN documents USING (doc_id)
       |         WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT sum(r) FROM rcnt) AS rtot,
       |               (SELECT COALESCE(sum(t), 0) FROM tcnt) AS ttot),
       |ratio AS (
       |  SELECT bucket,
       |    (1000000 * (COALESCE(t, 0) + 1) * (rtot + $B))
       |      // ((r + 1) * (ttot + $B)) AS ratio_ppm
       |  FROM rcnt LEFT JOIN tcnt USING (bucket) CROSS JOIN tot),
       |sc AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feat,
       |    CAST(sum(n * ratio_ppm) // sum(n) AS BIGINT) AS score_ppm
       |  FROM f JOIN ratio USING (bucket) GROUP BY doc_id),
       |w AS (SELECT sum(score_ppm) AS wsum FROM sc)
       |SELECT doc_id, lang, n_feat, score_ppm
       |FROM sc JOIN documents USING (doc_id) CROSS JOIN w
       |WHERE (CAST(concat('0x', substring(md5(concat('dsir|',
       |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000) * wsum
       |  < 100 * 1000000 * score_ppm
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q112
  /** Frozen-model DSIR batch scoring — q109's production complement:
    * the ratio model is trained ONCE per (testdata dir) and PERSISTED
    * (Dsir.saveModel — ratio parquet + scheme stamp, the ArtifactStamp
    * discipline); the query loads the frozen model and scores an
    * incoming batch (doc_id % 7 == 3 — a "new crawl day") with
    * Dsir.scoreWithModel, touching no corpus statistics. Because the
    * batch is a subset of the training raw corpus, the frozen-model
    * scores are bit-equal to q109's inline scores for those docs —
    * which is exactly what the oracle pins (model re-derived in SQL,
    * scoring filtered to the batch). The unseen-bucket fallback and
    * stamp refusal are DsirSpec-gated.
    */
  private val dsirModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def q112(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val modelDir = dsirModelCache.computeIfAbsent(s"$dir|dsir-b1024", { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft-dsir-model").toString
      graft.operators.Dsir.saveModel(s, d, docs, docs.filter($"lang" === "en"),
        "doc_id", "text")
      d
    })
    val model = graft.operators.Dsir.loadModel(s, modelDir)
    graft.operators.Dsir.scoreWithModel(
        docs.filter($"doc_id" % 7 === 3), "doc_id", "text", model)
      .orderBy($"doc_id")
  }

  private val q112Sql = {
    val B = graft.operators.Dsir.DefaultBuckets
    val poly = graft.functions.TextFunctions.polyHashSql.format("g", "g")
    s"""WITH tk9 AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |gr AS (
       |  SELECT doc_id, unnest(toks) AS g FROM tk9
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS g
       |  FROM tk9 WHERE len(toks) >= 2),
       |f AS (SELECT doc_id, $poly % $B AS bucket, count(*) AS n
       |      FROM gr GROUP BY 1, 2),
       |rcnt AS (SELECT bucket, sum(n) AS r FROM f GROUP BY 1),
       |tcnt AS (SELECT bucket, sum(n) AS t
       |         FROM f JOIN documents USING (doc_id)
       |         WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT sum(r) FROM rcnt) AS rtot,
       |               (SELECT COALESCE(sum(t), 0) FROM tcnt) AS ttot),
       |ratio AS (
       |  SELECT bucket,
       |    (1000000 * (COALESCE(t, 0) + 1) * (rtot + $B))
       |      // ((r + 1) * (ttot + $B)) AS ratio_ppm
       |  FROM rcnt LEFT JOIN tcnt USING (bucket) CROSS JOIN tot)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feat,
       |  CAST(sum(n * ratio_ppm) // sum(n) AS BIGINT) AS score_ppm
       |FROM f JOIN ratio USING (bucket)
       |WHERE doc_id % 7 = 3
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q115
  /** End-to-end curation pipeline — the composed "run your whole
    * cleaning recipe on this engine" surface (q100's composition
    * discipline applied to curation): five oracle-gated stages chained
    * exactly as a production corpus run would order them, with the
    * per-source survivor budget as the output.
    *
    *   S1 language ID keep-en (q23's operator)
    *   S2 quality score >= 0.5 (q24's truncation discipline)
    *   S3 exact dedup, keep the canonical copy (q27's fingerprint)
    *   S4 per-source frequency cap, 10 in `cap|` hash order (q114)
    *   S5 mixture threshold-keep at the per-source rates (q82)
    *
    * Each stage is map-only or a bounded-state aggregate; the oracle
    * re-derives the full chain as CTEs built from the SAME fragments
    * the individual stage oracles use, so a drift in ANY stage's
    * semantics breaks this hash even if the stage's own gate is
    * somehow green.
    */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // r22, verdict item 5c, ADJUDICATED: a Project hoist of
    // tokens/stopword_hits does NOT survive optimization — Catalyst
    // collapses any adjacent Project back into the Filter condition
    // (predicate-through-project inlining; verified on the plan), so
    // the duplicate evaluation can only be cut by making the PREDICATE
    // itself smaller. `langId(text) === "en"` is provably the
    // conjunction below: langId picks the FIRST langOrder language
    // achieving the positive max, en IS first, so en wins iff its hit
    // count is >= every other language's and > 0 (integer comparisons,
    // no ties to break, null text drops the row either way). 4
    // stopword_hits / 5 tokens evaluations per row instead of 10/13
    // (s_en appears twice — one vs-the-rest comparison + the
    // positivity check — the others once each).
    val toksE = tokens($"text")
    def sh(l: String) = stopwordHits(toksE, l)
    val en = docs.filter(
      sh("en") >= greatest(sh("es"), sh("de"), sh("fr")) && sh("en") > 0)
    val qual = en.filter(floor(qualityScore($"text") * 1e6) / 1e6 >= 0.5)
    // keep-canonical exact dedup: min doc_id per content fingerprint
    val withFp = qual.withColumn("fp", contentFingerprint($"text"))
    val canon = withFp.groupBy($"fp").agg(min($"doc_id").as("keep_id"))
    val deduped = withFp.join(canon, Seq("fp"))
      .filter($"doc_id" === $"keep_id").drop("fp", "keep_id")
    // per-source cap: ids kept by the bounded-state aggregator
    val capped = deduped.join(
      Quality.capPerGroup(deduped, "source", "doc_id", cap = 10)
        .select($"doc_id"), Seq("doc_id"))
    // mixture keep at per-source rates (q82's salt, replayable)
    val weights = mixtureWeights.toDF("source", "pct")
    capped.join(broadcast(weights), Seq("source"))
      .filter(pmod(hash60(concat(lit("mix|"), $"doc_id")), lit(100)) < $"pct")
      .groupBy($"source", $"pct")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("kept_chars"))
      .orderBy($"source")
  }

  private val q115Sql = {
    val best = langOrder.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val chain = langOrder.foldRight("'und'") { (l, els) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
    val values = mixtureWeights.map { case (src, pct) => s"('$src', $pct)" }.mkString(", ")
    s"""WITH tk AS (SELECT doc_id, source, n_chars, text, $tokensSql AS toks
       |            FROM documents),
       |lang1 AS (
       |  SELECT doc_id, source, n_chars, text, toks, $chain AS ld FROM (
       |    SELECT *, ${langOrder.map(l => s"${hitsSql(l)} AS s_$l").mkString(", ")},
       |      $best AS best
       |    FROM tk)),
       |en AS (SELECT doc_id, source, n_chars, text, toks FROM lang1 WHERE ld = 'en'),
       |qual AS (
       |  SELECT doc_id, source, n_chars, toks FROM en
       |  WHERE floor((
       |    0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
       |    + 0.3 * (CAST(len(list_filter(toks, t -> list_contains(${stopSql("en")}, t))) AS DOUBLE)
       |             / CAST(greatest(len(toks), 1) AS DOUBLE))
       |    + 0.3 * (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
       |             / CAST(greatest(length(text), 1) AS DOUBLE))) * 1e6) / 1e6 >= 0.5),
       |fp AS (SELECT doc_id, source, n_chars,
       |         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS cfp
       |       FROM qual),
       |dedup AS (
       |  SELECT doc_id, source, n_chars FROM fp
       |  WHERE doc_id = (SELECT min(f2.doc_id) FROM fp f2 WHERE f2.cfp = fp.cfp)),
       |capped AS (
       |  SELECT doc_id, source, n_chars FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY
       |      CAST(concat('0x', substring(md5(concat('cap|',
       |        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % ${1L << 52},
       |      doc_id) AS rk
       |    FROM dedup)
       |  WHERE rk <= 10),
       |w(source, pct) AS (VALUES $values)
       |SELECT source, pct, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM capped JOIN w USING (source)
       |WHERE CAST(concat('0x', substring(md5(concat('mix|',
       |  CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < pct
       |GROUP BY source, pct
       |ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q120
  /** Curriculum schedule (operators.Curriculum.globalRank): contiguous
    * global training order 1..N by (n_chars ASC, doc_id ASC) —
    * shortest-first length curriculum — via the two-level prefix count
    * over n_chars-derived blocks. The oracle is the naive
    * single-window row_number (fine at oracle scale); the engine's
    * form is the one that never sorts the corpus through one task.
    */
  private def q120(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curriculum.globalRank(
        t(s, dir, "documents"), "n_chars", "doc_id",
        blockWidth = 100L, idSubWidth = 64L)
      .orderBy(col("global_rank"))

  private val q120Sql =
    """SELECT doc_id, n_chars,
      |  row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank
      |FROM documents
      |ORDER BY global_rank""".stripMargin

  // --------------------------------------------------------------- q126
  /** Lexical search (operators.Retrieval.searchTopK): documents with
    * doc_id % 97 = 0 are the query set, the rest the corpus; top-5
    * docs per query by exact integer tf-idf — weight = (N·10⁶) div df,
    * score = Σ tf·weight, rank by (score DESC, doc_id). The oracle
    * rebuilds postings, document frequencies, the floor-div weights,
    * and the row_number tail in DuckDB; the engine's tail is the
    * TopKAggregator (k-sized per-query state, no window sort).
    */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.searchTopK(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private[queries] def q126SqlAt(mod: Int, k: Int = 5): String =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
       |      FROM tk WHERE doc_id % $mod = 0),
       |c AS (SELECT doc_id, unnest(toks) AS term FROM tk WHERE doc_id % $mod <> 0),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM c GROUP BY 1, 2),
       |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM c),
       |s AS (SELECT q.qid, tf.doc_id,
       |        CAST(sum(tf.tf * ((n.nd * 1000000) // dfx.df)) AS BIGINT) AS score
       |      FROM q JOIN tf ON q.term = tf.term
       |             JOIN dfx ON tf.term = dfx.term
       |             CROSS JOIN n
       |      GROUP BY 1, 2)
       |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       |  FROM s)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  private val q126Sql = q126SqlAt(97)

  // --------------------------------------------------------------- q199
  /** More-like-this (Retrieval.moreLikeThis, the Lucene MLT shape):
    * doc_id % 97 = 0 documents query the WHOLE corpus for their top-5
    * lexical neighbors by the exact integer tf-idf dot
    * Σ tf_q·tf_d·((N·10⁶) div df) over terms under the 80%
    * corpus-fraction df cap — MLT's maxDocFreqPct stopword hygiene
    * (q196's degree-cap rule): a term in most of the corpus pairs
    * everything with everything. (The synthetic vocabulary is tiny —
    * 31 terms, df 25–402 of 500 docs — so 80% is the cap that
    * actually separates: it keeps the discriminative tail and drops
    * the df-402 head, verified non-degenerate.) Self is excluded;
    * same TopKAggregator tail as q126. Oracle re-derives postings,
    * the fraction cap, the dot, and the row_number tail.
    */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.moreLikeThis(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id",
        k = 5, maxDfPpm = 800000L)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q199Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |c AS (SELECT doc_id AS doc, unnest(toks) AS term FROM tk),
       |tf AS (SELECT term, doc, CAST(count(*) AS BIGINT) AS tf FROM c GROUP BY 1, 2),
       |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc) AS BIGINT) AS nd FROM tf),
       |q AS (SELECT term, doc AS qid, tf AS tf_q FROM tf WHERE doc % 97 = 0),
       |s AS (SELECT q.qid, tf.doc,
       |        CAST(sum(tf.tf * q.tf_q * ((n.nd * 1000000) // dfx.df)) AS BIGINT) AS score
       |      FROM tf JOIN q USING (term)
       |             JOIN dfx USING (term)
       |             CROSS JOIN n
       |      WHERE tf.doc <> q.qid
       |        AND dfx.df <= (n.nd * 800000) // 1000000
       |      GROUP BY 1, 2)
       |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
       |  doc AS doc_id, score FROM (
       |  SELECT qid, doc, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank
       |  FROM s)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- q143
  /** BM25 lexical ranking (Retrieval.searchTopKBm25) — q126's split
    * (doc_id % 97 queries vs the rest), top-5 per query by the exact
    * integer-ppm Okapi form: q126's floor-div idf, tf saturation with
    * k1 = 1.2 (ppm), and dl/avgdl length normalization with b = 0.75
    * (ppm). The oracle re-derives postings, document frequencies and
    * lengths, avgdl, BOTH ppm curves, and the per-term floor-div chain
    * in DuckDB — every rounding point mirrored — then the row_number
    * tail; the engine's tail stays the TopKAggregator. Every aggregate
    * in the CTE chain is cast BIGINT (the q135 lesson: DuckDB sum()
    * propagates HUGEINT through CTE levels and fails the typed hash).
    */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.searchTopKBm25(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The BM25 scoring CTE chain (tk/q/c/tf/dfx/dlx/st/s) shared by the
    * q143 ranking oracle and the q152 snippet oracle — byte-identical
    * to the q143 form it was factored from.
    */
  private def bm25Ctes(k1: Long, b: Long,
      corpusPred: String = "doc_id % 97 <> 0",
      docsRel: String = "documents"): String =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM $docsRel),
       |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
       |      FROM tk WHERE doc_id % 97 = 0),
       |c AS (SELECT doc_id, unnest(toks) AS term FROM tk WHERE $corpusPred),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM c GROUP BY 1, 2),
       |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |dlx AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
       |         CAST((sum(dl) * 1000000) // count(*) AS BIGINT) AS avgdl_ppm
       |       FROM dlx),
       |s AS (SELECT q.qid, tf.doc_id,
       |        CAST(sum((((st.nd * 1000000) // dfx.df) *
       |          ((tf.tf * ($k1 + 1000000) * 1000000) //
       |           (tf.tf * 1000000 +
       |            ($k1 * ((1000000 - $b) +
       |              ($b * ((dlx.dl * 1000000000000) // st.avgdl_ppm)) // 1000000))
       |             // 1000000))) // 1000000) AS BIGINT) AS score
       |      FROM q JOIN tf ON q.term = tf.term
       |             JOIN dfx ON tf.term = dfx.term
       |             JOIN dlx ON tf.doc_id = dlx.doc_id
       |             CROSS JOIN st
       |      GROUP BY 1, 2)""".stripMargin

  /** The ranking tail shared by every BM25 oracle (q143 / q148 / q158
    * / q170): row_number over the scored set, top-5.
    */
  private val bm25RankTail: String =
    """SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
      |  SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM s)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private val q143Sql =
    s"""${bm25Ctes(1200000L, 750000L)}
       |$bm25RankTail""".stripMargin

  // --------------------------------------------------------------- q178
  /** PRF query expansion (Retrieval.searchTopKExpanded) — the q126
    * split (doc_id % 97 queries vs the rest) run through the two-pass
    * Rocchio/RM loop: top-3 feedback docs by base tf-idf, top-2
    * expansion terms mined from them (same integer weights, query
    * terms anti-joined out, ties score DESC / term ASC), then the
    * base scorer over the widened term set, top-5. The oracle
    * re-derives all five stages off q126's CTE family — every score a
    * BIGINT-cast floor-div sum, both row_number tails mirroring the
    * aggregators' (value DESC, id ASC) tie rule.
    */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.searchTopKExpanded(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", k = 5, fbDocs = 3, expTerms = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q178Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
       |      FROM tk WHERE doc_id % 97 = 0),
       |c AS (SELECT doc_id, unnest(toks) AS term FROM tk WHERE doc_id % 97 <> 0),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM c GROUP BY 1, 2),
       |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM c),
       |s1 AS (SELECT q.qid, tf.doc_id,
       |         CAST(sum(tf.tf * ((n.nd * 1000000) // dfx.df)) AS BIGINT) AS score
       |       FROM q JOIN tf ON q.term = tf.term
       |              JOIN dfx ON tf.term = dfx.term
       |              CROSS JOIN n
       |       GROUP BY 1, 2),
       |fb AS (SELECT qid, doc_id FROM (
       |         SELECT qid, doc_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
       |         FROM s1)
       |       WHERE rn <= 3),
       |cand AS (SELECT fb.qid, tf.term,
       |           CAST(sum(tf.tf * ((n.nd * 1000000) // dfx.df)) AS BIGINT) AS ts
       |         FROM fb JOIN tf ON tf.doc_id = fb.doc_id
       |                 JOIN dfx ON dfx.term = tf.term
       |                 CROSS JOIN n
       |         GROUP BY 1, 2),
       |cand2 AS (SELECT cand.qid, cand.term, cand.ts
       |          FROM cand LEFT JOIN q
       |            ON q.qid = cand.qid AND q.term = cand.term
       |          WHERE q.term IS NULL),
       |ex AS (SELECT qid, term FROM (
       |         SELECT qid, term,
       |           row_number() OVER (PARTITION BY qid ORDER BY ts DESC, term) AS rn
       |         FROM cand2)
       |       WHERE rn <= 2),
       |qx AS (SELECT qid, term FROM q UNION ALL SELECT qid, term FROM ex),
       |s2 AS (SELECT qx.qid, tf.doc_id,
       |         CAST(sum(tf.tf * ((n.nd * 1000000) // dfx.df)) AS BIGINT) AS score
       |       FROM qx JOIN tf ON qx.term = tf.term
       |               JOIN dfx ON tf.term = dfx.term
       |               CROSS JOIN n
       |       GROUP BY 1, 2)
       |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, doc_id, score FROM (
       |  SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       |  FROM s2)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- q179
  /** Training-export provenance manifest — the governance layer a
    * dataset release actually needs: every source carries a LICENSE
    * CLASS (analytic policy: src N % 4 → public-domain / permissive /
    * by-attribution / restricted), `restricted` sources are gated OUT
    * before chunking, and every surviving training chunk (q96's
    * 32/24 chunker) emits a provenance row — (doc, chunk, source,
    * license, attribution flag, chunk fingerprint) — the record that
    * answers "where did example X come from and may we ship it?"
    * per-example, not per-corpus. Plan: the policy table is the
    * distinct-source frame (tiny — broadcast join onto the corpus),
    * the gate a filter BEFORE the chunk explode pays for restricted
    * docs, then q96's chunk arithmetic. The oracle re-derives policy,
    * gate, and chunker.
    */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunk = 32
    val stride = 24
    val docs = t(s, dir, "documents")
    val lic = docs.select($"source").distinct()
      .withColumn("license", expr(
        """CASE CAST(substring(source, 4) AS BIGINT) % 4
          |  WHEN 0 THEN 'public-domain'
          |  WHEN 1 THEN 'permissive'
          |  WHEN 2 THEN 'by-attribution'
          |  ELSE 'restricted' END""".stripMargin))
    docs.join(broadcast(lic), Seq("source"))
      .filter($"license" =!= "restricted")
      .select($"doc_id", $"source", $"license",
        graft.functions.TextFunctions.tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .withColumn("n", size($"toks").cast("long"))
      .withColumn("nc",
        expr(s"if(n <= $chunk, 1L, 1L + ((n - $chunk + $stride - 1) div $stride))"))
      .select($"doc_id", $"source", $"license", $"toks",
        explode(sequence(lit(0L), $"nc" - 1)).as("chunk_id"))
      .withColumn("start_tok", $"chunk_id" * stride + 1)
      .withColumn("ctoks", slice($"toks", $"start_tok".cast("int"), lit(chunk)))
      .select($"doc_id", $"chunk_id", $"source", $"license",
        ($"license" === "by-attribution").as("needs_attribution"),
        md5(concat_ws(" ", $"ctoks")).as("chunk_fp"))
      .orderBy($"doc_id", $"chunk_id")
  }

  private val q179Sql =
    s"""WITH lic AS (
       |  SELECT source,
       |    CASE CAST(substring(source, 4) AS BIGINT) % 4
       |      WHEN 0 THEN 'public-domain'
       |      WHEN 1 THEN 'permissive'
       |      WHEN 2 THEN 'by-attribution'
       |      ELSE 'restricted' END AS license
       |  FROM (SELECT DISTINCT source FROM documents)),
       |tk AS (SELECT d.doc_id, d.source, lic.license, $tokensSql AS toks
       |       FROM documents d JOIN lic ON lic.source = d.source
       |       WHERE lic.license <> 'restricted'),
       |tn AS (SELECT doc_id, source, license, toks,
       |         CAST(len(toks) AS BIGINT) AS n
       |       FROM tk WHERE len(toks) > 0),
       |ch AS (
       |  SELECT doc_id, source, license, toks, i AS chunk_id, i * 24 + 1 AS start_tok
       |  FROM tn, unnest(range(0,
       |    CASE WHEN n <= 32 THEN 1 ELSE 1 + ((n - 32 + 24 - 1) // 24) END)) AS u(i))
       |SELECT doc_id, chunk_id, source, license,
       |  license = 'by-attribution' AS needs_attribution,
       |  md5(array_to_string(toks[start_tok : start_tok + 31], ' ')) AS chunk_fp
       |FROM ch
       |ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------- q170
  /** Postings time travel — the reproducibility read the lifecycle's
    * retention exists FOR: after a day-2 append moves the live
    * pointer, the RETAINED base version is still a complete manifest
    * over immutable segments, and probing it must reproduce the
    * historical index bit-for-bit. The query publishes base
    * (doc_id < 250), appends the rest, then reads the base VERSION
    * DIR (not the live pointer) through the BM25 tail; the oracle is
    * q143's scoring chain restricted to the historical sub-corpus —
    * so the gate pins "read version N ≡ rebuild as of N", the audit
    * story behind every "which index produced run X" question.
    */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    import graft.changesets.Pipeline
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val qs = docs.filter(col("doc_id") % 97 === 0)
    graft.Checkpoints.overTempDir(s, "q170-postings") { pub =>
      val baseDir = Pipeline.publishPostings(s, pub, "base",
        corpus.filter(col("doc_id") < 250), "doc_id", "text")
      Pipeline.appendPostings(s, pub, "day2",
        corpus.filter(col("doc_id") >= 250), "doc_id", "text")
      // the live pointer moved on; the read below is the RETAINED version
      require(!Pipeline.readCurrentPostings(pub).contains(baseDir),
        "q170 precondition: the append must have moved the live pointer")
      graft.operators.Retrieval
        .bm25OverPostings(qs, Pipeline.readPostingsIndex(s, baseDir), "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  private val q170Sql =
    s"""${bm25Ctes(1200000L, 750000L, "doc_id % 97 <> 0 AND doc_id < 250")}
       |$bm25RankTail""".stripMargin

  // --------------------------------------------------------------- q186
  /** CDC-driven index maintenance — the composition the q185 log
    * exists FOR: a corpus moves v1 → v2 (the q177 rules: %13 = 0
    * deleted, %11 = 5 born, %7 = 0 changed), the delta classes come
    * from Quality.snapshotDiff, and the LIVE postings index is
    * maintained by lifecycle primitives only — deletePostings
    * (removed + changed), compactPostings (materialize the deletion:
    * an updated doc's OLD postings physically leave before its new
    * text lands), appendPostings (added + changed at v2 text). Gate: probing the
    * maintained index ≡ q143's rebuild-as-of-v2 SQL, bit-for-bit
    * through the BM25 tail — index cost ∝ |delta| (+ the scheduled
    * compact), correctness ≡ full rebuild.
    */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    import graft.changesets.Pipeline
    val docs = t(s, dir, "documents")
    val corpus1 = docs.filter(col("doc_id") % 11 =!= 5)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text").as("t"))
    val rev2 = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" rev2")).otherwise(lit("")))
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), rev2.as("t"))
    val corpus2 = v2.filter(col("doc_id") % 97 =!= 0)
    val qs = v2.filter(col("doc_id") % 97 === 0) // queries drawn from v2
    // the diff feeds TWO lifecycle consumers (the tombstone write and
    // the append's postings build) — materialize the non-unchanged
    // rows once (r22; O(delta) state) or each consumer re-runs the
    // full md5-both-corpora outer join
    val delta = Quality.snapshotDiff(corpus1, corpus2, "doc_id", "t")
      .filter(col("status") =!= "unchanged")
      .localCheckpoint(true)
    val gone = delta.filter(col("status").isin("removed", "changed"))
      .select(col("id").as("doc_id"))
    val fresh = corpus2.join(
      delta.filter(col("status").isin("added", "changed"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val out = graft.Checkpoints.overTempDir(s, "q186-postings") { pub =>
      Pipeline.publishPostings(s, pub, "v1", corpus1, "doc_id", "t")
      Pipeline.deletePostings(s, pub, "upd-del", gone, "doc_id")
      Pipeline.compactPostings(s, pub, "upd-compact")
      Pipeline.appendPostings(s, pub, "upd-add", fresh, "doc_id", "t")
      graft.operators.Retrieval
        .bm25OverPostings(qs, Pipeline.readPostingsIndex(
          s, Pipeline.readCurrentPostings(pub).get), "doc_id", "t", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }
    graft.Checkpoints.release(delta)
    out
  }

  private val q186Sql =
    s"""${bm25Ctes(1200000L, 750000L, "doc_id % 97 <> 0",
      "(SELECT doc_id, text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END" +
        " AS text FROM documents WHERE doc_id % 13 <> 0)")}
       |$bm25RankTail""".stripMargin

  // --------------------------------------------------------------- q172
  /** Postings takedown (Pipeline.deletePostings) — the compliance
    * deletion: publish the FULL corpus, tombstone every doc_id ≥ 250
    * (two deletion batches, so tombstone-list growth is exercised),
    * probe the live version. Deletion is a manifest operation over
    * immutable segments; reads subtract the tombstone union, so
    * df/dl/avgdl shift EXACTLY as if the docs had never been indexed
    * — the oracle is therefore q170's verbatim SQL (the < 250
    * rebuild): delete ≡ rebuild-without, hash-pinned through the BM25
    * tail.
    */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import graft.changesets.Pipeline
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val qs = docs.filter(col("doc_id") % 97 === 0)
    graft.Checkpoints.overTempDir(s, "q172-postings") { pub =>
      Pipeline.publishPostings(s, pub, "base", corpus, "doc_id", "text")
      Pipeline.deletePostings(s, pub, "takedown1",
        corpus.filter(col("doc_id") >= 250 && col("doc_id") < 400), "doc_id")
      Pipeline.deletePostings(s, pub, "takedown2",
        corpus.filter(col("doc_id") >= 400), "doc_id")
      graft.operators.Retrieval
        .bm25OverPostings(qs, Pipeline.readPostingsIndex(
          s, Pipeline.readCurrentPostings(pub).get), "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  // --------------------------------------------------------------- q150
  /** Table profiling (Quality.profile) — the ANALYZE/SUMMARIZE surface:
    * one pass over `documents`, per column the row count, null count,
    * exact distinct count, and native-type min/max rendered as
    * strings. Oracle unions one hand-written stats row per column.
    */
  private def q150(s: SparkSession, dir: String): DataFrame =
    Quality.profile(t(s, dir, "documents")).orderBy(col("column"))

  private val q150Sql = {
    val per = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (\n$per\n) ORDER BY "column"""".stripMargin
  }

  // --------------------------------------------------------------- q151
  /** Boilerplate-span removal (Quality.stripBoilerplate) — the C4 /
    * RefinedWeb repeated-line curation pass over fixed 8-token
    * segments with a >= 3-distinct-docs threshold, rolled up per
    * source: docs, total/removed segment counts, docs touched, and an
    * order-insensitive corpus fingerprint (md5 over per-doc md5s of
    * the CLEANED text, doc_id-ordered) so the oracle pins the full
    * rebuilt text of every document, not just the counters.
    */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Quality.stripBoilerplate(docs, "doc_id", "text", segWidth = 8, minDocs = 3)
      .join(docs.select(col("doc_id").as("doc"), col("source")), Seq("doc"))
      .withColumn("doc_md5", md5(col("clean_text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("segs")).cast("long").as("segs_total"),
        sum(col("removed")).cast("long").as("segs_removed"),
        sum(when(col("removed") > 0, 1L).otherwise(0L)).cast("long").as("docs_touched"),
        md5(array_join(transform(array_sort(collect_list(
            struct(col("doc"), col("doc_md5")))),
          x => x.getField("doc_md5")), "|")).as("clean_fp"))
      .orderBy(col("source"))
  }

  private val q151Sql =
    s"""WITH tk AS (SELECT doc_id, source, $tokensSql AS toks FROM documents),
       |seg AS (SELECT doc_id, i AS pos,
       |          array_to_string(toks[(8 * i + 1):(8 * i + 8)], ' ') AS seg
       |        FROM tk, unnest(range(0, (len(toks) + 7) // 8)) AS u(i)),
       |bo AS (SELECT seg FROM seg GROUP BY seg
       |       HAVING count(DISTINCT doc_id) >= 3),
       |sk AS (SELECT s.doc_id, s.pos, s.seg, b.seg IS NOT NULL AS rm
       |       FROM seg s LEFT JOIN bo b USING (seg)),
       |doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS segs,
       |          CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS rmv,
       |          md5(coalesce(string_agg(CASE WHEN NOT rm THEN seg END,
       |                                  ' ' ORDER BY pos), '')) AS doc_md5
       |        FROM sk GROUP BY 1),
       |dj AS (SELECT t.doc_id, t.source, coalesce(d.segs, 0) AS segs,
       |         coalesce(d.rmv, 0) AS rmv,
       |         coalesce(d.doc_md5, md5('')) AS doc_md5
       |       FROM tk t LEFT JOIN doc d USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(segs) AS BIGINT) AS segs_total,
       |  CAST(sum(rmv) AS BIGINT) AS segs_removed,
       |  CAST(sum(CASE WHEN rmv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
       |  md5(string_agg(doc_md5, '|' ORDER BY doc_id)) AS clean_fp
       |FROM dj GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q152
  /** Search-result snippets (Retrieval.snippets): for each query's
    * BM25 top-1 document, the first occurrence of the most selective
    * query term the document contains, bracketed in a +-3-token
    * context — the display line under a search hit. The oracle
    * re-derives the full chain: the q143 scoring CTEs, top-1 by
    * (score DESC, doc_id), min-df/min-term selection among terms with
    * tf > 0 in that doc, first position, and the same 1-based slice +
    * hit-marking transform.
    */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.snippets(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", window = 3)
      .orderBy(col("query_id"))
  }

  private val q152Sql =
    s"""${bm25Ctes(1200000L, 750000L)},
       |t1 AS (SELECT qid, doc_id FROM (
       |         SELECT qid, doc_id,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY score DESC, doc_id) AS rnk
       |         FROM s)
       |       WHERE rnk = 1),
       |cand AS (SELECT t1.qid, t1.doc_id, tf.term, dfx.df
       |         FROM t1 JOIN tf ON tf.doc_id = t1.doc_id
       |                 JOIN q ON q.qid = t1.qid AND q.term = tf.term
       |                 JOIN dfx ON dfx.term = tf.term),
       |mdf AS (SELECT qid, min(df) AS mdf FROM cand GROUP BY 1),
       |rare AS (SELECT c.qid, c.doc_id, min(c.term) AS term
       |         FROM cand c JOIN mdf ON c.qid = mdf.qid AND c.df = mdf.mdf
       |         GROUP BY 1, 2),
       |p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
       |        unnest(toks) AS term
       |      FROM tk WHERE doc_id % 97 <> 0),
       |hit AS (SELECT r.qid, r.doc_id, r.term, CAST(min(p.pos) AS BIGINT) AS pos1
       |        FROM rare r JOIN p ON p.doc_id = r.doc_id AND p.term = r.term
       |        GROUP BY 1, 2, 3),
       |sn AS (SELECT h.qid, h.doc_id, h.term, h.pos1,
       |         greatest(h.pos1 - 3, 1) AS f1,
       |         least(h.pos1 + 3, len(t.toks)) AS l1, t.toks
       |       FROM hit h JOIN tk t ON t.doc_id = h.doc_id)
       |SELECT qid AS query_id, doc_id, term,
       |  CAST(pos1 - 1 AS BIGINT) AS hit_pos,
       |  array_to_string(list_transform(toks[f1:l1],
       |    (x, i) -> CASE WHEN i = pos1 - f1 + 1 THEN '[' || x || ']'
       |              ELSE x END), ' ') AS snippet
       |FROM sn ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q153
  /** Count-min sketch (functions.CountMin): one-pass 4 x 64 sketch
    * over the corpus token stream, probed at the 10 most frequent
    * terms against their exact counts — term, exact, CMS estimate,
    * overestimate margin (>= 0 by construction). Every cell is a pure
    * sum, so the estimates are partition-order-invariant and the
    * oracle reconstructs them exactly: cell(j, b) = sum of exact
    * counts of all terms hashing to b in row j, est = min over rows.
    */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 64)
    val tok = t(s, dir, "documents").select(explode(tokens(col("text"))).as("term"))
    val sk = tok.agg(graft.functions.CountMin.sketch(d, w)(col("term")).as("sk"))
    cmsProbe(s, tok, sk, d, w)
  }

  /** The q153/q155 probe tail: exact top-10 terms of `tok` against CMS
    * estimates read from the one-row sketch frame `sk` (broadcast; the
    * per-row bucket arithmetic runs through the registered poly_hash,
    * mirroring the oracle's SQL fold exactly).
    */
  private def cmsProbe(s: SparkSession, tok: DataFrame, sk: DataFrame,
      d: Int, w: Int): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("term")).limit(10)
    val estCols = (0 until d).map { j =>
      val b = graft.functions.CountMin.bucketSql("poly_hash(term)", j, w)
      expr(s"element_at(sk, CAST($j * $w + ($b) + 1 AS INT))")
    }
    exact.crossJoin(broadcast(sk))
      .withColumn("est", least(estCols: _*))
      .select(col("term"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy(col("exact").desc, col("term"))
  }

  // --------------------------------------------------------------- q155
  /** Persisted CMS lifecycle (Quality.countMinIncrement /
    * readCmsSketch): bootstrap the sketch state from the corpus's
    * doc_id < 250 half, absorb the rest as an incremental batch, then
    * REPLAY that batch (at-least-once delivery) — the committed-head
    * skip must make the replay a no-op. Because CMS is linear, the
    * two-batch state is bit-identical to q153's one-shot build, so
    * the oracle is q153's SQL verbatim: increment ≡ rebuild, gated
    * through the same top-10 probe.
    */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 64)
    val docs = t(s, dir, "documents")
    graft.Checkpoints.overTempDir(s, "q155-cms") { state =>
      Quality.countMinIncrement(s, state,
        docs.filter(col("doc_id") < 250), "text", d, w, batchId = 0L)
      Quality.countMinIncrement(s, state,
        docs.filter(col("doc_id") >= 250), "text", d, w, batchId = 1L)
      Quality.countMinIncrement(s, state,
        docs.filter(col("doc_id") >= 250), "text", d, w, batchId = 1L)
      val tok = docs.select(explode(tokens(col("text"))).as("term"))
      cmsProbe(s, tok, Quality.readCmsSketch(s, state), d, w)
    }
  }

  private val q153Sql =
    s"""WITH tk AS (SELECT $tokensSql AS toks FROM documents),
       |tok AS (SELECT unnest(toks) AS term FROM tk),
       |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY 1),
       |h AS (SELECT term, exact,
       |        ${graft.functions.TextFunctions.polyHashSql.format("term", "term")} AS ph
       |      FROM cnt),
       |cj AS (SELECT term, exact, ph, j FROM h, unnest(range(0, 4)) AS u(j)),
       |bk AS (SELECT j, ((2 * j + 1) * ph + 97 * j + 1) % 2147483647 % 64 AS b,
       |         CAST(sum(exact) AS BIGINT) AS cell
       |       FROM cj GROUP BY 1, 2),
       |top10 AS (SELECT term, exact, ph FROM h ORDER BY exact DESC, term LIMIT 10),
       |pj AS (SELECT t.term, t.exact, j,
       |         ((2 * j + 1) * t.ph + 97 * j + 1) % 2147483647 % 64 AS b
       |       FROM top10 t, unnest(range(0, 4)) AS u(j)),
       |probe AS (SELECT pj.term, pj.exact, min(bk.cell) AS est
       |          FROM pj JOIN bk ON bk.j = pj.j AND bk.b = pj.b GROUP BY 1, 2)
       |SELECT term, exact, est, est - exact AS overcount
       |FROM probe ORDER BY exact DESC, term""".stripMargin

  // --------------------------------------------------------------- q154
  /** Collocation mining — document-level lift (the exp(PMI) ratio) for
    * token pairs, the classic phrase/multiword-expression discovery
    * pass (Church & Hanks 1990) in exact integers:
    * lift_ppm = (df_ab * N * 10^6) floor-div (df_a * df_b), a monotone
    * transform of PMI so the ranking is PMI's ranking without a
    * float log. Pairs are generated only among a top-32-df vocabulary
    * (the standard collocation practice and the 100 TB story: the
    * doc-keyed self-join is bounded at vocab^2/2 pairs per doc, and
    * the broadcast vocab filter caps the exploded frame before any
    * shuffle — never all-terms x all-terms). Support floor df_ab >= 5,
    * top 20 by (lift DESC, pair).
    */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dt = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("term"))
    val dfp = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = dfp.orderBy(col("df").desc, col("term")).limit(32)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val va = dt.join(broadcast(vocab), Seq("term"))
    va.as("a").join(va.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= 5)
      .crossJoin(broadcast(n))
      .withColumn("lift_ppm", expr("(df_ab * n_docs * 1000000) div (df_a * df_b)"))
      .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
        col("df_ab"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("term_a"), col("term_b")).limit(20)
  }

  private val q154Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tk),
       |dfp AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
       |vocab AS (SELECT term, df FROM dfp ORDER BY df DESC, term LIMIT 32),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM tk),
       |va AS (SELECT dt.doc_id, dt.term, v.df FROM dt JOIN vocab v USING (term)),
       |pr AS (SELECT a.term AS term_a, b.term AS term_b,
       |         a.df AS df_a, b.df AS df_b, CAST(count(*) AS BIGINT) AS df_ab
       |       FROM va a JOIN va b ON a.doc_id = b.doc_id AND a.term < b.term
       |       GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5)
       |SELECT term_a, term_b, df_a, df_b, df_ab,
       |  CAST((df_ab * n.n_docs * 1000000) // (df_a * df_b) AS BIGINT) AS lift_ppm
       |FROM pr, n ORDER BY lift_ppm DESC, term_a, term_b LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q156
  /** Snapshot diff (Quality.snapshotDiff) between two deterministic
    * corpus versions: v1 = doc_id < 400, v2 = doc_id >= 100 with the
    * 100..199 band's text revised — so every status is exercised
    * (0..99 removed, 100..199 changed, 200..399 unchanged, 400+
    * added). Rolled up per status with an id-set fingerprint so the
    * oracle pins the exact membership of each class, not just counts.
    */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") < 400).select(col("doc_id"), col("text"))
    val v2 = docs.filter(col("doc_id") >= 100)
      .select(col("doc_id"),
        when(col("doc_id") < 200, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    Quality.snapshotDiff(v1, v2, "doc_id", "text")
      .groupBy(col("status"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        md5(array_join(transform(array_sort(collect_list(col("id"))),
          x => x.cast("string")), "|")).as("ids_fp"))
      .orderBy(col("status"))
  }

  private val q156Sql =
    s"""WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |v2 AS (SELECT doc_id,
       |         CASE WHEN doc_id < 200 THEN text || ' rev2' ELSE text END AS text
       |       FROM documents WHERE doc_id >= 100),
       |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS id,
       |        CASE WHEN a.doc_id IS NULL THEN 'added'
       |             WHEN b.doc_id IS NULL THEN 'removed'
       |             WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
       |             ELSE 'changed' END AS status
       |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
       |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
       |  md5(string_agg(CAST(id AS VARCHAR), '|' ORDER BY id)) AS ids_fp
       |FROM j GROUP BY status ORDER BY status""".stripMargin

  // --------------------------------------------------------------- q177
  /** Corpus version lineage (Quality.versionHistory) — the SCD-2
    * history build over three analytic snapshot versions of the
    * documents table, exercising every run-break class the operator
    * defines: late birth (doc_id % 11 = 5 absent from v1), deletion
    * WITH RESTORE (doc_id % 13 = 0 absent from v2 only — must yield
    * two intervals, the audit truth), content change at v2
    * (% 7 = 0 gains ' rev2') and at v3 (% 5 = 0 gains ' rev3'), and
    * the quiet majority collapsing to one [1,3] row. The oracle
    * re-derives the islands technique over the same union.
    */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id"), lit(1L).as("v"), col("text").as("t"))
    val rev2 = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" rev2")).otherwise(lit("")))
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), lit(2L).as("v"), rev2.as("t"))
    val v3 = docs.select(col("doc_id"), lit(3L).as("v"),
      concat(rev2,
        when(col("doc_id") % 5 === 0, lit(" rev3")).otherwise(lit(""))).as("t"))
    Quality.versionHistory(v1.union(v2).union(v3), "doc_id", "v", "t")
      .orderBy(col("doc_id"), col("valid_from"))
  }

  private val q177Sql =
    """WITH s AS (
      |  SELECT doc_id, 1 AS v, text AS t FROM documents WHERE doc_id % 11 <> 5
      |  UNION ALL
      |  SELECT doc_id, 2,
      |    text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END
      |         || CASE WHEN doc_id % 5 = 0 THEN ' rev3' ELSE '' END
      |  FROM documents),
      |h AS (SELECT doc_id, v, md5(t) AS ch FROM s),
      |m AS (SELECT doc_id, v, ch,
      |        CASE WHEN lag(v) OVER w IS NULL OR v <> lag(v) OVER w + 1
      |               OR ch <> lag(ch) OVER w THEN 1 ELSE 0 END AS st
      |      FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      |g AS (SELECT doc_id, v, ch,
      |        sum(st) OVER (PARTITION BY doc_id ORDER BY v) AS seg
      |      FROM m)
      |SELECT doc_id, CAST(min(v) AS BIGINT) AS valid_from,
      |  CAST(max(v) AS BIGINT) AS valid_to, ch AS content_hash
      |FROM g GROUP BY doc_id, seg, ch
      |ORDER BY doc_id, valid_from""".stripMargin

  // --------------------------------------------------------------- q192
  /** Adaptive recrawl scheduling (Robots.recrawlSchedule, Cho &
    * Garcia-Molina 2003) over the q177 snapshot stack: per page the
    * observed change fraction in exact ppm and its refresh class.
    * The fixture exercises every class: %11 = 5 docs appear only at
    * v2–v3 (one comparison), %13 = 0 docs miss v2 (the gap SKIPS —
    * v1 vs v3 is one observation pair), %7 = 0 change at v2 and
    * %5 = 0 at v3 (both → hot), the quiet majority is cold, and a
    * `new` row needs a single-observation page — none exists in this
    * stack, which the oracle reproduces (absence is part of the
    * gate). Oracle: the same lag-compare in DuckDB SQL.
    */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Robots
    val docs = t(s, dir, "documents")
    val rev2 = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" rev2")).otherwise(lit("")))
    val v1 = docs.filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id"), lit(1L).as("v"), col("text").as("t"))
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), lit(2L).as("v"), rev2.as("t"))
    val v3 = docs.select(col("doc_id"), lit(3L).as("v"),
      concat(rev2,
        when(col("doc_id") % 5 === 0, lit(" rev3")).otherwise(lit(""))).as("t"))
    Robots.recrawlSchedule(v1.union(v2).union(v3), "doc_id", "v", "t")
      .orderBy(col("doc_id"))
  }

  private val q192Sql =
    """WITH s AS (
      |  SELECT doc_id, 1 AS v, text AS t FROM documents WHERE doc_id % 11 <> 5
      |  UNION ALL
      |  SELECT doc_id, 2,
      |    text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END
      |         || CASE WHEN doc_id % 5 = 0 THEN ' rev3' ELSE '' END
      |  FROM documents),
      |h AS (SELECT doc_id, v, md5(t) AS ch FROM s),
      |m AS (SELECT doc_id,
      |        CASE WHEN lag(ch) OVER w IS NOT NULL AND ch <> lag(ch) OVER w
      |             THEN 1 ELSE 0 END AS c
      |      FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_obs,
      |        CAST(sum(c) AS BIGINT) AS n_changes
      |      FROM m GROUP BY doc_id)
      |SELECT doc_id, n_obs, n_changes,
      |  CAST(CASE WHEN n_obs > 1 THEN (n_changes * 1000000) // (n_obs - 1)
      |       ELSE 0 END AS BIGINT) AS change_ppm,
      |  CASE WHEN n_obs = 1 THEN 'new'
      |       WHEN (CASE WHEN n_obs > 1
      |               THEN (n_changes * 1000000) // (n_obs - 1)
      |               ELSE 0 END) >= 500000 THEN 'hot'
      |       WHEN n_changes = 0 THEN 'cold'
      |       ELSE 'warm' END AS refresh_class
      |FROM a
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q195
  /** Incremental recrawl state (Robots.recrawlIncrement) — q192's
    * estimator in its PRODUCTION form: the three snapshot versions
    * fold one at a time into persisted per-page state (earlier
    * snapshots never revisited, cost ∝ batch), with version 2
    * REPLAYED in-query — the idempotence skip must hold or n_obs
    * double-counts and the hash gate fails. Change counting is
    * associative over consecutive observations, so the gate pins
    * increment ≡ batch rebuild: the oracle is q192's SQL verbatim.
    */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Robots
    val docs = t(s, dir, "documents")
    val rev2 = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" rev2")).otherwise(lit("")))
    val v1 = docs.filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id"), col("text").as("t"))
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), rev2.as("t"))
    val v3 = docs.select(col("doc_id"),
      concat(rev2,
        when(col("doc_id") % 5 === 0, lit(" rev3")).otherwise(lit(""))).as("t"))
    graft.Checkpoints.overTempDir(s, "q195-state") { stateDir =>
      Robots.recrawlIncrement(s, stateDir, v1, "doc_id", "t", batchId = 1L)
      Robots.recrawlIncrement(s, stateDir, v2, "doc_id", "t", batchId = 2L)
      // at-least-once replay of an absorbed version: MUST skip
      Robots.recrawlIncrement(s, stateDir, v2, "doc_id", "t", batchId = 2L)
      Robots.recrawlIncrement(s, stateDir, v3, "doc_id", "t", batchId = 3L)
      Robots.readRecrawlState(s, stateDir)
        .withColumn("change_ppm", expr(
          "CASE WHEN n_obs > 1 THEN (n_changes * 1000000L) DIV (n_obs - 1) " +
            "ELSE 0L END"))
        .withColumn("refresh_class",
          when(col("n_obs") === 1, "new")
            .when(col("change_ppm") >= 500000L, "hot")
            .when(col("change_ppm") === 0, "cold")
            .otherwise("warm"))
        .select(col("id").as("doc_id"), col("n_obs"), col("n_changes"),
          col("change_ppm"), col("refresh_class"))
        .orderBy(col("doc_id"))
    }
  }

  // --------------------------------------------------------------- q197
  /** Per-segment language detection (Quality.langSegments) — the
    * mixed-document signal whole-doc lang-ID can't give (CCNet's
    * per-paragraph classification): docs segment into 10-token
    * windows, each window language-IDs via the stopword scorer, and
    * the report reads primary language, its exact segment share in
    * ppm, and the mixed flag. The fixture plants German stopword runs
    * (two full 10-token windows) on doc_id % 3 = 0 — those docs must
    * come back mixed with a de minority share; the window that
    * straddles the original text's tail and the planted run exercises
    * the within-segment tie chain. Oracle re-derives segmentation,
    * per-window scoring, and the priority argmax independently.
    */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val deRun = "der die und das ist von mit den auf ein"
    val docs = t(s, dir, "documents")
    val mixedText = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(s" $deRun $deRun")).otherwise(lit("")))
    Quality.langSegments(
        docs.select(col("doc_id"), mixedText.as("mx")), "doc_id", "mx",
        segWidth = 10)
      .orderBy(col("doc_id"))
  }

  private val q197Sql = {
    val deRun = "der die und das ist von mit den auf ein"
    val best = langOrder.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val chain = langOrder.foldRight("'und'") { (l, els) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
    val prio = langOrder.zipWithIndex
      .map { case (l, i) => s"WHEN lg = '$l' THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${langOrder.size} END")
    s"""WITH m AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' $deRun $deRun' ELSE '' END AS mx
       |  FROM documents),
       |tk AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(mx), '[^a-z0-9]+'),
       |      t -> t <> '') AS toks FROM m),
       |nn AS (SELECT doc_id, toks, (len(toks) + 9) // 10 AS ns FROM tk),
       |seg AS (SELECT doc_id, ns, unnest(range(ns)) AS i, toks FROM nn),
       |sl AS (SELECT doc_id, ns,
       |    toks[(i * 10 + 1):(i * 10 + 10)] AS st FROM seg),
       |sc AS (SELECT doc_id, ns,
       |    ${langOrder.map(l =>
            s"len(list_filter(st, t -> list_contains(${stopSql(l)}, t))) AS s_$l")
            .mkString(", ")},
       |    ${langOrder.map(l =>
            s"len(list_filter(st, t -> list_contains(${stopSql(l)}, t)))")
            .mkString("greatest(", ", ", ")")} AS best
       |  FROM sl),
       |lv AS (SELECT doc_id, ns, $chain AS lg FROM sc),
       |ct AS (SELECT doc_id, ns, lg, count(*) AS c FROM lv GROUP BY 1, 2, 3),
       |pk AS (SELECT doc_id, ns, lg, c,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY c DESC, $prio) AS rn,
       |    sum(CASE WHEN lg <> 'und' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id) AS nl
       |  FROM ct),
       |pd AS (SELECT doc_id, ns, lg, (c * 1000000) // ns AS ppm, nl >= 2 AS mx
       |       FROM pk WHERE rn = 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(pd.ns, 0) AS BIGINT) AS n_segs,
       |  coalesce(pd.lg, 'und') AS primary_lang,
       |  CAST(coalesce(pd.ppm, 0) AS BIGINT) AS primary_ppm,
       |  coalesce(pd.mx, false) AS mixed
       |FROM documents d LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q185
  /** CDC lifecycle (Quality.cdcAbsorb): the q177 snapshot stack
    * absorbed version by version into persisted head state; the gate
    * reads the accumulated LOG and aggregates per (batch, change) —
    * count + order-insensitive id fingerprint — so it pins every
    * delta's exact membership: batch 0 is all-added, batch 1 carries
    * the %7 content changes, the %13 deletions and the %11 late
    * births, batch 2 the restorations and %5 changes. A third absorb
    * REPLAYS batch 1 in-query — the idempotence skip must hold or
    * the log double-counts and the hash gate fails. The oracle
    * re-derives all three diffs analytically (the q156 full-outer
    * pattern × 3).
    */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id"), col("text").as("t"))
    val rev2 = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" rev2")).otherwise(lit("")))
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), rev2.as("t"))
    val v3 = docs.select(col("doc_id"),
      concat(rev2,
        when(col("doc_id") % 5 === 0, lit(" rev3")).otherwise(lit(""))).as("t"))
    graft.Checkpoints.overTempDir(s, "q185-cdc") { base =>
      val (state, logd) = (s"$base/state", s"$base/log")
      Quality.cdcAbsorb(s, state, logd, v1, "doc_id", "t", batchId = 0L)
      Quality.cdcAbsorb(s, state, logd, v2, "doc_id", "t", batchId = 1L)
      Quality.cdcAbsorb(s, state, logd, v2, "doc_id", "t", batchId = 1L) // replay: no-op
      Quality.cdcAbsorb(s, state, logd, v3, "doc_id", "t", batchId = 2L)
      Quality.readCdcLog(s, logd)
        .groupBy(col("batch_id").cast("long").as("batch_id"), col("change"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          md5(array_join(transform(array_sort(collect_list(col("id"))),
            x => x.cast("string")), "|")).as("ids_fp"))
        .orderBy(col("batch_id"), col("change"))
    }
  }

  private val q185Sql =
    """WITH v1 AS (SELECT doc_id, text AS t FROM documents WHERE doc_id % 11 <> 5),
      |v2 AS (SELECT doc_id,
      |         text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END AS t
      |       FROM documents WHERE doc_id % 13 <> 0),
      |v3 AS (SELECT doc_id,
      |         text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END
      |              || CASE WHEN doc_id % 5 = 0 THEN ' rev3' ELSE '' END AS t
      |       FROM documents),
      |d0 AS (SELECT 0 AS batch_id, doc_id AS id, 'added' AS change FROM v1),
      |d1 AS (SELECT 1 AS batch_id, coalesce(a.doc_id, b.doc_id) AS id,
      |         CASE WHEN a.doc_id IS NULL THEN 'added'
      |              WHEN b.doc_id IS NULL THEN 'removed'
      |              WHEN md5(a.t) <> md5(b.t) THEN 'changed' END AS change
      |       FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
      |d2 AS (SELECT 2 AS batch_id, coalesce(a.doc_id, b.doc_id) AS id,
      |         CASE WHEN a.doc_id IS NULL THEN 'added'
      |              WHEN b.doc_id IS NULL THEN 'removed'
      |              WHEN md5(a.t) <> md5(b.t) THEN 'changed' END AS change
      |       FROM v2 a FULL OUTER JOIN v3 b ON a.doc_id = b.doc_id),
      |lg AS (SELECT * FROM d0 UNION ALL
      |       SELECT * FROM d1 WHERE change IS NOT NULL UNION ALL
      |       SELECT * FROM d2 WHERE change IS NOT NULL)
      |SELECT CAST(batch_id AS BIGINT) AS batch_id, change,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  md5(string_agg(CAST(id AS VARCHAR), '|' ORDER BY id)) AS ids_fp
      |FROM lg GROUP BY 1, 2
      |ORDER BY batch_id, change""".stripMargin

  // --------------------------------------------------------------- q157
  /** N-gram novelty scoring — the graded sibling of q67's
    * decontamination drop: for each batch document (doc_id % 10 = 0),
    * the fraction of its DISTINCT 5-grams absent from the reference
    * corpus (every other doc), in exact ppm. The memorization /
    * near-duplication signal a curation pipeline tracks per incoming
    * batch: novelty 0 = fully contained in the corpus, 10^6 = fully
    * new. Plan: grams stream from the explode_ngrams generator on both
    * sides, distinct per doc on the batch side, a single gram-keyed
    * LEFT ANTI join against the reference's distinct gram set (blocked
    * equi-join — never doc x doc), then one doc-keyed count. Docs with
    * < 5 tokens have no grams and are excluded by definition.
    */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    def grams(df: DataFrame) = df.select(col("doc_id"),
      call_function(graft.functions.VectorExpressions.ngramsFnName,
        col("toks"), lit(5)).as("g"))
    val bg = grams(toks.filter(col("doc_id") % 10 === 0)).distinct()
    val rg = grams(toks.filter(col("doc_id") % 10 =!= 0)).select(col("g")).distinct()
    val tot = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val novel = bg.join(rg, Seq("g"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    tot.join(novel, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) div n_grams"))
      .orderBy(col("doc_id"))
  }

  private val q157Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |bg AS (SELECT DISTINCT doc_id, g FROM (
       |         SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
       |           i -> array_to_string(toks[i:i + 4], ' '))) AS g
       |         FROM tk WHERE doc_id % 10 = 0)),
       |rg AS (SELECT DISTINCT g FROM (
       |         SELECT unnest(list_transform(range(1, len(toks) - 3),
       |           i -> array_to_string(toks[i:i + 4], ' '))) AS g
       |         FROM tk WHERE doc_id % 10 <> 0)),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
       |        FROM bg GROUP BY 1),
       |nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
       |       FROM bg ANTI JOIN rg USING (g) GROUP BY 1)
       |SELECT t.doc_id, t.n_grams, coalesce(nv.n_novel, 0) AS n_novel,
       |  (coalesce(nv.n_novel, 0) * 1000000) // t.n_grams AS novelty_ppm
       |FROM tot t LEFT JOIN nv USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q148
  /** Segmented postings-index maintenance (Pipeline.publishPostings /
    * appendPostings / readPostingsIndex) gated through the BM25 tail:
    * publish the index over the corpus's doc_id < 250 half, append the
    * rest as an O(delta) second segment (only the new docs tokenize),
    * probe the segment UNION with q143's query set — and the oracle is
    * q143's VERBATIM full-rebuild SQL, so the gate pins append ≡
    * rebuild bit-for-bit through df/dl/avgdl additivity and the whole
    * integer-ppm scoring chain.
    */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import graft.changesets.Pipeline
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val qs = docs.filter(col("doc_id") % 97 === 0)
    graft.Checkpoints.overTempDir(s, "q148-postings") { pub =>
      Pipeline.publishPostings(s, pub, "base",
        corpus.filter(col("doc_id") < 250), "doc_id", "text")
      Pipeline.appendPostings(s, pub, "day2",
        corpus.filter(col("doc_id") >= 250), "doc_id", "text")
      graft.operators.Retrieval
        .bm25OverPostings(qs, Pipeline.readPostingsIndex(
          s, Pipeline.readCurrentPostings(pub).get), "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  // --------------------------------------------------------------- q158
  /** Postings compaction (Pipeline.compactPostings) — the q148
    * lifecycle closed: publish the doc_id < 250 half, append the rest
    * as a delta segment, COMPACT the two segments back into one, and
    * probe through the BM25 tail. Additivity of df/dl/avgdl over
    * disjoint-doc segments makes compact ≡ append ≡ full rebuild, so
    * the oracle stays q143's verbatim SQL; the in-query segment-count
    * assert pins that compaction actually restored the one-segment
    * layout rather than passing the union through.
    */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.changesets.Pipeline
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val qs = docs.filter(col("doc_id") % 97 === 0)
    graft.Checkpoints.overTempDir(s, "q158-postings") { pub =>
      Pipeline.publishPostings(s, pub, "base",
        corpus.filter(col("doc_id") < 250), "doc_id", "text")
      Pipeline.appendPostings(s, pub, "day2",
        corpus.filter(col("doc_id") >= 250), "doc_id", "text")
      Pipeline.compactPostings(s, pub, "week1")
      val cur = Pipeline.readCurrentPostings(pub).get
      assert(Pipeline.readPostingsManifest(cur).size == 1,
        "compaction must leave a single-segment manifest")
      graft.operators.Retrieval
        .bm25OverPostings(qs, Pipeline.readPostingsIndex(s, cur), "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  // --------------------------------------------------------------- q159
  /** Fuzzy vocabulary lookup (Retrieval.fuzzyLookup) — SymSpell
    * deletion-neighborhood matching of misspelled probes against the
    * corpus dictionary at edit distance <= 1, reporting the highest-df
    * correction and the candidate count per probe. The oracle builds
    * the identical deletion neighborhoods (substr in place of
    * substring is the only dialect rename) and replays the
    * max-df/min-term selection.
    */
  private val fuzzyProbes =
    Seq("spakr", "tabel", "mergee", "qery", "windw", "flter", "zzz")

  private def q159(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.fuzzyLookup(
      t(s, dir, "documents"), "doc_id", "text", fuzzyProbes)

  private val q159Sql = {
    val probesSql = fuzzyProbes.mkString("['", "', '", "']")
    def vars(c: String): String =
      s"list_distinct(list_prepend($c, list_transform(range(1, length($c) + 1), " +
        s"i -> substr($c, 1, i - 1) || substr($c, i + 1))))"
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |c AS (SELECT doc_id, unnest(toks) AS term FROM tk),
       |tf AS (SELECT doc_id, term FROM c GROUP BY 1, 2),
       |dict AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |dictv AS (SELECT term, df, unnest(${vars("term")}) AS v FROM dict),
       |pv AS (SELECT probe, unnest(${vars("probe")}) AS v
       |       FROM (SELECT unnest($probesSql) AS probe)),
       |cand AS (SELECT DISTINCT pv.probe, dictv.term, dictv.df
       |         FROM dictv JOIN pv USING (v)),
       |m AS (SELECT probe, max(df) AS best_df,
       |        CAST(count(*) AS BIGINT) AS n_candidates
       |      FROM cand GROUP BY 1),
       |b AS (SELECT c.probe, min(c.term) AS best_term
       |      FROM cand c JOIN m ON c.probe = m.probe AND c.df = m.best_df
       |      GROUP BY 1)
       |SELECT b.probe, b.best_term, m.best_df, m.n_candidates
       |FROM b JOIN m USING (probe) ORDER BY probe""".stripMargin
  }

  // --------------------------------------------------------------- q139
  /** Exact phrase search over positional postings
    * (Retrieval.phraseSearch): per-document occurrence counts for a
    * fixed phrase list — one two-term, one with a rare third term,
    * one containing a repeated token (adjacency must use POSITIONS,
    * not bag-of-words membership; 'table table' over a doc with
    * non-adjacent tables is the case a tf-postings emulation gets
    * wrong). Oracle chains the same (doc, pos − i) self-joins on the
    * tokenized corpus.
    */
  private val q139Phrases = Seq("table hash", "slow key part", "table table")

  private def q139(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.phraseSearch(
        t(s, dir, "documents"), "doc_id", "text", q139Phrases)
      .orderBy(col("phrase"), col("doc_id"))

  private val q139Sql = {
    val per = q139Phrases.zipWithIndex.map { case (ph, pi) =>
      val ts = ph.split(" ")
      val joins = ts.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN tkp t$i ON t$i.doc_id = p.doc_id AND t$i.pos = p.pos + $i AND t$i.term = '$t'"
      }.mkString("\n  ")
      s"""m$pi AS (
         |  SELECT '$ph' AS phrase, p.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_occurrences
         |  FROM tkp p
         |  $joins
         |  WHERE p.term = '${ts(0)}'
         |  GROUP BY p.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |tkp AS (SELECT doc_id, unnest(toks) AS term,
       |          generate_subscripts(toks, 1) AS pos
       |        FROM tk),
       |$per
       |SELECT * FROM (SELECT * FROM m0 UNION ALL SELECT * FROM m1
       |               UNION ALL SELECT * FROM m2)
       |ORDER BY phrase, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q203
  /** Ordered proximity search (Retrieval.proximitySearch — "A NEAR/3
    * B"): per document the count of position pairs where B follows A
    * within 3 tokens, for three term pairs including a same-term pair
    * (self-proximity counts repeated mentions). The operator between
    * q139's exact phrase (window 1) and bag-of-words retrieval. Both
    * term literals push into the positional-postings scan; one
    * doc-keyed equi-join per pair. Oracle: the q139 positional CTE
    * with a BETWEEN range instead of the exact-offset equality.
    */
  private val q203Pairs = Seq(("table", "hash"), ("slow", "part"), ("key", "key"))

  private def q203(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.proximitySearch(
        t(s, dir, "documents"), "doc_id", "text", q203Pairs, window = 3)
      .orderBy(col("term_a"), col("term_b"), col("doc_id"))

  private val q203Sql = {
    val per = q203Pairs.zipWithIndex.map { case ((ta, tb), pi) =>
      s"""m$pi AS (
         |  SELECT '$ta' AS term_a, '$tb' AS term_b, a.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM tkp a JOIN tkp b ON b.doc_id = a.doc_id
         |    AND b.pos - a.pos BETWEEN 1 AND 3 AND b.term = '$tb'
         |  WHERE a.term = '$ta'
         |  GROUP BY a.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |tkp AS (SELECT doc_id, unnest(toks) AS term,
       |          generate_subscripts(toks, 1) AS pos
       |        FROM tk),
       |$per
       |SELECT * FROM (SELECT * FROM m0 UNION ALL SELECT * FROM m1
       |               UNION ALL SELECT * FROM m2)
       |ORDER BY term_a, term_b, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q127
  /** Retrieval-quality report — q100's recall discipline applied to
    * the lexical searcher: queries are the doc_id % 29 split (wider
    * than q126's % 97 so the report has a real population), gold(q) =
    * corpus docs sharing at least one word 3-gram with query q
    * (Quality.sharedGramPairs), retrieved(q) = tf-idf top-5; per query
    * the gold size, hits inside the top-5, and recall in exact integer
    * ppm (n_hit·10⁶ div n_gold). Queries with an empty gold set are
    * out of scope (no denominator). The oracle recomputes gold, the
    * full retrieval tail (q126's SQL parameterized over the split),
    * and the floor-div — so a drift in EITHER the searcher or the gold
    * definition breaks the hash.
    */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val q = docs.filter(col("doc_id") % 29 === 0)
    val c = docs.filter(col("doc_id") % 29 =!= 0)
    val gold = Quality.sharedGramPairs(c, q, "doc_id", "text", n = 3)
      .select(col("right_id").as("query_id"), col("left_id").as("doc_id"))
    val goldCnt = gold.groupBy(col("query_id")).agg(count(lit(1)).as("n_gold"))
    val retrieved = graft.operators.Retrieval.searchTopK(q, c, "doc_id", "text", k = 5)
      .select(col("query_id"), col("doc_id"))
    val hits = retrieved.join(gold, Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    goldCnt.join(hits, Seq("query_id"), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", expr("(n_hit * 1000000) div n_gold"))
      .orderBy(col("query_id"))
  }

  /** The q127 gold-set CTEs (tk → g → gold: 3-gram-overlap relevance
    * pairs for the doc_id % 29 split) — shared verbatim by the q127
    * recall oracle and the q169 MRR oracle.
    */
  private val goldCtes29: String =
    s"""tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |        CASE WHEN len(toks) >= 3
       |          THEN list_transform(range(1, len(toks) - 1),
       |            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
       |          ELSE [array_to_string(toks, ' ')] END)) AS gram
       |      FROM tk),
       |gold AS (SELECT DISTINCT b.doc_id AS query_id, c.doc_id AS doc_id
       |         FROM g b JOIN g c ON b.gram = c.gram
       |         WHERE b.doc_id % 29 = 0 AND c.doc_id % 29 <> 0)""".stripMargin

  private val q127Sql =
    s"""WITH $goldCtes29,
       |gc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_gold FROM gold GROUP BY 1),
       |retr AS (SELECT query_id, doc_id FROM (${q126SqlAt(29)})),
       |h AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_hit
       |      FROM retr r JOIN gold USING (query_id, doc_id) GROUP BY 1)
       |SELECT gc.query_id, gc.n_gold,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  (coalesce(h.n_hit, 0) * 1000000) // gc.n_gold AS recall_ppm
       |FROM gc LEFT JOIN h ON gc.query_id = h.query_id
       |ORDER BY gc.query_id""".stripMargin

  // --------------------------------------------------------------- q169
  /** Mean-reciprocal-rank retrieval quality — q127's recall report's
    * rank-sensitive sibling (the metric a RAG eval actually headline-
    * reports: WHERE in the top-k the first relevant document lands,
    * not just whether one does): same % 29 split, same 3-gram-overlap
    * gold, same tf-idf top-5; per query the rank of the FIRST gold
    * hit and its reciprocal in exact integer ppm (10⁶ div rank;
    * queries whose gold never surfaces in the top-5 score 0 with
    * first_hit_rank 0). The corpus MRR is the plain average of
    * rr_ppm — left per-query so the gate pins every rank, not one
    * mean.
    */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val q = docs.filter(col("doc_id") % 29 === 0)
    val c = docs.filter(col("doc_id") % 29 =!= 0)
    val gold = Quality.sharedGramPairs(c, q, "doc_id", "text", n = 3)
      .select(col("right_id").as("query_id"), col("left_id").as("doc_id"))
    val retrieved = graft.operators.Retrieval.searchTopK(q, c, "doc_id", "text", k = 5)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val hits = retrieved.join(gold, Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(min(col("rank")).cast("long").as("first_hit_rank"))
    gold.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("first_hit_rank"), lit(0L)).as("first_hit_rank"),
        coalesce(expr("1000000 div first_hit_rank"), lit(0L)).as("rr_ppm"))
      .orderBy(col("query_id"))
  }

  private val q169Sql =
    s"""WITH $goldCtes29,
       |retr AS (SELECT query_id, doc_id, rank FROM (${q126SqlAt(29)})),
       |h AS (SELECT r.query_id, CAST(min(r.rank) AS BIGINT) AS first_hit_rank
       |      FROM retr r JOIN gold USING (query_id, doc_id) GROUP BY 1),
       |qs AS (SELECT DISTINCT query_id FROM gold)
       |SELECT qs.query_id,
       |  CAST(coalesce(h.first_hit_rank, 0) AS BIGINT) AS first_hit_rank,
       |  CAST(coalesce(1000000 // h.first_hit_rank, 0) AS BIGINT) AS rr_ppm
       |FROM qs LEFT JOIN h USING (query_id)
       |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q160
  /** Boolean retrieval (Retrieval.booleanSearch) — the AND/NOT
    * inverted-index query plan beside the ranked searchers: q126's
    * doc_id % 97 split; each query requires its first two distinct
    * terms (by first-occurrence position — a ranking both engines
    * derive from min(pos), never from distinct-list order, which
    * DuckDB does not guarantee) and excludes its third. Results come
    * back aggregated (count + order-insensitive membership md5) so
    * the gate pins exact match SETS while the dump stays bounded even
    * when two common required terms match half the corpus. The oracle
    * re-derives term ranking, the ALL-required containment count, the
    * exclusion anti-join, and the fingerprint.
    */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Retrieval.booleanSearch(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", nAnd = 2, nNot = 1)
      .orderBy(col("query_id"))
  }

  private val q160Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |qp AS (SELECT doc_id AS qid, unnest(toks) AS term,
       |         generate_subscripts(toks, 1) AS pos
       |       FROM tk WHERE doc_id % 97 = 0),
       |qt AS (SELECT qid, term, min(pos) AS minp FROM qp GROUP BY 1, 2),
       |qr AS (SELECT qid, term,
       |         row_number() OVER (PARTITION BY qid ORDER BY minp) AS rn
       |       FROM qt),
       |req AS (SELECT qid, term FROM qr WHERE rn <= 2),
       |exc AS (SELECT qid, term FROM qr WHERE rn = 3),
       |rc AS (SELECT qid,
       |         CAST(sum(CASE WHEN rn <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_required,
       |         CAST(sum(CASE WHEN rn = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded
       |       FROM qr GROUP BY 1),
       |cd AS (SELECT DISTINCT doc_id, term
       |       FROM (SELECT doc_id, unnest(toks) AS term FROM tk
       |             WHERE doc_id % 97 <> 0)),
       |m AS (SELECT r.qid, cd.doc_id, CAST(count(*) AS BIGINT) AS nm
       |      FROM req r JOIN cd USING (term) GROUP BY 1, 2),
       |am AS (SELECT m.qid, m.doc_id FROM m JOIN rc USING (qid)
       |       WHERE m.nm = rc.n_required),
       |ex AS (SELECT DISTINCT e.qid, cd.doc_id FROM exc e JOIN cd USING (term)),
       |kept AS (SELECT am.qid, am.doc_id FROM am
       |         LEFT JOIN ex ON am.qid = ex.qid AND am.doc_id = ex.doc_id
       |         WHERE ex.qid IS NULL)
       |SELECT k.qid AS query_id, rc.n_required, rc.n_excluded,
       |  CAST(count(*) AS BIGINT) AS n_matches,
       |  md5(string_agg(CAST(k.doc_id AS VARCHAR), '|' ORDER BY k.doc_id)) AS match_fp
       |FROM kept k JOIN rc USING (qid)
       |GROUP BY 1, 2, 3
       |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q163
  /** Canonical text normalization (Quality.normalizeText) — NFC
    * composition through the native nfc_normalize expression, Cc/Cf
    * control sweep, space-run collapse, trim. The fixture text is the
    * corpus text made deliberately messy IDENTICALLY on both sides —
    * a decomposed `e`+U+0301 that must recompose to é (so the gate
    * exercises real composition, not just the ASCII fast path), a
    * zero-width joiner, a stray SOH control (a NUL would C-truncate the
    * oracle's string — DuckDB chr(0) cuts there), tab/CR runs and edge whitespace — and
    * the gate pins the full normalized text via per-doc md5 plus the
    * exact normalized length. DuckDB mirrors with nfc_normalize + the
    * same two regex passes.
    */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val messy = concat(lit("\t e\u0301 "), col("text"),
      lit("\u0001x\u200d "), col("doc_id") % 10, lit(" \r\n"))
    docs.select(col("doc_id"), Quality.normalizeText(messy).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
        length(col("norm")).cast("long").as("n_chars_norm"))
      .orderBy(col("doc_id"))
  }

  private val q163Sql =
    """SELECT doc_id, md5(norm) AS norm_md5,
      |  CAST(length(norm) AS BIGINT) AS n_chars_norm FROM (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(
      |    nfc_normalize(chr(9) || ' e' || chr(769) || ' ' || text ||
      |      chr(1) || 'x' || chr(8205) || ' ' || (doc_id % 10) ||
      |      ' ' || chr(13) || chr(10)),
      |    '[\p{Cc}\p{Cf}]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q190
  /** k-anonymity audit (Quality.kAnonymityAudit, Sweeney 2002) — the
    * compliance gate a metadata release runs: every equivalence class
    * of the quasi-identifier tuple (lang, source, 200-char length
    * bucket), its size, and whether it clears k = 5. Classes below k
    * re-identify their members by join with any public table sharing
    * those attributes; the release suppresses or generalizes exactly
    * this roster. One map-side-combined groupBy — the audit costs one
    * exchange at any scale. Oracle: the same GROUP BY, trivially
    * independent.
    */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("lang"), col("source"),
        expr("n_chars DIV 200").as("len_bucket"))
    Quality.kAnonymityAudit(docs, Seq("lang", "source", "len_bucket"), k = 5)
      .orderBy(col("lang"), col("source"), col("len_bucket"))
  }

  private val q190Sql =
    """SELECT lang, source, n_chars // 200 AS len_bucket,
      |  CAST(count(*) AS BIGINT) AS n, count(*) >= 5 AS anonymous
      |FROM documents
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q191
  /** Unicode script profile (Quality.scriptProfile) — the multilingual
    * curation signal upstream of language ID: per document the ppm
    * share of codepoints per script class and the dominant non-space
    * class. The fixture corpus is ASCII, so the gate plants non-Latin
    * runs analytically (the q163 messying discipline): doc_id % 4
    * selects a CJK / Cyrillic / Greek suffix or none, built from the
    * same codepoints on both sides (Spark literal vs DuckDB chr()).
    * Counts are regexp-deletion length deltas — BMP codepoints count
    * identically in both engines — and ppm is truncating DIV, so the
    * gate is hash-exact. Dominance ties break in fixed class-list
    * order (latin, digit, cjk, cyrillic, greek, other), mirrored by
    * the oracle's CASE chain.
    */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val suffix = when(col("doc_id") % 4 === 0, lit("中文文本"))
      .when(col("doc_id") % 4 === 1, lit("тест"))
      .when(col("doc_id") % 4 === 2, lit("λογος"))
      .otherwise(lit(""))
    Quality.scriptProfile(
        docs.select(col("doc_id"), concat(col("text"), lit(" "), suffix).as("mx")),
        "doc_id", "mx")
      .orderBy(col("doc_id"))
  }

  private val q191Sql =
    """WITH m AS (SELECT doc_id, text || ' ' ||
      |  CASE WHEN doc_id % 4 = 0
      |         THEN chr(20013) || chr(25991) || chr(25991) || chr(26412)
      |       WHEN doc_id % 4 = 1
      |         THEN chr(1090) || chr(1077) || chr(1089) || chr(1090)
      |       WHEN doc_id % 4 = 2
      |         THEN chr(955) || chr(959) || chr(947) || chr(959) || chr(962)
      |       ELSE '' END AS mx FROM documents),
      |c AS (SELECT doc_id, length(mx) AS tot,
      |  length(mx) - length(regexp_replace(mx, '[A-Za-z]', '', 'g')) AS latin,
      |  length(mx) - length(regexp_replace(mx, '[0-9]', '', 'g')) AS digit,
      |  length(mx) - length(regexp_replace(mx, '[\s]', '', 'g')) AS space,
      |  length(mx) - length(regexp_replace(mx, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
      |  length(mx) - length(regexp_replace(mx, '[\x{0400}-\x{04ff}]', '', 'g')) AS cyrillic,
      |  length(mx) - length(regexp_replace(mx, '[\x{0370}-\x{03ff}]', '', 'g')) AS greek
      |  FROM m),
      |p AS (SELECT doc_id, tot, latin, digit, space, cjk, cyrillic, greek,
      |  tot - (latin + digit + space + cjk + cyrillic + greek) AS other
      |  FROM c)
      |SELECT doc_id,
      |  CAST(CASE WHEN tot > 0 THEN (latin * 1000000) // tot ELSE 0 END AS BIGINT) AS latin_ppm,
      |  CAST(CASE WHEN tot > 0 THEN (digit * 1000000) // tot ELSE 0 END AS BIGINT) AS digit_ppm,
      |  CAST(CASE WHEN tot > 0 THEN (space * 1000000) // tot ELSE 0 END AS BIGINT) AS space_ppm,
      |  CAST(CASE WHEN tot > 0 THEN (cjk * 1000000) // tot ELSE 0 END AS BIGINT) AS cjk_ppm,
      |  CAST(CASE WHEN tot > 0 THEN (cyrillic * 1000000) // tot ELSE 0 END AS BIGINT) AS cyrillic_ppm,
      |  CAST(CASE WHEN tot > 0 THEN (greek * 1000000) // tot ELSE 0 END AS BIGINT) AS greek_ppm,
      |  CAST(CASE WHEN tot > 0 THEN (other * 1000000) // tot ELSE 0 END AS BIGINT) AS other_ppm,
      |  CASE WHEN greatest(latin, digit, cjk, cyrillic, greek, other) = 0 THEN 'none'
      |       WHEN latin = greatest(latin, digit, cjk, cyrillic, greek, other) THEN 'latin'
      |       WHEN digit = greatest(latin, digit, cjk, cyrillic, greek, other) THEN 'digit'
      |       WHEN cjk = greatest(latin, digit, cjk, cyrillic, greek, other) THEN 'cjk'
      |       WHEN cyrillic = greatest(latin, digit, cjk, cyrillic, greek, other) THEN 'cyrillic'
      |       WHEN greek = greatest(latin, digit, cjk, cyrillic, greek, other) THEN 'greek'
      |       ELSE 'other' END AS dominant
      |FROM p
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q200
  /** Encoding audit (Quality.encodingAudit) — the crawl-QA pass real
    * pipelines run FIRST: mojibake signatures (UTF-8 double-decoded
    * as latin-1/cp1252 — the "Ã©" class, Ã/Â/â + continuation-range
    * codepoint), U+FFFD replacement characters, stray C0/C1 controls,
    * and the first-match verdict. Damage is planted analytically the
    * q163/q191 way (doc_id % 5 selects mojibake / replacement /
    * control / clean) so every verdict class fires; the oracle mirrors
    * the signature classes codepoint for codepoint.
    */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val planted = concat(col("text"),
      when(col("doc_id") % 5 === 0, lit(" \u00c3\u00a9\u00c3\u00bc"))
        .when(col("doc_id") % 5 === 1, lit(" \ufffd\ufffd"))
        .when(col("doc_id") % 5 === 2, lit(" \u0007"))
        .otherwise(lit("")))
    Quality.encodingAudit(
        docs.select(col("doc_id"), planted.as("mx")), "doc_id", "mx")
      .orderBy(col("doc_id"))
  }

  private val q200Sql = {
    val moji = "[\\x{00c2}\\x{00c3}\\x{00e2}][\\x{0080}-\\x{00bf}" +
      "\\x{20ac}\\x{201a}\\x{0192}\\x{201e}\\x{2026}\\x{2020}\\x{2021}" +
      "\\x{02c6}\\x{2030}\\x{0160}\\x{2039}\\x{0152}\\x{017d}\\x{2018}" +
      "\\x{2019}\\x{201c}\\x{201d}\\x{2022}\\x{2013}\\x{2014}\\x{02dc}" +
      "\\x{2122}\\x{0161}\\x{203a}\\x{0153}\\x{017e}\\x{0178}]"
    val ctrl = "[\\x{0000}-\\x{0008}\\x{000b}\\x{000c}\\x{000e}-\\x{001f}" +
      "\\x{007f}-\\x{009f}]"
    s"""WITH m AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 5 = 0
       |           THEN ' ' || chr(195) || chr(169) || chr(195) || chr(188)
       |         WHEN doc_id % 5 = 1 THEN ' ' || chr(65533) || chr(65533)
       |         WHEN doc_id % 5 = 2 THEN ' ' || chr(7)
       |         ELSE '' END AS mx FROM documents),
       |c AS (SELECT doc_id,
       |  (length(mx) - length(regexp_replace(mx, '$moji', '', 'g'))) // 2
       |    AS mojibake_hits,
       |  length(mx) - length(regexp_replace(mx, '\\x{fffd}', '', 'g'))
       |    AS replacement_hits,
       |  length(mx) - length(regexp_replace(mx, '$ctrl', '', 'g'))
       |    AS control_hits,
       |  length(mx) AS n_chars FROM m)
       |SELECT doc_id, CAST(mojibake_hits AS BIGINT) AS mojibake_hits,
       |  CAST(replacement_hits AS BIGINT) AS replacement_hits,
       |  CAST(control_hits AS BIGINT) AS control_hits,
       |  CAST(n_chars AS BIGINT) AS n_chars,
       |  CASE WHEN mojibake_hits > 0 THEN 'mojibake'
       |       WHEN replacement_hits > 0 THEN 'replacement'
       |       WHEN control_hits > 0 THEN 'control'
       |       ELSE 'clean' END AS verdict
       |FROM c
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q164
  /** Per-document keyword extraction (Retrieval.keywords): top-3 terms
    * per document by the exact integer tf-idf — weight = (N·10⁶) div
    * df, score = tf · weight, rank by (score DESC, term ASC). The
    * corpus-tagging op (topic labels, dataset cards): same stored
    * postings pass as the searchers, per-document TopK aggregator tail
    * (k-sized state per doc — never a window over the postings; the
    * oracle's row_number is DuckDB's independent formulation).
    */
  private def q164(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.keywords(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  private val q164Sql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |c AS (SELECT doc_id, unnest(toks) AS term FROM tk),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM c GROUP BY 1, 2),
       |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM c),
       |s AS (SELECT tf.doc_id, tf.term,
       |        CAST(tf.tf * ((n.nd * 1000000) // dfx.df) AS BIGINT) AS score
       |      FROM tf JOIN dfx USING (term) CROSS JOIN n)
       |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score FROM (
       |  SELECT doc_id, term, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, term) AS rank
       |  FROM s)
       |WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q172_postings_delete" -> (q172 _),
    "q170_postings_timetravel" -> (q170 _),
    "q169_retrieval_mrr" -> (q169 _),
    "q164_keywords" -> (q164 _),
    "q160_boolean_search" -> (q160 _),
    "q163_normalize_text" -> (q163 _),
    "q190_k_anonymity" -> (q190 _),
    "q191_script_profile" -> (q191 _),
    "q192_recrawl_schedule" -> (q192 _),
    "q195_recrawl_increment" -> (q195 _),
    "q197_lang_segments" -> (q197 _),
    "q200_encoding_audit" -> (q200 _),
    "q203_proximity_search" -> (q203 _),
    "q127_retrieval_recall" -> (q127 _),
    "q126_lexical_search" -> (q126 _),
    "q199_more_like_this" -> (q199 _),
    "q217_langid_model" -> (q217 _),
    "q238_quality_model" -> (q238 _),
    "q246_gopher_rules" -> (q246 _),
    "q223_chunk_sliding" -> (q223 _),
    "q143_bm25_search" -> (q143 _),
    "q148_postings_append" -> (q148 _),
    "q150_table_profile" -> (q150 _),
    "q151_boilerplate_strip" -> (q151 _),
    "q152_snippets" -> (q152 _),
    "q153_count_min" -> (q153 _),
    "q154_collocations" -> (q154 _),
    "q155_cms_increment" -> (q155 _),
    "q156_snapshot_diff" -> (q156 _),
    "q177_version_history" -> (q177 _),
    "q178_prf_expand" -> (q178 _),
    "q179_provenance" -> (q179 _),
    "q182_pack_boundaries" -> (q182 _),
    "q185_cdc_log" -> (q185 _),
    "q186_cdc_index_maint" -> (q186 _),
    "q157_ngram_novelty" -> (q157 _),
    "q158_postings_compact" -> (q158 _),
    "q159_fuzzy_lookup" -> (q159 _),
    "q139_phrase_search" -> (q139 _),
    "q120_curriculum_order" -> (q120 _),
    "q115_curation_pipeline" -> (q115 _),
    "q112_dsir_frozen_score" -> (q112 _),
    "q109_dsir_resample" -> (q109 _),
    "q82_corpus_mixture" -> (q82 _),
    "q83_quantile_filter" -> (q83 _),
    "q87_pack_sequences" -> (q87 _),
    "q234_pack_greedy" -> (q234 _),
    "q247_span_corrupt" -> (q247 _),
    "q248_fim_transform" -> (q248 _),
    "q88_epoch_upsample" -> (q88 _),
    "q96_chunk_documents" -> (q96 _),
    "q98_split_assign" -> (q98 _),
    "q45_stratified_sample" -> (q45 _),
    "q46_histogram" -> (q46 _),
    "q23_lang_id" -> (q23 _),
    "q24_quality_score" -> (q24 _),
    "q25_token_stats" -> (q25 _),
    "q26_fingerprint" -> (q26 _))

  val oracle: Map[String, String] = Map(
    "q172_postings_delete" -> q170Sql,
    "q170_postings_timetravel" -> q170Sql,
    "q169_retrieval_mrr" -> q169Sql,
    "q164_keywords" -> q164Sql,
    "q160_boolean_search" -> q160Sql,
    "q163_normalize_text" -> q163Sql,
    "q190_k_anonymity" -> q190Sql,
    "q191_script_profile" -> q191Sql,
    "q192_recrawl_schedule" -> q192Sql,
    "q195_recrawl_increment" -> q192Sql,
    "q197_lang_segments" -> q197Sql,
    "q200_encoding_audit" -> q200Sql,
    "q203_proximity_search" -> q203Sql,
    "q127_retrieval_recall" -> q127Sql,
    "q126_lexical_search" -> q126Sql,
    "q199_more_like_this" -> q199Sql,
    "q217_langid_model" -> q217Sql,
    "q238_quality_model" -> q238Sql,
    "q246_gopher_rules" -> q246Sql,
    "q223_chunk_sliding" -> q223Sql,
    "q143_bm25_search" -> q143Sql,
    "q148_postings_append" -> q143Sql,
    "q150_table_profile" -> q150Sql,
    "q151_boilerplate_strip" -> q151Sql,
    "q152_snippets" -> q152Sql,
    "q153_count_min" -> q153Sql,
    "q154_collocations" -> q154Sql,
    "q155_cms_increment" -> q153Sql,
    "q156_snapshot_diff" -> q156Sql,
    "q177_version_history" -> q177Sql,
    "q178_prf_expand" -> q178Sql,
    "q179_provenance" -> q179Sql,
    "q182_pack_boundaries" -> q182Sql,
    "q185_cdc_log" -> q185Sql,
    "q186_cdc_index_maint" -> q186Sql,
    "q157_ngram_novelty" -> q157Sql,
    "q158_postings_compact" -> q143Sql,
    "q159_fuzzy_lookup" -> q159Sql,
    "q139_phrase_search" -> q139Sql,
    "q120_curriculum_order" -> q120Sql,
    "q115_curation_pipeline" -> q115Sql,
    "q112_dsir_frozen_score" -> q112Sql,
    "q109_dsir_resample" -> q109Sql,
    "q82_corpus_mixture" -> q82Sql,
    "q83_quantile_filter" -> q83Sql,
    "q87_pack_sequences" -> q87Sql,
    "q234_pack_greedy" -> q234Sql,
    "q247_span_corrupt" -> q247Sql,
    "q248_fim_transform" -> q248Sql,
    "q88_epoch_upsample" -> q88Sql,
    "q96_chunk_documents" -> q96Sql,
    "q98_split_assign" -> q98Sql,
    "q45_stratified_sample" -> q45Sql,
    "q46_histogram" -> q46Sql,
    "q23_lang_id" -> q23Sql,
    "q24_quality_score" -> q24Sql,
    "q25_token_stats" -> q25Sql,
    "q26_fingerprint" -> q26Sql)
}
