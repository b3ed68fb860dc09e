package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Behavior, Quality, Similarity}

/** Round-3 curation + behavior surface: Gopher-style repetition
  * quality signals, PII redaction, benchmark decontamination,
  * recursive SQL, SemDeDup-style semantic dedup, funnels, cohort
  * retention. Every oracle is an independent DuckDB re-expression of
  * the same algorithm (same patterns, same blocking, same IEEE
  * arithmetic shapes), so the hash gate pins semantics.
  */
object Curation {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Mirror of TextFunctions.tokens (see CorpusOps.toksSql). */
  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  // ---------------------------------------------------------------- q65
  /** Repetition-quality report per language: how many docs exceed the
    * duplicate-token and top-bigram-mass thresholds (the
    * Gopher/MassiveText repetition rules), plus the exact micro-average
    * duplicate fraction (ratio of summed integer counters — one IEEE
    * division at the end, partition-order independent). Flag
    * comparisons use the multiplication form (n-u) > thr*n: no
    * division, no zero-guard, same shape in both engines.
    */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Quality.repetitionSignals(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("doc"), col("lang")), Seq("doc"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when((col("n_tok") - col("n_uniq")).cast("double") > lit(0.6) * col("n_tok"), 1L)
          .otherwise(0L)).as("n_rep_flagged"),
        sum(when(col("top_bigram_cnt").cast("double") > lit(0.1) * col("n_bigrams"), 1L)
          .otherwise(0L)).as("n_bg_flagged"),
        (floor(sum(col("n_tok") - col("n_uniq")).cast("double")
          / sum(col("n_tok")).cast("double") * lit(1e6)) / lit(1e6)).as("micro_dup_frac"))
      .orderBy(col("lang"))
  }

  private val q65Sql =
    s"""WITH tk AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |st AS (SELECT doc_id, lang, len(toks) AS n, len(list_distinct(toks)) AS u FROM tk),
       |bgx AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |          i -> concat(toks[i], ' ', toks[i+1]))) AS bg
       |        FROM tk WHERE len(toks) >= 2),
       |bgc AS (SELECT doc_id, bg, count(*) AS cnt FROM bgx GROUP BY 1, 2),
       |bgm AS (SELECT doc_id, max(cnt) AS topc FROM bgc GROUP BY 1)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN CAST(n - u AS DOUBLE) > 0.6 * n THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_flagged,
       |  CAST(sum(CASE WHEN CAST(coalesce(topc, 0) AS DOUBLE) > 0.1 * (n - 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_bg_flagged,
       |  floor(CAST(sum(n - u) AS DOUBLE) / CAST(sum(n) AS DOUBLE) * 1e6) / 1e6 AS micro_dup_frac
       |FROM st LEFT JOIN bgm USING (doc_id)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q66
  /** PII detection + redaction over synthesized contact cards (name,
    * derived e-mail, 555 phone — built in-query from `customer` with
    * integer-only interpolation, so both engines render identical
    * text). Gates the match counts AND the redacted text itself
    * (min(redacted) per segment hash-checks the rewrite).
    */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      col("c_name"), lit(" <"),
      lower(expr("replace(c_name, '#', '')")), lit("@example.com> call 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" segment "), col("c_mktsegment"))
    Quality.piiRedact(t(s, dir, "customer").withColumn("contact", contact), "contact")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        min(col("redacted")).as("sample_redacted"))
      .orderBy(col("c_mktsegment"))
  }

  private val q66Sql = {
    val email = Quality.emailPattern
    val phone = Quality.phonePattern
    s"""WITH c AS (
       |  SELECT c_mktsegment,
       |    concat(c_name, ' <', lower(replace(c_name, '#', '')), '@example.com> call 555-',
       |      lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'), ' segment ', c_mktsegment) AS contact
       |  FROM customer),
       |r AS (
       |  SELECT c_mktsegment,
       |    len(regexp_extract_all(contact, '$email')) AS ne,
       |    len(regexp_extract_all(contact, '$phone')) AS np,
       |    regexp_replace(regexp_replace(contact, '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g') AS redacted
       |  FROM c)
       |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(ne) AS BIGINT) AS n_emails, CAST(sum(np) AS BIGINT) AS n_phones,
       |  min(redacted) AS sample_redacted
       |FROM r GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin
  }

  // ---------------------------------------------------------------- q67
  /** Benchmark decontamination: training docs (doc_id % 19 <> 0)
    * sharing any word 5-gram with the benchmark split (doc_id % 19 =
    * 0). The oracle recomputes the full overlap without the broadcast
    * blocking, proving the slim-join plan exact.
    */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Quality.decontaminate(
        docs.filter(col("doc_id") % 19 =!= 0),
        docs.filter(col("doc_id") % 19 === 0),
        "doc_id", "text", n = 5)
      .orderBy(col("train_id"))
  }

  private val q67Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |        CASE WHEN len(toks) >= 5
       |          THEN list_transform(range(1, len(toks) - 3),
       |            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4]))
       |          ELSE [array_to_string(toks, ' ')] END)) AS gram
       |      FROM tk),
       |b AS (SELECT doc_id, gram FROM g WHERE doc_id % 19 = 0),
       |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 19 <> 0)
       |SELECT tr.doc_id AS train_id,
       |  CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
       |  CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs,
       |  min(b.doc_id) AS min_bench_id
       |FROM tr JOIN b ON tr.gram = b.gram
       |GROUP BY tr.doc_id
       |ORDER BY train_id""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Recursive SQL (WITH RECURSIVE — Catalyst UnionLoop): every nation
    * key walks the implicit binary-heap parent chain k -> k div 2 down
    * to 0, accumulating depth and the full path string. Pins the
    * recursive-CTE surface itself: seed + recursive step + termination
    * predicate, matching DuckDB's recursive CTE on the same walk.
    */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("nation_v")
    s.sql(
      """WITH RECURSIVE anc AS (
        |  SELECT n_nationkey AS node, CAST(n_nationkey AS BIGINT) AS cur, 0 AS depth,
        |    CAST(n_nationkey AS STRING) AS path
        |  FROM nation_v
        |  UNION ALL
        |  SELECT node, cur div 2, depth + 1,
        |    concat(path, '->', CAST(cur div 2 AS STRING))
        |  FROM anc WHERE cur > 0)
        |SELECT node, depth, path FROM anc WHERE cur = 0
        |ORDER BY node""".stripMargin)
  }

  private val q68Sql =
    """WITH RECURSIVE anc AS (
      |  SELECT n_nationkey AS node, n_nationkey AS cur, 0 AS depth,
      |    CAST(n_nationkey AS VARCHAR) AS path
      |  FROM nation
      |  UNION ALL
      |  SELECT node, cur // 2, depth + 1,
      |    concat(path, '->', CAST(cur // 2 AS VARCHAR))
      |  FROM anc WHERE cur > 0)
      |SELECT node, depth, path FROM anc WHERE cur = 0
      |ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q69
  /** SemDeDup-style semantic dedup: cluster-blocked embedding pairs at
    * cosine >= 0.35, with the first 16 corpus vectors as the coarse
    * codebook (deterministic stand-in for trainKMeans, as in q41). The
    * oracle replicates the same assignment + blocking.
    */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.semanticNearDupPairs(emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", threshold = 0.35)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val q69Sql =
    """WITH e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
      |           FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
      |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 16),
      |a AS (SELECT vec_id, v, nrm, cid AS cluster FROM (
      |  SELECT e.vec_id, e.v, e.nrm, cent.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      (list_dot_product(e.v, cent.cv) / (e.nrm * cent.cn)) DESC, cent.cid) AS rk
      |  FROM e, cent) WHERE rk = 1)
      |SELECT vec_a, vec_b, cluster, round(cos, 9) AS cosine FROM (
      |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cluster AS cluster,
      |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
      |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
      |WHERE cos >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Ordered conversion funnel view -> click -> purchase with a 24 h
    * per-step deadline, first-touch semantics (Behavior.funnel).
    */
  private def q70(s: SparkSession, dir: String): DataFrame =
    Behavior.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), stepWindowHours = 24)
      .orderBy(col("stage_idx"))

  private val q70Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |      JOIN v ON e.user_id = v.user_id AND e.ts > v.t AND e.ts <= v.t + INTERVAL 24 HOUR
      |      WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |      JOIN c ON e.user_id = c.user_id AND e.ts > c.t AND e.ts <= c.t + INTERVAL 24 HOUR
      |      WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 0 AS stage_idx, 'view' AS stage, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
      |  UNION ALL
      |  SELECT 1, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
      |  UNION ALL
      |  SELECT 2, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT))
      |ORDER BY stage_idx""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Cohort retention: first-event-day cohorts x active day offsets
    * (Behavior.cohortRetention).
    */
  private def q71(s: SparkSession, dir: String): DataFrame =
    Behavior.cohortRetention(t(s, dir, "events"), "user_id", "ts")
      .orderBy(col("cohort_day"), col("day_offset"))

  private val q71Sql =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
      |        date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      |      FROM events e JOIN f ON e.user_id = f.user_id)
      |SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
      |FROM a GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Corpus-wide vocabulary head: top-30 word bigrams by occurrence
    * (ties on the bigram), with document frequency — the counting pass
    * a tokenizer/vocab trainer runs over the corpus. Explode + one
    * partial-aggregated groupBy; the top-k is a single reduction, never
    * a global sort of the vocabulary.
    */
  private def q72(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      // native Generator: streams grams with O(1) state instead of
      // materializing the per-row bigram array before explode
      .select(col("doc_id"),
        call_function(graft.functions.VectorExpressions.ngramsFnName,
          col("toks"), lit(2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
      .limit(30)

  private val q72Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |         i -> concat(toks[i], ' ', toks[i+1]))) AS bigram
       |       FROM tk WHERE len(toks) >= 2)
       |SELECT bigram, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM bg GROUP BY bigram
       |ORDER BY n_occurrences DESC, bigram
       |LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Distinctive terms per document (docs 0-29): top-3 tokens by
    * term frequency, rarer-corpus-wide first on ties (ascending global
    * document frequency, then the token) — TF-IDF ranking semantics
    * with integer-only arithmetic. The global DF side is a broadcast
    * (vocabulary-sized, corpus-independent).
    */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val occ = t(s, dir, "documents")
      .select(col("doc_id"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val df_ = occ.groupBy(col("token"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val tf = occ.filter(col("doc_id") < 30)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df"), col("token"))
    tf.join(broadcast(df_), Seq("token"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val q73Sql =
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |dfreq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tk GROUP BY token),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk WHERE doc_id < 30 GROUP BY 1, 2)
       |SELECT doc_id, rank, token, tf, df FROM (
       |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, dfreq.df, tf.token) AS rank
       |  FROM tf JOIN dfreq ON tf.token = dfreq.token)
       |WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Event-type Markov transitions per user session stream
    * (Behavior.transitionMatrix): counts + floor-truncated conditional
    * probabilities, event_id as the equal-timestamp tiebreak.
    */
  private def q74(s: SparkSession, dir: String): DataFrame =
    Behavior.transitionMatrix(t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
      .orderBy(col("src"), col("dst"))

  private val q74Sql =
    """WITH nx AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events),
      |pairs AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      |          FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      |  floor(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) * 1e6) / 1e6 AS p
      |FROM pairs
      |ORDER BY src, dst""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Exact 3-sigma outlier detection without float accumulation: the
    * per-group co-moments (n, S=Σx, SS=Σx²) are EXACT decimal sums —
    * partition-order independent — and the flag evaluates the
    * scale-free inequality (n·x − S)² > 9·(n·SS − S²) through
    * identically-shaped double arithmetic in both engines (q48/q52
    * precedent). No mean/variance division ever happens, so there is
    * no rounding to diverge on. One aggregate + one broadcast join
    * back to the rows.
    */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("x"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("ss"))
    val nd = col("n").cast("double"); val xd = col("x").cast("double")
    val sd = col("s").cast("double"); val ssd = col("ss").cast("double")
    val dev = nd * xd - sd
    ev.join(broadcast(stats), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(dev * dev > lit(9.0) * (nd * ssd - sd * sd), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val q75Sql =
    """WITH x AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS x FROM events),
      |st AS (SELECT event_type, count(*) AS n, sum(x) AS s, sum(x * x) AS ss
      |       FROM x GROUP BY 1)
      |SELECT x.event_type,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN
      |      (CAST(n AS DOUBLE) * CAST(x.x AS DOUBLE) - CAST(s AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(x.x AS DOUBLE) - CAST(s AS DOUBLE))
      |      > 9.0 * (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM x JOIN st ON x.event_type = st.event_type
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Funnel latency: conversion-delay quantiles per stage transition
    * (first view -> first qualifying click -> first qualifying
    * purchase, 24 h deadlines as in q70). Delays measured in exact
    * epoch-microsecond differences; quantile interpolation is the
    * q64-gated percentile_cont.
    */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("events_v")
    s.sql(
      """WITH v AS (SELECT user_id, min(ts) AS t FROM events_v WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t, min(unix_micros(e.ts) - unix_micros(v.t)) AS d
        |      FROM events_v e JOIN v ON e.user_id = v.user_id
        |        AND e.ts > v.t AND e.ts <= v.t + INTERVAL 24 HOURS
        |      WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(unix_micros(e.ts) - unix_micros(c.t)) AS d
        |      FROM events_v e JOIN c ON e.user_id = c.user_id
        |        AND e.ts > c.t AND e.ts <= c.t + INTERVAL 24 HOURS
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT stage, n_users, p50_us, p90_us FROM (
        |  SELECT 'click' AS stage, CAST(count(*) AS BIGINT) AS n_users,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY d) AS p50_us,
        |    percentile_cont(0.9) WITHIN GROUP (ORDER BY d) AS p90_us
        |  FROM c
        |  UNION ALL
        |  SELECT 'purchase', CAST(count(*) AS BIGINT),
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY d),
        |    percentile_cont(0.9) WITHIN GROUP (ORDER BY d)
        |  FROM p)
        |ORDER BY stage""".stripMargin)
  }

  private val q76Sql =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t, min(epoch_us(e.ts) - epoch_us(v.t)) AS d
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |        AND e.ts > v.t AND e.ts <= v.t + INTERVAL 24 HOUR
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(epoch_us(e.ts) - epoch_us(c.t)) AS d
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |        AND e.ts > c.t AND e.ts <= c.t + INTERVAL 24 HOUR
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT stage, n_users, p50_us, p90_us FROM (
      |  SELECT 'click' AS stage, CAST(count(*) AS BIGINT) AS n_users,
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY d) AS p50_us,
      |    percentile_cont(0.9) WITHIN GROUP (ORDER BY d) AS p90_us
      |  FROM c
      |  UNION ALL
      |  SELECT 'purchase', CAST(count(*) AS BIGINT),
      |    percentile_cont(0.5) WITHIN GROUP (ORDER BY d),
      |    percentile_cont(0.9) WITHIN GROUP (ORDER BY d)
      |  FROM p)
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q77
  /** The Z-order (Morton) clustering key itself, oracle-gated: the 20
    * lowest z-values over (o_custkey mod 1024, o_orderkey mod 1024).
    * Layout.writeZOrdered's locality guarantee is only as good as this
    * expression, so the bit interleave is pinned value-exactly against
    * an independently generated shift/mask formulation in DuckDB.
    */
  private def q77(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        graft.sources.Layout.zorder2(
          col("o_custkey") % 1024, col("o_orderkey") % 1024, bits = 10).as("zval"))
      .orderBy(col("zval"), col("o_orderkey"))
      .limit(20)

  private val q77Sql = {
    val terms = (0 until 10).flatMap { j =>
      Seq(s"((((o_custkey % 1024) >> $j) & 1) << ${2 * j})",
        s"((((o_orderkey % 1024) >> $j) & 1) << ${2 * j + 1})")
    }.mkString(" | ")
    s"""SELECT o_orderkey, CAST($terms AS BIGINT) AS zval
       |FROM orders
       |ORDER BY zval, o_orderkey
       |LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- q114
  /** Per-source frequency cap (Quality.capPerGroup — the C4/Gopher
    * "at most N pages per domain" rule): keep the 5 docs per source
    * that come first in the deterministic `cap|`-salted hash order.
    * Built on the TopKAggregator (cap-sized state per group after
    * map-side combine — a hot domain never funnels through one window
    * task). The oracle re-derives the keep set with a window
    * row_number over the identical hash order — the window is FINE in
    * DuckDB at oracle scale; the aggregator is the form that
    * survives 10⁹-page domains.
    */
  private def q114(s: SparkSession, dir: String): DataFrame =
    Quality.capPerGroup(t(s, dir, "documents"), "source", "doc_id", cap = 5)
      .orderBy(col("source"), col("rank"))

  private val q114Sql =
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    CAST(concat('0x', substring(md5(concat('cap|',
       |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % ${1L << 52} AS hv
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rank
       |  FROM h)
       |SELECT source, rank, doc_id FROM r WHERE rank <= 5
       |ORDER BY source, rank""".stripMargin

  // --------------------------------------------------------------- q116
  /** Bloom-prefiltered decontamination, APPLY form
    * (Quality.decontaminateBloomKeep): the training split (doc_id % 23
    * <> 0) minus every doc sharing a word 5-gram with the benchmark
    * split (doc_id % 23 = 0). The bloom bit-test is a map-side
    * prefilter with no false negatives and the exact confirm semi-join
    * removes its false positives, so the oracle recomputes the SAME
    * result with no bloom at all — a plain NOT EXISTS over the gram
    * overlap. Complements q67 (the REPORT form, broadcast-join-only
    * plan): this is the plan that stays affordable when the
    * contamination set outgrows "hash-join every corpus gram first".
    */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Quality.decontaminateBloomKeep(
        docs.filter(col("doc_id") % 23 =!= 0),
        docs.filter(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 5)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q116Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |        CASE WHEN len(toks) >= 5
       |          THEN list_transform(range(1, len(toks) - 3),
       |            i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4]))
       |          ELSE [array_to_string(toks, ' ')] END)) AS gram
       |      FROM tk),
       |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0),
       |bad AS (SELECT DISTINCT doc_id FROM g
       |        WHERE doc_id % 23 <> 0 AND gram IN (SELECT gram FROM b))
       |SELECT d.doc_id, d.source, d.n_chars FROM documents d
       |WHERE d.doc_id % 23 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- q118
  /** Corpus drift monitoring (Quality.corpusDrift): the even-doc_id
    * half of the corpus as "last batch", the odd half as "this batch",
    * top 40 terms by absolute per-million rate shift with a min-count
    * floor of 50. All-integer arithmetic (q84 discipline: BIGINT
    * counts, one floor div per rate), so the gate is exact; the oracle
    * recomputes both distributions and the `//` divisions in DuckDB.
    */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Quality.corpusDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "text", minCount = 50, topN = 40)
  }

  private val q118Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tx AS (SELECT doc_id % 2 AS side, unnest(toks) AS term FROM tk),
       |c AS (SELECT term,
       |        CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |        CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
       |      FROM tx GROUP BY term),
       |tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
       |               CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM c),
       |p AS (SELECT term, cnt_a, cnt_b,
       |        CASE WHEN tot_a > 0 THEN (cnt_a * 1000000) // tot_a ELSE 0 END AS ppm_a,
       |        CASE WHEN tot_b > 0 THEN (cnt_b * 1000000) // tot_b ELSE 0 END AS ppm_b
       |      FROM c, tot WHERE cnt_a + cnt_b >= 50)
       |SELECT term, cnt_a, cnt_b, ppm_a, ppm_b, abs(ppm_a - ppm_b) AS drift
       |FROM p
       |ORDER BY drift DESC, term
       |LIMIT 40""".stripMargin

  // --------------------------------------------------------------- q119
  /** Exact heavy hitters (Quality.heavyHittersExact): every token with
    * frequency > 1/32 of the corpus, exact counts, found via the
    * Misra–Gries bounded-memory candidate sketch + exact confirm pass
    * — the corpus is scanned twice and the distinct-term table never
    * shuffles. The oracle recomputes the same set with a full GROUP BY
    * and no sketch, so the gate proves the sketch path loses nothing.
    */
  private def q119(s: SparkSession, dir: String): DataFrame =
    Quality.heavyHittersExact(t(s, dir, "documents"), "text", support = 32, capacity = 64)

  private val q119Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tx AS (SELECT unnest(toks) AS term FROM tk),
       |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tx GROUP BY term),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tx)
       |SELECT term, cnt FROM c, tot WHERE cnt * 32 > total
       |ORDER BY cnt DESC, term""".stripMargin

  // --------------------------------------------------------------- q137
  /** KMV distinct-cardinality estimates per source
    * (Quality.kmvDistinct) next to the exact counts — the cardinality
    * member of the exact-sketch family (q119 MG, q116 Bloom). The
    * sketch is deterministic given the hash, so the oracle recomputes
    * the IDENTICAL bottom-64 estimate (row_number over the distinct
    * hash space + the same (k−1)·M // h_k truncating division) and
    * the gate is hash-exact — the estimator's ~13% error band is a
    * property both engines reproduce bit-for-bit, not a tolerance.
    */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val terms = t(s, dir, "documents")
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val exact = terms.groupBy(col("source"))
      .agg(countDistinct(col("term")).as("n_exact"))
    Quality.kmvDistinct(terms, "source", "term", k = 64)
      .join(exact, Seq("source"))
      .select(col("source"), col("n_exact"), col("distinct_est"))
      .orderBy(col("source"))
  }

  private val q137Sql =
    s"""WITH tk AS (SELECT source, unnest($toksSql) AS term FROM documents),
       |dh AS (SELECT DISTINCT source,
       |  CAST(concat('0x', substring(md5('kmv|' || term), 1, 15)) AS BIGINT)
       |    % 4503599627370496 AS hv
       |  FROM tk),
       |rk AS (SELECT source, hv,
       |         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
       |       FROM dh),
       |agg AS (SELECT source, count(*) AS n_in_k,
       |          max(CASE WHEN rn = 64 THEN hv END) AS hk
       |        FROM rk WHERE rn <= 64 GROUP BY source),
       |ex AS (SELECT source, count(DISTINCT term) AS n_exact FROM tk GROUP BY source)
       |SELECT e.source, CAST(e.n_exact AS BIGINT) AS n_exact,
       |  CAST(CASE WHEN a.n_in_k < 64 THEN a.n_in_k
       |       ELSE 283726776524341248 // greatest(a.hk, 1) END AS BIGINT) AS distinct_est
       |FROM ex e JOIN agg a ON a.source = e.source
       |ORDER BY e.source""".stripMargin

  // --------------------------------------------------------------- q194
  /** KMV cross-corpus Jaccard (Quality.kmvJaccard — Broder 1997;
    * Beyer et al. 2007's KMV set operations): the vocabulary overlap
    * between the FULL corpus and its doc_id % 3 = 0 slice, estimated
    * from one bounded bottom-256 sketch per side instead of a
    * distinct-join across both — the cross-corpus contamination /
    * vocabulary-shift headline at sketch cost. A subset's vocabulary
    * shares every common word but misses the complement's rare tail,
    * so the estimate is properly interior (≠ 0, ≠ 10⁶). Deterministic
    * hash ⇒ the oracle recomputes the identical bottom-k walk and the
    * gate is hash-exact, error band included.
    */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val va = docs.select(
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val vb = docs.filter(col("doc_id") % 3 === 0).select(
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    Quality.kmvJaccard(va, vb, "term", k = 256)
  }

  private val q194Sql =
    s"""WITH ta AS (SELECT DISTINCT
       |    CAST(concat('0x', substring(md5('kmv|' || term), 1, 15)) AS BIGINT)
       |      % 4503599627370496 AS hv
       |  FROM (SELECT unnest($toksSql) AS term FROM documents)),
       |tb AS (SELECT DISTINCT
       |    CAST(concat('0x', substring(md5('kmv|' || term), 1, 15)) AS BIGINT)
       |      % 4503599627370496 AS hv
       |  FROM (SELECT unnest($toksSql) AS term FROM documents
       |        WHERE doc_id % 3 = 0)),
       |u AS (SELECT hv, max(a) AS a, max(b) AS b FROM (
       |    SELECT hv, 1 AS a, 0 AS b FROM ta
       |    UNION ALL SELECT hv, 0, 1 FROM tb) GROUP BY hv),
       |rk AS (SELECT hv, a, b, row_number() OVER (ORDER BY hv) AS rn FROM u),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_in_k,
       |        CAST(sum(a * b) AS BIGINT) AS n_shared,
       |        max(hv) AS hk
       |      FROM rk WHERE rn <= 256),
       |est AS (SELECT n_in_k, n_shared,
       |  CAST(CASE WHEN n_in_k > 0 THEN (n_shared * 1000000) // n_in_k
       |       ELSE 0 END AS BIGINT) AS jaccard_ppm,
       |  CAST(CASE WHEN n_in_k < 256 THEN n_in_k
       |       ELSE (255 * 4503599627370496) // greatest(hk, 1)
       |       END AS BIGINT) AS union_est
       |  FROM s)
       |SELECT n_in_k, n_shared, jaccard_ppm, union_est,
       |  CAST(CASE WHEN n_in_k > 0 THEN (n_shared * union_est) // n_in_k
       |       ELSE 0 END AS BIGINT) AS inter_est
       |FROM est""".stripMargin

  // --------------------------------------------------------------- q124
  /** Incremental heavy hitters — the q101 production-loop discipline
    * applied to the q119 sketch: two ingest batches (doc_id parity)
    * are absorbed one at a time into a PERSISTED, scheme-stamped MG
    * sketch (Quality.heavyHittersIncrement — bounded merge, batch 1's
    * tokens never revisited when batch 2 lands), then one confirm pass
    * over the accumulated corpus. The oracle is q119's full GROUP BY
    * over all documents, so the gate pins increment ≡ rebuild — the
    * mergeable-summaries containment bound surviving the batch
    * boundary (q106's append≡rebuild discipline for the sketch
    * family).
    */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.Checkpoints.overTempDir(s, "q124-state") { base =>
      val (stateDir, corpusDir) = (s"$base/state", s"$base/corpus")
      Quality.heavyHittersIncrement(
        docs.filter(col("doc_id") % 2 === 0), "text", stateDir, corpusDir, capacity = 64,
        batchId = Some(0L))
      Quality.heavyHittersIncrement(
        docs.filter(col("doc_id") % 2 =!= 0), "text", stateDir, corpusDir, capacity = 64,
        batchId = Some(1L))
      val corpus = s.read.parquet(corpusDir)
      Quality.heavyHittersFromState(corpus, "text", stateDir, support = 32)
    }
  }

  // --------------------------------------------------------------- q125
  /** Incremental decontamination index — q106's append≡rebuild
    * discipline for the bloom family: the benchmark split lands as TWO
    * batches (doc_id parity within the % 23 = 0 split), each absorbed
    * into a persisted scheme-stamped index
    * (Quality.decontaminationIndexIncrement — gram append + bitwise
    * OR of the bloom bits, old suites never re-hashed), then the
    * corpus filters through Quality.decontaminateWithIndex. The
    * oracle is q116's no-bloom anti-join over the WHOLE benchmark, so
    * the gate pins that the OR-merged index loses nothing at the batch
    * boundary.
    */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 23 === 0)
    graft.Checkpoints.overTempDir(s, "q125-index") { indexDir =>
      Quality.decontaminationIndexIncrement(
        bench.filter(col("doc_id") % 2 === 0), "doc_id", "text", indexDir)
      Quality.decontaminationIndexIncrement(
        bench.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", indexDir)
      Quality.decontaminateWithIndex(
          docs.filter(col("doc_id") % 23 =!= 0), "doc_id", "text", indexDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q114_source_cap" -> (q114 _),
    "q116_bloom_decontaminate" -> (q116 _),
    "q118_corpus_drift" -> (q118 _),
    "q119_heavy_hitters" -> (q119 _),
    "q137_kmv_distinct" -> (q137 _),
    "q194_kmv_jaccard" -> (q194 _),
    "q124_hh_increment" -> (q124 _),
    "q125_bloom_index_increment" -> (q125 _),
    "q65_repetition_signals" -> (q65 _),
    "q66_pii_redact" -> (q66 _),
    "q67_decontaminate" -> (q67 _),
    "q68_recursive_sql" -> (q68 _),
    "q69_semantic_dedup" -> (q69 _),
    "q70_funnel" -> (q70 _),
    "q71_cohort_retention" -> (q71 _),
    "q72_vocab_topk" -> (q72 _),
    "q73_distinctive_terms" -> (q73 _),
    "q74_transition_matrix" -> (q74 _),
    "q75_exact_outliers" -> (q75 _),
    "q76_funnel_latency" -> (q76 _),
    "q77_zorder_key" -> (q77 _))

  val oracle: Map[String, String] = Map(
    "q114_source_cap" -> q114Sql,
    "q116_bloom_decontaminate" -> q116Sql,
    "q118_corpus_drift" -> q118Sql,
    "q119_heavy_hitters" -> q119Sql,
    "q137_kmv_distinct" -> q137Sql,
    "q194_kmv_jaccard" -> q194Sql,
    "q124_hh_increment" -> q119Sql,
    "q125_bloom_index_increment" -> q116Sql,
    "q65_repetition_signals" -> q65Sql,
    "q66_pii_redact" -> q66Sql,
    "q67_decontaminate" -> q67Sql,
    "q68_recursive_sql" -> q68Sql,
    "q69_semantic_dedup" -> q69Sql,
    "q70_funnel" -> q70Sql,
    "q71_cohort_retention" -> q71Sql,
    "q72_vocab_topk" -> q72Sql,
    "q73_distinctive_terms" -> q73Sql,
    "q74_transition_matrix" -> q74Sql,
    "q75_exact_outliers" -> q75Sql,
    "q76_funnel_latency" -> q76Sql,
    "q77_zorder_key" -> q77Sql)
}
