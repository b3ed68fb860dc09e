package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Rerank, Similarity}

/** Dedup + similarity-search operators registered as oracle-gated
  * queries over the `documents` and `embeddings` tables. Each oracle is
  * an independent DuckDB re-expression of the SAME algorithm (same
  * hash family, same blocking, same IEEE fold order), so the gate pins
  * algorithm semantics, not just row counts.
  */
object CorpusOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Shared oracle fragments (mirrors of TextFunctions/Dedup). */
  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
  private val shinglesSql =
    s"""CASE WHEN len(toks) >= 3
       |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))
       |  ELSE [array_to_string(toks, ' ')] END""".stripMargin
  private val hash60Sql = "CAST(concat('0x', substring(md5(%s), 1, 15)) AS BIGINT)"

  // ---------------------------------------------------------------- q27
  /** Exact dedup groups on the normalized content fingerprint. */
  private def q27(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
      // comma-joined id list: the driver compare cannot hash list cells
      .withColumn("member_ids", concat_ws(",", col("member_ids")))
      .orderBy(col("content_fp"))

  private val q27Sql =
    s"""SELECT content_fp, canonical_id, n_copies, member_ids FROM (
       |  SELECT content_fp, min(doc_id) AS canonical_id, count(*) AS n_copies,
       |    array_to_string(list_sort(list(doc_id)), ',') AS member_ids
       |  FROM (SELECT doc_id, md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS content_fp
       |        FROM documents)
       |  GROUP BY content_fp)
       |WHERE n_copies > 1
       |ORDER BY content_fp""".stripMargin

  // --------------------------------------------------------------- q236
  /** Corpus-wide exact LINE dedup (the C4/RefinedWeb cleaning stage,
    * [[Dedup.lineDedup]]): every distinct line survives only at its
    * first (doc, line_no) occurrence; docs are reassembled from their
    * kept lines. The driver corpus is single-line, so the wrapper
    * first re-lines each doc deterministically (10-word wrap) — both
    * engines derive the SAME lines from the text, then the oracle
    * replays the keep-first recurrence with a window over a zipped
    * unnest and rebuilds each doc with an ordered string_agg. Any
    * tie-break slip, a lost within-doc repeat, or a resequencing bug
    * in the array_sort reassembly hash-fails.
    */
  private def q236(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(relined10(t(s, dir, "documents")), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Deterministic 10-word re-lining (the corpus is single-line);
    * shared by q236/q239 and mirrored by their oracles' `r` CTE.
    */
  private def relined10(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), floor((size(words) - 1) / 10).cast("int")),
            i => array_join(slice(words, i * 10 + 1, lit(10)), " ")),
          "\n").as("text"))
  }

  private val q236Sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents WHERE length(text) > 0),
      |r AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(
      |      range(0, CAST(floor((len(words)-1)/10) AS BIGINT) + 1),
      |      i -> array_to_string(words[CAST(i*10+1 AS INTEGER) : CAST(i*10+10 AS INTEGER)], ' ')),
      |      chr(10)) AS text
      |  FROM w),
      |l AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(lines) + 1)) AS line_no,
      |    unnest(lines) AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM r)),
      |k AS (
      |  SELECT doc_id, line_no, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
      |  FROM l),
      |counts AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
      |kept AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY line_no) AS text
      |  FROM k WHERE rn = 1 GROUP BY doc_id)
      |SELECT counts.doc_id, n_lines,
      |  coalesce(n_kept, 0) AS n_kept, coalesce(kept.text, '') AS text
      |FROM counts LEFT JOIN kept USING (doc_id)
      |ORDER BY counts.doc_id""".stripMargin

  // --------------------------------------------------------------- q239
  /** INCREMENTAL line dedup (Dedup.lineDedupAgainst — the q95
    * increment discipline at q236's line granularity): day 1 = even
    * docs establish the seen-line state, day 2 = odd docs dedup
    * against that state AND keep-first within the batch. The oracle
    * replays the whole recurrence with one window ordered (day,
    * doc_id, line_no) and emits day-2 rows — a state line leaking
    * through the anti-join, a lost within-batch repeat, or a wrong
    * day boundary all hash-fail.
    */
  private def q239(s: SparkSession, dir: String): DataFrame = {
    val relined = relined10(t(s, dir, "documents"))
    val day1 = relined.filter(pmod(col("doc_id"), lit(2)) === 0)
    val day2 = relined.filter(pmod(col("doc_id"), lit(2)) === 1)
    Dedup.lineDedupAgainst(day2, "doc_id", "text", Dedup.lineState(day1, "text"))
      .orderBy(col("doc_id"))
  }

  private val q239Sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents WHERE length(text) > 0),
      |r AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(
      |      range(0, CAST(floor((len(words)-1)/10) AS BIGINT) + 1),
      |      i -> array_to_string(words[CAST(i*10+1 AS INTEGER) : CAST(i*10+10 AS INTEGER)], ' ')),
      |      chr(10)) AS text
      |  FROM w),
      |l AS (
      |  SELECT doc_id, doc_id % 2 AS day,
      |    unnest(range(1, len(lines) + 1)) AS line_no,
      |    unnest(lines) AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM r)),
      |k AS (
      |  SELECT doc_id, day, line_no, line,
      |    row_number() OVER (PARTITION BY line ORDER BY day, doc_id, line_no) AS rn
      |  FROM l),
      |counts AS (SELECT doc_id, count(*) AS n_lines FROM l WHERE day = 1 GROUP BY doc_id),
      |kept AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY line_no) AS text
      |  FROM k WHERE rn = 1 AND day = 1 GROUP BY doc_id)
      |SELECT counts.doc_id, n_lines,
      |  coalesce(n_kept, 0) AS n_kept, coalesce(kept.text, '') AS text
      |FROM counts LEFT JOIN kept USING (doc_id)
      |ORDER BY counts.doc_id""".stripMargin

  // ---------------------------------------------------------------- q28
  /** MinHash (32 hashes) + LSH (8 bands x 4 rows) near-dup pairs,
    * verified at Jaccard >= 0.5 over distinct word 3-shingles.
    */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q28Sql = {
    // poly_hash base since r12 (was md5-hash60 % P): the affine
    // signature layer supplies the mixing, the base hash only needs
    // distinctness — see Dedup.minhashLshPairs scaladoc
    val ph = graft.functions.TextFunctions.polyHashSql.format("x", "x")
    val sig = (0 until 32).map(k =>
      s"list_min(list_transform(hs, h -> (h * ${graft.operators.Dedup.hashA(k)} + ${graft.operators.Dedup.hashB(k)}) % ${graft.operators.Dedup.P}))")
      .mkString("[", ",\n      ", "]")
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM tk),
       |hs AS (SELECT doc_id, sh, list_transform(sh, x -> $ph) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh, $sig AS sig FROM hs),
       |bands AS (
       |  SELECT doc_id, sh, b.b AS band,
       |    md5(array_to_string(sig[b.b*4+1 : b.b*4+4], '|')) AS bh
       |  FROM sig, (SELECT unnest(range(0, 8)) AS b) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, floor(jr * 1e6) / 1e6 AS jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jr
       |  FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id
       |            JOIN sh sb ON cand.doc_b = sb.doc_id)
       |WHERE jr >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------------- q149
  /** Dedup-quality report (Dedup.minhashLshEval) — q28's exact config
    * evaluated against unblocked ground truth: n_true (all pairs with
    * exact shingle-Jaccard ≥ 0.5), n_cand (LSH band collisions),
    * n_hit, recall_ppm, cand_precision_ppm. The oracle rebuilds BOTH
    * sides — the pairwise truth and the full minhash/band chain — so
    * the gate pins the S-curve numbers the banding is tuned against.
    *
    * Run on the FIXED 500-doc sample the operator's own scale
    * contract prescribes (the truth side is deliberately O(n²);
    * unsampled at sf0.1 the pairwise join alone costs ~10 min — the
    * eval's cost must not scale with the corpus, only with the sample).
    */
  private def q149(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashLshEval(
      t(s, dir, "documents").filter(col("doc_id") < 500),
      "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.5)

  private val q149Sql = {
    val ph = graft.functions.TextFunctions.polyHashSql.format("x", "x")
    val sig = (0 until 32).map(k =>
      s"list_min(list_transform(hs, h -> (h * ${graft.operators.Dedup.hashA(k)} + ${graft.operators.Dedup.hashB(k)}) % ${graft.operators.Dedup.P}))")
      .mkString("[", ",\n      ", "]")
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents
       |       WHERE doc_id < 500),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM tk),
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5),
       |hs AS (SELECT doc_id, list_transform(sh, x -> $ph) AS hs FROM sh),
       |sigt AS (SELECT doc_id, $sig AS sig FROM hs),
       |bands AS (
       |  SELECT doc_id, b.b AS band,
       |    md5(array_to_string(sig[b.b*4+1 : b.b*4+4], '|')) AS bh
       |  FROM sigt, (SELECT unnest(range(0, 8)) AS b) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |hit AS (SELECT cand.doc_a, cand.doc_b FROM cand
       |        JOIN truth ON truth.doc_a = cand.doc_a AND truth.doc_b = cand.doc_b),
       |c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       |        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
       |        (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
       |SELECT n_true, n_cand, n_hit,
       |  CAST(CASE WHEN n_true = 0 THEN 1000000
       |       ELSE (n_hit * 1000000) // n_true END AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN n_cand = 0 THEN 1000000
       |       ELSE (n_hit * 1000000) // n_cand END AS BIGINT) AS cand_precision_ppm
       |FROM c""".stripMargin
  }

  // ---------------------------------------------------------------- q29
  /** SimHash(60-bit) near-dup pairs at hamming <= 3 via 4-chunk
    * blocking (lossless by pigeonhole). The oracle computes the
    * UNblocked pairwise answer — equality proves the blocking exact.
    */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        chunks = 4, maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b"))

  private val q29Sql = {
    val h60 = hash60Sql.format("t2")
    s"""WITH sim AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j -> CASE WHEN
       |      coalesce(list_sum(list_transform(toks, t2 -> CASE WHEN ($h60 >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sh
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q30
  /** Char-trigram Jaccard near-dup pairs blocked by language. 0.75 sits
    * in the empty band between the planted near-dups (>=0.8) and the
    * shared-vocabulary background (<0.7 at every sf).
    */
  private def q30(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockCol = "lang", threshold = 0.75)
      .orderBy(col("doc_a"), col("doc_b"))

  // Oracle computes the UNpruned pairwise answer over the same hashed
  // gram sets — equality proves the engine's size-ratio prune lossless.
  private val q30Sql = {
    // poly_hash since r12 (was md5-hash60): ~10M grams at sf0.1 made
    // this the sweep's md5 hot spot; the code-point fold mirrors exactly
    val ph = graft.functions.TextFunctions.polyHashSql.format("x", "x")
    s"""WITH g AS (
       |  SELECT lang, doc_id, g, len(g) AS n FROM (
       |    SELECT lang, doc_id,
       |      list_distinct(list_transform(
       |        CASE WHEN length(text) >= 3
       |          THEN list_distinct(list_transform(range(1, length(text) - 1),
       |            i -> substring(lower(text), CAST(i AS INTEGER), 3)))
       |          ELSE [lower(text)] END,
       |        x -> $ph)) AS g
       |    FROM documents))
       |SELECT doc_a, doc_b, floor(jr * 1e6) / 1e6 AS jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |      / (a.n + b.n - CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)) AS jr
       |  FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
       |WHERE jr >= 0.75
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q31
  /** Embedding near-dup: top-20 most-similar vector pairs among banded
    * sign-LSH candidates (8 bands x 8 sign bits), exact cosine verify.
    * The oracle mirrors the identical blocking (q33/q69 precedent), so
    * equality pins band keys, candidate set, and the IEEE cosine fold.
    */
  private def q31(s: SparkSession, dir: String): DataFrame =
    Similarity.blockedTopPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      n = 20, bands = 8, bitsPerBand = 8)

  /** Norm precomputed per vector (mirrors Similarity.prepped): cosine
    * is dot/(nrm_a*nrm_b), NOT dot/sqrt(na*nb) — the factored form both
    * engines must share for bit-identical IEEE results.
    */
  private val embCte =
    "SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
  private val cosSql = "(list_dot_product(%s.v, %s.v) / (%s.nrm * %s.nrm))"

  private val q31Sql = {
    // band key: sign bits of components [band*8, band*8+8) — DuckDB
    // lists are 1-indexed, matching Spark's element_at
    val bkey = (0 until 8).map(d =>
      s"(CASE WHEN v[bb.band*8 + ${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")
    s"""WITH e AS ($embCte),
       |sig AS (
       |  SELECT vec_id, bb.band AS band, $bkey AS bkey
       |  FROM e, (SELECT unnest(range(0, 8)) AS band) bb),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM sig x JOIN sig y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
       |SELECT vec_a, vec_b, round(cos, 9) AS cosine FROM (
       |  SELECT vec_a, vec_b,
       |    (list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) AS cos
       |  FROM cand JOIN e a ON cand.vec_a = a.vec_id
       |            JOIN e b ON cand.vec_b = b.vec_id)
       |ORDER BY cos DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q32
  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q32Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    s"""WITH e AS ($embCte)
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $cos AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q241
  /** Int8 scalar quantization (Similarity.scalarQuantize) — SQ8, the
    * standard ANN compression next to PQ: per-dimension min/max
    * calibration, floor-bucketed codes, bucket-center reconstruction.
    * The oracle recomputes the calibration, every code, and the
    * array-order L1 reconstruction error (left fold — the VecDot /
    * list_reduce pairing) in DuckDB; a swapped dimension, an
    * off-by-one bucket edge (v = max must code 255), or a fold-order
    * slip in the error sum all hash-fail.
    */
  private def q241(s: SparkSession, dir: String): DataFrame =
    Similarity.scalarQuantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("code_sum"), col("code_min"),
        col("code_max"), col("err"))
      .orderBy(col("vec_id"))

  private val q241Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT vec_id, unnest(range(1, len(v)+1)) AS pos, unnest(v) AS val FROM e),
      |calrows AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM x GROUP BY pos),
      |cal AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM calrows),
      |c AS (
      |  SELECT vec_id, v, mns, mxs,
      |    list_transform(range(1, len(v)+1), i ->
      |      CASE WHEN mxs[CAST(i AS INTEGER)] = mns[CAST(i AS INTEGER)] THEN 0
      |           WHEN v[CAST(i AS INTEGER)] >= mxs[CAST(i AS INTEGER)] THEN 255
      |           ELSE CAST(floor((v[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) * 255
      |                     / (mxs[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)])) AS INTEGER)
      |      END) AS cds
      |  FROM e, cal)
      |SELECT vec_id,
      |  CAST(list_sum(cds) AS BIGINT) AS code_sum,
      |  CAST(list_min(cds) AS INTEGER) AS code_min,
      |  CAST(list_max(cds) AS INTEGER) AS code_max,
      |  round(list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(range(1, len(v)+1), i ->
      |      abs(v[CAST(i AS INTEGER)] - (mns[CAST(i AS INTEGER)]
      |        + (cds[CAST(i AS INTEGER)] + 0.5)
      |          * (mxs[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) / 255)))),
      |    (a, b) -> a + b), 9) AS err
      |FROM c
      |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q242
  /** SQ8 asymmetric retrieval (Similarity.sq8TopK) with a row-level
    * exact-membership report — the q241 codes searched, closing the
    * SQ8 loop the way q228 closed IVF-PQ's: corpus vectors live only
    * as int8 codes, reconstructed at bucket centers at scan time and
    * scored against full-precision queries; each top-5 row carries
    * whether it also appears in the EXACT top-5. The oracle replays
    * calibration, codes, reconstruction, both rankings, and the
    * membership join.
    */
  private def q242(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val sq8 = Similarity.sq8TopK(emb.filter(col("vec_id") < 10), emb,
      "vec_id", "embedding", k = 5)
    val exact = Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    sq8.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"),
        coalesce(col("hit"), lit(false)).as("in_exact"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q242Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    val code = """CASE WHEN mxs[CAST(i AS INTEGER)] = mns[CAST(i AS INTEGER)] THEN 0
      |           WHEN v[CAST(i AS INTEGER)] >= mxs[CAST(i AS INTEGER)] THEN 255
      |           ELSE CAST(floor((v[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) * 255
      |                     / (mxs[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)])) AS INTEGER)
      |      END""".stripMargin
    s"""WITH e AS ($embCte),
       |calrows AS (
       |  SELECT pos, min(val) AS mn, max(val) AS mx FROM (
       |    SELECT unnest(range(1, len(v)+1)) AS pos, unnest(v) AS val FROM e)
       |  GROUP BY pos),
       |cal AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM calrows),
       |rr AS (
       |  SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS rn FROM (
       |    SELECT vec_id,
       |      list_transform(range(1, len(v)+1), i ->
       |        mns[CAST(i AS INTEGER)] + (($code) + 0.5)
       |          * (mxs[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) / 255) AS rv
       |    FROM e, cal)),
       |sq8 AS (
       |  SELECT query_id, neighbor_id, rank, cos8 FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      (list_dot_product(q.v, c.rv) / (q.nrm * c.rn)) AS cos8,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY (list_dot_product(q.v, c.rv) / (q.nrm * c.rn)) DESC, c.vec_id) AS rank
       |    FROM e q JOIN rr c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE rank <= 5),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |    FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE rank <= 5)
       |SELECT s.query_id, s.neighbor_id, s.rank, round(s.cos8, 9) AS cosine,
       |  t.query_id IS NOT NULL AS in_exact
       |FROM sq8 s LEFT JOIN ex t
       |  ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
       |ORDER BY s.query_id, s.rank""".stripMargin
  }

  // --------------------------------------------------------------- q245
  /** SQ8 frozen-calibration increment
    * (Similarity.scalarQuantizeFrozen) — the O(delta) append path of
    * a production SQ8 index and the DSIR frozen-model discipline
    * applied to quantization: day 1 (even vec_ids) publishes the
    * per-dimension calibration; day 2 (odd) encodes against it
    * WITHOUT touching corpus statistics, out-of-range components
    * clamping to the edge buckets and counted per vector (n_clipped,
    * the re-calibrate drift signal). The oracle freezes the same
    * day-1 table and replays every clamp.
    */
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (mns, mxs) = Similarity.sq8Calibrate(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding")
    Similarity.scalarQuantizeFrozen(
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding", mns, mxs)
      .select(col("vec_id"), col("code_sum"), col("code_min"),
        col("code_max"), col("n_clipped"))
      .orderBy(col("vec_id"))
  }

  private val q245Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |calrows AS (
      |  SELECT pos, min(val) AS mn, max(val) AS mx FROM (
      |    SELECT unnest(range(1, len(v)+1)) AS pos, unnest(v) AS val
      |    FROM e WHERE vec_id % 2 = 0)
      |  GROUP BY pos),
      |cal AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM calrows),
      |c AS (
      |  SELECT vec_id, v, mns, mxs,
      |    list_transform(range(1, len(v)+1), i ->
      |      CASE WHEN mxs[CAST(i AS INTEGER)] = mns[CAST(i AS INTEGER)] THEN 0
      |           WHEN v[CAST(i AS INTEGER)] < mns[CAST(i AS INTEGER)] THEN 0
      |           WHEN v[CAST(i AS INTEGER)] >= mxs[CAST(i AS INTEGER)] THEN 255
      |           ELSE CAST(floor((v[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) * 255
      |                     / (mxs[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)])) AS INTEGER)
      |      END) AS cds
      |  FROM e, cal WHERE vec_id % 2 = 1)
      |SELECT vec_id,
      |  CAST(list_sum(cds) AS BIGINT) AS code_sum,
      |  CAST(list_min(cds) AS INTEGER) AS code_min,
      |  CAST(list_max(cds) AS INTEGER) AS code_max,
      |  CAST(list_sum(list_transform(range(1, len(v)+1), i ->
      |    CASE WHEN v[CAST(i AS INTEGER)] < mns[CAST(i AS INTEGER)]
      |           OR v[CAST(i AS INTEGER)] > mxs[CAST(i AS INTEGER)] THEN 1 ELSE 0 END))
      |    AS BIGINT) AS n_clipped
      |FROM c
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Sign-LSH bucketed ANN: 6-bit bucket from component signs, top-3
    * within bucket for query vectors vec_id < 50.
    */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, bits = 6)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q33Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    val bucket = (0 until 6).map(d =>
      s"(CASE WHEN v[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM ($embCte))
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $cos AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 50)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q99
  /** Multi-probe sign-LSH ANN: q33's bucketed search plus the 6
    * QUERY-DIRECTED nearest perturbed buckets (Lv et al. boundary-
    * distance ordering over 1- and 2-bit flips; 7 probes at 6 bits) —
    * the standard recall lever that re-hashes nothing (only the
    * broadcast query side fans out). Same query set and k as q33 so
    * the two rows gate the single- vs multi-probe candidate sets
    * side by side.
    */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshMultiProbeTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 3, bits = 6)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Query-directed multi-probe expansion (mirrors
    * [[Similarity.lshMultiProbeTopK]]): every 1-bit and 2-bit flip
    * scored by sum of squared NORMALIZED boundary distances (for
    * axis-aligned sign hashes, |v[d]|/nrm is bit d's boundary
    * distance) plus a 1/dim penalty per extra flipped bit (the
    * Bernoulli log2 ceiling at isotropic scale), lowest 6 by
    * (score, mask) probed alongside the home bucket — same b+1 probe
    * budget as exhaustive 1-bit flipping. Score terms are written
    * (vi/nrm)*(vi/nrm) + (vj/nrm)*(vj/nrm) + 1.0/len(v) so DuckDB's
    * IEEE arithmetic matches Spark's operation-for-operation.
    */
  private def multiProbeQpCtes(maxId: Int): String = {
    def u2(d: Int) = s"(v[${d + 1}]/nrm)*(v[${d + 1}]/nrm)"
    val all = (0 until 6).map(d => (u2(d), 1 << d)) ++
      (for { i <- 0 until 6; j <- i + 1 until 6 }
        yield (s"${u2(i)} + ${u2(j)} + 1.0/len(v)", (1 << i) | (1 << j)))
    s"""pert AS (
       |  SELECT vec_id, bucket,
       |    unnest([${all.map(_._1).mkString(", ")}]) AS score,
       |    unnest([${all.map(_._2).mkString(", ")}]) AS mask
       |  FROM e WHERE vec_id < $maxId),
       |sel AS (
       |  SELECT vec_id, xor(bucket, mask) AS probe
       |  FROM (SELECT vec_id, bucket, mask,
       |          row_number() OVER (PARTITION BY vec_id ORDER BY score, mask) AS pr
       |        FROM pert)
       |  WHERE pr <= 6),
       |qp AS (
       |  SELECT e.vec_id, e.v, e.nrm, pp.probe
       |  FROM (SELECT vec_id, probe FROM sel
       |        UNION ALL SELECT vec_id, bucket FROM e WHERE vec_id < $maxId) pp
       |  JOIN e ON pp.vec_id = e.vec_id)""".stripMargin
  }

  private val q99Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    val bucket = (0 until 6).map(d =>
      s"(CASE WHEN v[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM ($embCte)),
       |${multiProbeQpCtes(50)},
       |cand AS (
       |  SELECT DISTINCT qp.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qp JOIN e c ON qp.probe = c.bucket AND qp.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine FROM (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    $cos AS cosine,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY $cos DESC, cand.neighbor_id) AS rank
       |  FROM cand JOIN e q ON cand.query_id = q.vec_id
       |            JOIN e c ON cand.neighbor_id = c.vec_id)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q100
  /** ANN recall report — the evaluation surface a production pipeline
    * runs to monitor index quality: recall@3 of three ANN methods
    * (single-bucket LSH, multi-probe LSH, IVF on the fixed 16-vector
    * quantizer) against the exact cosine scan, for queries vec_id <
    * 20. Everything is composed from already-gated operators, so the
    * row gates the COMPOSITION: the exact baseline, each method's
    * candidate semantics, and the hit-counting join. Counts are exact
    * integers; the one derived ratio is floor-truncated (the q24/q28
    * tie-free idiom).
    */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
      .select(col("query_id"), col("neighbor_id"))
    def recallRow(method: String, ann: DataFrame): DataFrame =
      ann.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"),
          lit(60L).as("n_expected")) // 20 queries x k=3
    recallRow("ivf_16",
        Similarity.ivfTopK(q, emb, emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 3))
      .union(recallRow("lsh_multiprobe",
        Similarity.lshMultiProbeTopK(q, emb, "vec_id", "embedding", k = 3, bits = 6)))
      .union(recallRow("lsh_single",
        Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 3, bits = 6)))
      .withColumn("recall",
        floor(col("n_hits").cast("double") / col("n_expected") * lit(1e6)) / lit(1e6))
      .orderBy(col("method"))
  }

  private val q100Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    val cosQC = cosSql.format("q", "c", "q", "c")
    val bucket = (0 until 6).map(d =>
      s"(CASE WHEN v[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM ($embCte)),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS r
       |    FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 20)
       |  WHERE r <= 3),
       |single AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS r
       |    FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE r <= 3),
       |${multiProbeQpCtes(20)},
       |mcand AS (
       |  SELECT DISTINCT qp.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qp JOIN e c ON qp.probe = c.bucket AND qp.vec_id <> c.vec_id),
       |multi AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT mcand.query_id, mcand.neighbor_id,
       |      row_number() OVER (PARTITION BY mcand.query_id ORDER BY $cos DESC, mcand.neighbor_id) AS r
       |    FROM mcand JOIN e q ON mcand.query_id = q.vec_id
       |               JOIN e c ON mcand.neighbor_id = c.vec_id)
       |  WHERE r <= 3),
       |cent AS (SELECT vec_id AS centroid_id, v AS centv, nrm AS centn FROM e WHERE vec_id < 16),
       |assigned AS (
       |  SELECT vec_id, v, nrm, centroid_id AS cluster FROM (
       |    SELECT e.vec_id, e.v, e.nrm, cent.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        (list_dot_product(e.v, cent.centv) / (e.nrm * cent.centn)) DESC,
       |        cent.centroid_id) AS c_rank
       |    FROM e, cent)
       |  WHERE c_rank = 1),
       |ivf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosQC DESC, c.vec_id) AS r
       |    FROM assigned q JOIN assigned c
       |      ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE r <= 3),
       |u AS (
       |  SELECT 'ivf_16' AS method, count(*) AS n_hits
       |  FROM ivf JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh_multiprobe', count(*)
       |  FROM multi JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh_single', count(*)
       |  FROM single JOIN exact USING (query_id, neighbor_id))
       |SELECT method, CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(60 AS BIGINT) AS n_expected,
       |  floor(CAST(n_hits AS DOUBLE) / 60 * 1e6) / 1e6 AS recall
       |FROM u
       |ORDER BY method""".stripMargin
  }

  // ---------------------------------------------------------------- q41
  /** IVF-lite ANN: 16 coarse centroids (the first 16 corpus vectors —
    * a deterministic stand-in for a trained k-means codebook), nearest-
    * centroid inverted lists, nprobe=1, top-3 within list for queries
    * vec_id < 50.
    */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(
        emb.filter(col("vec_id") < 50), emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q41Sql = {
    val cosQC = cosSql.format("q", "c", "q", "c")
    s"""WITH e AS ($embCte),
       |cent AS (SELECT vec_id AS centroid_id, v AS centv, nrm AS centn FROM e WHERE vec_id < 16),
       |assigned AS (
       |  SELECT vec_id, v, nrm, centroid_id AS cluster FROM (
       |    SELECT e.vec_id, e.v, e.nrm, cent.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        (list_dot_product(e.v, cent.centv) / (e.nrm * cent.centn)) DESC,
       |        cent.centroid_id) AS c_rank
       |    FROM e, cent)
       |  WHERE c_rank = 1)
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $cosQC AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosQC DESC, c.vec_id) AS rank
       |  FROM assigned q JOIN assigned c
       |    ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 50)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  /** Near-dup pairs -> dedup clusters: connected components over the
    * q28 MinHash pair graph, one row per multi-member cluster with the
    * canonical (minimum) doc id and sorted members. Oracle rebuilds the
    * transitive closure with a recursive CTE — an independent
    * fixpoint formulation of the same components.
    */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", sort_array(collect_list(col("doc")))).as("member_ids"))
      .orderBy(col("cluster"))
  }

  private val q49Sql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach AS (
       |  SELECT n, n AS r FROM nodes
       |  UNION
       |  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON reach.n = e.a)
       |SELECT cluster, count(*) AS n_members,
       |  array_to_string(list_sort(list(doc)), ',') AS member_ids
       |FROM (SELECT n AS doc, min(r) AS cluster FROM reach GROUP BY n)
       |GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  // --------------------------------------------------------------- q181
  /** Leakage-safe split (Dedup.leakageSafeSplit): the q49 near-dup
    * clusters assign train/holdout at CLUSTER granularity — a
    * component's members all inherit the canonical rep's seeded coin
    * flip (20% ppm here), so paraphrase pairs can never straddle the
    * eval boundary and inflate scores. The oracle rebuilds the
    * transitive closure (q49's recursive fixpoint), derives each
    * doc's rep, and recomputes the md5-ppm flip per DOC — any member
    * diverging from its rep would hash-fail the gate, which is the
    * leakage invariant itself.
    */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    Dedup.leakageSafeSplit(docs, "doc_id", comps, seed = 11L,
        holdoutPpm = 200000L)
      .orderBy(col("doc_id"))
  }

  private val q181Sql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach AS (
       |  SELECT n, n AS r FROM nodes
       |  UNION
       |  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON reach.n = e.a),
       |cl AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n)
       |SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS rep,
       |  (CAST(concat('0x', substring(
       |     md5('clsplit|11|' || coalesce(cl.cluster, d.doc_id)), 1, 15))
       |   AS BIGINT) % 1000000 < 200000) AS holdout
       |FROM documents d LEFT JOIN cl USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** The dedup END TO END: pairs -> components -> remove non-canonical
    * members -> per-language corpus budget of what remains. This is
    * the operation a curation pipeline actually ships; q28/q49 gate
    * its stages, this gates the application.
    */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    Dedup.removeDuplicates(docs, "doc_id", clusters)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .orderBy(col("lang"))
  }

  private val q58Sql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach AS (
       |  SELECT n, n AS r FROM nodes
       |  UNION
       |  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON reach.n = e.a),
       |drops AS (SELECT doc FROM (SELECT n AS doc, min(r) AS cluster FROM reach GROUP BY n)
       |          WHERE doc <> cluster)
       |SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc FROM drops)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q189
  /** Keep-BEST dedup apply (Dedup.removeDuplicatesKeepBest): q58's
    * end-to-end dedup with the survivor rule curation pipelines
    * actually ship — per near-dup cluster keep the LONGEST member
    * (ties to the smallest id), not the arbitrary min-id canonical,
    * which on a crawl means "whichever mirror enumerated first",
    * often the worst copy. Budget per language plus a sum-of-ids
    * checksum so the gate pins WHICH documents survived, not just how
    * many. Oracle: the q49 transitive closure + an independent
    * (length DESC, id) row_number election per cluster.
    */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    Dedup.removeDuplicatesKeepBest(
        docs.withColumn("len", length(col("text"))), "doc_id", clusters, "len")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).cast("long").as("n_chars"),
        sum(col("doc_id")).cast("long").as("sum_id"))
      .orderBy(col("lang"))
  }

  private val q189Sql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach AS (
       |  SELECT n, n AS r FROM nodes
       |  UNION
       |  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON reach.n = e.a),
       |mem AS (SELECT n AS doc, min(r) AS cluster FROM reach GROUP BY n),
       |sc AS (SELECT mem.doc, mem.cluster, length(d.text) AS s
       |       FROM mem JOIN documents d ON d.doc_id = mem.doc),
       |best AS (SELECT doc FROM (
       |    SELECT doc, row_number() OVER (
       |      PARTITION BY cluster ORDER BY s DESC, doc) AS rn
       |    FROM sc) WHERE rn = 1),
       |drops AS (SELECT doc FROM sc WHERE doc NOT IN (SELECT doc FROM best))
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc FROM drops)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q215
  /** Temperature-scaled mixture quotas (τ = 1/2, the multilingual
    * sampling rule of Arivazhagan et al. 2019): big sources must not
    * drown small ones, so sampling weight ∝ size^τ — here the INTEGER
    * sqrt of each source's token count (floor(sqrt(n)) is exact for
    * BIGINT under 2⁵³: correctly-rounded double sqrt of an exact
    * square is exact, and floors right elsewhere) — then 10 000
    * training slots apportion by the exact Hamilton rule (q168's
    * operator: Σslots ≡ budget, largest remainders break ties). The
    * oracle re-derives isqrt, quotas, remainders, and the ranked
    * bonus slots.
    */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tok = docs.select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .withColumn("w", expr(
        "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    graft.operators.LinkGraph.apportionBudget(tok, "source", "w", budget = 10000L)
      .select(col("source"), col("n_tokens"), col("w"), col("slots"))
      .orderBy(col("source"))
  }

  private val q215Sql =
    s"""WITH tk AS (SELECT source,
       |    CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
       |a AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens FROM tk GROUP BY source),
       |w AS (SELECT source, n_tokens,
       |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
       |      FROM a),
       |t AS (SELECT sum(w) AS tot FROM w),
       |b AS (SELECT source, n_tokens, w,
       |        (10000 * w) // t.tot AS base,
       |        (10000 * w) % t.tot AS rem
       |      FROM w CROSS JOIN t),
       |l AS (SELECT CAST(10000 - sum(base) AS BIGINT) AS leftover FROM b),
       |r AS (SELECT b.*, l.leftover,
       |        row_number() OVER (ORDER BY rem DESC, source) AS rn
       |      FROM b CROSS JOIN l)
       |SELECT source, n_tokens, w,
       |  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS slots
       |FROM r
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q213
  /** Dedup threshold-tuning curve — the report a curator reads before
    * picking the q58 cut: ONE low-threshold LSH+verify pass (0.3) and
    * thresholds placed INSIDE the corpus's observed similarity band
    * (the planted near-dups all land 0.90–0.99, verified — thresholds
    * under 0.90 would gate a flat curve) so the report separates; and
    * per candidate threshold {0.90, 0.96, 0.98, 0.99} the surviving pair
    * count and the documents covered. The pair set is computed once;
    * the curve is two grouped aggregates against a 4-row broadcast
    * threshold frame (range-joined — the deliberate tiny-side
    * nest-loop class). Oracle rebuilds the full minhash/band/verify
    * chain at 0.3 and re-derives both curve columns.
    */
  private def q213(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3)
      .withColumn("j_ppm", round(col("jaccard") * 1e6).cast("long"))
    val th = Seq(900000L, 960000L, 980000L, 990000L).toDF("threshold_ppm")
    val pc = broadcast(th)
      .join(pairs, col("j_ppm") >= col("threshold_ppm"), "left")
      .groupBy(col("threshold_ppm"))
      .agg(count(col("doc_a")).as("n_pairs"))
    val ed = pairs.select(col("j_ppm"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc"))
    val dc = broadcast(th)
      .join(ed, col("j_ppm") >= col("threshold_ppm"), "left")
      .groupBy(col("threshold_ppm"))
      .agg(count_distinct(col("doc")).as("n_docs"))
    pc.join(dc, Seq("threshold_ppm")).orderBy(col("threshold_ppm"))
  }

  private val q213Sql = {
    val ph = graft.functions.TextFunctions.polyHashSql.format("x", "x")
    val sig = (0 until 32).map(k =>
      s"list_min(list_transform(hs, h -> (h * ${graft.operators.Dedup.hashA(k)} + ${graft.operators.Dedup.hashB(k)}) % ${graft.operators.Dedup.P}))")
      .mkString("[", ",\n      ", "]")
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM tk),
       |hs AS (SELECT doc_id, sh, list_transform(sh, x -> $ph) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh, $sig AS sig FROM hs),
       |bands AS (
       |  SELECT doc_id, sh, b.b AS band,
       |    md5(array_to_string(sig[b.b*4+1 : b.b*4+4], '|')) AS bh
       |  FROM sig, (SELECT unnest(range(0, 8)) AS b) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |jac AS (SELECT doc_a, doc_b, CAST(floor(jr * 1e6) AS BIGINT) AS j_ppm
       |  FROM (
       |    SELECT doc_a, doc_b,
       |      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |        / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jr
       |    FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id
       |              JOIN sh sb ON cand.doc_b = sb.doc_id)
       |  WHERE jr >= 0.3),
       |th AS (SELECT unnest([900000, 960000, 980000, 990000]) AS threshold_ppm),
       |pc AS (SELECT th.threshold_ppm,
       |         CAST(count(jac.doc_a) AS BIGINT) AS n_pairs
       |       FROM th LEFT JOIN jac ON jac.j_ppm >= th.threshold_ppm
       |       GROUP BY 1),
       |ed AS (SELECT j_ppm, doc_a AS doc FROM jac
       |       UNION ALL SELECT j_ppm, doc_b FROM jac),
       |dc AS (SELECT th.threshold_ppm,
       |         CAST(count(DISTINCT ed.doc) AS BIGINT) AS n_docs
       |       FROM th LEFT JOIN ed ON ed.j_ppm >= th.threshold_ppm
       |       GROUP BY 1)
       |SELECT CAST(pc.threshold_ppm AS BIGINT) AS threshold_ppm,
       |  pc.n_pairs, dc.n_docs
       |FROM pc JOIN dc USING (threshold_ppm)
       |ORDER BY threshold_ppm""".stripMargin
  }

  // --------------------------------------------------------------- q212
  /** Priority sampling (Export.prioritySample — Duffield, Lund &
    * Thorup 2007): a deterministic weighted-without-replacement
    * sample of 100 documents with inclusion ∝ n_chars — the
    * mixture/eval downsampling rule rand() can't replay. Priority =
    * seeded 52-bit hash DIV weight, k smallest win (ties to smaller
    * id); the bounded TopK aggregator replaces the global sort. The
    * oracle re-derives every priority and the row_number cut.
    */
  private def q212(s: SparkSession, dir: String): DataFrame =
    graft.sources.Export.prioritySample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100, seed = 7L)
      .select(col("doc_id"), col("n_chars"), col("priority"))
      .orderBy(col("doc_id"))

  private val q212Sql =
    """WITH pri AS (SELECT doc_id, n_chars,
      |    (CAST(concat('0x', substring(md5('psample|7|' || doc_id), 1, 15))
      |       AS BIGINT) % 4503599627370496)
      |      // greatest(n_chars, 1) AS p
      |  FROM documents),
      |r AS (SELECT doc_id, n_chars, p,
      |        row_number() OVER (ORDER BY p, doc_id) AS rn FROM pri)
      |SELECT doc_id, n_chars, CAST(p AS BIGINT) AS priority
      |FROM r WHERE rn <= 100
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q207
  /** Content-defined chunking (Dedup.cdcChunks, the FastCDC/LBFS rule
    * at token level): chunk boundaries decided by token-hash content,
    * so edits shift ONE chunk and every later chunk re-aligns — the
    * substrate of storage dedup and edit-robust RAG chunking. One row
    * per chunk with its order-exact content hash; the oracle
    * re-derives the boundary flags, the running chunk assignment, and
    * every chunk hash independently (same seeded-md5 family as
    * q98/q132).
    */
  private def q207(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text", avgSize = 16)
      .orderBy(col("doc"), col("chunk"))

  private val q207Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tkp AS (SELECT doc_id, unnest(toks) AS term,
       |          generate_subscripts(toks, 1) AS pos FROM tk),
       |f AS (SELECT doc_id, term, pos,
       |    CASE WHEN CAST(concat('0x', substring(md5('cdc|' || term), 1, 15))
       |           AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END AS b
       |  FROM tkp),
       |c AS (SELECT doc_id, term, pos,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS chunk
       |  FROM f)
       |SELECT doc_id AS doc, CAST(chunk AS BIGINT) AS chunk,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_md5
       |FROM c
       |GROUP BY doc_id, chunk
       |ORDER BY doc, chunk""".stripMargin

  // --------------------------------------------------------------- q166
  /** Dedup audit (Dedup.dedupAudit): the cluster-size distribution of
    * the q49 component graph — per size the cluster count and docs
    * covered, plus the singleton row (corpus docs in no near-dup
    * pair) derived as the complement count. The report a curation run
    * prints next to its removal totals; the oracle rebuilds the
    * transitive closure (q49's recursive CTE) and the histogram
    * independently.
    */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    Dedup.dedupAudit(docs, "doc_id", clusters).orderBy(col("n_members"))
  }

  private val q166Sql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach AS (
       |  SELECT n, n AS r FROM nodes
       |  UNION
       |  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON reach.n = e.a),
       |cl AS (SELECT n AS doc, min(r) AS cluster FROM reach GROUP BY n),
       |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
       |          FROM cl GROUP BY 1),
       |multi AS (SELECT n_members, CAST(count(*) AS BIGINT) AS n_clusters
       |          FROM sizes GROUP BY 1),
       |single AS (SELECT CAST(1 AS BIGINT) AS n_members,
       |             CAST((SELECT count(*) FROM documents) -
       |                  (SELECT count(*) FROM cl) AS BIGINT) AS n_clusters)
       |SELECT n_members, n_clusters,
       |  CAST(n_members * n_clusters AS BIGINT) AS n_docs
       |FROM (SELECT * FROM multi
       |      UNION ALL SELECT * FROM single WHERE n_clusters > 0)
       |ORDER BY n_members""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Substring-level exact dedup, detection half: maximal token spans
    * covered by 8-token windows occurring more than once corpus-wide
    * (Lee et al. ACL'22 suffix-array dedup, re-expressed as hash-
    * grouped windows — see Dedup.repeatedSpans). The oracle rebuilds
    * the same windows, duplicate set, and interval merge independently
    * in SQL, so the gate pins window hashing, the >=2 occurrence rule,
    * and the gaps-and-islands span union.
    */
  private def q78(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy(col("doc_id"), col("span_start"))

  private val spanCtes =
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS wh
       |  FROM tk, unnest(range(1, len(toks) - 6)) AS u(i)
       |  WHERE len(toks) >= 8),
       |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
       |f AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM w
       |      WHERE wh IN (SELECT wh FROM dup)),
       |isl AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |    THEN 1 ELSE 0 END AS ni
       |  FROM f),
       |g AS (SELECT doc_id, s, e,
       |        sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM isl),
       |spans AS (SELECT doc_id, min(s) AS span_start, max(e) AS span_end
       |          FROM g GROUP BY doc_id, grp)""".stripMargin

  private val q78Sql =
    s"""WITH $spanCtes
       |SELECT doc_id, span_start, span_end,
       |  span_end - span_start + 1 AS n_tokens
       |FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Substring-level exact dedup, removal half: per affected document,
    * tokens before, tokens removed, and the md5 fingerprint of the
    * surviving text (original token order). Gates the actual
    * token-level edit, not just span detection.
    */
  private def q79(s: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))

  /** Shared removal tail over any `spans` CTE set (q79 remove-all,
    * q94 keep-canonical): token-level edit + surviving fingerprint.
    */
  private def removalTailSql(ctes: String): String =
    s"""WITH $ctes,
       |removed AS (SELECT doc_id,
       |              CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_tokens_removed
       |            FROM spans GROUP BY doc_id),
       |covered AS (SELECT DISTINCT doc_id, p AS pos
       |            FROM spans, unnest(range(span_start, span_end + 1)) AS c(p)),
       |tokpos AS (SELECT doc_id, i AS pos, toks[i] AS tok, len(toks) AS n_before
       |           FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)),
       |surviving AS (
       |  SELECT tp.doc_id, md5(string_agg(tp.tok, ' ' ORDER BY tp.pos)) AS fp
       |  FROM tokpos tp LEFT JOIN covered c
       |    ON tp.doc_id = c.doc_id AND tp.pos = c.pos
       |  WHERE c.doc_id IS NULL
       |  GROUP BY tp.doc_id)
       |SELECT r.doc_id,
       |  CAST(nb.n_before AS BIGINT) AS n_tokens_before,
       |  r.n_tokens_removed,
       |  coalesce(s.fp, md5('')) AS cleaned_fp
       |FROM removed r
       |JOIN (SELECT doc_id, min(n_before) AS n_before FROM tokpos GROUP BY doc_id) nb
       |  ON r.doc_id = nb.doc_id
       |LEFT JOIN surviving s ON r.doc_id = s.doc_id
       |ORDER BY r.doc_id""".stripMargin

  private val q79Sql = removalTailSql(spanCtes)

  // ---------------------------------------------------------------- q94
  /** Substring dedup, keep-one-canonical-copy form (the variant a
    * TRAINING-data dedup ships — Lee et al. keep one occurrence of
    * each duplicated substring; q79's remove-all is the
    * decontamination form): the min-(doc, pos) occurrence of every
    * duplicated 8-token window is canonical and kept, all other
    * copies are removed. The oracle mirrors the canonical-selection
    * rule (row_number over (doc_id, pos) per window hash) and the
    * same removal tail, so the hash gate pins the tie-break, the
    * flag set, and the token-level edit.
    */
  private def q94(s: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSpansKeepFirst(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))

  private val spanCtesCanon =
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |w AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS wh
       |  FROM tk, unnest(range(1, len(toks) - 6)) AS u(i)
       |  WHERE len(toks) >= 8),
       |canon AS (
       |  SELECT wh, doc_id AS cdoc, pos AS cpos FROM (
       |    SELECT wh, doc_id, pos,
       |      row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS r,
       |      count(*) OVER (PARTITION BY wh) AS cnt
       |    FROM w) WHERE r = 1 AND cnt >= 2),
       |f AS (SELECT w.doc_id, w.pos AS s, w.pos + 7 AS e
       |      FROM w JOIN canon ON w.wh = canon.wh
       |      WHERE NOT (w.doc_id = canon.cdoc AND w.pos = canon.cpos)),
       |isl AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |    THEN 1 ELSE 0 END AS ni
       |  FROM f),
       |g AS (SELECT doc_id, s, e,
       |        sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM isl),
       |spans AS (SELECT doc_id, min(s) AS span_start, max(e) AS span_end
       |          FROM g GROUP BY doc_id, grp)""".stripMargin

  private val q94Sql = removalTailSql(spanCtesCanon)

  // ---------------------------------------------------------------- q91
  /** Two-stage retrieval with a FULL DuckDB oracle: stage one is the
    * sign-LSH bucketed ANN (q33's operator) over-fetching 3x
    * candidates, stage two is exactRerank — the same second stage q90
    * runs behind IVF-PQ — keeping the 3 exactly-nearest by squared L2.
    * Both stages are SQL-expressible, so unlike q90 (whose candidates
    * come from k-means training) the hash gate pins the ENTIRE
    * pipeline: candidate generation, the candidates->corpus re-attach
    * join, the exact d2 arithmetic (same expanded x·x − 2x·c + c·c
    * fold both engines), and the top-k tail's (d2, neighbor_id)
    * ordering. q90 stays as the production-shape twin (compressed
    * first pass); this row is the proof the re-rank stage is exact.
    */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
    val cand = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
      k = 9, bits = 6) // 3x over-fetch of the final k
    Similarity.exactRerank(cand, queries, emb, "vec_id", "embedding", k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q91Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    val bucket = (0 until 6).map(d =>
      s"(CASE WHEN v[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM ($embCte)),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS lsh_rank
       |    FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 50)
       |  WHERE lsh_rank <= 9),
       |exact AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_dot_product(q.v, q.v) - 2.0 * list_dot_product(q.v, c.v)
       |      + list_dot_product(c.v, c.v) AS dist
       |  FROM cand JOIN e q ON cand.query_id = q.vec_id
       |            JOIN e c ON cand.neighbor_id = c.vec_id)
       |SELECT query_id, neighbor_id, rank, round(dist, 9) AS d2 FROM (
       |  SELECT query_id, neighbor_id, dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM exact)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q92
  /** IVF-PQ probe + ADC scan with a FIXED deterministic codebook, so
    * the entire query-time path gets a DuckDB hash gate (q86's trained
    * twin is rows-only because k-means training is not
    * SQL-expressible; the q41 precedent makes the index a first-k-
    * vectors stand-in instead). Coarse centroids = the first 8 corpus
    * vectors; PQ codebooks = the first 16 corpus vectors sliced into
    * 4 x 16-dim subspaces. The gate pins: coarse assignment (rel =
    * c·c − 2 v·c, first-min tiebreak), PQ encoding (full d2, first-min
    * tiebreak), probe selection ((rel, cluster) lexicographic, nprobe
    * = 2), the ADC lookup sum in subspace order, and the (approx_d2,
    * neighbor_id) top-10 tail — every piece of [[Similarity.ivfPqScan]]
    * except the trainer that q86 exercises.
    */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // empty corpus: no codebook to collect — empty result, ANN schema
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    def firstVecs(n: Int): Array[Array[Double]] =
      emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    // route the model through a save/load round trip so the DuckDB
    // hash gate ALSO pins AnnModel persistence bit-for-bit (the
    // cross-session probe story; arrays are collected at load, so the
    // temp dir can be deleted before the scan runs)
    val modelDir = java.nio.file.Files.createTempDirectory("q92-model").toString
    graft.operators.AnnModel.save(s, modelDir, coarse, codebooks)
    val model = graft.operators.AnnModel.load(s, modelDir)
    graft.Checkpoints.deleteDir(s, modelDir)
    Similarity.ivfPqScan(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
        k = 10, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q92's full query-path SQL, parameterized over an index-side
    * predicate (`a` = the indexed corpus rows) so the q171 time-travel
    * oracle can restrict the scan to the historical sub-corpus while
    * q92/q106/q133 keep the unrestricted form verbatim.
    */
  private def q92SqlAt(corpusPred: String): String = {
    // d2 between a 16-dim slice of vector %1$s and codebook entry cv,
    // in the engine's exact association: (sv·sv − 2 sv·cv) + cv·cv
    def d2(v: String): String =
      s"list_dot_product($v[pqc.sub*16+1 : pqc.sub*16+16], $v[pqc.sub*16+1 : pqc.sub*16+16])" +
        s" - 2.0 * list_dot_product($v[pqc.sub*16+1 : pqc.sub*16+16], pqc.cv)" +
        s" + list_dot_product(pqc.cv, pqc.cv)"
    s"""WITH e AS ($embCte),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |rel AS (
       |  SELECT e.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(e.v, cent.cv) AS rel
       |  FROM e, cent),
       |assigned AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM rel) WHERE r = 1),
       |pqc AS (
       |  SELECT m.m AS sub, e.vec_id AS code, e.v[m.m*16+1 : m.m*16+16] AS cv
       |  FROM e, (SELECT unnest(range(0, 4)) AS m) m
       |  WHERE e.vec_id < 16),
       |enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT e.vec_id, pqc.sub, pqc.code,
       |      row_number() OVER (PARTITION BY e.vec_id, pqc.sub
       |        ORDER BY ${d2("e.v")}, pqc.code) AS r
       |    FROM e, pqc) WHERE r = 1),
       |encp AS (
       |  SELECT vec_id,
       |    max(CASE WHEN sub = 0 THEN code END) AS c0,
       |    max(CASE WHEN sub = 1 THEN code END) AS c1,
       |    max(CASE WHEN sub = 2 THEN code END) AS c2,
       |    max(CASE WHEN sub = 3 THEN code END) AS c3
       |  FROM enc GROUP BY vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM rel WHERE vec_id < 5) WHERE r <= 2),
       |lutv AS (
       |  SELECT q.vec_id AS query_id, pqc.sub, pqc.code, ${d2("q.v")} AS d2
       |  FROM e q, pqc WHERE q.vec_id < 5),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS approx
       |  FROM probes p
       |  JOIN assigned a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
       |    AND ($corpusPred)
       |  JOIN encp ON encp.vec_id = a.vec_id
       |  JOIN lutv l0 ON l0.query_id = p.query_id AND l0.sub = 0 AND l0.code = encp.c0
       |  JOIN lutv l1 ON l1.query_id = p.query_id AND l1.sub = 1 AND l1.code = encp.c1
       |  JOIN lutv l2 ON l2.query_id = p.query_id AND l2.sub = 2 AND l2.code = encp.c2
       |  JOIN lutv l3 ON l3.query_id = p.query_id AND l3.sub = 3 AND l3.code = encp.c3)
       |SELECT query_id, neighbor_id, rank, round(approx, 9) AS approx_d2 FROM (
       |  SELECT query_id, neighbor_id, approx,
       |    row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  private val q92Sql = q92SqlAt("TRUE")

  // ---------------------------------------------------------------- q93
  /** BPE SEGMENTATION with a FIXED merge list, oracle-gated (q89's
    * trained twin stays rows-only — iterative argmax training is not
    * SQL-expressible, but APPLYING a merge list is a deterministic
    * per-row fold). Segments every distinct corpus word with 8 pinned
    * merges applied in rank order.
    *
    * The oracle re-expresses [[graft.operators.Bpe.segment]]'s greedy
    * non-overlapping left-to-right fold as STRING REPLACE on a framed
    * double-delimiter encoding: symbols joined with `||` and the whole
    * string framed by `||`, so every symbol reads `|sym|` with one pipe
    * of slack per boundary. One merge pass (a,b)->ab is then exactly
    * `replace(s, '|a||b|', '|ab|')`: the pipe anchors stop cross-symbol
    * suffix/prefix false matches, each match consumes one pipe from
    * each side (leaving neighbors matchable — [x,a,b,a,b,x] merges
    * both pairs in one pass), and leftmost-continuing-after-replacement
    * replace semantics equal the fold's cleared-carry greedy rule
    * ("aaa" under (a,a) -> ["aa","a"] in both). The hash gate pins the
    * fold semantics themselves, not just row shape.
    */
  private val q93Merges: Seq[graft.operators.Bpe.Merge] = {
    import graft.operators.Bpe.Merge
    // pinned (not trained) list exercising: end-of-word merge, chained
    // merge of a merged symbol ("th"+"e</w>"), infix pairs, and a merge
    // whose left side is itself a merge product
    Seq(
      Merge(0, "e", "</w>", "e</w>", 0L),
      Merge(1, "t", "h", "th", 0L),
      Merge(2, "th", "e</w>", "the</w>", 0L),
      Merge(3, "i", "n", "in", 0L),
      Merge(4, "a", "n", "an", 0L),
      Merge(5, "o", "n", "on", 0L),
      Merge(6, "e", "r", "er", 0L),
      Merge(7, "in", "g", "ing", 0L))
  }

  private def q93(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .distinct()
    graft.operators.Bpe.segment(words, "word", q93Merges, "seg")
      .select(col("word"), concat_ws(" ", col("seg")).as("segments"),
        size(col("seg")).cast("long").as("n_symbols"))
      .orderBy(col("word"))
  }

  /** The q93 segmentation CTE chain (w → seg: every distinct corpus
    * word with its symbol list under the pinned merges) — shared by
    * the q93 oracle and the q167 fertility oracle verbatim.
    */
  private val q93SegCtes: String = {
    val framed =
      "'||' || array_to_string(list_append(list_transform(range(1, length(word) + 1), " +
        "i -> word[CAST(i AS INTEGER)]), '</w>'), '||') || '||'"
    val replaced = q93Merges.foldLeft(framed) { (acc, m) =>
      s"replace($acc, '|${m.left}||${m.right}|', '|${m.merged}|')"
    }
    s"""w AS (SELECT DISTINCT unnest($toksSql) AS word FROM documents),
       |seg AS (
       |  SELECT word,
       |    string_split(substring(s, 3, length(s) - 4), '||') AS syms
       |  FROM (SELECT word, $replaced AS s FROM w))""".stripMargin
  }

  private val q93Sql =
    s"""WITH $q93SegCtes
       |SELECT word, array_to_string(syms, ' ') AS segments,
       |  CAST(len(syms) AS BIGINT) AS n_symbols
       |FROM seg
       |ORDER BY word""".stripMargin

  // --------------------------------------------------------------- q167
  /** Tokenizer fertility report — the health metric a tokenizer team
    * tracks per corpus slice (pieces per word; rising fertility on a
    * new source means the vocabulary fits it badly and token budgets
    * silently shrink): q93's pinned-merge segmentation applied to the
    * DISTINCT vocabulary once, joined back onto the corpus tokens
    * WITH MULTIPLICITY, aggregated per source in exact integer ppm.
    * Scale shape: segment |vocab| words, not |corpus| tokens; the
    * join keys on the word (the corpus side's existing explode), the
    * rollup is one map-side-combined groupBy. Oracle = q93's seg CTEs
    * verbatim + an independent multiplicity join.
    */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
    val seg = graft.operators.Bpe.segment(
        toks.select(col("word")).distinct(), "word", q93Merges, "seg")
      .select(col("word"), size(col("seg")).cast("long").as("n_symbols"))
    toks.join(seg, Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_symbols")).cast("long").as("n_pieces"))
      .withColumn("fertility_ppm", expr("(n_pieces * 1000000) div n_words"))
      .orderBy(col("source"))
  }

  private val q167Sql =
    s"""WITH $q93SegCtes,
       |tk AS (SELECT source, unnest($toksSql) AS word FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(syms)) AS BIGINT) AS n_pieces,
       |  CAST((sum(len(syms)) * 1000000) // count(*) AS BIGINT) AS fertility_ppm
       |FROM tk JOIN seg USING (word)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Incremental dedup — the daily-drop production shape: docs with
    * id < 400 are the EXISTING corpus (with a prebuilt LSH band
    * index), ids >= 400 the incoming batch; survivors = batch docs
    * that do not verify at J >= 0.5 against the corpus or a
    * smaller-id batch doc (the greedy per-arrival rule — see
    * Dedup.dedupIncrement; transitive clustering is q49/q58's job).
    * The oracle derives the same drop set from the full q28 pair
    * list: a pair (a < b) drops b iff b is a batch doc — a is then
    * either corpus or a smaller batch id, exactly the rule.
    */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val existing = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)
    val index = Dedup.minhashBandIndex(existing, "doc_id", "text",
      numHashes = 32, bands = 8)
    Dedup.dedupIncrement(existing, index, incoming, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q95Sql =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |drops AS (SELECT DISTINCT doc_b AS d FROM pairs WHERE doc_b >= 400)
       |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
       |FROM documents
       |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT d FROM drops)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q101
  /** TWO consecutive daily drops with index maintenance — the full
    * production loop around q95's single increment: docs < 300 are
    * the existing corpus; [300, 400) arrive on day 1, >= 400 on day
    * 2. Day 1 runs dedupIncrementWithIndex and APPENDS the surviving
    * batch's bands (indexDelta) to the index; day 2 dedups against
    * the grown index — so a day-2 doc is dropped by a day-1 SURVIVOR
    * but NOT by a day-1 dropped doc (dropped docs never enter the
    * index). Output = survivors of both days (the corpus growth).
    * The oracle replays the same fold from the full q28 pair list.
    */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val existing = docs.filter(col("doc_id") < 300)
    val b1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val b2 = docs.filter(col("doc_id") >= 400)
    // the corpus index is read by BOTH days (day-1 candidate join,
    // day-2 index union) — build it once; in production it's a
    // parquet table, not a recomputed lineage
    val index0 = Dedup.minhashBandIndex(existing, "doc_id", "text",
      numHashes = 32, bands = 8).localCheckpoint(true)
    val r1 = Dedup.dedupIncrementWithIndex(existing, index0, b1, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    // day-boundary state: materialize once (day 2 reads survivors for
    // verify AND the final union reads them again), then free day-1's
    // internal checkpoints — releasing indexDelta covers the band
    // table and drop set both (see IncrementResult's contract)
    val surv1 = r1.survivors.localCheckpoint(true)
    val delta1 = r1.indexDelta.localCheckpoint(true)
    graft.Checkpoints.release(r1.indexDelta)
    val day2 = Dedup.dedupIncrement(
      existing.union(surv1), index0.union(delta1), b2,
      "doc_id", "text", numHashes = 32, bands = 8, threshold = 0.5)
    // dedupIncrement materializes its drop set eagerly, so the day-1
    // index state is fully consumed by the time it returns
    graft.Checkpoints.release(delta1)
    graft.Checkpoints.release(index0)
    surv1.union(day2)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q101Sql =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |b1_drop AS (SELECT DISTINCT doc_b AS d FROM pairs
       |            WHERE doc_b >= 300 AND doc_b < 400),
       |b2_drop AS (SELECT DISTINCT doc_b AS d FROM pairs
       |            WHERE doc_b >= 400 AND (
       |              doc_a < 300
       |              OR (doc_a >= 300 AND doc_a < 400
       |                  AND doc_a NOT IN (SELECT d FROM b1_drop))
       |              OR doc_a >= 400))
       |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
       |FROM documents
       |WHERE (doc_id >= 300 AND doc_id < 400
       |       AND doc_id NOT IN (SELECT d FROM b1_drop))
       |   OR (doc_id >= 400 AND doc_id NOT IN (SELECT d FROM b2_drop))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Semantic decontamination — vectors with id < 30 are the BENCHMARK
    * (eval set), the rest the training corpus; corpus vectors within
    * cosine 0.4 of any benchmark vector (same 6-bit sign bucket, q33's
    * blocking) are dropped. (0.4 sits just under this testdata's max
    * cross-boundary same-bucket cosine of ~0.414, so the gate
    * exercises REAL drop decisions — a threshold nothing reaches
    * would gate only the no-op.) The embedding-space complement of q67's
    * verbatim n-gram decontamination: catches paraphrased leakage.
    * Output = surviving corpus ids; the hash gate pins the bucket
    * keys, the candidate set, the factored IEEE cosine, and the drop
    * decisions.
    */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 30), emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", threshold = 0.4, bits = 6)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  private val q97Sql = {
    val bucket = (0 until 6).map(d =>
      s"(CASE WHEN v[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM ($embCte)),
       |hits AS (
       |  SELECT DISTINCT c.vec_id
       |  FROM e c JOIN e b ON c.bucket = b.bucket
       |  WHERE c.vec_id >= 30 AND b.vec_id < 30
       |    AND (list_dot_product(c.v, b.v) / (c.nrm * b.nrm)) >= 0.4)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id >= 30 AND vec_id NOT IN (SELECT vec_id FROM hits)
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q84
  /** Bigram familiarity/novelty scoring — LM-style document quality
    * from corpus-level n-gram statistics, kept in EXACT integer
    * arithmetic so the oracle gate is bit-tight (a log-prob variant
    * would sum doubles in partition order): per document, over its
    * bigram occurrences, the total corpus frequency of those bigrams
    * (`sum_cnt`), the hapax count (`n_hapax` = occurrences whose bigram
    * appears exactly once corpus-wide — pure novelty), and the
    * familiarity ratio sum_cnt/n_bg (floor-truncated; one IEEE division
    * of exact integers). Top 20 most-familiar docs (ties → doc_id).
    *
    * Plan: one bigram explode (native explode_ngrams Generator), one
    * groupBy(bigram) count — map-side combined, so the shuffle carries
    * distinct bigrams, not occurrences — one equi-join back on bigram
    * (skew-safe: the count side is tiny after combine and AQE handles
    * hot bigrams), one groupBy(doc). All stages linear in corpus size.
    */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val bg = t(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        call_function(graft.functions.VectorExpressions.ngramsFnName,
          col("toks"), lit(2)).as("bg"))
    val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("gcnt"))
    bg.join(counts, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bg"),
        count_distinct(col("bg")).as("n_distinct_bg"),
        sum(col("gcnt")).as("sum_cnt"),
        sum(when(col("gcnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("fam",
        floor(col("sum_cnt").cast("double") / col("n_bg").cast("double") * lit(1e6)) / lit(1e6))
      .orderBy(col("fam").desc, col("doc_id"))
      .limit(20)
  }

  private val q84Sql =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bgx AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |          i -> concat(toks[i], ' ', toks[i+1]))) AS bg
       |        FROM tk WHERE len(toks) >= 2),
       |gc AS (SELECT bg, count(*) AS gcnt FROM bgx GROUP BY bg)
       |SELECT doc_id,
       |  count(*) AS n_bg,
       |  count(DISTINCT bg) AS n_distinct_bg,
       |  CAST(sum(gcnt) AS BIGINT) AS sum_cnt,
       |  CAST(sum(CASE WHEN gcnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  floor(CAST(sum(gcnt) AS DOUBLE) / count(*) * 1e6) / 1e6 AS fam
       |FROM bgx JOIN gc USING (bg)
       |GROUP BY doc_id
       |ORDER BY fam DESC, doc_id
       |LIMIT 20""".stripMargin

  // ------------------------------------------------------- ANN pair cache
  /** Process-lifetime publish-once cache for the TRAINED-model ANN
    * queries (q85/q86/q90). The first call per (testdata dir, shape)
    * trains the model and PUBLISHES the frozen pair — model artifact +
    * encoded index parquet — to a temp dir; every later call loads the
    * persisted [[graft.operators.AnnModel]] and pays only the probe.
    * That is the production cost shape (an index is built once and
    * amortized over every query batch), and it is what the bench
    * sweep should measure: before this cache, q85/q86/q90's sweep
    * entries were 80-90% k-means BUILD time — a fixed cost re-billed
    * to every measured run (r12 verdict task 2). Correctness rows are
    * unchanged: the cached model is exactly the model the inline
    * trainer would produce (same calls, same params), AnnModel reload
    * is bit-exact (AnnModelSpec), and the gate's rows-only check for
    * these queries never depended on float identity across processes.
    * Disk (not block-manager) residency keeps the bench's storage_mb
    * leak detector at zero between queries.
    */
  private val annPairCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cachedAnnPair(cacheKey: String)(build: String => Unit): String =
    annPairCache.computeIfAbsent(cacheKey, { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft-annpair").toString
      build(d)
      d
    })

  /** The q86/q90 shared trained pair: nlist=8 coarse k-means +
    * 4x16 PQ codebooks (3 iters each), index published via
    * Pipeline.publishAnn so the probe keeps its cluster
    * partition-pruning story.
    */
  private def trainedIvfPqPair(s: SparkSession, dir: String): String = {
    val root = cachedAnnPair(s"$dir|ivfpq-n8-m4-cb16-it3") { d =>
      val emb = t(s, dir, "embeddings")
      val coarse = Similarity.trainKMeans(emb, "vec_id", "embedding", 8, 3)
        .orderBy(col("cluster_id"))
        .collect().map(_.getSeq[Double](1).toArray)
      val codebooks = Similarity.pqTrain(emb, "vec_id", "embedding", 4, 16, 3)
      val index = Similarity.ivfPqIndex(emb, "vec_id", "embedding", coarse, codebooks)
      graft.changesets.Pipeline.publishAnn(s, d, "trained", index, coarse, codebooks): Unit
    }
    graft.changesets.Pipeline.readCurrentAnn(root).get
  }

  // ---------------------------------------------------------------- q85
  /** Product-quantization ANN (no SQL oracle — k-means training is not
    * SQL-expressible; the driver records the rows-only check and
    * PQSpec gates recall/encoding against the exact scan). 64-dim
    * embeddings, 4 subspaces x 16 centroids: the corpus scan reads
    * 4-byte codes instead of 256-byte vectors. Build-once/probe-per-
    * call via the pair cache: the probe runs over the PERSISTED codes
    * table with the PERSISTED codebooks (plain PQ = IVF-PQ with
    * nlist=1, so the model artifact stores one zero coarse centroid).
    * See Similarity.pqTrain/pqIndex/pqProbe.
    */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    val pair = cachedAnnPair(s"$dir|pq-m4-cb16-it4") { d =>
      val codebooks = Similarity.pqTrain(emb, "vec_id", "embedding", 4, 16, 4)
      val dims = codebooks.length * codebooks(0)(0).length
      graft.operators.AnnModel.save(s, s"$d/model",
        Array(Array.fill(dims)(0.0)), codebooks)
      Similarity.pqIndex(emb, "vec_id", "embedding", codebooks)
        .write.mode("overwrite").parquet(s"$d/index.parquet")
    }
    val model = graft.operators.AnnModel.load(s, s"$pair/model")
    Similarity.pqProbe(emb.filter(col("vec_id") < 5),
        s.read.parquet(s"$pair/index.parquet"),
        "vec_id", "embedding", k = 10, model.codebooks)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q86
  /** IVF-PQ composed ANN (FAISS IVFADC shape; rows-only check like
    * q85 — k-means). nlist=8 coarse lists, 2 probed: the scan touches
    * ~1/4 of the corpus at 4 bytes/vector. Build-once/probe-per-call
    * via the shared trained pair (see [[trainedIvfPqPair]]): the probe
    * loads the persisted AnnModel and scans the published
    * cluster-partitioned index — so the sweep entry measures the
    * recurring probe, and the one-time build cost shows in
    * `ann_split` where it belongs.
    */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    val pairDir = trainedIvfPqPair(s, dir)
    val model = graft.operators.AnnModel.load(s, graft.changesets.Pipeline.annModelDir(pairDir))
    Similarity.ivfPqProbe(emb.filter(col("vec_id") < 5),
        graft.changesets.Pipeline.readAnnIndex(s, pairDir),
        "vec_id", "embedding", k = 10,
        coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q89
  /** BPE tokenizer training, oracle-gated since r12. 10 merges learned
    * from the documents word-frequency table; one distributed aggregate
    * per merge, driver state = the merge list. See operators.Bpe.
    *
    * The oracle UNROLLS the 10 training iterations as generated CTE
    * levels (BPE training is integer-count argmax with a total-order
    * tie-break, so it is exactly reproducible — no float summation
    * anywhere): each level counts adjacent symbol pairs, picks
    * (cnt DESC, a, b) LIMIT 1, and rewrites the word table with the
    * same left-greedy non-overlapping fold `Bpe.applyMergeOn` uses,
    * expressed as a `list_reduce` over a two-part string state
    * (acc || chr(30) || prev, symbols chr(31)-joined — both separators
    * are outside the token alphabet [a-z0-9</>w]). BpeSpec additionally
    * gates the trainer differentially against a single-machine
    * reference fold.
    */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Bpe.trainMerges(t(s, dir, "documents"), "text", numMerges = 10)
      .toDF().orderBy(col("rank"))
  }

  private val q89Sql: String = {
    val numMerges = 10
    val sep = "chr(31)" // symbol separator inside the fold accumulator
    val st = "chr(30)"  // accumulator | prev-symbol state separator
    // finishing step of the fold: append a pending prev (if any) to acc
    def finish(v: String) =
      s"""CASE WHEN split_part($v, $st, 2) = '' THEN split_part($v, $st, 1)
         |     WHEN split_part($v, $st, 1) = '' THEN split_part($v, $st, 2)
         |     ELSE split_part($v, $st, 1) || $sep || split_part($v, $st, 2) END""".stripMargin
    def level(n: Int) =
      s"""c$n AS (
         |  SELECT split_part(p, $sep, 1) AS a, split_part(p, $sep, 2) AS b,
         |         sum(freq) AS cnt
         |  FROM (SELECT unnest(list_transform(range(1, len(sym)),
         |                 i -> sym[i] || $sep || sym[i+1])) AS p, freq
         |        FROM words$n WHERE len(sym) >= 2)
         |  GROUP BY 1, 2),
         |b$n AS (SELECT a, b, cnt FROM c$n ORDER BY cnt DESC, a, b LIMIT 1),
         |words${n + 1} AS (
         |  SELECT CASE WHEN len(sym) < 2 THEN sym
         |    ELSE string_split(
         |      (SELECT ${finish("fin")}
         |       FROM (SELECT list_reduce(
         |         list_prepend($st || sym[1], sym[2:len(sym)]),
         |         (acc, x) -> CASE
         |           WHEN split_part(acc, $st, 2) = bst.a AND x = bst.b THEN
         |             (CASE WHEN split_part(acc, $st, 1) = '' THEN bst.a || bst.b
         |                   ELSE split_part(acc, $st, 1) || $sep || bst.a || bst.b END) ||
         |             $st
         |           WHEN split_part(acc, $st, 2) = '' THEN
         |             split_part(acc, $st, 1) || $st || x
         |           ELSE (CASE WHEN split_part(acc, $st, 1) = ''
         |                      THEN split_part(acc, $st, 2)
         |                      ELSE split_part(acc, $st, 1) || $sep ||
         |                           split_part(acc, $st, 2) END) || $st || x
         |           END) AS fin)), $sep)
         |    END AS sym, freq
         |  FROM words$n, b$n bst)""".stripMargin
    val levels = (0 until numMerges).map(level).mkString(",\n")
    val finals = (0 until numMerges).map { n =>
      s"""SELECT $n AS rank, a AS "left", b AS "right", a || b AS merged,
         |  CAST(cnt AS BIGINT) AS freq FROM b$n WHERE cnt >= 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tk AS (SELECT unnest($toksSql) AS word FROM documents),
       |wc AS (SELECT word, count(*) AS freq FROM tk GROUP BY word),
       |words0 AS (SELECT list_append(string_split(word, ''), '</w>') AS sym,
       |                  freq FROM wc),
       |$levels
       |$finals
       |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- q90
  /** Two-stage retrieval (rows-only like q85/q86): IVF-PQ over-fetches
    * 3x candidates from compressed codes, then exactRerank re-scores
    * ONLY those |Q|*30 candidate rows against the raw vectors — the
    * production ANN shape (compressed first pass, exact second pass).
    */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    val queries = emb.filter(col("vec_id") < 5)
    // same frozen pair as q86 (identical training params) — the
    // two-stage query re-bills neither k-means nor the encode
    val pairDir = trainedIvfPqPair(s, dir)
    val model = graft.operators.AnnModel.load(s, graft.changesets.Pipeline.annModelDir(pairDir))
    val cand = Similarity.ivfPqProbe(queries,
      graft.changesets.Pipeline.readAnnIndex(s, pairDir),
      "vec_id", "embedding", k = 30,
      coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
    Similarity.exactRerank(cand, queries, emb, "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  // --------------------------------------------------------------- q106
  /** No-retrain ANN index maintenance (Pipeline.appendAnn): publish an
    * IVF-PQ pair for the first 400 vectors with q92's fixed model,
    * APPEND the rest as a daily batch (encoded with the FROZEN model,
    * corpus never re-encoded), then probe the grown index. Because
    * append must equal rebuild, the oracle is EXACTLY q92's full-scan
    * SQL — the DuckDB gate pins the append ≡ rebuild equivalence
    * end-to-end (pointer flip, model reload, delta encode, union).
    */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    def firstVecs(n: Int): Array[Array[Double]] =
      emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    graft.Checkpoints.overTempDir(s, "q106-ann") { publishDir =>
      val day1 = Similarity.ivfPqIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", coarse, codebooks)
      graft.changesets.Pipeline.publishAnn(s, publishDir, "day1", day1, coarse, codebooks)
      graft.changesets.Pipeline.appendAnn(s, publishDir, "day2",
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
      val cur = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
      val model = graft.operators.AnnModel.load(s, graft.changesets.Pipeline.annModelDir(cur))
      // the index must be read back from the published artifact — that
      // IS the operator — but the read stays a LAZY parquet scan (r22):
      // deleting the temp dir after the probe materializes replaces the
      // eager pre-delete checkpoint's full extra pass, and lets the
      // probe's cluster prune reach the partitioned scan
      val index = graft.changesets.Pipeline.readAnnIndex(s, cur)
      Similarity.ivfPqProbe(emb.filter(col("vec_id") < 5), index,
          "vec_id", "embedding",
          k = 10, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  // --------------------------------------------------------------- q171
  /** ANN time travel — the q170 reproducibility read on the vector
    * side: publish day1 (vec_id < 400) with q92's fixed model, append
    * day2 so the live pointer moves on, then probe the RETAINED day1
    * PAIR (its manifest + model + segments are all immutable). The
    * oracle is q92's query-path SQL restricted to the historical
    * sub-corpus — read-version-N ≡ scan-as-of-N, hash-pinned through
    * the full IVF-PQ probe.
    */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    def firstVecs(n: Int): Array[Array[Double]] =
      emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    graft.Checkpoints.overTempDir(s, "q171-ann") { publishDir =>
      val day1 = Similarity.ivfPqIndex(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding", coarse, codebooks)
      val day1Dir = graft.changesets.Pipeline.publishAnn(
        s, publishDir, "day1", day1, coarse, codebooks)
      graft.changesets.Pipeline.appendAnn(s, publishDir, "day2",
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
      // the live pointer moved on; the read below is the RETAINED pair
      require(!graft.changesets.Pipeline.readCurrentAnn(publishDir).contains(day1Dir),
        "q171 precondition: the append must have moved the live pointer")
      val model = graft.operators.AnnModel.load(
        s, graft.changesets.Pipeline.annModelDir(day1Dir))
      // lazy artifact read, deleted after the probe (see q106)
      val index = graft.changesets.Pipeline.readAnnIndex(s, day1Dir)
      Similarity.ivfPqProbe(emb.filter(col("vec_id") < 5), index,
          "vec_id", "embedding",
          k = 10, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  private val q171Sql = q92SqlAt("a.vec_id < 400")

  // --------------------------------------------------------------- q173
  /** ANN vector takedown (Pipeline.deleteAnn) — q172's compliance
    * deletion on the vector side: publish the FULL index with q92's
    * fixed model, tombstone every vec_id ≥ 400 in two deletion
    * batches (tombstone-list growth exercised), probe the live pair.
    * Segments and model stay untouched; reads subtract the tombstone
    * union, so the oracle is q171's rebuild-without SQL verbatim —
    * delete ≡ scan-without, hash-pinned through the full IVF-PQ
    * probe.
    */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    def firstVecs(n: Int): Array[Array[Double]] =
      emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    graft.Checkpoints.overTempDir(s, "q173-ann") { publishDir =>
      val full = Similarity.ivfPqIndex(emb, "vec_id", "embedding", coarse, codebooks)
      graft.changesets.Pipeline.publishAnn(s, publishDir, "day1", full, coarse, codebooks)
      graft.changesets.Pipeline.deleteAnn(s, publishDir, "takedown1",
        emb.filter(col("vec_id") >= 400 && col("vec_id") < 450), "vec_id")
      graft.changesets.Pipeline.deleteAnn(s, publishDir, "takedown2",
        emb.filter(col("vec_id") >= 450), "vec_id")
      val cur = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
      val model = graft.operators.AnnModel.load(
        s, graft.changesets.Pipeline.annModelDir(cur))
      // lazy artifact read, deleted after the probe (see q106)
      val index = graft.changesets.Pipeline.readAnnIndex(s, cur)
      Similarity.ivfPqProbe(emb.filter(col("vec_id") < 5), index,
          "vec_id", "embedding",
          k = 10, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  private val q173Sql = q92SqlAt("a.vec_id < 400")

  // --------------------------------------------------------------- q133
  /** ANN segment compaction (Pipeline.compactAnn), hash-gated the
    * q106 way: publish day1 (vec_id < 300) with q92's fixed model,
    * append day2 (300 ≤ vec_id < 400) and day3 (the rest) as frozen-
    * model deltas — a three-segment pair — then COMPACT to one
    * segment and probe. Compaction must change nothing but the
    * layout, so the oracle is again EXACTLY q92's full-scan SQL: the
    * DuckDB gate pins compact ≡ append ≡ rebuild end-to-end (manifest
    * rewrite, segment union, pointer flip).
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return Similarity.emptyAnnResult(emb, "vec_id")
    def firstVecs(n: Int): Array[Array[Double]] =
      emb.filter(col("vec_id") < n).orderBy(col("vec_id"))
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    graft.Checkpoints.overTempDir(s, "q133-ann") { publishDir =>
      val day1 = Similarity.ivfPqIndex(
        emb.filter(col("vec_id") < 300), "vec_id", "embedding", coarse, codebooks)
      graft.changesets.Pipeline.publishAnn(s, publishDir, "day1", day1, coarse, codebooks)
      graft.changesets.Pipeline.appendAnn(s, publishDir, "day2",
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), "vec_id", "embedding")
      graft.changesets.Pipeline.appendAnn(s, publishDir, "day3",
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
      graft.changesets.Pipeline.compactAnn(s, publishDir, "weekly-compact")
      val cur = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
      val model = graft.operators.AnnModel.load(s, graft.changesets.Pipeline.annModelDir(cur))
      // same artifact-read rule as q106 (the read-back IS the operator),
      // kept lazy: the probe materializes, then the temp dir deletes
      val index = graft.changesets.Pipeline.readAnnIndex(s, cur)
      Similarity.ivfPqProbe(emb.filter(col("vec_id") < 5), index,
          "vec_id", "embedding",
          k = 10, coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }
  }

  // --------------------------------------------------------------- q104
  /** Winnowing fingerprint overlap (Schleimer et al. 2003, the MOSS
    * scheme): hash word 3-grams, keep each 4-window's minimum hash as
    * a fingerprint, pair documents sharing >= 2 fingerprints with
    * df <= 10 (stop-fingerprint cap). The oracle re-derives the entire
    * pipeline — grams, hashes, window minima via a least() chain,
    * df cap, pair counts — so the gate pins the selection algorithm,
    * not just pair existence. See Dedup.winnowPairs for the
    * never-all-pairs blocking analysis.
    */
  private def q104(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, w = 4, maxDf = 10, minShared = 2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared CTE chain deriving winnowing fingerprints `e(doc_id, fp)`
    * — mirror of Dedup.winnowFingerprintsFlat at k=3, w=4: per-token
    * Karp-Rabin fold (TextFunctions.polyHashSql), the gram hash as the
    * Horner combination of consecutive token hashes (sub-k docs fold
    * ALL their token hashes — same formula seeded 0), then window-min
    * selection. Used by q104 (pair mining) and q105 (re-rank stage 1).
    */
  private val winnowFpsCtes: String = {
    val ph = graft.functions.TextFunctions.polyHashSql.format("t", "t")
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |th AS (SELECT doc_id,
       |  list_transform(toks, t -> $ph) AS ths FROM tk),
       |h AS (SELECT doc_id,
       |  CASE WHEN len(ths) >= 3
       |    THEN list_transform(range(1, len(ths) - 1),
       |      i -> ((ths[i] * 1000003 + ths[i+1]) % 2147483647
       |            * 1000003 + ths[i+2]) % 2147483647)
       |    ELSE [list_reduce(list_prepend(0::BIGINT, ths),
       |      (acc, c) -> (acc * 1000003 + c) % 2147483647)] END AS hs
       |  FROM th),
       |sel AS (SELECT doc_id, list_distinct(
       |  CASE WHEN len(hs) >= 4
       |    THEN list_transform(range(1, len(hs) - 2),
       |      j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3]))
       |    ELSE [list_min(hs)] END) AS fps FROM h),
       |e AS (SELECT doc_id, unnest(fps) AS fp FROM sel)""".stripMargin
  }

  private val q104Sql = {
    s"""WITH $winnowFpsCtes,
       |informative AS (SELECT fp FROM e GROUP BY fp
       |  HAVING count(*) >= 2 AND count(*) <= 10),
       |ee AS (SELECT e.doc_id, e.fp FROM e JOIN informative USING (fp)),
       |nfp AS (SELECT doc_id, count(*) AS n_fp FROM ee GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT doc_a, doc_b, n_shared, na.n_fp AS n_a, nb.n_fp AS n_b,
       |  floor(CAST(n_shared AS DOUBLE) / least(na.n_fp, nb.n_fp) * 1e6) / 1e6
       |    AS containment
       |FROM pairs
       |JOIN nfp na ON na.doc_id = doc_a
       |JOIN nfp nb ON nb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------------- q105
  /** Two-stage lexical retrieval (operators.Rerank): stage 1 blocks
    * (query, doc) candidates on shared winnowing fingerprints (docs
    * 0-4 are the query batch, the rest the corpus); stage 2 re-ranks
    * by exact distinct-token Jaccard and keeps the top 3 per query.
    * The oracle re-derives fingerprints (shared winnowFpsCtes), the
    * candidate equi-join, the Jaccard, and the (score DESC, doc_id)
    * top-k — the full two-stage pipeline, hash-exact. The
    * cross-encoder model path (Rerank.rerankWithModel) is gated by
    * RerankSpec instead: a black-box batch scorer has no SQL mirror
    * by construction, but shares every join/topk piece with this
    * gated path.
    */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 5)
    val corpus = docs.filter(col("doc_id") >= 5)
    val cand = Rerank.candidatePairs(queries, corpus, "doc_id", "text")
    Rerank.rerank(cand, queries, corpus, "doc_id", "text", k = 3)
      .select(col("query_id"), col("doc_id"), col("rank"),
        // floor-truncate the one double in the row (q104 precedent)
        (floor(col("score") * lit(1e6)) / lit(1e6)).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q105Sql =
    s"""WITH $winnowFpsCtes,
       |cand AS (
       |  SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS doc_id
       |  FROM (SELECT * FROM e WHERE doc_id < 5) q
       |  JOIN (SELECT * FROM e WHERE doc_id >= 5) c USING (fp)
       |  WHERE q.doc_id <> c.doc_id),
       |ts AS (SELECT doc_id, list_distinct(toks) AS s FROM tk),
       |scored AS (
       |  SELECT cand.query_id, cand.doc_id,
       |    CAST(len(list_intersect(tq.s, td.s)) AS DOUBLE) /
       |      greatest(len(tq.s) + len(td.s) - len(list_intersect(tq.s, td.s)), 1)
       |      AS score
       |  FROM cand
       |  JOIN ts tq ON tq.doc_id = cand.query_id
       |  JOIN ts td ON td.doc_id = cand.doc_id)
       |SELECT query_id, doc_id, rank, floor(score * 1e6) / 1e6 AS score FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- q107
  /** Suffix-array–range EXACT substring dedup (Lee et al. ACL'22 §4's
    * exact form — the published complement of the q78/q79/q94 window
    * approximation): per corpus position, the longest token substring
    * that occurs at another (doc, pos), reported as left-maximal spans
    * with exact occurrence counts. The oracle re-derives the ENTIRE
    * prefix-doubling construction in SQL — md5-composed rank
    * identities per power-of-two level, the sparse-table overlap pair
    * per length, the duplicate-count aggregate, the per-position max,
    * and the running-max left-maximality filter — so the gate pins
    * every stage. See Dedup.saMaximalRepeats for the differential vs
    * the window form (extent and multiplicity) and the scale analysis.
    */
  private def q107(s: SparkSession, dir: String): DataFrame =
    Dedup.saMaximalRepeats(t(s, dir, "documents"), "doc_id", "text",
        minLen = 8, maxLen = 32)
      .orderBy(col("doc_id"), col("span_start"))

  private val q107Sql = {
    // unrolled doubling levels r_1..r_32 (lead + md5 composition);
    // each CTE carries the earlier levels forward
    val levels = Seq(2, 4, 8, 16, 32)
    val keep = scala.collection.mutable.ArrayBuffer("r_1")
    val lvlCtes = levels.map { h =>
      val half = h / 2
      val prev = keep.mkString(", ")
      keep += s"r_$h"
      s"""l$h AS (SELECT doc, pos, $prev,
         |  lead(r_$half, $half) OVER (PARTITION BY doc ORDER BY pos) AS sh
         |  FROM ${if (half == 1) "r1" else s"r$half"}),
         |r$h AS (SELECT doc, pos, $prev,
         |  CASE WHEN r_$half IS NOT NULL AND sh IS NOT NULL
         |       THEN md5(r_$half || '|' || sh) END AS r_$h FROM l$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk7 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |p AS (SELECT doc_id AS doc, unnest(range(1, len(toks) + 1)) AS pos,
       |             unnest(toks) AS tok FROM tk7),
       |r1 AS (SELECT doc, pos, md5(tok) AS r_1 FROM p),
       |$lvlCtes,
       |rl AS (
       |  SELECT doc, pos, 8 AS h, r_8 AS r FROM r32 WHERE r_8 IS NOT NULL
       |  UNION ALL
       |  SELECT doc, pos, 16, r_16 FROM r32 WHERE r_16 IS NOT NULL
       |  UNION ALL
       |  SELECT doc, pos, 32, r_32 FROM r32 WHERE r_32 IS NOT NULL),
       |hl AS (SELECT l, CASE WHEN l >= 32 THEN 32 WHEN l >= 16 THEN 16
       |                      ELSE 8 END AS h
       |       FROM (SELECT unnest(range(8, 33)) AS l)),
       |k AS (SELECT a.doc, a.pos, hl.l, a.r AS ka, b.r AS kb
       |      FROM hl
       |      JOIN rl a ON a.h = hl.h
       |      JOIN rl b ON b.h = hl.h AND b.doc = a.doc
       |                AND b.pos = a.pos + hl.l - hl.h),
       |dup AS (SELECT l, ka, kb, count(*) AS occ FROM k
       |        GROUP BY 1, 2, 3 HAVING count(*) >= 2),
       |best AS (SELECT doc, pos, max(k.l) AS len, arg_max(occ, k.l) AS occ
       |         FROM k JOIN dup USING (l, ka, kb) GROUP BY doc, pos),
       |sm AS (SELECT doc, pos, len, occ,
       |         max(pos + len) OVER (PARTITION BY doc ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
       |       FROM best)
       |SELECT doc AS doc_id, pos AS span_start, pos + len - 1 AS span_end,
       |  len AS n_tokens, occ AS n_occurrences
       |FROM sm WHERE maxe IS NULL OR maxe < pos + len
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // --------------------------------------------------------------- q110
  /** Cross-corpus EXACT substring contamination (Dedup.saSharedSpans —
    * the suffix-array-range machinery pointed at a benchmark): for
    * every training-side position, the longest token substring that
    * also occurs anywhere in the benchmark side, as left-maximal spans
    * with exact benchmark occurrence counts. Same corpus/benchmark
    * split as q67 (doc_id % 19), making the pair a differential: q67
    * flags "shares SOME 5-gram", q110 reports the true maximal shared
    * extent — the contamination decision variable ("shares >= L
    * tokens") — and its multiplicity. The oracle re-derives the full
    * construction over the whole table and splits sides at the key
    * level (ranks are per-doc, so computing them unsplit is
    * identical).
    */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.saSharedSpans(
        docs.filter(col("doc_id") % 19 =!= 0),
        docs.filter(col("doc_id") % 19 === 0),
        "doc_id", "text", minLen = 8, maxLen = 32)
      .orderBy(col("doc_id"), col("span_start"))
  }

  private val q110Sql = {
    val levels = Seq(2, 4, 8, 16, 32)
    val keep = scala.collection.mutable.ArrayBuffer("r_1")
    val lvlCtes = levels.map { h =>
      val half = h / 2
      val prev = keep.mkString(", ")
      keep += s"r_$h"
      s"""l$h AS (SELECT doc, pos, $prev,
         |  lead(r_$half, $half) OVER (PARTITION BY doc ORDER BY pos) AS sh
         |  FROM ${if (half == 1) "r1" else s"r$half"}),
         |r$h AS (SELECT doc, pos, $prev,
         |  CASE WHEN r_$half IS NOT NULL AND sh IS NOT NULL
         |       THEN md5(r_$half || '|' || sh) END AS r_$h FROM l$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk10 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |p AS (SELECT doc_id AS doc, unnest(range(1, len(toks) + 1)) AS pos,
       |             unnest(toks) AS tok FROM tk10),
       |r1 AS (SELECT doc, pos, md5(tok) AS r_1 FROM p),
       |$lvlCtes,
       |rl AS (
       |  SELECT doc, pos, 8 AS h, r_8 AS r FROM r32 WHERE r_8 IS NOT NULL
       |  UNION ALL
       |  SELECT doc, pos, 16, r_16 FROM r32 WHERE r_16 IS NOT NULL
       |  UNION ALL
       |  SELECT doc, pos, 32, r_32 FROM r32 WHERE r_32 IS NOT NULL),
       |hl AS (SELECT l, CASE WHEN l >= 32 THEN 32 WHEN l >= 16 THEN 16
       |                      ELSE 8 END AS h
       |       FROM (SELECT unnest(range(8, 33)) AS l)),
       |k AS (SELECT a.doc, a.pos, hl.l, a.r AS ka, b.r AS kb
       |      FROM hl
       |      JOIN rl a ON a.h = hl.h
       |      JOIN rl b ON b.h = hl.h AND b.doc = a.doc
       |                AND b.pos = a.pos + hl.l - hl.h),
       |kbench AS (SELECT l, ka, kb, count(*) AS occ FROM k
       |           WHERE doc % 19 = 0 GROUP BY 1, 2, 3),
       |best AS (SELECT k.doc, k.pos, max(k.l) AS len,
       |           arg_max(occ, k.l) AS occ
       |         FROM k JOIN kbench USING (l, ka, kb)
       |         WHERE k.doc % 19 <> 0 GROUP BY k.doc, k.pos),
       |sm AS (SELECT doc, pos, len, occ,
       |         max(pos + len) OVER (PARTITION BY doc ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
       |       FROM best)
       |SELECT doc AS doc_id, pos AS span_start, pos + len - 1 AS span_end,
       |  len AS n_tokens, occ AS n_bench_occurrences
       |FROM sm WHERE maxe IS NULL OR maxe < pos + len
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // --------------------------------------------------------------- q113
  /** Batch-hard triplet mining (Similarity.mineTriplets — Schroff et
    * al. FaceNet "batch hard"): per anchor (vec_id < 10), the hardest
    * same-label positive and the 3 hardest different-label negatives
    * by exact cosine over the labeled embeddings table — the
    * contrastive-training pair-construction op. Oracle re-derives
    * both windows (min-cos positive, max-cos negatives, vec_id
    * tie-breaks) over the same cosine CTE q32 uses.
    */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.mineTriplets(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", kNeg = 3)
      .orderBy(col("anchor_id"), col("role"), col("rank"))
  }

  private val q113Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    s"""WITH e AS ($embCte),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
       |    ql.label AS a_label, cl.label AS c_label, $cos AS cosine
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |  JOIN lab ql ON ql.vec_id = q.vec_id
       |  JOIN lab cl ON cl.vec_id = c.vec_id
       |  WHERE q.vec_id < 10),
       |pos AS (
       |  SELECT anchor_id, 'pos' AS role, rank, neighbor_id, cosine FROM (
       |    SELECT anchor_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY cosine ASC, neighbor_id) AS rank
       |    FROM s WHERE a_label = c_label)
       |  WHERE rank = 1),
       |neg AS (
       |  SELECT anchor_id, 'neg' AS role, rank, neighbor_id, cosine FROM (
       |    SELECT anchor_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM s WHERE a_label <> c_label)
       |  WHERE rank <= 3)
       |SELECT anchor_id, role, rank, neighbor_id, round(cosine, 9) AS cosine
       |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
       |ORDER BY anchor_id, role, rank""".stripMargin
  }

  // --------------------------------------------------------------- q108
  /** N-gram LM quality filter (operators.NgramLm — CCNet's perplexity
    * filtering axis with Brants et al.'s stupid backoff, the published
    * distributed-counting scheme): per-doc arithmetic-mean token score
    * under the corpus-trained trigram model with LEAVE-ONE-DOCUMENT-OUT
    * counts (a doc's own text never inflates its own familiarity —
    * without this, every singleton trigram self-hits at probability 1
    * and gibberish scores maximal), every per-token score
    * floor-truncated to integer ppm BEFORE the sum so the entire
    * aggregate is exact BIGINT arithmetic — the q84 "integer counts +
    * final truncated division" discipline generalized to
    * order-3-with-backoff. The oracle re-derives the per-doc/corpus
    * dual counts, the held-out subtraction, the backoff cascade, the
    * ppm floors, and the integer mean. The float log₂-perplexity
    * surface (NgramLm.logProbPerToken) is spec-gated instead
    * (NgramLmSpec) — a float log fold has no shuffle-order-stable
    * hash.
    */
  private def q108(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.scoreDocsPpm(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("score_ppm").desc, col("doc_id"))

  private val q108Sql =
    s"""WITH tk8 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |d1 AS (SELECT doc, gram, count(*) AS dcnt
       |       FROM (SELECT doc_id AS doc, unnest(toks) AS gram FROM tk8)
       |       GROUP BY 1, 2),
       |d2 AS (SELECT doc, gram, count(*) AS dcnt
       |       FROM (SELECT doc_id AS doc,
       |               unnest(list_transform(range(1, len(toks)),
       |                 i -> toks[i] || ' ' || toks[i+1])) AS gram
       |             FROM tk8 WHERE len(toks) >= 2)
       |       GROUP BY 1, 2),
       |d3 AS (SELECT doc, gram, count(*) AS dcnt
       |       FROM (SELECT doc_id AS doc,
       |               unnest(list_transform(range(1, len(toks) - 1),
       |                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
       |             FROM tk8 WHERE len(toks) >= 3)
       |       GROUP BY 1, 2),
       |e1 AS (SELECT doc, gram, (SUM(dcnt) OVER (PARTITION BY gram)) - dcnt AS eff FROM d1),
       |e2 AS (SELECT doc, gram, (SUM(dcnt) OVER (PARTITION BY gram)) - dcnt AS eff FROM d2),
       |e3 AS (SELECT doc, gram, (SUM(dcnt) OVER (PARTITION BY gram)) - dcnt AS eff FROM d3),
       |tot AS (SELECT count(*) AS ctotal
       |        FROM (SELECT unnest(toks) AS g FROM tk8)),
       |posi AS (SELECT doc_id AS doc, toks, len(toks) AS doclen,
       |                unnest(range(3, len(toks) + 1)) AS i
       |         FROM tk8 WHERE len(toks) >= 3),
       |pos AS (SELECT doc, doclen, toks[i-2] AS w1, toks[i-1] AS w2, toks[i] AS w
       |        FROM posi),
       |j AS (SELECT pos.doc,
       |        COALESCE(t3.eff, 0) AS c3eff, COALESCE(cx.eff, 0) AS c2ctxeff,
       |        COALESCE(cb.eff, 0) AS c2boeff, COALESCE(u2.eff, 0) AS c1ctxeff,
       |        COALESCE(uw.eff, 0) AS c1weff, tot.ctotal - pos.doclen AS ctoteff
       |      FROM pos
       |      LEFT JOIN e3 t3 ON t3.doc = pos.doc
       |        AND t3.gram = pos.w1 || ' ' || pos.w2 || ' ' || pos.w
       |      LEFT JOIN e2 cx ON cx.doc = pos.doc
       |        AND cx.gram = pos.w1 || ' ' || pos.w2
       |      LEFT JOIN e2 cb ON cb.doc = pos.doc
       |        AND cb.gram = pos.w2 || ' ' || pos.w
       |      LEFT JOIN e1 u2 ON u2.doc = pos.doc AND u2.gram = pos.w2
       |      LEFT JOIN e1 uw ON uw.doc = pos.doc AND uw.gram = pos.w
       |      CROSS JOIN tot),
       |sc AS (SELECT doc,
       |         CASE WHEN c3eff >= 1 THEN (1000000 * c3eff) // c2ctxeff
       |              WHEN c2boeff >= 1 THEN (1000000 * 2 * c2boeff) // (5 * c1ctxeff)
       |              WHEN c1weff >= 1 THEN (1000000 * 4 * c1weff) // (25 * ctoteff)
       |              ELSE 0 END AS m,
       |         CASE WHEN c3eff >= 1 THEN 0
       |              WHEN c2boeff >= 1 THEN 1
       |              WHEN c1weff >= 1 THEN 2 ELSE 3 END AS lvl
       |       FROM j)
       |SELECT doc AS doc_id, count(*) AS n_scored,
       |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
       |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(m) AS BIGINT) // count(*) AS score_ppm
       |FROM sc GROUP BY doc
       |ORDER BY score_ppm DESC, doc_id""".stripMargin

  // --------------------------------------------------------------- q117
  /** Cluster-balanced diversity sampling
    * (Similarity.clusterBalancedSample): fixed deterministic coarse
    * set — the first 8 corpus vectors, the q92 discipline, so the
    * semantic assignment is SQL-expressible — then at most 10 vectors
    * kept per cluster in the `cbs|`-salted hash order. The oracle
    * re-derives assignment (rel = c·c − 2 v·c, first-min tiebreak —
    * the exact IVF rule) and the keep set with a window row_number;
    * the engine's form is the TopKAggregator (quota-sized per-cluster
    * state), which is what survives a hot semantic cluster at corpus
    * scale.
    */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return emb.select(lit(0).as("cluster"), lit(0).as("rank"), col("vec_id")).limit(0)
    val coarse = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(Similarity.asDoubleVec(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)
    Similarity.clusterBalancedSample(emb, "vec_id", "embedding", coarse, quota = 10)
      .orderBy(col("cluster"), col("rank"))
  }

  private val q117Sql =
    s"""WITH e AS ($embCte),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |rel AS (
       |  SELECT e.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(e.v, cent.cv) AS rel
       |  FROM e, cent),
       |assigned AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM rel) WHERE r = 1),
       |h AS (
       |  SELECT cluster, vec_id,
       |    CAST(concat('0x', substring(md5(concat('cbs|',
       |      CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % ${1L << 52} AS hv
       |  FROM assigned),
       |r AS (
       |  SELECT cluster, vec_id,
       |    row_number() OVER (PARTITION BY cluster ORDER BY hv, vec_id) AS rank
       |  FROM h)
       |SELECT cluster, rank, vec_id FROM r WHERE rank <= 10
       |ORDER BY cluster, rank""".stripMargin

  // --------------------------------------------------------------- q122
  /** Semantic drift monitoring — the embedding-space companion of
    * q118's lexical drift: assign every vector to its fixed coarse
    * cluster (q92 discipline, first 8 corpus vectors as centroids),
    * split the corpus into two batches (vec_id parity), and report
    * each cluster's per-million occupancy in both batches plus the
    * absolute shift. A model-collapse or crawl-shift event shows up
    * here as one semantic region inflating between ingest batches even
    * when q118's token distribution is stable. Same exactness
    * discipline as q118 (BIGINT counts, one floor div per rate);
    * assignment arithmetic is the q92-proven portable rel fold.
    */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    if (emb.limit(1).isEmpty)
      return emb.select(lit(0).as("cluster"), lit(0L).as("cnt_a"), lit(0L).as("cnt_b"),
        lit(0L).as("ppm_a"), lit(0L).as("ppm_b"), lit(0L).as("drift")).limit(0)
    val coarse = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(Similarity.asDoubleVec(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)
    val assigned = Similarity.clusterAssign(emb, "vec_id", "embedding", coarse)
      .withColumn("in_a", when(col("id") % 2 === 0, lit(1L)).otherwise(lit(0L)))
      .withColumn("in_b", lit(1L) - col("in_a"))
    val counts = assigned.groupBy(col("cluster"))
      .agg(sum(col("in_a")).as("cnt_a"), sum(col("in_b")).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
    counts.crossJoin(broadcast(totals))
      .withColumn("ppm_a",
        when(col("tot_a") > 0, expr("(cnt_a * 1000000) div tot_a")).otherwise(lit(0L)))
      .withColumn("ppm_b",
        when(col("tot_b") > 0, expr("(cnt_b * 1000000) div tot_b")).otherwise(lit(0L)))
      .withColumn("drift", abs(col("ppm_a") - col("ppm_b")))
      .select(col("cluster"), col("cnt_a"), col("cnt_b"),
        col("ppm_a"), col("ppm_b"), col("drift"))
      .orderBy(col("cluster"))
  }

  private val q122Sql =
    s"""WITH e AS ($embCte),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |rel AS (
       |  SELECT e.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(e.v, cent.cv) AS rel
       |  FROM e, cent),
       |assigned AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM rel) WHERE r = 1),
       |c AS (SELECT cluster,
       |        CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |        CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
       |      FROM assigned GROUP BY cluster),
       |tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
       |               CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM c)
       |SELECT cluster, cnt_a, cnt_b,
       |  CASE WHEN tot_a > 0 THEN (cnt_a * 1000000) // tot_a ELSE 0 END AS ppm_a,
       |  CASE WHEN tot_b > 0 THEN (cnt_b * 1000000) // tot_b ELSE 0 END AS ppm_b,
       |  abs(CASE WHEN tot_a > 0 THEN (cnt_a * 1000000) // tot_a ELSE 0 END
       |    - CASE WHEN tot_b > 0 THEN (cnt_b * 1000000) // tot_b ELSE 0 END) AS drift
       |FROM c, tot
       |ORDER BY cluster""".stripMargin

  // --------------------------------------------------------------- q128
  /** Hybrid retrieval fusion — reciprocal-rank fusion (Cormack et al.
    * SIGIR'09) of the two gated retrievers: lexical integer tf-idf
    * top-10 (q126's operator) and exact cosine top-10 (q32's), fused
    * per (query, doc) as Σ 10⁶ div (60 + rank) over the lists the doc
    * appears in — the standard RAG hybrid-search pattern, in exact
    * integer arithmetic (only RANKS enter the fusion, and both rank
    * orders are independently hash-gated). Top-3 fused per query via
    * the TopKAggregator. vec_id ≡ doc_id in the testdata, giving each
    * query document both a text and an embedding.
    */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val lex = graft.operators.Retrieval.searchTopK(
        docs.filter(col("doc_id") % 97 === 0),
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text", k = 10)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
    val vec = Similarity.cosineTopK(
        emb.filter(col("vec_id") % 97 === 0),
        emb.filter(col("vec_id") % 97 =!= 0), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank").as("rank_vec"))
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_vec)"), lit(0L)))
    fused.groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregator.topK(3)(
        col("rrf").cast("double"), col("doc_id")).as("top"))
      .select(col("query_id"),
        posexplode(arrays_zip(col("top.top_values").as("v"), col("top.top_ids").as("i"))))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as("doc_id"), col("col.v").cast("long").as("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q128Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    s"""WITH e AS ($embCte),
       |lex AS (SELECT query_id, doc_id, rank AS rank_lex
       |        FROM (${TextAnalytics.q126SqlAt(97, 10)})),
       |vec AS (SELECT query_id, neighbor_id AS doc_id, rank AS rank_vec FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id % 97 = 0 AND c.vec_id % 97 <> 0)
       |  WHERE rank <= 10),
       |f AS (SELECT query_id, doc_id,
       |        CAST(coalesce(1000000 // (60 + rank_lex), 0)
       |           + coalesce(1000000 // (60 + rank_vec), 0) AS BIGINT) AS rrf
       |      FROM lex FULL OUTER JOIN vec USING (query_id, doc_id))
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, rrf FROM (
       |  SELECT query_id, doc_id, rrf,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |  FROM f)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q131
  /** The embedding-model boundary, end-to-end: documents are encoded
    * to vectors through operators.Encode.encodeWithModel — the batched
    * mapPartitions inference-client plumbing (bounded payloads, no
    * driver collect) with the deterministic hashing-trick stand-in
    * model — and the fresh vectors feed the already-gated brute-force
    * cosine top-k (q32's operator). Every doc with doc_id % 97 = 0 is
    * a query. The oracle rebuilds the SAME vectors in SQL (md5-60-bit
    * bucket + sign, integer occurrence counts — so cosines are IEEE
    * bit-identical via the factored-norm form) and re-ranks — the gate
    * pins tokenizer, hash, bucket/sign rule, batch plumbing, and the
    * text -> vectors -> neighbors composition.
    */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = new graft.operators.Encode.HashingTrickEncoder(dims = 16)
    val corpus = graft.operators.Encode.encodeWithModel(docs, "doc_id", "text", enc)
    // filter BEFORE the encode on the query side: the mapPartitions
    // model boundary is an object-serialization barrier Catalyst
    // cannot push a predicate through, so filtering the encoded frame
    // would re-encode the WHOLE corpus for the 1%-of-docs query side
    // (encodeWithModel is deterministic per doc — EncodeSpec's
    // partitioning-invariance pin is what makes this rewrite safe)
    val queries = graft.operators.Encode.encodeWithModel(
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", enc)
    Similarity.cosineTopK(queries, corpus, "doc_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q131Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |hh AS (SELECT doc_id,
       |         CAST(concat('0x', substring(md5('enc|' || term), 1, 15)) AS BIGINT) AS h
       |       FROM tk),
       |bw AS (SELECT doc_id, h % 16 AS bucket,
       |         CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |       FROM hh),
       |agg AS (SELECT doc_id, bucket, CAST(sum(sgn) AS DOUBLE) AS w
       |        FROM bw GROUP BY doc_id, bucket),
       |m AS (SELECT doc_id, map(list(bucket), list(w)) AS mm FROM agg GROUP BY doc_id),
       |vec AS (SELECT d.doc_id,
       |          list_transform(range(0, 16),
       |            i -> coalesce(map_extract(mm, i)[1], 0.0)) AS v
       |        FROM documents d JOIN m ON d.doc_id = m.doc_id),
       |e AS (SELECT doc_id AS vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vec)
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $cos AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id % 97 = 0)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q224
  /** The full RAG ingestion chain, hash-gated end-to-end: documents →
    * sliding-window chunks (Retrieval.chunkSliding, q223's operator)
    * → per-CHUNK embeddings through the batched model boundary
    * (Encode.encodeWithModel, q131's) → exact cosine top-k of chunks
    * per query document. Retrieval at chunk granularity is what a RAG
    * stack actually runs (a long page matches on one passage, not its
    * average), and a query doc's own chunks ranking at the top is the
    * built-in sanity signal. Chunk keys pack as 10⁶ + doc·10³ + k —
    * disjoint from query doc ids across the shipped testdata envelope
    * (production uses distinct key spaces; the pack keeps the oracle
    * integer-joinable). The oracle rebuilds chunks from token slices,
    * chunk vectors from the hashing trick over those slices, and the
    * same rank tail — a wrong window start, a batch-shifted
    * embedding, or a dropped partial chunk all hash-fail.
    */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = new graft.operators.Encode.HashingTrickEncoder(dims = 16)
    val chunks = graft.operators.Retrieval
      .chunkSliding(docs, "doc_id", "text", winTokens = 32, stride = 24)
      .select(graft.operators.Retrieval.chunkVid("doc_id").as("vid"), col("chunk"))
    val corpus = graft.operators.Encode.encodeWithModel(chunks, "vid", "chunk", enc)
    // query side filtered BEFORE the boundary (the q131 rewrite rule)
    val queries = graft.operators.Encode.encodeWithModel(
      docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("vid"), col("text")), "vid", "text", enc)
    Similarity.cosineTopK(queries, corpus, "vid", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The q224 chunk-embedding CTE chain ending in `en` (vec_id, v,
    * nrm over 16-dim hashing-trick vectors: chunk keys >= 10^6, query
    * doc keys below) — shared verbatim by the q224 exact gate and the
    * q228 fixed-codebook IVF-PQ probe gate.
    */
  private val chunkEnCtes: String =
    s"""tk0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS nt FROM tk0 WHERE len(toks) > 0),
       |ch AS (SELECT 1000000 + doc_id*1000 + k AS vec_id,
       |         toks[CAST(k*24 + 1 AS INTEGER) : CAST(k*24 + 32 AS INTEGER)] AS ctoks
       |       FROM (SELECT doc_id, toks,
       |               unnest(range(1 + (greatest(nt - 32, 0) + 23) // 24)) AS k
       |             FROM n)),
       |atk AS (SELECT vec_id, unnest(ctoks) AS term FROM ch
       |        UNION ALL
       |        SELECT doc_id AS vec_id, unnest(toks) AS term FROM tk0
       |        WHERE doc_id % 97 = 0),
       |hh AS (SELECT vec_id,
       |         CAST(concat('0x', substring(md5('enc|' || term), 1, 15)) AS BIGINT) AS h
       |       FROM atk),
       |agg AS (SELECT vec_id, h % 16 AS bucket,
       |          CAST(sum(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS w
       |        FROM hh GROUP BY vec_id, bucket),
       |m AS (SELECT vec_id, map(list(bucket), list(w)) AS mm FROM agg GROUP BY vec_id),
       |e AS (SELECT vec_id,
       |        list_transform(range(0, 16), i -> coalesce(map_extract(mm, i)[1], 0.0)) AS v
       |      FROM m),
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)""".stripMargin

  private val q224Sql = {
    val cos = cosSql.format("q", "c", "q", "c")
    s"""WITH $chunkEnCtes
       |SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $cos AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM en q JOIN en c ON c.vec_id >= 1000000
       |  WHERE q.vec_id < 1000000)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q228
  /** Chunk-granularity ANN retrieval — q224's RAG chain on the
    * PRODUCTION probe path: the same sliding-window chunks and
    * model-boundary embeddings, retrieved through the IVF-PQ
    * scan (Similarity.ivfPqScan) instead of the exact cosine scan,
    * which is the shape that holds at 100 TB (coarse lists prune
    * WHICH chunks a query touches, PQ codes shrink WHAT the scan
    * reads). Fixed deterministic codebooks (the q92 discipline —
    * coarse = first 8 chunk vectors, PQ = first 16 sliced into
    * 4 x 4-dim subspaces) make the whole query path hash-gateable,
    * and each probe row carries `in_exact` — its membership in
    * q224's exact top-5 — so the output IS the recall report at row
    * granularity (the q100 discipline at chunk level: sum(in_exact)
    * over count(*) is recall@5, and every row of both paths is
    * pinned, not just the aggregate). The oracle recomputes chunking,
    * hashing-trick vectors, coarse assignment, PQ encoding, probe
    * selection, the ADC sum, the top-5 tail AND the exact-membership
    * join from the documents table alone.
    */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = new graft.operators.Encode.HashingTrickEncoder(dims = 16)
    val chunks = graft.operators.Retrieval
      .chunkSliding(docs, "doc_id", "text", winTokens = 32, stride = 24)
      .select(graft.operators.Retrieval.chunkVid("doc_id").as("vid"), col("chunk"))
    // the chunk corpus feeds three consumers (codebook collect, probe
    // index, exact truth) — checkpoint once, never re-encode
    val corpus = graft.operators.Encode.encodeWithModel(chunks, "vid", "chunk", enc)
      .localCheckpoint(true)
    val queries = graft.operators.Encode.encodeWithModel(
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("vid"), col("text")), "vid", "text", enc)
      .localCheckpoint(true)
    if (corpus.limit(1).isEmpty) {
      val r = Similarity.emptyAnnResult(queries, "vid")
        .withColumn("in_exact", lit(false))
      graft.Checkpoints.release(corpus)
      graft.Checkpoints.release(queries)
      return r
    }
    def firstVecs(n: Int): Array[Array[Double]] =
      corpus.orderBy(col("vid")).limit(n)
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    val probe = Similarity.ivfPqScan(queries, corpus, "vid", "embedding",
      k = 5, coarse = coarse, codebooks = codebooks, nprobe = 2)
    val exact = Similarity.cosineTopK(queries, corpus, "vid", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("in_exact"))
    val out = probe
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("approx_d2"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"))
      .orderBy(col("query_id"), col("rank"))
      .localCheckpoint(true)
    graft.Checkpoints.release(corpus)
    graft.Checkpoints.release(queries)
    out
  }

  private val q228Sql = {
    // d2 between the 4-dim subspace slice of %s and codebook entry cv,
    // in the engine's exact association (the q92 mirror at subDim 4)
    def d2(v: String): String =
      s"list_dot_product($v[pqc.sub*4+1 : pqc.sub*4+4], $v[pqc.sub*4+1 : pqc.sub*4+4])" +
        s" - 2.0 * list_dot_product($v[pqc.sub*4+1 : pqc.sub*4+4], pqc.cv)" +
        s" + list_dot_product(pqc.cv, pqc.cv)"
    val cos = cosSql.format("q", "c", "q", "c")
    s"""WITH $chunkEnCtes,
       |chunks AS (SELECT vec_id, v, nrm FROM en WHERE vec_id >= 1000000),
       |qs AS (SELECT vec_id, v, nrm FROM en WHERE vec_id < 1000000),
       |cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM chunks ORDER BY vec_id LIMIT 8),
       |pqv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
       |  FROM chunks ORDER BY vec_id LIMIT 16),
       |pqc AS (
       |  SELECT m.m AS sub, pqv.code, pqv.v[CAST(m.m*4+1 AS INTEGER) : CAST(m.m*4+4 AS INTEGER)] AS cv
       |  FROM pqv, (SELECT unnest(range(0, 4)) AS m) m),
       |rel AS (
       |  SELECT c.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(c.v, cent.cv) AS rel
       |  FROM chunks c, cent),
       |assigned AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM rel) WHERE r = 1),
       |enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT c.vec_id, pqc.sub, pqc.code,
       |      row_number() OVER (PARTITION BY c.vec_id, pqc.sub
       |        ORDER BY ${d2("c.v")}, pqc.code) AS r
       |    FROM chunks c, pqc) WHERE r = 1),
       |encp AS (
       |  SELECT vec_id,
       |    max(CASE WHEN sub = 0 THEN code END) AS c0,
       |    max(CASE WHEN sub = 1 THEN code END) AS c1,
       |    max(CASE WHEN sub = 2 THEN code END) AS c2,
       |    max(CASE WHEN sub = 3 THEN code END) AS c3
       |  FROM enc GROUP BY vec_id),
       |qrel AS (
       |  SELECT q.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(q.v, cent.cv) AS rel
       |  FROM qs q, cent),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM qrel) WHERE r <= 2),
       |lutv AS (
       |  SELECT q.vec_id AS query_id, pqc.sub, pqc.code, ${d2("q.v")} AS d2
       |  FROM qs q, pqc),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS approx
       |  FROM probes p
       |  JOIN assigned a ON a.cluster = p.cluster
       |  JOIN encp ON encp.vec_id = a.vec_id
       |  JOIN lutv l0 ON l0.query_id = p.query_id AND l0.sub = 0 AND l0.code = encp.c0
       |  JOIN lutv l1 ON l1.query_id = p.query_id AND l1.sub = 1 AND l1.code = encp.c1
       |  JOIN lutv l2 ON l2.query_id = p.query_id AND l2.sub = 2 AND l2.code = encp.c2
       |  JOIN lutv l3 ON l3.query_id = p.query_id AND l3.sub = 3 AND l3.code = encp.c3),
       |ranked AS (
       |  SELECT query_id, neighbor_id, rank, approx FROM (
       |    SELECT query_id, neighbor_id, approx,
       |      row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= 5),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS erank
       |    FROM qs q CROSS JOIN chunks c)
       |  WHERE erank <= 5)
       |SELECT r.query_id, r.neighbor_id, r.rank, round(r.approx, 9) AS approx_d2,
       |  (e.neighbor_id IS NOT NULL) AS in_exact
       |FROM ranked r LEFT JOIN exact e
       |  ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
       |ORDER BY r.query_id, r.rank""".stripMargin
  }

  // --------------------------------------------------------------- q232
  /** Chunk-level ANN SEGMENTED LIFECYCLE (r18, verdict #4) — q228's
    * chunk IVF-PQ index published through the SAME
    * publishAnn/appendAnn/compactAnn lifecycle the doc-level indexes
    * ride (Pipeline), so chunk retrieval survives corpus absorbs with
    * O(delta) index maintenance — the q106/q171 discipline at chunk
    * granularity. Chunks of EVEN docs are day 1 (the codebooks train
    * on day 1's first 8/16 chunk vectors — frozen thereafter, the
    * production retrain-weekly shape); chunks of ODD docs arrive as
    * the day-2 append (encoded with the FROZEN model, only the delta
    * segment written). Probes run against three artifact reads, each
    * hash-gated: `live` (the post-append pair ≡ an index over the
    * full chunk corpus), `asof` (time travel to the retained day-1
    * pair ≡ the scan restricted to even-doc chunks), and `compact`
    * (after compactAnn rewrites the two segments into one — rows must
    * be IDENTICAL to live; a compaction that drops or duplicates a
    * code hash-fails). The oracle recomputes chunking, vectors,
    * coarse assignment, PQ codes, probe selection and ADC sums from
    * the documents table alone, with the asof stage's corpus
    * predicate mirroring the day-1 restriction.
    */
  private def q232(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = new graft.operators.Encode.HashingTrickEncoder(dims = 16)
    val chunks = graft.operators.Retrieval
      .chunkSliding(docs, "doc_id", "text", winTokens = 32, stride = 24)
      .select(graft.operators.Retrieval.chunkVid("doc_id").as("vid"), col("chunk"))
    val corpus = graft.operators.Encode.encodeWithModel(chunks, "vid", "chunk", enc)
      .localCheckpoint(true)
    val queries = graft.operators.Encode.encodeWithModel(
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("vid"), col("text")), "vid", "text", enc)
      .localCheckpoint(true)
    if (corpus.limit(1).isEmpty) {
      val r = Similarity.emptyAnnResult(queries, "vid")
        .withColumn("stage", lit(""))
        .select(col("stage"), col("query_id"), col("neighbor_id"),
          col("rank"), col("approx_d2"))
      graft.Checkpoints.release(corpus)
      graft.Checkpoints.release(queries)
      return r
    }
    val day1 = corpus.filter(expr("(vid div 1000) % 2 = 0"))
    val day2 = corpus.filter(expr("(vid div 1000) % 2 = 1"))
    def firstVecs(n: Int): Array[Array[Double]] =
      day1.orderBy(col("vid")).limit(n)
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    val out = graft.Checkpoints.overTempDir(s, "q232-ann") { publishDir =>
      val idx1 = Similarity.ivfPqIndex(day1, "vid", "embedding", coarse, codebooks)
      val day1Dir = graft.changesets.Pipeline.publishAnn(
        s, publishDir, "chunks-day1", idx1, coarse, codebooks)
      graft.changesets.Pipeline.appendAnn(
        s, publishDir, "chunks-day2", day2, "vid", "embedding")
      val cur = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
      require(cur != day1Dir,
        "q232 precondition: the append must have moved the live pointer")
      val model = graft.operators.AnnModel.load(
        s, graft.changesets.Pipeline.annModelDir(cur))
      // the three artifact reads stay LAZY parquet scans (r22): the r21
      // form eagerly localCheckpoint'd each index before probing — three
      // extra full materialization passes whose only purpose was to
      // outlive the early temp-dir delete. Deleting AFTER the one probe
      // job lets each probe read its segments once, with the shared
      // cluster prune below reaching the partitioned scan as a real
      // partition filter (publishAnn's layout exists for exactly this).
      val liveIdx = graft.changesets.Pipeline.readAnnIndex(s, cur)
      val asofIdx = graft.changesets.Pipeline.readAnnIndex(s, day1Dir)
      graft.changesets.Pipeline.compactAnn(s, publishDir, "chunks-compact")
      val cur2 = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
      require(cur2 != cur, "q232 precondition: compaction must publish a new pair")
      // liveIdx/asofIdx are lazy scans: compactAnn's retention must have
      // kept both versions, or the probe below would read collected segments
      Seq(cur, day1Dir).foreach(v => require(
        java.nio.file.Files.exists(java.nio.file.Paths.get(v, "manifest.json")),
        s"q232 precondition: $v must outlive the compaction's retention"))
      val compIdx = graft.changesets.Pipeline.readAnnIndex(s, cur2)
      // one probe table for ALL three probes — the query batch and
      // frozen model are shared, so a per-probe recompute is pure waste
      val table = Similarity.probeTable(
        queries, "vid", "embedding", model.coarse, model.codebooks, nprobe = 2)
      def probe(idx: DataFrame, stage: String): DataFrame =
        table.fold(Similarity.ivfPqProbe(queries, idx, "vid", "embedding", k = 5,
            coarse = model.coarse, codebooks = model.codebooks, nprobe = 2))(
            Similarity.ivfPqProbe(idx, _, k = 5))
          .select(lit(stage).as("stage"), col("query_id"), col("neighbor_id"),
            col("rank"), col("approx_d2"))
      probe(asofIdx, "asof")
        .union(probe(compIdx, "compact"))
        .union(probe(liveIdx, "live"))
        .orderBy(col("stage"), col("query_id"), col("rank"))
    }
    Seq(corpus, queries).foreach(graft.Checkpoints.release)
    out
  }

  private val q232Sql = {
    def d2(v: String): String =
      s"list_dot_product($v[pqc.sub*4+1 : pqc.sub*4+4], $v[pqc.sub*4+1 : pqc.sub*4+4])" +
        s" - 2.0 * list_dot_product($v[pqc.sub*4+1 : pqc.sub*4+4], pqc.cv)" +
        s" + list_dot_product(pqc.cv, pqc.cv)"
    s"""WITH $chunkEnCtes,
       |chunks AS (SELECT vec_id, v, nrm FROM en WHERE vec_id >= 1000000),
       |qs AS (SELECT vec_id, v, nrm FROM en WHERE vec_id < 1000000),
       |day1 AS (SELECT * FROM chunks WHERE (vec_id // 1000) % 2 = 0),
       |cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM day1 ORDER BY vec_id LIMIT 8),
       |pqv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
       |  FROM day1 ORDER BY vec_id LIMIT 16),
       |pqc AS (
       |  SELECT m.m AS sub, pqv.code, pqv.v[CAST(m.m*4+1 AS INTEGER) : CAST(m.m*4+4 AS INTEGER)] AS cv
       |  FROM pqv, (SELECT unnest(range(0, 4)) AS m) m),
       |rel AS (
       |  SELECT c.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(c.v, cent.cv) AS rel
       |  FROM chunks c, cent),
       |assigned AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM rel) WHERE r = 1),
       |enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT c.vec_id, pqc.sub, pqc.code,
       |      row_number() OVER (PARTITION BY c.vec_id, pqc.sub
       |        ORDER BY ${d2("c.v")}, pqc.code) AS r
       |    FROM chunks c, pqc) WHERE r = 1),
       |encp AS (
       |  SELECT vec_id,
       |    max(CASE WHEN sub = 0 THEN code END) AS c0,
       |    max(CASE WHEN sub = 1 THEN code END) AS c1,
       |    max(CASE WHEN sub = 2 THEN code END) AS c2,
       |    max(CASE WHEN sub = 3 THEN code END) AS c3
       |  FROM enc GROUP BY vec_id),
       |qrel AS (
       |  SELECT q.vec_id, cent.cid,
       |    list_dot_product(cent.cv, cent.cv) - 2.0 * list_dot_product(q.v, cent.cv) AS rel
       |  FROM qs q, cent),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY rel, cid) AS r
       |    FROM qrel) WHERE r <= 2),
       |lutv AS (
       |  SELECT q.vec_id AS query_id, pqc.sub, pqc.code, ${d2("q.v")} AS d2
       |  FROM qs q, pqc),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS approx,
       |    (a.vec_id // 1000) % 2 AS day
       |  FROM probes p
       |  JOIN assigned a ON a.cluster = p.cluster
       |  JOIN encp ON encp.vec_id = a.vec_id
       |  JOIN lutv l0 ON l0.query_id = p.query_id AND l0.sub = 0 AND l0.code = encp.c0
       |  JOIN lutv l1 ON l1.query_id = p.query_id AND l1.sub = 1 AND l1.code = encp.c1
       |  JOIN lutv l2 ON l2.query_id = p.query_id AND l2.sub = 2 AND l2.code = encp.c2
       |  JOIN lutv l3 ON l3.query_id = p.query_id AND l3.sub = 3 AND l3.code = encp.c3),
       |ranked_live AS (
       |  SELECT query_id, neighbor_id, rank, approx FROM (
       |    SELECT query_id, neighbor_id, approx,
       |      row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= 5),
       |ranked_asof AS (
       |  SELECT query_id, neighbor_id, rank, approx FROM (
       |    SELECT query_id, neighbor_id, approx,
       |      row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
       |    FROM scored WHERE day = 0)
       |  WHERE rank <= 5)
       |SELECT stage, query_id, neighbor_id, rank, round(approx, 9) AS approx_d2 FROM (
       |  SELECT 'asof' AS stage, * FROM ranked_asof
       |  UNION ALL SELECT 'compact' AS stage, * FROM ranked_live
       |  UNION ALL SELECT 'live' AS stage, * FROM ranked_live)
       |ORDER BY stage, query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q255
  /** Chunk-level ANN STREAMING ABSORB (r19, verdict #8): q232's
    * lifecycle driven through the stream's own per-batch body —
    * day-1 even-doc chunks publish the pair (frozen coarse + PQ
    * model), then day-2 odd docs arrive as TWO document micro-
    * batches absorbed via Pipeline.absorbChunkAnnBatch (chunking,
    * canonical chunk vids, frozen-model encode, one O(batch) delta
    * segment each — EXACTLY what EventStreams.chunkAnnIngestStream
    * runs per micro-batch; ChunkAnnIngestStreamSpec pins stream ≡
    * this sequence), with batch 1 REPLAYED in-query — the
    * idempotence skip must hold or the live index double-counts and
    * the hash gate fails. The post-absorb probe must equal q232's
    * live stage: the oracle recomputes chunking, vectors, frozen
    * codebooks, probe selection and ADC sums from the documents
    * table alone.
    */
  private def q255(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = new graft.operators.Encode.HashingTrickEncoder(dims = 16)
    val day1Docs = docs.filter(col("doc_id") % 2 === 0)
    val chunks1 = graft.operators.Retrieval
      .chunkSliding(day1Docs, "doc_id", "text", winTokens = 32, stride = 24)
      .select(graft.operators.Retrieval.chunkVid("doc_id").as("vid"), col("chunk"))
    val day1 = graft.operators.Encode.encodeWithModel(chunks1, "vid", "chunk", enc)
      .localCheckpoint(true)
    val queries = graft.operators.Encode.encodeWithModel(
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("vid"), col("text")), "vid", "text", enc)
      .localCheckpoint(true)
    if (day1.limit(1).isEmpty) {
      val r = Similarity.emptyAnnResult(queries, "vid")
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("approx_d2"))
      graft.Checkpoints.release(day1)
      graft.Checkpoints.release(queries)
      return r
    }
    def firstVecs(n: Int): Array[Array[Double]] =
      day1.orderBy(col("vid")).limit(n)
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    // one collect serves both driver-state arrays: the 8 coarse
    // centroids are by construction the prefix of the 16-vector PQ
    // sample (same orderBy/limit), so the second firstVecs job (r21
    // paid two) is pure re-read
    val sample = firstVecs(16)
    val coarse = sample.take(8)
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    val out = graft.Checkpoints.overTempDir(s, "q255-ann") { publishDir =>
      graft.changesets.Pipeline.publishAnn(
        s, publishDir, "chunks-day1",
        Similarity.ivfPqIndex(day1, "vid", "embedding", coarse, codebooks),
        coarse, codebooks)
      // day 2 as two DOCUMENT micro-batches through the stream's body
      def absorb(batchId: Long, m: Int): String =
        graft.changesets.Pipeline.absorbChunkAnnBatch(
          s, publishDir, batchId, docs.filter(col("doc_id") % 4 === m),
          "doc_id", "text", enc, winTokens = 32, stride = 24)
      absorb(0L, 1)
      val cur = absorb(1L, 3)
      // at-least-once replay: the committed batch id must skip
      val replayed = absorb(1L, 3)
      require(replayed == cur,
        "q255 precondition: replaying an absorbed batch id must be a no-op")
      val model = graft.operators.AnnModel.load(
        s, graft.changesets.Pipeline.annModelDir(cur))
      // lazy artifact read, deleted AFTER the probe materializes (r22):
      // the eager pre-delete checkpoint was a full extra pass over the
      // index whose only purpose was outliving the delete
      val liveIdx = graft.changesets.Pipeline.readAnnIndex(s, cur)
      Similarity.ivfPqProbe(queries, liveIdx, "vid", "embedding", k = 5,
          coarse = model.coarse, codebooks = model.codebooks, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("approx_d2"))
        .orderBy(col("query_id"), col("rank"))
    }
    Seq(day1, queries).foreach(graft.Checkpoints.release)
    out
  }

  /** q232's oracle restricted to the live stage (the post-absorb
    * index covers the full chunk corpus; same frozen-model CTEs).
    */
  private val q255Sql = {
    val replaced = q232Sql.replace(
      """SELECT stage, query_id, neighbor_id, rank, round(approx, 9) AS approx_d2 FROM (
        |  SELECT 'asof' AS stage, * FROM ranked_asof
        |  UNION ALL SELECT 'compact' AS stage, * FROM ranked_live
        |  UNION ALL SELECT 'live' AS stage, * FROM ranked_live)
        |ORDER BY stage, query_id, rank""".stripMargin,
      """SELECT query_id, neighbor_id, rank, round(approx, 9) AS approx_d2
        |FROM ranked_live
        |ORDER BY query_id, rank""".stripMargin)
    require(replaced != q232Sql, "q255Sql: q232Sql tail changed — update the replace")
    replaced
  }

  // --------------------------------------------------------------- q132
  /** Deterministic corpus shuffle for training export
    * (sources.Export.shufflePositions): every doc gets a contiguous
    * position 1..N by rank of a seeded md5 hash of its id — the q98
    * salted-replay discipline, ranked through the q120 three-level
    * prefix machinery (never a global window over data rows) — plus
    * its shard assignment at 64 docs/shard. The oracle recomputes the
    * permutation with a plain row_number over the same md5-60 hash,
    * so the gate pins hash, order, contiguity, and shard arithmetic;
    * ExportSpec pins the physical shard layout (one file per shard,
    * bounded sizes, replay-identical bytes).
    */
  private def q132(s: SparkSession, dir: String): DataFrame =
    graft.sources.Export.shufflePositions(t(s, dir, "documents"), "doc_id", seed = 42L)
      .select(col("doc_id"), col("position"),
        expr("(position - 1) div 64").as("shard"))
      .orderBy(col("position"))

  private val q132Sql =
    """SELECT doc_id, position, (position - 1) // 64 AS shard FROM (
      |  SELECT doc_id, row_number() OVER (ORDER BY
      |    CAST(concat('0x', substring(md5('shuf|42|' || doc_id), 1, 15)) AS BIGINT),
      |    doc_id) AS position
      |  FROM documents)
      |ORDER BY position""".stripMargin

  // --------------------------------------------------------------- q218
  /** Export read-back verification (Export.verifyShards +
    * readShardsInOrder) — the q170 time-travel discipline applied to
    * the TRAINING artifact: write the sharded export with its
    * manifest, re-derive every shard's counts and position ranges
    * from the files, refuse anything non-ok, then replay the training
    * order from the artifact. The oracle is q132's independent
    * permutation rebuild, so the gate pins that what a LOADER reads
    * back from disk — through manifest check, verification, and the
    * physical shard files — is bit-identical to the declared shuffle
    * order. A lost row, a mis-binned shard, or a stale manifest
    * breaks the hash.
    */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    graft.Checkpoints.overTempDir(s, "q218-export") { base =>
      val out = s"$base/data"
      graft.sources.Export.writeShardsWithManifest(
        t(s, dir, "documents"), "doc_id", out, seed = 42L, rowsPerShard = 64L)
      replayExport(s, out)
    }
  }

  /** q218/q222's read-back: the training order replayed from the temp
    * export at `out` (the caller's `overTempDir` materializes it, then
    * deletes the export).
    * Verification runs once, INSIDE readShardsInOrderIfAny (it refuses
    * any non-ok shard, loudly — the r21 form also called verifyShards
    * first, paying the full scan + checksum fold twice per query); a
    * committed EMPTY export (empty corpus drop) replays as no rows once
    * no stray shard dir sits beside its manifest.
    */
  private def replayExport(s: SparkSession, out: String): DataFrame = {
    val replay = graft.sources.Export.readShardsInOrderIfAny(s, out) match {
      case Some(rows) => rows
        .select(col("doc_id"), col("position"), col("shard").cast("long").as("shard"))
        .orderBy(col("position"))
      case None =>
        s.range(0).select(col("id").as("doc_id"), col("id").as("position"), col("id").as("shard"))
    }
    replay
  }

  private val q218Sql = q132Sql

  // --------------------------------------------------------------- q222
  /** Incremental export append (Export.appendShardsWithManifest) —
    * the O(delta) daily-drop step for the training artifact, q218's
    * lifecycle closed: export 3/4 of the corpus, append the rest as a
    * batch (own seeded permutation, offset positions, the PARTIAL
    * last shard completed in place), then verify + replay through the
    * same read-back gate. The oracle re-derives the combined order as
    * two independent permutations (base seed 42, delta seed 43 offset
    * by the base count), so a wrong offset, a torn shard rewrite, or
    * a stale manifest all hash-fail.
    */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.Checkpoints.overTempDir(s, "q222-export") { base =>
      val out = s"$base/data"
      graft.sources.Export.writeShardsWithManifest(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", out,
        seed = 42L, rowsPerShard = 64L)
      graft.sources.Export.appendShardsWithManifest(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", out,
        deltaSeed = 43L, batchId = 0L)
      replayExport(s, out)
    }
  }

  private val q222Sql =
    """WITH base AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY
      |    CAST(concat('0x', substring(md5('shuf|42|' || doc_id), 1, 15)) AS BIGINT),
      |    doc_id) AS position
      |  FROM documents WHERE doc_id % 4 <> 0),
      |delta AS (
      |  SELECT doc_id,
      |    (SELECT count(*) FROM documents WHERE doc_id % 4 <> 0) +
      |    row_number() OVER (ORDER BY
      |      CAST(concat('0x', substring(md5('shuf|43|' || doc_id), 1, 15)) AS BIGINT),
      |      doc_id) AS position
      |  FROM documents WHERE doc_id % 4 = 0)
      |SELECT doc_id, CAST(position AS BIGINT) AS position,
      |  (CAST(position AS BIGINT) - 1) // 64 AS shard
      |FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      |ORDER BY position""".stripMargin

  // --------------------------------------------------------------- q183
  /** Multi-epoch shuffle schedule (Export.shufflePositions × epochs):
    * epoch e's training order is the seeded permutation at seed
    * base+e — DIFFERENT each epoch (repeating one order measurably
    * hurts convergence; the data-order literature q132 cites) yet
    * each independently replayable, which is what makes a crashed
    * epoch resumable mid-stream. One row per (epoch, doc): the
    * loader's complete 3-epoch schedule. The oracle re-derives all
    * three permutations as row_number unions over the same md5-60
    * hash family.
    */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    (0 to 2).map { e =>
      graft.sources.Export.shufflePositions(docs, "doc_id", seed = 42L + e)
        .select(lit(e.toLong).as("epoch"), col("doc_id"), col("position"))
    }.reduce(_ union _).orderBy(col("epoch"), col("position"))
  }

  private val q183Sql = {
    val one = (e: Int) =>
      s"""SELECT CAST($e AS BIGINT) AS epoch, doc_id, row_number() OVER (ORDER BY
         |  CAST(concat('0x', substring(md5('shuf|${42 + e}|' || doc_id), 1, 15)) AS BIGINT),
         |  doc_id) AS position
         |FROM documents""".stripMargin
    s"""SELECT epoch, doc_id, position FROM (
       |${(0 to 2).map(one).mkString("\nUNION ALL\n")})
       |ORDER BY epoch, position""".stripMargin
  }

  // --------------------------------------------------------------- q184
  /** Quality-vs-duplication interaction report — the curation
    * analytics question behind the "dedup mostly removes junk"
    * folklore: per integer-ppm quality decile, how much of the corpus
    * sits in a near-dup cluster? Quality here is the exact-ppm
    * sibling of q24's float score (same three signals — length cap,
    * stopword ratio, alpha ratio — every ratio a floor-div, so decile
    * edges cannot float-drift); duplication membership is the q49
    * component frame. One corpus pass for the score (map-only), one
    * broadcast-ish join onto the cluster ids, one 11-row rollup.
    */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc").as("doc_id"), lit(1L).as("dup"))
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val scored = docs.select(col("doc_id"), col("text"), toks.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop", graft.functions.TextFunctions
        .stopwordHits(col("toks"), "en").cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long"))
      .withColumn("q_ppm", expr(
        """4000 * least(n_tok, 100L)
          |+ (300000 * n_stop) div greatest(n_tok, 1L)
          |+ (300000 * n_alpha) div greatest(length(text), 1)""".stripMargin))
      .withColumn("bucket", expr("q_ppm div 100000"))
    scored.join(comps, Seq("doc_id"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_ppm", expr("(n_dup * 1000000) div n_docs"))
      .orderBy(col("bucket"))
  }

  // --------------------------------------------------------------- q198
  /** Shrunk domain quality (Quality.shrunkGroupMean) — the smoothing
    * a domain filter list runs before it gates a crawl: per source,
    * the q184 exact-ppm quality mean pulled toward the global mean by
    * a 20-observation prior, so a tiny source with a lucky raw mean
    * cannot outrank a large one (the FineWeb domain-list discipline;
    * posterior mean under an additive prior). All truncating BIGINT;
    * oracle re-derives score, group sums, global mean, and the
    * shrinkage formula independently.
    */
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val scored = docs.select(col("source"), col("text"), toks.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop", graft.functions.TextFunctions
        .stopwordHits(col("toks"), "en").cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long"))
      .withColumn("q_ppm", expr(
        """4000 * least(n_tok, 100L)
          |+ (300000 * n_stop) div greatest(n_tok, 1L)
          |+ (300000 * n_alpha) div greatest(length(text), 1)""".stripMargin))
    graft.operators.Quality.shrunkGroupMean(scored, "source", "q_ppm",
        priorWeight = 20L)
      .orderBy(col("source"))
  }

  private val q198Sql = {
    val en = graft.functions.TextFunctions.stopwords("en")
      .mkString("['", "', '", "']")
    s"""WITH sc AS (SELECT source,
       |    4000 * least(CAST(len(toks) AS BIGINT), 100)
       |    + (300000 * CAST(len(list_filter(toks,
       |        t -> list_contains($en, t))) AS BIGINT))
       |      // greatest(CAST(len(toks) AS BIGINT), 1)
       |    + (300000 * CAST(length(regexp_replace(lower(text),
       |        '[^a-z]', '', 'g')) AS BIGINT))
       |      // greatest(length(text), 1) AS q_ppm
       |  FROM (SELECT source, text, $toksSql AS toks FROM documents)),
       |g AS (SELECT sum(q_ppm) // count(*) AS gm FROM sc),
       |p AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |        sum(q_ppm) AS s FROM sc GROUP BY source)
       |SELECT source, n,
       |  CAST(s // n AS BIGINT) AS raw_mean,
       |  CAST((s + 20 * g.gm) // (n + 20) AS BIGINT) AS shrunk_mean
       |FROM p CROSS JOIN g
       |ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q204
  /** Dataset card — the per-source datasheet a training-data release
    * ships (Gebru et al.'s "Datasheets for Datasets", the composition
    * discipline of q115/q136: every stage an already-gated operator):
    * document and token counts, mean q184-ppm quality, near-dup
    * membership ppm (the q49 component frame), declared-language
    * count and the majority language (ties alphabetical). One corpus
    * pass for scoring, the dedup frame joins on the id, and three
    * source-cardinality aggregates — nothing new shuffles. The oracle
    * re-derives the full chain.
    */
  private def q204(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc").as("doc_id"), lit(1L).as("dup"))
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val scored = docs.select(col("doc_id"), col("source"), col("lang"),
        col("text"), toks.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop", graft.functions.TextFunctions
        .stopwordHits(col("toks"), "en").cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long"))
      .withColumn("q_ppm", expr(
        """4000 * least(n_tok, 100L)
          |+ (300000 * n_stop) div greatest(n_tok, 1L)
          |+ (300000 * n_alpha) div greatest(length(text), 1)""".stripMargin))
      .join(comps, Seq("doc_id"), "left")
    val base = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("q_ppm")).as("__q_sum"),
        sum(coalesce(col("dup"), lit(0L))).as("__n_dup"))
      .selectExpr("source", "n_docs", "n_tokens",
        "__q_sum DIV n_docs AS quality_ppm",
        "(__n_dup * 1000000) DIV n_docs AS dup_ppm")
    val lc = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("__c"))
    val langs = lc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("__c")).as("nc"), col("lang").as("l"))).as("__b"))
      .select(col("source"), col("n_langs"), col("__b.l").as("top_lang"))
    base.join(langs, Seq("source")).orderBy(col("source"))
  }

  private val q204Sql = {
    val en = graft.functions.TextFunctions.stopwords("en")
      .mkString("['", "', '", "']")
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |dups AS (SELECT DISTINCT doc_id FROM (
       |           SELECT doc_a AS doc_id FROM pairs
       |           UNION ALL SELECT doc_b FROM pairs)),
       |sc AS (SELECT doc_id, source,
       |         CAST(len(toks) AS BIGINT) AS n_tok,
       |         4000 * least(CAST(len(toks) AS BIGINT), 100)
       |         + (300000 * CAST(len(list_filter(toks,
       |             t -> list_contains($en, t))) AS BIGINT))
       |           // greatest(CAST(len(toks) AS BIGINT), 1)
       |         + (300000 * CAST(length(regexp_replace(lower(text),
       |             '[^a-z]', '', 'g')) AS BIGINT))
       |           // greatest(length(text), 1) AS q_ppm
       |       FROM (SELECT doc_id, source, text, $toksSql AS toks FROM documents)),
       |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(sc.n_tok) AS BIGINT) AS n_tokens,
       |          CAST(sum(sc.q_ppm) // count(*) AS BIGINT) AS quality_ppm,
       |          CAST((sum(CASE WHEN dups.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |            * 1000000) // count(*) AS BIGINT) AS dup_ppm
       |        FROM sc LEFT JOIN dups ON dups.doc_id = sc.doc_id
       |        GROUP BY source),
       |lg AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
       |tl AS (SELECT source, lang FROM (
       |         SELECT source, lang,
       |           row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
       |         FROM lg) WHERE rn = 1),
       |nl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs FROM lg GROUP BY source)
       |SELECT agg.source, agg.n_docs, agg.n_tokens, agg.quality_ppm, agg.dup_ppm,
       |  nl.n_langs, tl.lang AS top_lang
       |FROM agg JOIN nl ON nl.source = agg.source
       |         JOIN tl ON tl.source = agg.source
       |ORDER BY agg.source""".stripMargin
  }

  private val q184Sql = {
    val en = graft.functions.TextFunctions.stopwords("en")
      .mkString("['", "', '", "']")
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($q28Sql)),
       |-- the UNION sits in a subquery, NOT at CTE top level: under
       |-- WITH RECURSIVE DuckDB treats a top-level-UNION CTE as
       |-- anchor/step and a doc in both branches survives twice
       |-- (observed: doc 267 double-counted at sf0.01)
       |dups AS (SELECT DISTINCT doc_id FROM (
       |           SELECT doc_a AS doc_id FROM pairs
       |           UNION ALL SELECT doc_b FROM pairs)),
       |sc AS (SELECT doc_id,
       |         4000 * least(CAST(len(toks) AS BIGINT), 100)
       |         + (300000 * CAST(len(list_filter(toks,
       |             t -> list_contains($en, t))) AS BIGINT))
       |           // greatest(CAST(len(toks) AS BIGINT), 1)
       |         + (300000 * CAST(length(regexp_replace(lower(text),
       |             '[^a-z]', '', 'g')) AS BIGINT))
       |           // greatest(length(text), 1) AS q_ppm
       |       FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))
       |SELECT q_ppm // 100000 AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN dups.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(((sum(CASE WHEN dups.doc_id IS NOT NULL THEN 1 ELSE 0 END)) * 1000000)
       |    // count(*) AS BIGINT) AS dup_ppm
       |FROM sc LEFT JOIN dups ON dups.doc_id = sc.doc_id
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q180
  /** Exact stratified holdout (sources.Export.stratifiedHoldout):
    * 137 eval slots (odd on purpose — remainder slots must land) carved across the 20 sources by Hamilton
    * apportionment (Σ holdout ≡ 137 EXACTLY — the datasheet invariant
    * q98's salted-hash thresholds drift ±√n around), membership
    * picked per stratum by seeded-md5 rank, ties to doc_id. The
    * engine ranks through the q120 stratum-major composite key
    * (stratum · 2⁵⁷ + 56 hash bits) so no per-stratum window ever
    * sees data rows; the oracle re-derives quota arithmetic and a
    * plain per-source row_number over the same hash.
    */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("sidx", expr("CAST(substring(source, 4) AS BIGINT)"))
    graft.sources.Export.stratifiedHoldout(docs, "doc_id", "sidx",
        budget = 137L, seed = 7L)
      .select(col("doc_id"), concat(lit("src"), col("sidx")).as("source"),
        col("holdout"))
      .orderBy(col("doc_id"))
  }

  private val q180Sql =
    """WITH cnt AS (SELECT CAST(substring(source, 4) AS BIGINT) AS sidx,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM documents GROUP BY 1),
      |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cnt),
      |b AS (SELECT sidx, n, CAST((137 * n) // tot AS BIGINT) AS base,
      |        CAST((137 * n) % tot AS BIGINT) AS rem
      |      FROM cnt CROSS JOIN tt),
      |lv AS (SELECT CAST(137 - sum(base) AS BIGINT) AS leftover FROM b),
      |qk AS (SELECT sidx,
      |         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, sidx)
      |                       <= lv.leftover THEN 1 ELSE 0 END AS quota
      |       FROM b CROSS JOIN lv),
      |r AS (SELECT doc_id, CAST(substring(source, 4) AS BIGINT) AS sidx,
      |        row_number() OVER (PARTITION BY source ORDER BY
      |          CAST(concat('0x', substring(md5('strat|7|' || doc_id), 1, 15))
      |            AS BIGINT) // 16,
      |          doc_id) AS rk
      |      FROM documents)
      |SELECT r.doc_id, 'src' || r.sidx AS source, (r.rk <= qk.quota) AS holdout
      |FROM r JOIN qk USING (sidx)
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q173_ann_delete" -> (q173 _),
    "q171_ann_timetravel" -> (q171 _),
    "q167_tokenizer_fertility" -> (q167 _),
    "q166_dedup_audit" -> (q166 _),
    "q132_corpus_shuffle" -> (q132 _),
    "q180_stratified_holdout" -> (q180 _),
    "q181_leakage_split" -> (q181 _),
    "q183_epoch_schedule" -> (q183 _),
    "q184_quality_dup" -> (q184 _),
    "q198_domain_quality" -> (q198 _),
    "q204_dataset_card" -> (q204 _),
    "q207_cdc_chunks" -> (q207 _),
    "q212_priority_sample" -> (q212 _),
    "q213_dedup_thresholds" -> (q213 _),
    "q215_temperature_mix" -> (q215 _),
    "q131_encode_ann" -> (q131 _),
    "q128_hybrid_fusion" -> (q128 _),
    "q122_semantic_drift" -> (q122 _),
    "q117_cluster_sample" -> (q117 _),
    "q107_sa_repeats" -> (q107 _),
    "q108_ngram_lm_ppm" -> (q108 _),
    "q110_sa_contamination" -> (q110 _),
    "q113_triplet_mining" -> (q113 _),
    "q104_winnow_pairs" -> (q104 _),
    "q105_cross_rerank" -> (q105 _),
    "q106_ann_append" -> (q106 _),
    "q133_ann_compact" -> (q133 _),
    "q84_bigram_familiarity" -> (q84 _),
    "q85_pq_ann" -> (q85 _),
    "q86_ann_ivfpq" -> (q86 _),
    "q89_bpe_merges" -> (q89 _),
    "q90_ann_rerank" -> (q90 _),
    "q91_rerank_exact" -> (q91 _),
    "q92_ivfpq_fixed" -> (q92 _),
    "q93_bpe_segment" -> (q93 _),
    "q94_substring_dedup_canon" -> (q94 _),
    "q95_dedup_increment" -> (q95 _),
    "q101_dedup_two_batches" -> (q101 _),
    "q97_semantic_decontaminate" -> (q97 _),
    "q99_ann_multiprobe" -> (q99 _),
    "q100_ann_recall" -> (q100 _),
    "q78_repeated_spans" -> (q78 _),
    "q79_substring_dedup" -> (q79 _),
    "q58_dedup_apply" -> (q58 _),
    "q189_dedup_keep_best" -> (q189 _),
    "q218_export_readback" -> (q218 _),
    "q222_export_append" -> (q222 _),
    "q224_rag_chunk_retrieval" -> (q224 _),
    "q228_rag_ann_recall" -> (q228 _),
    "q232_chunk_ann_lifecycle" -> (q232 _),
    "q255_chunk_ann_absorb" -> (q255 _),
    "q49_dedup_clusters" -> (q49 _),
    "q41_ann_ivf" -> (q41 _),
    "q27_dedup_exact" -> (q27 _),
    "q236_line_dedup" -> (q236 _),
    "q239_line_dedup_increment" -> (q239 _),
    "q28_minhash_lsh" -> (q28 _),
    "q149_dedup_eval" -> (q149 _),
    "q29_simhash" -> (q29 _),
    "q30_ngram_jaccard" -> (q30 _),
    "q31_embedding_near_dup" -> (q31 _),
    "q32_cosine_topk" -> (q32 _),
    "q33_ann_lsh" -> (q33 _),
    "q241_int8_quant" -> (q241 _),
    "q242_sq8_ann" -> (q242 _),
    "q245_sq8_frozen" -> (q245 _))

  val oracle: Map[String, String] = Map(
    "q173_ann_delete" -> q173Sql,
    "q171_ann_timetravel" -> q171Sql,
    "q167_tokenizer_fertility" -> q167Sql,
    "q166_dedup_audit" -> q166Sql,
    "q132_corpus_shuffle" -> q132Sql,
    "q180_stratified_holdout" -> q180Sql,
    "q181_leakage_split" -> q181Sql,
    "q183_epoch_schedule" -> q183Sql,
    "q184_quality_dup" -> q184Sql,
    "q198_domain_quality" -> q198Sql,
    "q204_dataset_card" -> q204Sql,
    "q207_cdc_chunks" -> q207Sql,
    "q212_priority_sample" -> q212Sql,
    "q213_dedup_thresholds" -> q213Sql,
    "q215_temperature_mix" -> q215Sql,
    "q131_encode_ann" -> q131Sql,
    "q128_hybrid_fusion" -> q128Sql,
    "q122_semantic_drift" -> q122Sql,
    "q117_cluster_sample" -> q117Sql,
    "q107_sa_repeats" -> q107Sql,
    "q108_ngram_lm_ppm" -> q108Sql,
    "q110_sa_contamination" -> q110Sql,
    "q113_triplet_mining" -> q113Sql,
    "q104_winnow_pairs" -> q104Sql,
    "q105_cross_rerank" -> q105Sql,
    // append ≡ rebuild: the grown-index probe must equal q92's
    // from-scratch full scan, so the oracle is the identical SQL
    "q106_ann_append" -> q92Sql,
    "q133_ann_compact" -> q92Sql,
    "q84_bigram_familiarity" -> q84Sql,
    // q85_pq_ann / q86_ann_ivfpq / q90_ann_rerank intentionally absent:
    // their k-means/PQ TRAINING sums doubles over shuffled groups, so
    // bit-exact cross-config reproduction is not guaranteed (assignment
    // flips compound chaotically) — a pinned oracle would be a
    // reliability hazard, and each has an oracle-gated fixed-codebook
    // twin (q92/q91) that hash-gates the full QUERY path. q89's BPE
    // training, by contrast, is pure integer argmax -> oracle below.
    "q89_bpe_merges" -> q89Sql,
    "q91_rerank_exact" -> q91Sql,
    "q92_ivfpq_fixed" -> q92Sql,
    "q93_bpe_segment" -> q93Sql,
    "q94_substring_dedup_canon" -> q94Sql,
    "q95_dedup_increment" -> q95Sql,
    "q101_dedup_two_batches" -> q101Sql,
    "q97_semantic_decontaminate" -> q97Sql,
    "q99_ann_multiprobe" -> q99Sql,
    "q100_ann_recall" -> q100Sql,
    "q78_repeated_spans" -> q78Sql,
    "q79_substring_dedup" -> q79Sql,
    "q58_dedup_apply" -> q58Sql,
    "q189_dedup_keep_best" -> q189Sql,
    "q218_export_readback" -> q218Sql,
    "q222_export_append" -> q222Sql,
    "q224_rag_chunk_retrieval" -> q224Sql,
    "q228_rag_ann_recall" -> q228Sql,
    "q232_chunk_ann_lifecycle" -> q232Sql,
    "q255_chunk_ann_absorb" -> q255Sql,
    "q49_dedup_clusters" -> q49Sql,
    "q41_ann_ivf" -> q41Sql,
    "q27_dedup_exact" -> q27Sql,
    "q236_line_dedup" -> q236Sql,
    "q239_line_dedup_increment" -> q239Sql,
    "q28_minhash_lsh" -> q28Sql,
    "q149_dedup_eval" -> q149Sql,
    "q29_simhash" -> q29Sql,
    "q30_ngram_jaccard" -> q30Sql,
    "q31_embedding_near_dup" -> q31Sql,
    "q32_cosine_topk" -> q32Sql,
    "q33_ann_lsh" -> q33Sql,
    "q241_int8_quant" -> q241Sql,
    "q242_sq8_ann" -> q242Sql,
    "q245_sq8_frozen" -> q245Sql)
}
