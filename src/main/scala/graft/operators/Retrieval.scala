package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.{TextFunctions, TopKAggregator}

/** Lexical search: deterministic integer tf-idf retrieval — the
  * inverted-index top-k the RAG/eval side of a training pipeline runs
  * (retrieve supporting passages, build retrieval-eval sets) without a
  * search service.
  *
  * Scoring is EXACT integer arithmetic so the q126 DuckDB gate is
  * bit-tight: weight(term) = (N · 10⁶) div df(term) — rare terms weigh
  * more, the floor-div is the single rounding point — and
  * score(q, d) = Σ_{t ∈ q ∩ d} tf(t, d) · weight(t), all BIGINT.
  * (A float BM25 would sum in partition order; this is the integer-ppm
  * discipline the q84/q108 scoring family uses. Scores stay exact in
  * the top-k aggregator's double for corpora up to ~2⁵² score units.)
  *
  * Scale shape: the postings table is ONE explode + map-side-combined
  * groupBy over the corpus (in production it is built once and stored,
  * like the ANN index); query terms broadcast onto it so only postings
  * matching some query term ever shuffle; document-frequency weights
  * join on the term key; the per-query tail is the TopKAggregator —
  * k-sized state per query, never a window sort over all scored docs.
  */
object Retrieval {

  /** Inverted-index postings (term, doc, tf) — one row per distinct
    * (term, document) with the exact term frequency.
    */
  def postings(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("doc"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc")).agg(count(lit(1)).as("tf"))

  /** Postings (term, doc, tf) with the per-doc statistics BM25 needs
    * stored on the rows: `dl` = Σ tf over the doc's rows (its length),
    * on every row, and `lead` = true on exactly one row per doc, its
    * smallest term. Then nd = count of `lead` rows and Σ dl = Σ tf,
    * both one partial aggregate over any union of whole docs. One
    * window over `doc`; a frame that already holds both columns comes
    * back as it is. The segmented postings index stores these columns
    * ([[graft.changesets.Pipeline.publishPostings]]).
    */
  def withDocStats(post: DataFrame): DataFrame =
    if (Set("dl", "lead").subsetOf(post.columns.toSet)) post
    else {
      val perDoc = Window.partitionBy(col("doc"))
      post.withColumn("dl", sum(col("tf")).over(perDoc))
        .withColumn("lead", col("term") === min(col("term")).over(perDoc))
    }

  /** [[postings]] with [[withDocStats]] from ONE exchange: the corpus
    * is hash-partitioned by its id first, which both the (term, doc)
    * aggregate and the per-doc window already need, so neither adds a
    * shuffle.
    */
  def postingsWithStats(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    withDocStats(postings(corpus.repartition(col(idCol)), idCol, textCol))

  /** Top-k corpus documents per query document by integer tf-idf.
    * Returns (query_id, rank, doc_id, score); rank 1..k by
    * (score DESC, doc_id). The result is checkpoint-backed (the
    * postings table feeds three consumers); callers release via
    * [[graft.Checkpoints.release]] after consuming.
    */
  def searchTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val post = postings(corpus, idCol, textCol).localCheckpoint(true)
    val df = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = post.agg(count_distinct(col("doc")).as("nd"))
    val qTerms = queries.select(col(idCol).as("qid"),
      explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
    val scored = post.join(broadcast(qTerms), Seq("term"))
      .join(df, Seq("term"))
      .crossJoin(broadcast(nd))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("tf") * expr("(nd * 1000000) div df")).as("score"))
    scored.groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("score").cast("double"), col("doc")).as("top"))
      .select(col("qid").as("query_id"),
        posexplode(arrays_zip(col("top.top_values").as("v"), col("top.top_ids").as("i"))))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as("doc_id"), col("col.v").cast("long").as("score"))
  }

  /** Sliding-window chunking — the RAG/embedding-prep segmenter that
    * turns documents into fixed-size OVERLAPPING passages (LangChain/
    * LlamaIndex's recursive splitter collapsed to its deterministic
    * core): windows of `winTokens` tokens starting every `stride`
    * tokens, so consecutive chunks share `winTokens - stride` tokens
    * of context and no boundary sentence is ever lost to a hard cut.
    * Window k covers tokens [k·stride+1, k·stride+winTokens]; the
    * count is 1 + ceil(max(nTokens − winTokens, 0) / stride) — every
    * token covered, the last window possibly partial, token-less
    * documents dropped. All exact integer/array arithmetic
    * (tokens/slice/array_join), so the q223 DuckDB oracle re-derives
    * every chunk with list slicing and hash-matches.
    *
    * 100 TB shape: map-only — one projection and one explode, no
    * shuffle, no window function; output rows ≈ nTokens/stride per
    * document. Feeds [[graft.operators.Encode.encodeWithModel]]
    * (chunk → embedding) and the postings builders (chunk-level
    * retrieval) directly, partitioning preserved.
    */
  /** Canonical chunk vector id over [[chunkSliding]] output:
    * 1000000 + doc_id * 1000 + chunk_id — disjoint from doc-id space
    * and stable across batch AND streaming builds (q224/q232/q255 and
    * [[graft.streaming.EventStreams.chunkAnnIngestStream]] must all
    * compose it identically or stream-fed and batch-built chunk
    * indexes silently diverge).
    */
  def chunkVid(idCol: String): org.apache.spark.sql.Column =
    lit(1000000L) + col(idCol) * 1000 + col("chunk_id")

  def chunkSliding(
      df: DataFrame,
      idCol: String,
      textCol: String,
      winTokens: Int,
      stride: Int): DataFrame = {
    require(winTokens >= 1, s"winTokens must be >= 1: $winTokens")
    require(stride >= 1 && stride <= winTokens,
      s"stride must be in [1, winTokens]: $stride")
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ck_toks"))
      .filter(size(col("__ck_toks")) > 0)
      .withColumn("__ck_nw", expr(
        s"1 + (greatest(size(__ck_toks) - $winTokens, 0) + ${stride - 1}) div $stride"))
      .select(col(idCol), col("__ck_toks"),
        explode(sequence(lit(0L), col("__ck_nw") - 1)).as("__ck_k"))
      .select(col(idCol),
        col("__ck_k").cast("int").as("chunk_id"),
        size(slice(col("__ck_toks"),
          (col("__ck_k") * stride + 1).cast("int"), lit(winTokens))).as("n_tokens"),
        array_join(slice(col("__ck_toks"),
          (col("__ck_k") * stride + 1).cast("int"), lit(winTokens)), " ").as("chunk"))
  }

  /** More-like-this — document-to-document lexical similarity over
    * the SAME stored postings as the searchers (Lucene's MLT shape):
    * for each query document, the top-k other documents by the exact
    * integer accumulated tf-idf dot
    *
    *   score(q, d) = Σ_{t ∈ q ∩ d, df(t) ≤ maxDf} tf(q,t)·tf(d,t)·w(t),
    *   w(t) = (N · 10⁶) div df(t)
    *
    * — the "related documents" operator a dedup analyst runs on a
    * suspicious cluster and a RAG stack runs for citation expansion.
    * Terms above the `maxDfPpm` CORPUS-FRACTION cap (Lucene MLT's
    * maxDocFreqPct; df > (N·maxDfPpm) DIV 10⁶) drop BEFORE candidate
    * generation — the stopword hygiene of the q196 degree-cap rule: a
    * term in most of the corpus pairs everything with everything;
    * capped, the term-keyed join produces ≤ N·cap candidates per
    * query term at ANY corpus size. The query document itself is
    * excluded.
    *
    * Exactness bound (the searchTopK convention): tf·tf·w sums must
    * stay under 2⁶³ — at corpus scale hold weights down with a df
    * floor or drop the 10⁶ scale; the top-k tail is exact for scores
    * to 2⁵². Plan: postings built once (checkpoint-shared), the
    * query-side postings BROADCAST onto the term key, per-query tail
    * is the O(k) aggregator — no window over scored candidates.
    */
  def moreLikeThis(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      queryIds: DataFrame,
      qidCol: String,
      k: Int,
      maxDfPpm: Long = 500000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxDfPpm >= 1 && maxDfPpm <= 1000000L,
      s"maxDfPpm must be a ppm fraction, got $maxDfPpm")
    val post = postings(corpus, idCol, textCol).localCheckpoint(true)
    val nd = post.agg(count_distinct(col("doc")).as("nd"))
    val df = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(expr(s"df <= (nd * $maxDfPpm) DIV 1000000"))
      .select(col("term"), col("df"))
    val qp = post.join(
        broadcast(queryIds.select(col(qidCol).as("doc"))), Seq("doc"), "left_semi")
      .select(col("term"), col("doc").as("qid"), col("tf").as("tf_q"))
    // the df cap lands on the (small) QUERY postings before the
    // corpus-postings join, so a corpus-wide stopword generates zero
    // candidates instead of O(N) join rows that a later filter drops:
    // the inner join against the capped term frame commutes, the scale
    // bound does not. The per-term weight folds in here too — one
    // multiply on the broadcast side instead of per candidate.
    val qpw = df.join(broadcast(qp), Seq("term"))
      .crossJoin(broadcast(nd))
      .select(col("term"), col("qid"),
        (col("tf_q") * expr("(nd * 1000000) div df")).as("wq"))
    val scored = post.join(broadcast(qpw), Seq("term"))
      .filter(col("doc") =!= col("qid"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("tf") * col("wq")).as("score"))
    // checkpoint-backed like searchTopK: the caller releases via
    // graft.Checkpoints.release after consuming
    scored.groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("score").cast("double"), col("doc")).as("top"))
      .select(col("qid").as("query_id"),
        posexplode(arrays_zip(col("top.top_values").as("v"), col("top.top_ids").as("i"))))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as("doc_id"), col("col.v").cast("long").as("score"))
  }

  /** Top-k corpus documents per query by EXACT-INTEGER BM25 — the
    * standard retrieval scorer a RAG stack actually runs (Robertson &
    * Zaragoza's Okapi form), expressed in the same integer-ppm
    * discipline as [[searchTopK]] so a DuckDB oracle can re-derive the
    * identical BIGINT scores (q143):
    *
    *   idf(t)       = (N · 10⁶) div df(t)              (q126's weight)
    *   norm_ppm(d)  = (dl(d) · 10¹²) div avgdl_ppm     (dl/avgdl in ppm)
    *   len_ppm(d)   = (10⁶ − b) + (b · norm_ppm) div 10⁶
    *   sat_ppm(t,d) = (tf · (k1 + 10⁶) · 10⁶)
    *                    div (tf · 10⁶ + (k1 · len_ppm) div 10⁶)
    *   score(q,d)   = Σ_t (idf(t) · sat_ppm(t, d)) div 10⁶
    *
    * k1 and b arrive as ppm constants (defaults 1.2 / 0.75); every
    * rounding point is an explicit floor-div on positive operands, so
    * Spark's `div` and DuckDB's `//` agree bit-for-bit. tf saturation
    * (a 50th occurrence adds almost nothing) and length normalization
    * (long docs stop winning on raw term mass) are what BM25 adds over
    * tf-idf. Per-term magnitudes stay under ~10¹⁷ (idf ≤ N·10⁶,
    * sat < 2.3·10⁶), safely inside BIGINT before the per-term div.
    *
    * Same scale shape as [[searchTopK]]: postings built once (with
    * their per-doc statistics, [[withDocStats]]), query terms filter
    * the scan so only matching postings move, TopKAggregator tail —
    * k-sized state per query, no window over all scored docs.
    */
  def searchTopKBm25(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      k1Ppm: Long = 1200000L,
      bPpm: Long = 750000L): DataFrame =
    bm25OverPostings(queries,
      postingsWithStats(corpus, idCol, textCol).localCheckpoint(true),
      idCol, textCol, k, k1Ppm, bPpm)

  /** [[searchTopKBm25]] over an ALREADY-BUILT postings table — the
    * probe side of the stored/segmented index
    * ([[graft.changesets.Pipeline.readPostingsIndex]]). Scoring reads
    * the per-doc statistics stored on the rows (`dl`, `lead`,
    * [[withDocStats]]); a frame without them — fresh
    * [[postings]], or an index version that still holds segments
    * written before they were stored — derives them first, by one
    * window over the whole frame. df, nd and avgdl come from one
    * partial aggregate ([[bm25OverQueryTerms]]), all additive over
    * disjoint-doc segments, so probing a segment union is
    * bit-identical to probing a full rebuild (q148 gates it). The
    * statistics are computed when the result frame is built (two
    * small driver collects); `post` feeds that aggregate and the
    * scoring scan — pass a materialized or cheap-to-rescan
    * frame: a `readPostingsIndex` version (opened without a Spark job,
    * its segments one parquet scan), or a localCheckpoint as
    * [[searchTopKBm25]] does.
    */
  def bm25OverPostings(
      queries: DataFrame,
      post: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      k1Ppm: Long = 1200000L,
      bPpm: Long = 750000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // a projection, not an explode: over a local query frame it folds
    // into the local relation, so collecting it runs no job
    val q = queries.select(col(idCol).as("qid"),
      array_distinct(TextFunctions.tokens(col(textCol))).as("terms"))
    bm25OverPairs(q.collect().toSeq.flatMap(r =>
        Option(r.getSeq[String](1)).toSeq.flatten.map(t => (r.get(0), t))),
      q.schema("qid"), post, k, k1Ppm, bPpm)
  }

  /** [[bm25OverPostings]] with the (qid, term) pairs already derived —
    * for callers that reuse one query-side tokenize across several
    * scoring passes ([[snippets]]). Same plan tail, bit-identical
    * scores.
    *
    * Per-probe work never regroups the index. The (qid, term) pairs —
    * a probe's query batch, small by contract — are collected to the
    * driver, and ONE partial aggregate over the postings,
    * keyed by the row's term when it is a query term and null
    * otherwise, yields every query term's df (its rows), nd (`lead`
    * rows) and Σ dl (Σ tf). The driver turns those into nd·10⁶ div df
    * and Σ dl·10⁶ div nd with the same floor-divs the plan used
    * (overflow still fails), and the hits — the postings of a query
    * term, a pushed-down `IN` filter — join the per-(qid, term) idf as
    * a local literal table. df is counted per distinct term before the
    * hits fan out to query ids, so a term two query rows share (or a
    * query id that appears twice) counts each posting once, while the
    * fan-out keeps each query row's own contribution.
    */
  def bm25OverQueryTerms(
      qTerms: DataFrame,
      post: DataFrame,
      k: Int,
      k1Ppm: Long = 1200000L,
      bPpm: Long = 750000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = qTerms.select(col("qid"), col("term"))
    bm25OverPairs(q.collect().toSeq.map(r => (r.get(0), r.getString(1))), q.schema("qid"),
      post, k, k1Ppm, bPpm)
  }

  /** The scoring body of [[bm25OverQueryTerms]] over collected
    * (qid, term) pairs; `qidField` types the qid column.
    */
  private def bm25OverPairs(
      pairs: Seq[(Any, String)],
      qidField: StructField,
      post: DataFrame,
      k: Int,
      k1Ppm: Long,
      bPpm: Long): DataFrame = {
    val p = withDocStats(post)
    val terms = pairs.map(_._2).distinct
    val byTerm = p.groupBy(when(col("term").isin(terms: _*), col("term")))
      .agg(count(lit(1)), count_if(col("lead")), sum(col("tf")))
      .collect()
    val nd = byTerm.map(_.getLong(2)).sum
    val sumDl = byTerm.filterNot(_.isNullAt(3)).map(_.getLong(3)).sum
    val avgdlPpm = if (nd == 0L) 1L else Math.multiplyExact(sumDl, 1000000L) / nd
    val idf = byTerm.filterNot(_.isNullAt(0))
      .map(r => r.getString(0) -> Math.multiplyExact(nd, 1000000L) / r.getLong(1)).toMap
    val qIdf = p.sparkSession.createDataFrame(
      pairs.collect { case (qid, t) if idf.contains(t) => Row(qid, t, idf(t)) }.asJava,
      StructType(Seq(qidField, StructField("term", StringType),
        StructField("idf", LongType, nullable = false))))
    // a null doc counts toward df and nd but, as in the doc-keyed join
    // this replaced, never scores
    val scored = p.filter(col("term").isin(idf.keys.toSeq: _*) && col("doc").isNotNull)
      .join(broadcast(qIdf), Seq("term"))
      .withColumn("len_ppm", expr(
        s"(1000000 - $bPpm) + ($bPpm * ((dl * 1000000000000) div $avgdlPpm)) div 1000000"))
      .withColumn("sat_ppm", expr(
        s"(tf * ($k1Ppm + 1000000) * 1000000) div (tf * 1000000 + ($k1Ppm * len_ppm) div 1000000)"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(expr("(idf * sat_ppm) div 1000000")).as("score"))
    scored.groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("score").cast("double"), col("doc")).as("top"))
      .select(col("qid").as("query_id"),
        posexplode(arrays_zip(col("top.top_values").as("v"), col("top.top_ids").as("i"))))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as("doc_id"), col("col.v").cast("long").as("score"))
  }

  /** Positional postings (doc_id, pos, term) — the phrase-query
    * sibling of [[postings]]: keeps token positions so adjacency is
    * queryable. One posexplode, no shuffle; in production stored once
    * next to the tf postings.
    */
  def positionalPostings(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))

  /** Exact phrase search: per-document occurrence counts of each
    * phrase (consecutive-token match after the standard tokenizer).
    * The classic positional-index plan: the phrase's first term
    * anchors, each later term joins on `(doc_id, pos − i)` — k−1
    * equi-joins whose left side only ever holds the anchor term's
    * postings (term literals push into the postings scan; a phrase's
    * cost is the df of its RAREST prefix, not the corpus). Returns
    * (phrase, doc_id, n_occurrences), documents with ≥ 1 match only.
    */
  def phraseSearch(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    val post = positionalPostings(corpus, idCol, textCol)
    phrases.map { phrase =>
      // Locale.ROOT matches Spark's locale-independent lower() in the
      // postings — a Turkish-default JVM lowercases 'I' to 'ı' and a
      // phrase containing it would never match the index
      val terms = phrase.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      require(terms.nonEmpty, s"phrase tokenizes to nothing: '$phrase'")
      val anchor = post.filter(col("term") === terms(0))
        .select(col("doc_id"), col("pos").as("base"))
      val matched = terms.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, i)) =>
        acc.join(
          post.filter(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).as("base")),
          Seq("doc_id", "base"))
      }
      matched.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"))
        .select(lit(phrase).as("phrase"), col("doc_id"), col("n_occurrences"))
    }.reduce(_.unionByName(_))
  }

  /** Ordered proximity search ("A NEAR/w B", Lucene's sloppy-phrase
    * family restricted to the ordered two-term form): per document
    * the count of position pairs where `term_b` follows `term_a`
    * within `window` tokens (pb − pa ∈ [1, window]). The retrieval
    * operator between exact phrase (window = 1) and bag-of-words —
    * what concordance tools and legal/patent search actually run.
    *
    * Plan: both term literals push into the positional-postings scan
    * (each side costs its term's df, never the corpus), ONE doc-keyed
    * equi-join between them, the range as a post-join filter, and a
    * map-side-combined per-doc count. Per-doc pair work is tf_a·tf_b
    * — term-frequency bounded, the positional-index cost model.
    */
  def proximitySearch(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      pairs: Seq[(String, String)],
      window: Int): DataFrame = {
    require(pairs.nonEmpty, "pairs must be non-empty")
    require(window >= 1, s"window must be >= 1: $window")
    val post = positionalPostings(corpus, idCol, textCol)
    pairs.map { case (ta0, tb0) =>
      val ta = ta0.toLowerCase(java.util.Locale.ROOT)
      val tb = tb0.toLowerCase(java.util.Locale.ROOT)
      require(ta.nonEmpty && tb.nonEmpty, s"empty proximity term: '$ta0'/'$tb0'")
      val a = post.filter(col("term") === ta)
        .select(col("doc_id"), col("pos").as("pa"))
      val b = post.filter(col("term") === tb)
        .select(col("doc_id"), col("pos").as("pb"))
      a.join(b, Seq("doc_id"))
        .filter(col("pb") - col("pa") >= 1 && col("pb") - col("pa") <= window)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(ta0).as("term_a"), lit(tb0).as("term_b"),
          col("doc_id"), col("n_pairs"))
    }.reduce(_.unionByName(_))
  }

  /** SymSpell deletion-variant expression: the term itself plus every
    * single-character deletion, deduplicated. Two strings share a
    * variant iff they are within one edit (equal / one insertion / one
    * deletion / one substitution — and one adjacent transposition,
    * whose shared double-deletion collapses into the single-deletion
    * set for the middle characters). Shared SQL-dialect fragment: the
    * identical text works in DuckDB by renaming substring -> substr.
    */
  private def deletionVariantsExpr(c: String): String =
    s"array_distinct(concat(array($c), transform(sequence(1, length($c)), " +
      s"i -> concat(substring($c, 1, i - 1), substring($c, i + 1)))))"

  /** Fuzzy dictionary lookup (Garbe's SymSpell): match each probe
    * against the corpus vocabulary within edit distance 1 by joining
    * DELETION NEIGHBORHOODS — variants(probe) equi-joined against
    * variants(dictionary term) — instead of scanning the dictionary
    * with an edit-distance UDF. The spell-correction / query-repair
    * pass of a search stack, Spark-first: the dictionary explodes to
    * at most (len+1) variants per term ONCE (in production stored
    * next to the postings), probes broadcast, and the match is a
    * blocked equi-join on the variant string — never vocabulary x
    * probes distance evaluation. Returns per matched probe the
    * highest-df candidate (ties to the lexicographically smallest
    * term) and the candidate count; probes with no in-distance
    * dictionary term emit nothing.
    */
  def fuzzyLookup(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      probes: Seq[String]): DataFrame = {
    require(probes.nonEmpty, "probes must be non-empty")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dict = postings(corpus, idCol, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dictV = dict.select(col("term"), col("df"),
      explode(expr(deletionVariantsExpr("term"))).as("v"))
    val probeV = probes.toDF("probe").select(col("probe"),
      explode(expr(deletionVariantsExpr("probe"))).as("v"))
    val cand = dictV.join(broadcast(probeV), Seq("v"))
      .select(col("probe"), col("term"), col("df")).distinct()
    val best = cand.groupBy(col("probe"))
      .agg(max(col("df")).as("best_df"), count(lit(1)).as("n_candidates"))
    cand.join(best, Seq("probe"))
      .filter(col("df") === col("best_df"))
      .groupBy(col("probe"), col("best_df"), col("n_candidates"))
      .agg(min(col("term")).as("best_term"))
      .select(col("probe"), col("best_term"), col("best_df"), col("n_candidates"))
      .orderBy(col("probe"))
  }

  /** Search-result snippet extraction (the keyword-in-context display
    * line a search UI renders under each hit): for each query's BM25
    * top-1 document, pick the MOST SELECTIVE query term that the
    * document actually contains (min corpus df, ties to the
    * lexicographically smallest term), locate its first occurrence,
    * and cut a +-`window`-token context with the hit bracketed
    * (`... foo [bar] baz ...`). Top-1 docs share >= 1 term with their
    * query by construction, so every scoring query emits exactly one
    * row: (query_id, doc_id, term, hit_pos 0-based, snippet).
    *
    * Plan shape (r22, verdict item 3): the corpus is TOKENIZED EXACTLY
    * ONCE — one (doc_id, toks) projection is checkpointed and the tf
    * postings, the positional postings (one posexplode), and the
    * snippet cut all derive from it (the r21 form scanned and
    * re-tokenized the corpus three times — three parquet scans at
    * 100 TB for one query). Everything after the postings joins tiny
    * per-query frames (top-1 docs, candidate terms) against the
    * checkpointed tables with no corpus shuffle. In production the
    * positional postings are the stored q139 index, not a re-tokenize.
    */
  def snippets(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 3,
      k1Ppm: Long = 1200000L,
      bPpm: Long = 750000L): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    // the ONE corpus tokenize; every downstream table derives from it
    val toks = corpus.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .localCheckpoint(true)
    val post = withDocStats(toks.select(col("doc_id").as("doc"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col("doc")).agg(count(lit(1)).as("tf")))
      .localCheckpoint(true)
    // the ONE query-side tokenize (r22): the BM25 scoring pass and the
    // candidate-term join each re-derived (query_id, term) from the
    // queries frame, so the query SOURCE scanned once per consumer —
    // per-query-batch state is tiny by contract, the source scans are
    // corpus-priced
    val qDistinct = queries.select(col(idCol).as("qid"),
        explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
      .localCheckpoint(true)
    val top1 = bm25OverQueryTerms(qDistinct, post, 1, k1Ppm, bPpm)
      .select(col("query_id"), col("doc_id"))
    val dfx = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qTerms = qDistinct.select(col("qid").as("query_id"), col("term"))
    val cand = top1.join(qTerms, Seq("query_id"))
      .join(post.withColumnRenamed("doc", "doc_id"), Seq("doc_id", "term"))
      .join(dfx, Seq("term"))
    val mdf = cand.groupBy(col("query_id")).agg(min(col("df")).as("mdf"))
    val rare = cand.join(mdf, Seq("query_id"))
      .filter(col("df") === col("mdf"))
      .groupBy(col("query_id"), col("doc_id")).agg(min(col("term")).as("term"))
    // positional postings off the checkpoint, not a second tokenize
    val ppost = toks.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "term")))
    val hit = rare.join(ppost, Seq("doc_id", "term"))
      .groupBy(col("query_id"), col("doc_id"), col("term"))
      .agg(min(col("pos")).cast("long").as("hit_pos"))
    hit.join(toks, Seq("doc_id"))
      .withColumn("first", greatest(col("hit_pos") - window, lit(0L)).cast("int"))
      .withColumn("last", least(col("hit_pos") + window, size(col("toks")) - 1).cast("int"))
      .withColumn("snippet", array_join(expr(
        "transform(slice(toks, first + 1, last - first + 1), " +
          "(x, i) -> IF(i = hit_pos - first, concat('[', x, ']'), x))"), " "))
      .select(col("query_id"), col("doc_id"), col("term"),
        col("hit_pos"), col("snippet"))
  }

  /** Per-document keyword extraction — the corpus-tagging op (topic
    * labels, dataset cards, faceted browse) built from the SAME
    * integer tf-idf discipline as [[searchTopK]]: weight(term) =
    * (N · 10⁶) div df, score(term, doc) = tf · weight, each document
    * keeps its top `k` terms by (score DESC, term ASC). Terms
    * appearing in EVERY document carry the minimum weight 10⁶ and are
    * kept (stopword suppression is q24's scorer's job, not a hidden
    * side effect here) — the deterministic integer formula is the
    * whole contract.
    *
    * Shape: the postings/df build is the stored-index pass the other
    * retrieval ops share; the per-document tail is the TopKAggregator
    * (k-sized state per doc, no window over the postings). The df
    * join keys on term — at 100 TB both sides of that join are the
    * postings' own partitioning, and the doc-side top-k shuffles only
    * (doc, k) state.
    *
    * Returns (doc_id, rank 1..k, term, score).
    */
  def keywords(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val post = postings(corpus, idCol, textCol).localCheckpoint(true)
    val dfx = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = post.agg(count_distinct(col("doc")).as("nd"))
    val scored = post.join(dfx, Seq("term"))
      .crossJoin(broadcast(nd))
      .select(col("doc"), col("term"),
        (col("tf") * expr("(nd * 1000000) div df")).as("score"))
    // top-k by (score DESC, term ASC): the aggregator breaks value
    // ties on id ASC, which is exactly the term tie wanted here
    scored.groupBy(col("doc"))
      .agg(TopKAggregator.topKStr(k)(col("score").cast("double"), col("term")).as("top"))
      .select(col("doc").as("doc_id"),
        posexplode(arrays_zip(col("top.top_values").as("v"), col("top.top_ids").as("i"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as("term"), col("col.v").cast("long").as("score"))
  }

  /** Pseudo-relevance-feedback query expansion — the classic
    * two-pass recall lift (Rocchio / RM-style PRF): retrieve a small
    * FEEDBACK set per query with the base scorer, mine its strongest
    * terms, append them to the query, retrieve again. A RAG stack
    * runs exactly this when first-pass recall misses paraphrases
    * (the gold doc says "automobile", the query "car" — the feedback
    * docs supply the bridge vocabulary).
    *
    * Exact-integer end to end, so the q178 oracle re-derives every
    * stage: pass-1 scores are [[searchTopK]]'s Σ tf·((N·10⁶) div df);
    * the feedback set is the top-`fbDocs` docs (score DESC, doc ASC);
    * each candidate term scores Σ over feedback docs of the SAME
    * tf·weight product; terms already in the query are anti-joined
    * out; the top-`expTerms` (score DESC, term ASC) join the query;
    * pass 2 is the base scorer over the widened term set.
    *
    * Scale shape: ONE postings build feeds both passes (checkpointed,
    * released by the caller); every query-sided frame (terms, feedback
    * doc ids, expansion terms) is broadcast onto postings so only
    * matching postings shuffle; both per-query tails are TopK
    * aggregators (k-sized state), and expansion mining is bounded by
    * |feedback docs| · |their distinct terms| — never the corpus
    * vocabulary.
    */
  def searchTopKExpanded(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      fbDocs: Int,
      expTerms: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(fbDocs >= 1, s"fbDocs must be >= 1: $fbDocs")
    require(expTerms >= 1, s"expTerms must be >= 1: $expTerms")
    val post = postings(corpus, idCol, textCol).localCheckpoint(true)
    // dfx and nd each feed THREE scoring passes (pass 1, expansion
    // mining, pass 2) — checkpoint once (r21) or each pass re-runs the
    // full-postings aggregate: 3 exchanges + 3 scans become 1 each.
    // Both ride the result plan, so the caller's Checkpoints.release
    // frees them with post.
    // the checkpointed frames carry no size estimate (LogicalRDD), so
    // the joins keep their strategy via explicit hints: dfx was
    // estimate-broadcast before the checkpoint (plans/r21 before
    // plans), and un-hinted it would fall to sort-merge — slower than
    // the recompute it saves
    val dfx = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    val nd = post.agg(count_distinct(col("doc")).as("nd"))
      .localCheckpoint(true)
    val qTerms = queries.select(col(idCol).as("qid"),
      explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
    def score(ts: DataFrame): DataFrame =
      post.join(broadcast(ts), Seq("term"))
        .join(broadcast(dfx), Seq("term"))
        .crossJoin(broadcast(nd))
        .groupBy(col("qid"), col("doc"))
        .agg(sum(col("tf") * expr("(nd * 1000000) div df")).as("score"))
    val fb = score(qTerms).groupBy(col("qid"))
      .agg(TopKAggregator.topK(fbDocs)(col("score").cast("double"), col("doc")).as("top"))
      .select(col("qid"), explode(col("top.top_ids")).as("doc"))
    val cand = post.join(broadcast(fb), Seq("doc"))
      .join(broadcast(dfx), Seq("term"))
      .crossJoin(broadcast(nd))
      .groupBy(col("qid"), col("term"))
      .agg(sum(col("tf") * expr("(nd * 1000000) div df")).as("ts"))
      .join(qTerms, Seq("qid", "term"), "left_anti")
    val exp = cand.groupBy(col("qid"))
      .agg(TopKAggregator.topKStr(expTerms)(col("ts").cast("double"), col("term")).as("top"))
      .select(col("qid"), explode(col("top.top_ids")).as("term"))
    score(qTerms.union(exp)).groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("score").cast("double"), col("doc")).as("top"))
      .select(col("qid").as("query_id"),
        posexplode(arrays_zip(col("top.top_values").as("v"), col("top.top_ids").as("i"))))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as("doc_id"), col("col.v").cast("long").as("score"))
  }

  /** Boolean retrieval — the AND/NOT query plan of a classic inverted
    * index (conjunctive containment + exclusion), the filter-style
    * sibling of the ranked searchers: each query's REQUIRED terms are
    * its first `nAnd` distinct terms in document order (ranked by
    * first-occurrence position — NOT by `array_distinct`, whose
    * ordering DuckDB's `list_distinct` does not guarantee), the next
    * `nNot` distinct terms are EXCLUDED; a corpus document matches if
    * it contains every required term and no excluded one. Queries with
    * fewer distinct terms require all they have and exclude what's
    * left, if anything.
    *
    * Plan shape: the corpus never sees a window or a distance scan —
    * query term frames (tiny: nAnd+nNot rows per query) broadcast onto
    * the postings, AND-ness is a per-(query, doc) count-of-matched
    * aggregate compared to the query's requirement count, NOT-ness one
    * anti equi-join. The per-query ranking window runs on the QUERY
    * side only (|queries| · distinct-terms rows). Because match sets
    * can be corpus-sized (two common required terms match almost
    * everything), the result is returned AGGREGATED per query: match
    * count plus an order-insensitive md5 membership fingerprint —
    * exactly what an eval harness diffs, and what keeps a gate dump
    * bounded at any scale.
    *
    * Returns (query_id, n_required, n_excluded, n_matches, match_fp);
    * queries whose required set matches nothing emit no row.
    */
  def booleanSearch(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      nAnd: Int = 2,
      nNot: Int = 1): DataFrame = {
    require(nAnd >= 1, s"nAnd must be >= 1: $nAnd")
    require(nNot >= 0, s"nNot must be >= 0: $nNot")
    import org.apache.spark.sql.expressions.Window
    val qRanked = positionalPostings(queries, idCol, textCol)
      .groupBy(col("doc_id").as("qid"), col("term"))
      .agg(min(col("pos")).as("minp"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("minp"))))
    val req = qRanked.filter(col("rn") <= nAnd).select(col("qid"), col("term"))
    val exc = qRanked.filter(col("rn") > nAnd && col("rn") <= nAnd + nNot)
      .select(col("qid"), col("term"))
    val counts = qRanked.groupBy(col("qid"))
      .agg(sum(when(col("rn") <= nAnd, 1L).otherwise(0L)).as("n_required"),
        sum(when(col("rn") > nAnd && col("rn") <= nAnd + nNot, 1L)
          .otherwise(0L)).as("n_excluded"))
    val present = postings(corpus, idCol, textCol).select(col("term"), col("doc"))
    val matched = present.join(broadcast(req), Seq("term"))
      .groupBy(col("qid"), col("doc")).agg(count(lit(1)).as("nm"))
      .join(broadcast(counts), Seq("qid"))
      .filter(col("nm") === col("n_required"))
    val excluded = present.join(broadcast(exc), Seq("term"))
      .select(col("qid"), col("doc")).distinct()
    matched.join(excluded, Seq("qid", "doc"), "left_anti")
      .groupBy(col("qid"), col("n_required"), col("n_excluded"))
      .agg(count(lit(1)).as("n_matches"),
        md5(array_join(transform(array_sort(collect_list(col("doc"))),
          x => x.cast("string")), "|")).as("match_fp"))
      .select(col("qid").as("query_id"), col("n_required"), col("n_excluded"),
        col("n_matches"), col("match_fp"))
  }
}
