package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation quality operators beyond the per-doc scalar score
  * (TextFunctions.qualityScore): repetition signals in the style of the
  * Gopher/MassiveText filtering rules (duplicate-token fraction,
  * most-frequent-n-gram mass), PII detection/redaction, and train-vs-
  * benchmark decontamination — the filters a training-data pipeline
  * runs corpus-wide before anything is tokenized.
  *
  * Scale design: every operator here is explode -> codegen'd grouped
  * aggregation (or a blocked equi-join for decontaminate) — no
  * quadratic stage, no driver collection; all arithmetic on the output
  * surface is integer-rational (exact IEEE division), so results are
  * engine-portable for the DuckDB hash gate.
  */
object Quality {

  /** Per-document repetition signals over word tokens:
    *
    *   - `n_tok`, `n_uniq`: token multiset size / distinct size
    *   - `dup_frac`  = (n_tok - n_uniq) / n_tok — the fraction of token
    *     occurrences that repeat an earlier token (0 for n_tok = 0..1
    *     docs in effect; docs with no tokens are kept with n_tok = 0
    *     and dup_frac NULL-safe 0)
    *   - `top_bigram_cnt`, `n_bigrams`: the count of the single most
    *     frequent word bigram and the bigram total (n_tok - 1); docs
    *     with < 2 tokens carry 0/0
    *
    * The caller derives flags/fractions; this returns the raw integer
    * counters so aggregates can stay EXACT (micro-average = ratio of
    * summed integers — a single IEEE division at the end — instead of
    * a partition-order-dependent sum of per-doc doubles).
    *
    * One shuffle on the doc id for the bigram mode; the token stats are
    * per-row expressions.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val toksed = df.select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
    val stats = toksed.select(col("doc"), col("toks"),
      size(col("toks")).as("n_tok"),
      size(array_distinct(col("toks"))).as("n_uniq"))
    // bigram mode via the native explode_ngrams Generator (streams
    // grams, no per-row intermediate array) + two-level aggregate:
    // count per (doc, bigram) then max per doc — both stages
    // partial-aggregate map-side (a per-row higher-order-function
    // histogram would re-scan the array per distinct bigram instead)
    val bg = stats.filter(col("n_tok") >= 2)
      .select(col("doc"),
        call_function(graft.functions.VectorExpressions.ngramsFnName,
          col("toks"), lit(2)).as("bg"))
      .groupBy(col("doc"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc")).agg(max(col("cnt")).as("top_bigram_cnt"))
    stats.join(bg, Seq("doc"), "left_outer")
      .select(col("doc"),
        col("n_tok"), col("n_uniq"),
        coalesce(col("top_bigram_cnt"), lit(0L)).as("top_bigram_cnt"),
        greatest(col("n_tok") - 1, lit(0)).cast("long").as("n_bigrams"))
  }

  /** Default PII patterns — deliberately in the common subset of Java
    * regex and RE2 (no backreferences, no lookaround), so the same
    * pattern text runs identically in Spark and the DuckDB oracle.
    */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "\\b555-[0-9]{4}\\b"

  /** PII detection + redaction: appends `n_emails`, `n_phones` (match
    * counts) and `redacted` (emails replaced by [EMAIL], then phones by
    * [PHONE]) for `textCol`. Pure per-row expressions — no shuffle; at
    * 100 TB this is a map-only pass that pipelines into whatever scan
    * feeds it.
    */
  /** Gopher-style rule filtering (Rae et al. 2021 §A1.1 adapted to
    * exact integer arithmetic): the NAMED heuristic gate battery a
    * production pre-train pipeline runs before any learned filter —
    * each rule's measurement AND verdict surface per doc, so
    * threshold tuning reads one table. Ratios are mille-scaled with
    * truncating division (the DuckDB `//` convention, q238):
    *  - R1 word count >= minWords
    *  - R2 mean word length in [mwlLoMilli, mwlHiMilli]
    *  - R3 at least minStopHits occurrences of the tiny stopword set
    *    (the "contains common words" rule)
    *  - R4 most-common-word mass <= topFracMilli (template/boilerplate
    *    catcher)
    *  - R5 distinct-word fraction >= distinctFracMilli (repetition
    *    catcher, the doc-level twin of q65's n-gram signals)
    *
    * Map-only: every measurement is a higher-order array expression
    * over the doc's own token array, so the gate composes into
    * curation chains without a join back. The most-common-word pass
    * is a run-length fold over array_sort(toks) — O(n log n) per doc
    * (r18 verdict: the previous array_distinct x filter form was
    * O(distinct x n), ~10^8 expression evals on one pathological
    * 10k-word doc at Gopher's own operating point — a per-row
    * straggler machine at 100 TB).
    */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      mwlLoMilli: Int = 3200,
      mwlHiMilli: Int = 4300,
      minStopHits: Int = 2,
      topFracMilli: Int = 200,
      distinctFracMilli: Int = 400): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val stopSet = typedLit(Seq("the", "a", "of", "and", "to", "in"))
    val wc = size(col("toks")).cast("long")
    val charSum = aggregate(col("toks"), lit(0L), (a, t) => a + length(t))
    // longest equal-run over the SORTED tokens = max occurrence count;
    // state: (prev word, current run, best run). Tokens are non-empty
    // by the tokenizer contract, so "" is a safe no-previous sentinel.
    val topCnt = aggregate(
      array_sort(col("toks")),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    // integer (not double) division: Column./ widens to double, so the
    // mille ratios ride SQL's `div` (exact, truncating — DuckDB's //)
    df.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        wc.as("wc"),
        (charSum * 1000L).as("chs_k"),
        size(filter(col("toks"), t => array_contains(stopSet, t)))
          .cast("long").as("stop_hits"),
        (topCnt.cast("long") * 1000L).as("top_k"),
        (size(array_distinct(col("toks"))).cast("long") * 1000L).as("dw_k"))
      .withColumn("mwl_milli", expr("chs_k div wc"))
      .withColumn("top_frac_milli", expr("top_k div wc"))
      .withColumn("distinct_frac_milli", expr("dw_k div wc"))
      .drop("chs_k", "top_k", "dw_k")
      .select(col(idCol), col("wc"), col("mwl_milli"), col("stop_hits"),
        col("top_frac_milli"), col("distinct_frac_milli"))
      .withColumn("r1_wc", col("wc") >= minWords)
      .withColumn("r2_mwl",
        col("mwl_milli") >= mwlLoMilli && col("mwl_milli") <= mwlHiMilli)
      .withColumn("r3_stop", col("stop_hits") >= minStopHits)
      .withColumn("r4_top", col("top_frac_milli") <= topFracMilli)
      .withColumn("r5_distinct", col("distinct_frac_milli") >= distinctFracMilli)
      .withColumn("keep",
        col("r1_wc") && col("r2_mwl") && col("r3_stop") &&
          col("r4_top") && col("r5_distinct"))
  }

  def piiRedact(df: DataFrame, textCol: String): DataFrame =
    // patterns passed as VALUES (lit), never through SQL text — a
    // single-quoted SQL literal would eat regex escapes (\b -> 0x08)
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phonePattern), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), emailPattern, "[EMAIL]"),
          phonePattern, "[PHONE]"))

  /** Benchmark decontamination: find training documents sharing at
    * least one word `n`-gram with any benchmark document — the overlap
    * check run against eval sets before training. Documents shorter
    * than `n` tokens contribute their whole token sequence as a single
    * gram (kept checkable instead of silently exempt).
    *
    * Returns one row per contaminated training doc:
    * (train_id, n_shared_grams  — distinct overlapping grams,
    *  n_bench_docs — distinct benchmark docs hit, min_bench_id).
    *
    * Plan shape: both sides explode to DISTINCT grams (linear in
    * corpus token count), then a broadcast equi-join on the gram —
    * the benchmark side is small by definition, so the training corpus
    * NEVER shuffles; contamination cost scales with the benchmark, not
    * the corpus. That is the property that makes this runnable inline
    * in a 100 TB curation pass.
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    val t = wordGrams(train, idCol, "train_id", textCol, n)
    // per-(bench_id, gram) distinct before the broadcast (r22, advisory):
    // wordGrams emits duplicate grams since r21, and duplicates on the
    // BROADCAST side multiply join fan-out t_dups x b_dups — the
    // count_distinct/min aggregate absorbs them either way, but the
    // broadcast size and the joined row count should not grow with
    // bench-side repetition
    val b = wordGrams(bench, idCol, "bench_id", textCol, n).distinct()
    t.join(broadcast(b), Seq("gram"))
      .groupBy(col("train_id"))
      .agg(count_distinct(col("gram")).as("n_shared_grams"),
        count_distinct(col("bench_id")).as("n_bench_docs"),
        min(col("bench_id")).as("min_bench_id"))
  }

  /** Word n-grams per document WITH duplicates (the r21 generator
    * rewrite dropped the per-doc distinct — every consumer is
    * dedup-insensitive, see the body comment; callers that broadcast
    * or join on the gram apply their own .distinct() to bound
    * fan-out), id aliased to `idAs`; docs shorter than n tokens
    * contribute their whole sequence as one gram (shared by
    * [[decontaminate]] and [[decontaminateBloomKeep]] so the two
    * paths see byte-identical gram sets).
    */
  private def wordGrams(
      df: DataFrame, idCol: String, idAs: String, textCol: String, n: Int): DataFrame = {
    // gram stream via the native explode_ngrams Generator (r21): the
    // composed explode(array_distinct(transform(...))) materialized
    // the gram array AND a per-doc string dedup set under an
    // interpreted lambda. The generator emits every gram (WITH
    // duplicates) in O(1) state; dropping the per-doc distinct is
    // output-invariant because every consumer is dedup-insensitive —
    // decontaminate aggregates count_distinct/min, sharedGramPairs
    // ends in .distinct(), and the bloom path is bit-OR + semi/anti
    // joins. The < n-token whole-doc fallback rides the SAME generator
    // as a (joined, NULL x n-1) n-array — concat_ws skips nulls, so
    // its one gram is exactly the joined doc.
    val gramSrc = when(size(col("toks")) >= n, col("toks"))
      .otherwise(array(concat_ws(" ", col("toks")) +:
        Seq.fill(n - 1)(lit(null).cast("string")): _*))
    df.select(col(idCol).as(idAs), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col(idAs),
        call_function(graft.functions.VectorExpressions.ngramsFnName,
          gramSrc, lit(n)).as("gram"))
  }

  /** Distinct (left_id, right_id) pairs sharing at least one word
    * n-gram — the pair-level form of [[decontaminate]]'s per-doc
    * report, used as the relevance gold set of retrieval evaluation
    * (q127). The right side broadcasts (it is the query/benchmark
    * side by contract), so the left corpus never shuffles.
    */
  def sharedGramPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame =
    wordGrams(left, idCol, "left_id", textCol, n)
      // broadcast-side distinct bounds the join fan-out (see
      // decontaminate); the result is .distinct() anyway
      .join(broadcast(wordGrams(right, idCol, "right_id", textCol, n).distinct()),
        Seq("gram"))
      .select(col("left_id"), col("right_id")).distinct()

  /** Bloom-prefiltered decontamination, APPLY form: return the training
    * rows whose documents share NO word `n`-gram with the benchmark —
    * the filtered corpus a curation pass actually writes out.
    *
    * Why a second decontamination path: [[decontaminate]]'s broadcast
    * gram join is the right plan while the benchmark gram table is
    * small, but a contamination set of many eval suites (10⁷–10⁸
    * grams) makes "hash-join every corpus gram against the broadcast
    * table" the first thing 10¹¹ corpus grams meet. Here the first
    * thing they meet is a k-probe bit test against a fixed-size packed
    * bit array ([[graft.functions.BloomFilter]]): grams that cannot
    * match die map-side in a codegen'd expression, and only the
    * surviving sliver reaches the exact confirm semi-join. The bloom
    * has no false negatives by construction and false positives are
    * eliminated by the confirm join, so the result is EXACTLY the
    * no-shared-gram anti-join — which is what the q116 DuckDB oracle
    * recomputes with no bloom at all.
    *
    * Plan: bench grams -> one-row bit array (OR-merged partial
    * aggregation) -> broadcast cross join onto the train gram stream ->
    * builtin-only bit test -> exact confirm semi-join (unhinted — AQE
    * broadcasts it only when the gram table really is small) ->
    * doc-level left-anti. The training corpus never shuffles before
    * the bloom prefilter.
    */
  def decontaminateBloomKeep(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      numBits: Int = 1 << 20,
      k: Int = 4): DataFrame = {
    import graft.functions.BloomFilter
    def hashed(df: DataFrame): DataFrame = {
      val (g1, g2) = BloomFilter.baseHashes(col("gram"))
      df.withColumn("g1", g1).withColumn("g2", g2)
    }
    val bg = wordGrams(bench, idCol, "bench_id", textCol, n).select(col("gram")).distinct()
    val bloom = hashed(bg)
      .agg(BloomFilter.bloomAgg(numBits, k)(col("g1"), col("g2")).as("bits"))
    val candidates = hashed(wordGrams(train, idCol, "train_id", textCol, n))
      .crossJoin(broadcast(bloom))
      .filter(BloomFilter.mightContain(col("bits"), col("g1"), col("g2"), numBits, k))
    // confirm join unhinted: the whole point of this path is a bench
    // gram table too large to broadcast — AQE picks broadcast when it
    // is small and a shuffle join when it is not; the corpus-sized
    // fan-in was already killed by the bloom
    val contaminated = candidates
      .join(bg, Seq("gram"), "left_semi")
      .select(col("train_id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Exact heavy hitters over corpus tokens — every term with
    * frequency strictly above total/`support`, with its EXACT count —
    * without ever shuffling the full distinct-term table.
    *
    * Two passes, both bounded:
    *   1. sketch pass: ONE global aggregation computes the Misra–Gries
    *      candidate set ([[graft.functions.MisraGries]], `capacity`
    *      counters) and the exact token total together — the candidate
    *      set provably contains every term above the threshold as long
    *      as capacity >= support, so nothing can be missed;
    *   2. confirm pass: tokens are filtered against the broadcast
    *      (<= capacity)-term candidate list map-side, and only those
    *      survivors are counted exactly. The support test then runs on
    *      exact integers (`cnt * support > total`).
    *
    * Why not a plain groupBy(term): at web-corpus scale the distinct-
    * term table is billions of rows shuffled to find a handful of hot
    * terms. Here the shuffle carries at most `capacity` candidates per
    * map partition (pass 1 partials) and the confirmed sliver (pass
    * 2). The corpus is scanned twice and shuffled never — the sketch-
    * prefilter + exact-confirm shape of [[decontaminateBloomKeep]],
    * with the same consequence: the OUTPUT is exact, so the q119
    * DuckDB oracle recomputes it with a full GROUP BY and no sketch.
    */
  def heavyHittersExact(
      df: DataFrame,
      textCol: String,
      support: Int,
      capacity: Int = 256): DataFrame = {
    require(support >= 2, s"support must be >= 2: $support")
    require(capacity >= support,
      s"capacity $capacity < support $support would break the MG containment guarantee")
    val terms = df.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
    val sketch = terms.agg(
      graft.functions.MisraGries.counts(capacity)(col("term")).as("cand"),
      count(lit(1)).as("total"))
    val cands = sketch.select(explode(col("cand")).as(Seq("term", "residual")), col("total"))
      .select(col("term"), col("total"))
    terms.join(broadcast(cands), Seq("term"))
      .groupBy(col("term"), col("total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(support.toLong) > col("total"))
      .select(col("term"), col("cnt"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Full identity of a persisted MG sketch's scheme: tokenizer and
    * capacity both change which candidates survive, so both are part
    * of the stamp ([[graft.operators.ArtifactStamp]] discipline — a
    * sketch built under a different tokenizer or capacity must refuse
    * to compose with new batches).
    */
  def mgScheme(capacity: Int): String =
    s"mg|tokens=lower-alnum|capacity=$capacity"

  /** Bounded per-batch MG sketch as rows: (term, residual BIGINT),
    * at most `capacity` rows — the unit of state
    * [[heavyHittersIncrement]] merges and persists.
    */
  def mgSketch(df: DataFrame, textCol: String, capacity: Int): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .agg(graft.functions.MisraGries.counts(capacity)(col("term")).as("m"))
      .select(explode(col("m")).as(Seq("term", "residual")))

  /** Merge two sketch row-sets with the mergeable-summaries rule. Both
    * sides are <= capacity rows by contract, so the driver-side merge
    * is bounded state (the BPE-merge-list discipline), not a corpus
    * collect.
    */
  def mergeSketches(a: DataFrame, b: DataFrame, capacity: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    def toMap(df: DataFrame): Map[String, Long] =
      df.select(col("term"), col("residual").cast("long"))
        .collectAsList().asScala.map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = graft.functions.MisraGries.mergeCounts(toMap(a), toMap(b), capacity)
    val spark = a.sparkSession
    import spark.implicits._
    merged.toSeq.toDF("term", "residual")
  }

  /** Exact heavy hitters from an ALREADY-BUILT candidate sketch over
    * an accumulated corpus — the confirm half of
    * [[heavyHittersIncrement]]: exact total, broadcast candidate
    * filter, exact counts, integer support test. Output is exact as
    * long as the sketch's containment guarantee covers the corpus
    * (capacity >= support and the sketch absorbed every batch).
    */
  def heavyHittersFromSketch(
      df: DataFrame,
      textCol: String,
      sketch: DataFrame,
      support: Int): DataFrame = {
    require(support >= 2, s"support must be >= 2: $support")
    val terms = df.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
    val total = terms.agg(count(lit(1)).as("total"))
    terms.join(broadcast(sketch.select(col("term"))), Seq("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(support.toLong) > col("total"))
      .select(col("term"), col("cnt"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Full identity of a persisted decontamination index's scheme —
    * gram order, bloom geometry, and base hash all change which bits
    * light up, so all are stamped.
    */
  def bloomScheme(n: Int, numBits: Int, k: Int): String =
    s"bloom|tokens=lower-alnum|gram_n=$n|bits=$numBits|k=$k|base=md5-60(bf1/bf2)"

  /** Absorb a benchmark batch into a persisted decontamination index:
    * the batch's distinct word n-grams append to `indexDir/grams` and
    * its Bloom bits OR into `indexDir/bits` (a one-row array<long> —
    * `zip_with(prev, new, |)`, the bitwise form of the sketch-merge
    * rule). New eval suites join the index without re-hashing old
    * ones; [[decontaminateWithIndex]] reads the result. Scheme-stamped
    * ([[graft.operators.ArtifactStamp]]): bits built under different
    * gram order, geometry, or base hash refuse to compose.
    *
    * Scale contract (r18 verdict note): each increment REWRITES the
    * full bits file — an O(numBits), not O(delta), step. That is
    * free at the default 2^20 bits (128 KiB: one single-row collect,
    * one tiny parquet write) and stays cheap to ~2^30 bits (128 MiB
    * driver round-trip per absorb). A 100 TB decontamination bloom
    * sized for BILLIONS of grams (>= 2^33 bits, GBs wide) crosses the
    * line: at that geometry, shard the bits column into K fixed
    * ranges (bits_0..bits_{K-1} rows, OR-merged per shard, only
    * DIRTY shards rewritten) before reaching for this path — the
    * merged bits ARE the state, so the rewrite cost is the floor.
    */
  def decontaminationIndexIncrement(
      benchBatch: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      n: Int = 5,
      numBits: Int = 1 << 20,
      k: Int = 4): Unit = {
    import graft.functions.BloomFilter
    val spark = benchBatch.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(hconf)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    val scheme = bloomScheme(n, numBits, k)
    if (exists(s"$indexDir/bits"))
      ArtifactStamp.require(indexDir, hconf, "_bloom_scheme.json", scheme,
        "decontamination index", "its bits would miss every gram the new scheme hashes differently")
    val bg = wordGrams(benchBatch, idCol, "bench_id", textCol, n)
      .select(col("gram")).distinct()
    val (g1, g2) = BloomFilter.baseHashes(col("gram"))
    val batchBits = bg.withColumn("g1", g1).withColumn("g2", g2)
      .agg(BloomFilter.bloomAgg(numBits, k)(col("g1"), col("g2")).as("bits"))
    val merged =
      if (exists(s"$indexDir/bits")) {
        val prev = spark.read.parquet(s"$indexDir/bits").select(col("bits").as("prev"))
        batchBits.crossJoin(broadcast(prev))
          .select(zip_with(col("bits"), col("prev"), (a, b) => a.bitwiseOR(b)).as("bits"))
      } else batchBits
    // materialize BEFORE the overwrite: `merged` lazily reads the
    // bits file the write is about to replace
    val rows = merged.collect()
    val spark2 = spark
    import spark2.implicits._
    rows.map(_.getSeq[Long](0)).toSeq.toDF("bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/bits")
    bg.write.mode("append").parquet(s"$indexDir/grams")
    ArtifactStamp.write(indexDir, hconf, "_bloom_scheme.json", scheme)
  }

  /** [[decontaminateBloomKeep]] against a PERSISTED index built by
    * [[decontaminationIndexIncrement]] — the production read path: the
    * corpus gram stream meets the index's broadcast bits map-side, and
    * only the surviving sliver joins the stored gram table (which at
    * eval-suite scale is the join Spark can plan freely — the bloom
    * already removed the corpus-sized fan-in). Exactness is unchanged:
    * no false negatives in the OR-merged bits, false positives die in
    * the confirm join.
    */
  def decontaminateWithIndex(
      train: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      n: Int = 5,
      numBits: Int = 1 << 20,
      k: Int = 4): DataFrame = {
    import graft.functions.BloomFilter
    val spark = train.sparkSession
    ArtifactStamp.require(indexDir, spark.sessionState.newHadoopConf(),
      "_bloom_scheme.json", bloomScheme(n, numBits, k), "decontamination index",
      "its bits would miss every gram this scheme hashes differently")
    val bloom = spark.read.parquet(s"$indexDir/bits")
    val benchGrams = spark.read.parquet(s"$indexDir/grams")
    val (g1, g2) = BloomFilter.baseHashes(col("gram"))
    val candidates = wordGrams(train, idCol, "train_id", textCol, n)
      .withColumn("g1", g1).withColumn("g2", g2)
      .crossJoin(broadcast(bloom))
      .filter(BloomFilter.mightContain(col("bits"), col("g1"), col("g2"), numBits, k))
    // no broadcast hint on the stored-gram confirm: a production
    // contamination set is 10^7-10^8 grams (multi-GB, past broadcast
    // limits) — the bloom already shrank the probe side, so this is
    // the one join Spark should plan freely (AQE broadcasts it when
    // the gram table really is small)
    val contaminated = candidates
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(col("train_id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The committed head of a persisted MG sketch state dir:
    * (generation, last absorbed stream batch id; -1 if none). The head
    * file is the COMMIT POINT of [[heavyHittersIncrement]] — sketch
    * generations are immutable dirs and the head flips to the new one
    * only after it is fully written, so a crash at any earlier point
    * leaves the previous generation (and the previous head) intact.
    */
  private def readMgHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration): Option[(Long, Long)] = {
    for (j <- graft.sources.AtomicHead.read(stateDir, "_mg_head.json", hconf);
         g <- graft.Json.long(j, "gen"); b <- graft.Json.long(j, "last_batch_id"))
      yield (g, b)
  }

  /** Commit the head pointer via create-temp + atomic rename — the
    * staged-swap discipline of Pipeline.publish applied to the sketch
    * state, so a crash mid-commit can corrupt at most a temp file.
    */
  private def writeMgHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration, gen: Long, lastBatch: Long): Unit =
    graft.sources.AtomicHead.write(stateDir, "_mg_head.json", gen,
      s"""{"gen": $gen, "last_batch_id": $lastBatch}""", hconf)

  /** The committed sketch rows of a persisted state dir — resolves the
    * head pointer to its immutable generation dir. Fails loudly on a
    * dir with no committed head (nothing was ever absorbed, or the
    * state predates the generation layout).
    */
  def readSketch(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val head = readMgHead(stateDir, hconf).getOrElse(throw new IllegalStateException(
      s"MG sketch state at $stateDir has no committed head — no batch was ever absorbed"))
    spark.read.parquet(s"$stateDir/gen-${head._1}")
  }

  private case class CmsHead(gen: Long, lastBatch: Long, d: Int, w: Int)

  private def readCmsHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration): Option[CmsHead] = {
    for (j <- graft.sources.AtomicHead.read(stateDir, "_cms_head.json", hconf);
         g <- graft.Json.long(j, "gen"); b <- graft.Json.long(j, "last_batch_id");
         dd <- graft.Json.long(j, "d"); ww <- graft.Json.long(j, "w"))
      yield CmsHead(g, b, dd.toInt, ww.toInt)
  }

  private def writeCmsHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration, h: CmsHead): Unit =
    graft.sources.AtomicHead.write(stateDir, "_cms_head.json", h.gen,
      s"""{"gen": ${h.gen}, "last_batch_id": ${h.lastBatch}, """ +
        s""""d": ${h.d}, "w": ${h.w}}""", hconf)

  /** One incremental step of a persisted count-min sketch: absorb
    * `batch`'s token stream into the sketch at `stateDir`. CMS is a
    * LINEAR sketch, so absorb = elementwise cell add — increments
    * commute, and N-batch state is bit-identical to a one-shot build
    * over the batch union (q155 gates exactly that equivalence
    * through the probe tail). State discipline mirrors the MG sketch:
    * immutable `gen-<g>` dirs, the `_cms_head.json` pointer flips
    * LAST via atomic rename (a crash at any earlier point leaves the
    * previous generation committed), and with `batchId` set, a batch
    * at or below the committed head is skipped outright — replays
    * under at-least-once delivery converge instead of double-counting.
    * A (d, w) mismatch against the committed stamp fails loudly:
    * cells of differently-shaped sketches must never be added. The
    * state is d*w longs regardless of corpus size; the merge is a
    * one-row zip_with, never a driver collect.
    */
  def countMinIncrement(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      batch: DataFrame,
      textCol: String,
      d: Int,
      w: Int,
      batchId: Long = -1L): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val head = readCmsHead(stateDir, hconf)
    head.foreach { h =>
      require(h.d == d && h.w == w,
        s"sketch shape mismatch: state at $stateDir is ${h.d}x${h.w}, caller asked ${d}x$w")
    }
    val alreadyAbsorbed = head.exists(h => batchId >= 0 && batchId <= h.lastBatch)
    if (!alreadyAbsorbed) {
      val batchSk = batch
        .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
        .agg(graft.functions.CountMin.sketch(d, w)(col("term")).as("sk_new"))
      val merged = head match {
        case None => batchSk.select(col("sk_new").as("sk"))
        case Some(h) =>
          spark.read.parquet(s"$stateDir/gen-${h.gen}")
            .crossJoin(batchSk)
            .select(zip_with(col("sk"), col("sk_new"), (a, b) => a + b).as("sk"))
      }
      val nextGen = head.map(_.gen + 1L).getOrElse(0L)
      // overwrite, not errorifexists: an at-least-once replay of a
      // HALF-committed batch (gen written, head not flipped) recomputes
      // against the unmoved head and must rewrite identical bytes —
      // the cdcAbsorb/recrawlIncrement convergence contract
      merged.write.mode("overwrite").parquet(s"$stateDir/gen-$nextGen")
      writeCmsHead(stateDir, hconf, CmsHead(nextGen,
        math.max(batchId, head.map(_.lastBatch).getOrElse(-1L)), d, w))
    }
  }

  /** The committed CMS state rows (one row, the d*w cell array `sk`)
    * of a persisted state dir — resolves the head pointer to its
    * immutable generation dir; fails loudly if nothing was absorbed.
    */
  def readCmsSketch(
      spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val h = readCmsHead(stateDir, hconf).getOrElse(throw new IllegalStateException(
      s"CMS state at $stateDir has no committed head — no batch was ever absorbed"))
    spark.read.parquet(s"$stateDir/gen-${h.gen}")
  }

  /** One incremental step of the streaming/batch heavy-hitter loop:
    * absorb `batch` into the persisted sketch at `stateDir` (bounded
    * merge, old data never revisited) and land the batch in
    * `corpusDir` for confirm passes. Bootstrap-safe (missing dirs),
    * scheme-stamped (a sketch built under a different tokenizer or
    * capacity fails loudly — the band-index discipline).
    *
    * Crash-safety and replay (the foreachBatch contract is
    * at-least-once): sketch generations are immutable — the merge
    * writes a NEW `gen-<g>` dir and the head pointer flips only after
    * it lands, so a crash never loses the previous state and never
    * forces a corpus re-tokenization. With `batchId` set (the
    * streaming path), the step is IDEMPOTENT end-to-end: a batch id at
    * or below the committed head is skipped outright, and the corpus
    * write targets the `batch_id=<b>` partition dir with overwrite, so
    * a replay of a half-committed batch converges to exactly-once
    * state instead of double-counting. Without `batchId` (ad-hoc batch
    * folds), a caller-level rerun of the same batch is at-least-once —
    * use ids when the caller can replay.
    */
  def heavyHittersIncrement(
      batch: DataFrame,
      textCol: String,
      stateDir: String,
      corpusDir: String,
      capacity: Int,
      batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val scheme = mgScheme(capacity)
    val head = readMgHead(stateDir, hconf)
    // scheme gate FIRST: a replayed-looking batch id from a different
    // scheme (or a fresh checkpoint whose ids restarted) must fail
    // loudly, not be silently skipped as "already absorbed"
    if (head.isDefined)
      graft.operators.ArtifactStamp.require(stateDir, hconf, "_mg_scheme.json",
        scheme, "MG sketch", "merging batch sketches into it would lose the containment bound")
    // idempotence contract: batch ids are only comparable within ONE
    // checkpoint lineage (the streaming recovery contract — replays
    // re-deliver the same id with the same data from the same
    // checkpoint); a restarted query MUST reuse its checkpoint
    if (batchId.exists(b => head.exists(_._2 >= b))) return // replayed, fully committed
    val prev = head match {
      case Some((g, _)) => spark.read.parquet(s"$stateDir/gen-$g")
      case None         => mgSketch(batch.limit(0), textCol, capacity)
    }
    val merged = mergeSketches(prev, mgSketch(batch, textCol, capacity), capacity)
    // corpus first: until the head flips the batch is not "absorbed",
    // and the partitioned-overwrite form makes a replay rewrite the
    // same files rather than appending duplicates
    batchId match {
      case Some(b) => batch.write.mode("overwrite").parquet(s"$corpusDir/batch_id=$b")
      case None    => batch.write.mode("append").parquet(corpusDir)
    }
    val newGen = head.map(_._1 + 1L).getOrElse(0L)
    merged.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/gen-$newGen")
    graft.operators.ArtifactStamp.write(stateDir, hconf, "_mg_scheme.json", scheme)
    writeMgHead(stateDir, hconf, newGen,
      batchId.orElse(head.map(_._2)).getOrElse(-1L))
    // retention: the previous generation stays (a reader resolved just
    // before the flip may still be scanning it); older ones go
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(hconf)
    (0L until newGen - 1).foreach { g =>
      val p = new org.apache.hadoop.fs.Path(stateDir, s"gen-$g")
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** [[heavyHittersFromSketch]] against a PERSISTED state dir — the
    * read path that can ENFORCE the containment precondition: the
    * sketch capacity is recovered from the scheme stamp and
    * `capacity >= support` is required before any work runs, so a
    * support finer than the sketch can guarantee fails loudly instead
    * of silently dropping true heavy hitters.
    */
  def heavyHittersFromState(
      df: DataFrame,
      textCol: String,
      stateDir: String,
      support: Int): DataFrame = {
    val spark = df.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val scheme = graft.operators.ArtifactStamp.read(stateDir, hconf, "_mg_scheme.json")
      .getOrElse(throw new IllegalStateException(
        s"MG sketch state at $stateDir has no scheme stamp — its capacity is unknowable"))
    val capacity = "capacity=(\\d+)".r.findFirstMatchIn(scheme).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"MG scheme stamp at $stateDir does not carry a capacity: $scheme"))
    require(capacity >= support,
      s"sketch capacity $capacity < support $support: the persisted sketch cannot " +
        "guarantee containment at this support — rebuild it with a larger capacity")
    heavyHittersFromSketch(df, textCol, readSketch(spark, stateDir), support)
  }

  /** Corpus drift report between two corpus slices (yesterday's crawl
    * vs today's, one source vs the fleet): per-term occurrence rates
    * in parts-per-million on each side and the absolute rate shift,
    * top `topN` shifted terms — the distribution-shift monitor a
    * continuously-refreshed training corpus runs per ingest batch.
    *
    * Exactness discipline (the q84 rule): all counting is BIGINT, the
    * rates are single floor-truncated integer divisions
    * (`cnt * 10^6 div total`), and the final order is (drift DESC,
    * term) — no float accumulation anywhere, so the DuckDB gate is
    * bit-tight.
    *
    * Plan shape: both slices explode to (term, side-tag) and meet in
    * ONE map-side-combined groupBy — no join between the sides; the
    * two corpus totals ride a broadcast one-row cross join; the final
    * top-N is TakeOrdered (never a single-partition global sort). Low-
    * count tail terms are dropped by `minCount` BEFORE ranking so the
    * report is not noise-dominated.
    */
  def corpusDrift(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      minCount: Long = 50,
      topN: Int = 40): DataFrame = {
    def side(df: DataFrame, inA: Int, inB: Int): DataFrame =
      df.select(explode(TextFunctions.tokens(col(textCol))).as("term"),
        lit(inA.toLong).as("in_a"), lit(inB.toLong).as("in_b"))
    val counts = side(a, 1, 0).unionAll(side(b, 0, 1))
      .groupBy(col("term"))
      .agg(sum(col("in_a")).as("cnt_a"), sum(col("in_b")).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
    counts.crossJoin(broadcast(totals))
      .filter(col("cnt_a") + col("cnt_b") >= minCount)
      .withColumn("ppm_a",
        when(col("tot_a") > 0, expr("(cnt_a * 1000000) div tot_a")).otherwise(lit(0L)))
      .withColumn("ppm_b",
        when(col("tot_b") > 0, expr("(cnt_b * 1000000) div tot_b")).otherwise(lit(0L)))
      .withColumn("drift", abs(col("ppm_a") - col("ppm_b")))
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        col("ppm_a"), col("ppm_b"), col("drift"))
      .orderBy(col("drift").desc, col("term"))
      .limit(topN)
  }

  /** Per-group frequency cap — the C4/Gopher curation rule "keep at
    * most N documents per domain/source" (hot domains otherwise
    * dominate the mixture): per group, keep the `cap` documents that
    * come FIRST in a deterministic hash order (`cap|` salt — a
    * replayable uniform draw independent of q82's `mix|` and q98's
    * `split|` salts; doc-id order would bias toward early crawls).
    * Output: (group, rank, doc_id) for kept docs, rank 1..cap in keep
    * order.
    *
    * Scale shape: built on [[graft.functions.TopKAggregator]], NOT a
    * window — per group only `cap` (hash, id) pairs survive map-side
    * combine, so a hot domain with 10⁹ pages costs cap-sized state
    * instead of a single-task window sort over the whole domain. The
    * hash is folded into [0, 2⁵²) so its negation is exact in the
    * aggregator's double (2⁵³ mantissa).
    */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val hv = pmod(TextFunctions.hash60(
      concat(lit("cap|"), col(idCol))), lit(1L << 52))
    df.select(col(groupCol).as("grp"), col(idCol).as("id"), hv.as("hv"))
      .groupBy(col("grp"))
      .agg(graft.functions.TopKAggregator.topK(cap)(
        -col("hv").cast("double"), col("id")).as("top"))
      .select(col("grp"), posexplode(col("top.top_ids")).as(Seq("pos", "doc_id")))
      .select(col("grp").as(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("doc_id"))
  }

  /** KMV (bottom-k / k-minimum-values) distinct-cardinality estimate
    * per group — Bar-Yossef et al. 2002, the third member of the
    * exact-sketch family (MG heavy hitters, Bloom decontamination):
    * like those, the sketch itself is DETERMINISTIC given the hash,
    * so the q137 DuckDB oracle recomputes the identical estimate and
    * the gate is hash-exact — no tolerance bands.
    *
    * Estimator: hash each distinct value into [0, 2⁵²) (md5-60
    * folded — 2⁵² so `(k−1)·M` stays inside a BIGINT at k ≤ 2048),
    * keep the k smallest; if the group has ≥ k distinct values,
    * estimate = (k−1)·M DIV h_k (truncating BIGINT division, h_k the
    * k-th smallest, floored at 1 against the ~k/2⁵² zero-hash case);
    * below k the bottom-k set IS the exact answer. Standard error
    * ~1/√(k−2) — k=64 ≈ 13%, k=256 ≈ 6%.
    *
    * Scale shape: one distinct on (group, hash) — map-side partial
    * distinct shrinks it before the exchange — then the bounded
    * TopKAggregator (k-sized state, map-side combine; bottom-k =
    * top-k of the negated hash, the capPerGroup machinery). The
    * sketch is mergeable (union of bottom-k sets → bottom-k), which
    * is what makes it the cardinality monitor for ingest batches at
    * 100 TB: groups never hold more than k values anywhere.
    */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 2048, s"k must be in [2, 2048], got $k")
    val m = 1L << 52
    val hv = pmod(TextFunctions.hash60(
      concat(lit("kmv|"), col(valueCol))), lit(m))
    val bottom = df
      .select(col(groupCol).as("grp"), hv.as("hv"))
      .distinct()
      .groupBy(col("grp"))
      .agg(graft.functions.TopKAggregator.topK(k)(
        -col("hv").cast("double"), col("hv")).as("top"))
      .select(col("grp").as(groupCol), col("top.top_ids").as("bottom"))
    // (k−1)·M DIV h_k via the SQL DIV operator: Column `/` is double
    // division and (k−1)·M exceeds 2⁵³ — the quotient must stay exact
    bottom.selectExpr(
      groupCol,
      "CAST(size(bottom) AS BIGINT) AS n_sketch",
      s"CAST(CASE WHEN size(bottom) < $k THEN size(bottom) " +
        s"ELSE ${(k - 1).toLong * m}L DIV greatest(element_at(bottom, $k), 1L) " +
        "END AS BIGINT) AS distinct_est")
  }

  /** Encoding audit — the crawl-QA pass that catches text DAMAGED
    * BEFORE curation ever sees it: mojibake (UTF-8 bytes decoded as
    * latin-1/cp1252 — the "Ã©"/"â€™" class, detected by its
    * structural signature: Ã/Â/â followed by a continuation-range
    * codepoint), U+FFFD replacement characters (a decoder already
    * gave up), and stray C0/C1 controls. A page failing this audit
    * poisons every downstream signal (tokens, lang-ID, dedup
    * shingles) while looking statistically normal — the reason real
    * pipelines run the encoding check FIRST. Returns per doc the
    * three counts, total chars, and `verdict`:
    * 'mojibake' | 'replacement' | 'control' | 'clean' (first match in
    * that order — mojibake dominates because it implies a systematic
    * double-decode, not a stray byte).
    *
    * Counts are regexp-deletion length deltas over explicit BMP
    * codepoint classes (the q191 discipline — both engines count
    * identically); map-only, codegen'd, zero exchanges.
    */
  def encodingAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // Ã (U+00C3), Â (U+00C2), â (U+00E2) followed by a codepoint in
    // the range UTF-8 continuation bytes land in under latin-1/cp1252
    // (U+0080–U+00BF) or cp1252's remapped punctuation (€‚ƒ„…†‡ˆ‰Š‹ŒŽ
    // ''""•–—˜™š›œžŸ — U+2000 block & friends); the pair is the
    // mojibake signature, single accented letters alone are fine
    val moji = "[\\u00c2\\u00c3\\u00e2][\\u0080-\\u00bf\\u20ac\\u201a\\u0192" +
      "\\u201e\\u2026\\u2020\\u2021\\u02c6\\u2030\\u0160\\u2039\\u0152\\u017d" +
      "\\u2018\\u2019\\u201c\\u201d\\u2022\\u2013\\u2014\\u02dc\\u2122\\u0161" +
      "\\u203a\\u0153\\u017e\\u0178]"
    val repl = "\\ufffd"
    val ctrl = "[\\u0000-\\u0008\\u000b\\u000c\\u000e-\\u001f\\u007f-\\u009f]"
    def hits(pat: String, width: Int): org.apache.spark.sql.Column =
      ((length(t) - length(regexp_replace(t, pat, ""))) / width).cast("long")
    df.select(col(idCol),
        hits(moji, 2).as("mojibake_hits"),
        hits(repl, 1).as("replacement_hits"),
        hits(ctrl, 1).as("control_hits"),
        length(t).cast("long").as("n_chars"))
      .withColumn("verdict",
        when(col("mojibake_hits") > 0, "mojibake")
          .when(col("replacement_hits") > 0, "replacement")
          .when(col("control_hits") > 0, "control")
          .otherwise("clean"))
  }

  /** Shrunk (empirical-Bayes) group means — the smoothing every
    * domain-level quality list needs before it gates a crawl
    * (FineWeb-style domain filtering, seller-rating folklore): a
    * domain with 3 documents and a perfect raw mean must NOT outrank
    * a domain with 30 000 documents and a great one. Additive
    * smoothing toward the global mean with prior weight w —
    *
    *   shrunk = (Σv + w·G) DIV (n + w),  G = (ΣΣv) DIV N
    *
    * — the Bayesian posterior mean under a global prior worth w
    * observations, all truncating BIGINT so the q198 oracle
    * re-derives it exactly. Returns (group, n, raw_mean, shrunk_mean);
    * raw_mean = Σv DIV n for the unsmoothed comparison column.
    *
    * Plan shape: one map-side-combined groupBy + a ONE-ROW global
    * aggregate broadcast back — two exchanges total, group-cardinality
    * output.
    */
  def shrunkGroupMean(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      priorWeight: Long): DataFrame = {
    require(priorWeight >= 1, s"priorWeight must be >= 1: $priorWeight")
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol).cast("long")).as("__sg_s"))
    val glob = df.agg(
      (sum(col(valueCol).cast("long"))).as("__sg_ts"),
      count(lit(1)).as("__sg_tn"))
    per.crossJoin(broadcast(glob))
      .selectExpr(groupCol, "n",
        "__sg_s DIV n AS raw_mean",
        s"(__sg_s + $priorWeight * (__sg_ts DIV __sg_tn)) " +
          s"DIV (n + $priorWeight) AS shrunk_mean")
  }

  /** Per-segment language detection — the MIXED-DOCUMENT signal
    * whole-doc language ID structurally cannot give (CCNet runs its
    * classifier per paragraph for exactly this reason): a page that
    * is half English boilerplate and half German content scores "en"
    * as a whole and poisons the de bucket. Documents segment into
    * fixed `segWidth`-token windows (the stripBoilerplate segmenter —
    * deterministic, newline-free-corpus-safe), each window language-
    * IDs independently via the stopword scorer (TextFunctions.langId
    * semantics: best hit count, earlier `langOrder` wins ties, "und"
    * when no hits), and the per-doc report reads:
    * (id, n_segs, primary_lang, primary_ppm, mixed) — primary = the
    * most frequent segment language (ties by langOrder priority,
    * "und" last), primary_ppm its exact segment share, mixed ⇔ ≥ 2
    * distinct non-und segment languages. Zero-token docs report
    * (0, "und", 0, false).
    *
    * Plan shape: one explode to segments (size-bounded arithmetic, no
    * join), per-segment scoring is codegen'd conditional counting,
    * then two map-side-combined groupBys (doc×lang counts → per-doc
    * argmax via min(struct)) — never a window, nothing quadratic.
    */
  def langSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWidth: Int = 10): DataFrame = {
    require(segWidth >= 1, s"segWidth must be >= 1: $segWidth")
    import graft.functions.TextFunctions
    val langs = TextFunctions.langOrder
    val prio = (l: org.apache.spark.sql.Column) =>
      langs.zipWithIndex.foldRight(lit(langs.size): org.apache.spark.sql.Column) {
        case ((lg, i), els) => when(l === lg, lit(i)).otherwise(els)
      }
    val toks = df.select(col(idCol).as("__ls_id"),
      TextFunctions.tokens(col(textCol)).as("__ls_toks"))
    val withN = toks.withColumn("__ls_n",
      expr(s"CAST((size(__ls_toks) + ${segWidth - 1}) DIV $segWidth AS INT)"))
    val segs = withN
      .filter(col("__ls_n") > 0)
      .select(col("__ls_id"), col("__ls_n"),
        explode(sequence(lit(0), col("__ls_n") - 1)).as("__ls_i"))
      .join(toks, Seq("__ls_id"))
      .select(col("__ls_id"), col("__ls_n"),
        expr(s"slice(__ls_toks, __ls_i * $segWidth + 1, $segWidth)").as("__ls_seg"))
    val scored = langs.foldLeft(segs) { (acc, l) =>
      acc.withColumn(s"__ls_s_$l", TextFunctions.stopwordHits(col("__ls_seg"), l))
    }
    val best = greatest(langs.map(l => col(s"__ls_s_$l")): _*)
    val segLang = langs.foldRight(lit("und"): org.apache.spark.sql.Column) {
      (l, els) => when(col(s"__ls_s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    val counts = scored.select(col("__ls_id"), col("__ls_n"), segLang.as("__ls_lang"))
      .groupBy(col("__ls_id"), col("__ls_n"), col("__ls_lang"))
      .agg(count(lit(1)).as("__ls_c"))
    val perDoc = counts.groupBy(col("__ls_id"), col("__ls_n"))
      .agg(
        min(struct((-col("__ls_c")).as("nc"),
          prio(col("__ls_lang")).as("p"),
          col("__ls_lang").as("l"), col("__ls_c").as("c"))).as("__ls_b"),
        sum(when(col("__ls_lang") =!= "und", 1L).otherwise(0L)).as("__ls_nl"))
      .selectExpr("__ls_id", "CAST(__ls_n AS BIGINT) AS n_segs",
        "__ls_b.l AS primary_lang",
        "(__ls_b.c * 1000000L) DIV __ls_n AS primary_ppm",
        "__ls_nl >= 2 AS mixed")
    df.select(col(idCol).as("__ls_id")).distinct()
      .join(perDoc, Seq("__ls_id"), "left")
      .select(col("__ls_id").as(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("primary_lang"), lit("und")).as("primary_lang"),
        coalesce(col("primary_ppm"), lit(0L)).as("primary_ppm"),
        coalesce(col("mixed"), lit(false)).as("mixed"))
  }

  /** KMV cross-corpus Jaccard — the set-RESEMBLANCE estimator the
    * distinct-cardinality sketch family extends to two corpora
    * (Broder 1997; Bar-Yossef et al. 2002; Beyer et al. 2007's
    * KMV set operations): how much does corpus B's value universe
    * overlap corpus A's — the vocabulary-shift / cross-corpus-
    * contamination headline at a cost of ONE bounded sketch per side
    * instead of a distinct-join over both. Deterministic given the
    * hash (the q137 rule), so the oracle recomputes the identical
    * estimate and the gate is hash-exact — the estimator's error band
    * is a property both engines reproduce bit-for-bit.
    *
    * Estimator, exactly as computed: over the k SMALLEST hashes of
    * the UNION's distinct values, `n_shared` counts those present in
    * both sides; jaccard_ppm = n_shared·10⁶ DIV n_in_k (n_in_k < k ⇔
    * the union is smaller than k ⇔ the estimate is EXACT);
    * union_est = (k−1)·M DIV h_k (the q137 bottom-k estimate, or the
    * exact count under k); inter_est = n_shared·union_est DIV n_in_k.
    *
    * Plan shape: each side dedups its hashed values (map-side
    * combine), one union + flag-merge groupBy, then the k-smallest
    * set via the bounded TopK aggregator (O(k) state, never a global
    * sort) re-joined by a BROADCAST k-row frame to pick up the side
    * flags. No corpus ever joins the other corpus.
    */
  def kmvJaccard(
      a: DataFrame, b: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 2048, s"k must be in [2, 2048], got $k")
    val m = 1L << 52
    def hv(df: DataFrame): DataFrame = df.select(
      pmod(TextFunctions.hash60(concat(lit("kmv|"), col(valueCol))), lit(m))
        .as("__kj_hv")).distinct()
    val u = hv(a).withColumn("__kj_a", lit(1L)).withColumn("__kj_b", lit(0L))
      .union(hv(b).withColumn("__kj_a", lit(0L)).withColumn("__kj_b", lit(1L)))
      .groupBy(col("__kj_hv"))
      .agg(max(col("__kj_a")).as("__kj_a"), max(col("__kj_b")).as("__kj_b"))
    val kset = u.agg(graft.functions.TopKAggregator.topK(k)(
        -col("__kj_hv").cast("double"), col("__kj_hv")).as("top"))
      .select(explode(col("top.top_ids")).as("__kj_hv"))
    val stats = broadcast(kset).join(u, Seq("__kj_hv"))
      .agg(count(lit(1)).as("n_in_k"),
        sum(col("__kj_a") * col("__kj_b")).as("n_shared"),
        max(col("__kj_hv")).as("__kj_hk"))
    stats.selectExpr(
      "CAST(n_in_k AS BIGINT) AS n_in_k",
      "CAST(n_shared AS BIGINT) AS n_shared",
      "CAST(CASE WHEN n_in_k > 0 THEN (n_shared * 1000000L) DIV n_in_k " +
        "ELSE 0L END AS BIGINT) AS jaccard_ppm",
      s"CAST(CASE WHEN n_in_k < $k THEN n_in_k " +
        s"ELSE ${(k - 1).toLong * m}L DIV greatest(__kj_hk, 1L) " +
        "END AS BIGINT) AS union_est")
      .selectExpr("n_in_k", "n_shared", "jaccard_ppm", "union_est",
        "CAST(CASE WHEN n_in_k > 0 THEN (n_shared * union_est) DIV n_in_k " +
          "ELSE 0L END AS BIGINT) AS inter_est")
  }

  /** One-pass column profiler — the ANALYZE/SUMMARIZE surface of the
    * engine (ingest monitoring, schema-drift alarms, join-planning
    * stats): per column, row count, null count, EXACT distinct count,
    * and min/max (computed on the NATIVE type, then rendered as
    * strings for the uniform long-format output — casting first would
    * compare "10" < "9" lexicographically). One aggregation over the
    * table (all columns' aggregates in a single pass; map-side
    * partial), then a row-explode of the single result row: at 100 TB
    * this is one scan, no shuffle beyond the final 1-row combine. The
    * multiple exact count_distincts expand the plan (Spark rewrites
    * them via expand); for a quick estimate on a wide table, profile a
    * column subset or use [[kmvDistinct]] per column instead.
    */
  def profile(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame = {
    val target = if (columns.isEmpty) df.columns.toSeq else columns
    require(target.nonEmpty, "profile: table has no columns")
    val aggs = target.flatMap { c =>
      Seq(count(col(c)).as(s"__p_n_$c"),
        count_distinct(col(c)).as(s"__p_ndv_$c"),
        min(col(c)).cast("string").as(s"__p_min_$c"),
        max(col(c)).cast("string").as(s"__p_max_$c"))
    } :+ count(lit(1)).as("__p_total")
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(target.map { c =>
        struct(lit(c).as("column"),
          col("__p_total").as("n_rows"),
          (col("__p_total") - col(s"__p_n_$c")).as("n_null"),
          col(s"__p_ndv_$c").as("n_distinct"),
          col(s"__p_min_$c").as("min_value"),
          col(s"__p_max_$c").as("max_value"))
      }: _*)).as("s"))
      .select(col("s.*"))
  }

  /** k-anonymity audit over quasi-identifier columns — the release
    * compliance check a training-data export runs before metadata
    * ships (Sweeney 2002): a row whose quasi-identifier combination
    * is shared by fewer than k rows re-identifies its subject by
    * join with any public table carrying the same attributes. Returns
    * one row per EQUIVALENCE CLASS — the quasi columns, its size, and
    * `anonymous` (size ≥ k) — the roster a release either suppresses
    * or generalizes; callers sum `n` over `NOT anonymous` for the
    * rows-at-risk headline.
    *
    * Plan shape: ONE map-side-combined groupBy on the quasi key —
    * the audit costs exactly one exchange at any corpus size. The
    * class count is bounded by the quasi-value cross product, not the
    * corpus, so downstream joins of the risky set broadcast.
    */
  def kAnonymityAudit(
      df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityAudit: no quasi columns")
    require(k >= 1, s"k must be >= 1: $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("anonymous", col("n") >= k)
  }

  /** Unicode script/character-class profile — the multilingual
    * curation signal upstream of language ID: per document, the ppm
    * share of codepoints in each class (Latin letters, digits,
    * whitespace, CJK ideographs, Cyrillic, Greek, everything else)
    * and the dominant NON-space class. A "Russian" page that is 40%
    * Latin is boilerplate-wrapped; a CJK page shredded by a charset
    * bug profiles as `other` — both are filter rules this feeds (the
    * fastText-style lang-ID prior, CCNet's per-language buckets).
    *
    * Exact-integer discipline: class counts are codepoint counts via
    * regexp deletion (both engines count BMP codepoints identically),
    * ppm = (count · 10⁶) DIV total — truncating, engine-portable.
    * Empty text profiles as all-zero ppm with dominant 'none'.
    * Map-only, codegen'd regexes, zero exchanges.
    */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val classes = Seq(
      "latin" -> "A-Za-z", "digit" -> "0-9", "space" -> "\\s",
      "cjk" -> "\\u4e00-\\u9fff", "cyrillic" -> "\\u0400-\\u04ff",
      "greek" -> "\\u0370-\\u03ff")
    val total = length(col(textCol))
    val counted = classes.foldLeft(
      df.select(col(idCol), col(textCol), total.as("__sp_total"))) {
      case (acc, (name, range)) =>
        acc.withColumn(s"__sp_$name",
          total - length(regexp_replace(col(textCol), s"[$range]", "")))
    }
    val known = classes.map { case (n, _) => col(s"__sp_$n") }.reduce(_ + _)
    val withOther = counted.withColumn("__sp_other", col("__sp_total") - known)
    // truncating integer DIV (column `/` is double division in Spark)
    val ppm = (classes.map(_._1) :+ "other").map { n =>
      expr(s"CASE WHEN __sp_total > 0 THEN " +
        s"(CAST(__sp_$n AS BIGINT) * 1000000L) DIV __sp_total " +
        s"ELSE 0L END").as(s"${n}_ppm")
    }
    // dominant non-space class by (count DESC, name ASC) — a greatest-
    // chain over a fixed class list, still map-only
    val domCand = (classes.filterNot(_._1 == "space").map(_._1) :+ "other")
    val domBest = greatest(domCand.map(n => col(s"__sp_$n")): _*)
    val dominant = domCand.foldRight(lit("none"): org.apache.spark.sql.Column) {
      (n, els) => when(col(s"__sp_$n") === domBest && domBest > 0, lit(n)).otherwise(els)
    }
    withOther.select(
      (col(idCol) +: ppm :+ dominant.as("dominant")): _*)
  }

  /** Corpus snapshot diff — the dataset-versioning question "what
    * changed between yesterday's corpus and today's": classify every
    * document id as added / removed / changed / unchanged by comparing
    * content hashes across a full outer join on the id. Returns one
    * row per id with its status — callers roll up counts or feed the
    * changed/added set to incremental passes (the delta that
    * [[countMinIncrement]]-style absorbs and the segmented indexes
    * consume, instead of reprocessing the snapshot).
    *
    * Plan shape: both sides project to (id, md5) BEFORE the join —
    * text never shuffles — then one id-keyed full outer join, the
    * minimal shape for a symmetric diff. At 100 TB both snapshots
    * would be bucketed by id on publish, making this join
    * shuffle-free.
    */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("h_old"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("h_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status", when(col("h_old").isNull, "added")
        .when(col("h_new").isNull, "removed")
        .when(col("h_old") === col("h_new"), "unchanged")
        .otherwise("changed"))
      .select(col("id"), col("status"))
  }

  /** Corpus version lineage — the SCD-2 history build over a stack of
    * corpus snapshots, answering the provenance questions a
    * training-data audit actually asks: "which text did doc X carry
    * when corpus vN trained run R?", "when did X change / disappear /
    * come back?". Input is the long form (id, version, text), one row
    * per document per snapshot it appears in (versions need not be
    * contiguous — a deletion is simply absence). Output is one row
    * per CONSTANT-CONTENT RUN: (id, valid_from, valid_to,
    * content_hash), where a run breaks on a content change OR a
    * version gap — so "deleted in v2, restored verbatim in v3" yields
    * two rows, which is the audit truth (the doc was NOT in v2), not
    * one smeared interval.
    *
    * Classic islands technique, exact and engine-portable: per doc,
    * lag() marks run starts (first row, non-consecutive version, or
    * hash change), a running sum numbers the runs, one groupBy
    * collapses them. Every window is PARTITIONED BY the document id —
    * the corpus-keyed shuffle a snapshot union already has, never a
    * global sort; state per group is one lag row. 100 TB: snapshots
    * stored partitioned by version prune on read; the id-hash
    * projection (md5, not text) is what shuffles — text never moves.
    */
  def versionHistory(
      snaps: DataFrame,
      idCol: String,
      versionCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__vh_v"))
    val h = snaps.select(col(idCol), col(versionCol).cast("long").as("__vh_v"),
      md5(col(textCol)).as("content_hash"))
    val st = h.withColumn("__vh_st",
      when(lag(col("__vh_v"), 1).over(w).isNull
        || col("__vh_v") =!= lag(col("__vh_v"), 1).over(w) + 1L
        || col("content_hash") =!= lag(col("content_hash"), 1).over(w),
        1L).otherwise(0L))
    st.withColumn("__vh_seg", sum(col("__vh_st")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__vh_seg"), col("content_hash"))
      .agg(min(col("__vh_v")).as("valid_from"),
        max(col("__vh_v")).as("valid_to"))
      .select(col(idCol), col("valid_from"), col("valid_to"),
        col("content_hash"))
  }

  private case class CdcHead(gen: Long, lastBatch: Long)

  private def readCdcHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration): Option[CdcHead] = {
    for (j <- graft.sources.AtomicHead.read(stateDir, "_cdc_head.json", hconf);
         g <- graft.Json.long(j, "gen"); b <- graft.Json.long(j, "last_batch_id"))
      yield CdcHead(g, b)
  }

  private def writeCdcHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration, h: CdcHead): Unit =
    graft.sources.AtomicHead.write(stateDir, "_cdc_head.json", h.gen,
      s"""{"gen": ${h.gen}, "last_batch_id": ${h.lastBatch}}""", hconf)

  /** One change-data-capture step over FULL corpus snapshots — the
    * persisted, incremental form of [[snapshotDiff]]: each arriving
    * snapshot (a daily corpus drop) diffs against the committed HEAD
    * state (the previous snapshot's id→content-hash map), appends the
    * delta — (id, added|changed|removed) — to an immutable per-batch
    * log dir, and flips the head to the new snapshot. Downstream
    * consumers (index maintenance, re-embedding queues, takedown
    * sweeps) read the LOG and touch only what moved — the whole point
    * of CDC at 100 TB: cost ∝ |delta|, not |corpus|.
    *
    * State discipline = the countMinIncrement / heavyHitters family:
    * head generations are immutable dirs, the pointer flips LAST via
    * temp+rename, and with monotone `batchId`s the step is idempotent
    * under at-least-once replay — a committed batch id is skipped
    * outright; a half-committed one recomputes against the unmoved
    * head and OVERWRITES its own gen/log dirs (convergent, never
    * append-duplicated). "Removed" here means absent from the new
    * snapshot — the semantics of full-snapshot drops (q156), not of
    * upsert batches. Multiple rows per id in one snapshot collapse
    * deterministically (min hash).
    *
    * Plan per step: one map-only hash projection of the snapshot
    * (text never shuffles), one id-keyed full-outer join against the
    * head, one filtered write. The log aggregate a report runs is
    * partition-pruned by `batch_id=`.
    */
  def cdcAbsorb(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      logDir: String,
      snapshot: DataFrame,
      idCol: String,
      textCol: String,
      batchId: Long): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val head = readCdcHead(stateDir, hconf)
    if (head.exists(_.lastBatch >= batchId)) return // committed replay: no-op
    val b = snapshot.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
      .groupBy(col("id")).agg(min(col("h")).as("h"))
    val prev = head match {
      case Some(h) => spark.read.parquet(s"$stateDir/gen-${h.gen}")
      case None    => b.limit(0)
    }
    val log = prev.select(col("id"), col("h").as("h_old"))
      .join(b.select(col("id"), col("h").as("h_new")), Seq("id"), "full_outer")
      .withColumn("change",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed"))
      .filter(col("change").isNotNull)
      .select(col("id"), col("change"))
    // log, then state gen, then the pointer: a crash anywhere replays
    // against the unmoved head and overwrites identical bytes
    log.write.mode("overwrite").parquet(s"$logDir/batch_id=$batchId")
    val nextGen = head.map(_.gen + 1L).getOrElse(0L)
    b.write.mode("overwrite").parquet(s"$stateDir/gen-$nextGen")
    writeCdcHead(stateDir, hconf, CdcHead(nextGen, batchId))
  }

  /** The committed CDC log — batch_id partition dirs under `logDir`,
    * schema (batch_id, id, change).
    */
  def readCdcLog(
      spark: org.apache.spark.sql.SparkSession, logDir: String): DataFrame =
    spark.read.parquet(logDir)

  /** Repeated-span ("boilerplate line") removal — the C4 / RefinedWeb /
    * CCNet curation pass that deletes spans occurring verbatim across
    * many documents (nav bars, cookie banners, license footers). The
    * corpus here has no newlines, so the span unit is a fixed
    * `segWidth`-token window (C4 uses three-sentence spans; the
    * fixed-width window is the same dedup with a deterministic
    * segmenter): a segment whose exact text appears in >= `minDocs`
    * DISTINCT documents is boilerplate and dropped from every doc.
    *
    * Returns one row per input document:
    * (doc, segs, removed, clean_text) — `segs` the segment count,
    * `removed` how many were boilerplate, `clean_text` the document
    * re-joined from surviving segments in order. Empty-token docs
    * survive with segs = 0 and clean_text = "".
    *
    * Plan shape: one explode -> grouped count-distinct on the segment
    * text (map-side partial) builds the boilerplate set; the corpus
    * re-scan left-joins that set (small by construction — AQE
    * broadcasts it) and one groupBy(doc) rebuilds the documents. Two
    * corpus scans total, no self-join, nothing quadratic. At 100 TB
    * key the grouping on xxhash64(seg) instead of the string (collide
    * -> exact-confirm, the Bloom/decontaminate shape) and persist the
    * exploded segments if the double scan is dearer than the
    * materialization.
    */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWidth: Int = 8,
      minDocs: Int = 3): DataFrame = {
    require(segWidth >= 1, s"segWidth must be >= 1: $segWidth")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val segs = df
      .select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
      // guard the empty-token doc: sequence(0, -1) would DESCEND in
      // Spark, so the segment-index array must be built conditionally
      .select(col("doc"), posexplode_outer(expr(
        s"""CASE WHEN size(toks) = 0 THEN array()
           |ELSE transform(sequence(0, (size(toks) - 1) div $segWidth),
           |               i -> array_join(slice(toks, i * $segWidth + 1, $segWidth), ' '))
           |END""".stripMargin)).as(Seq("pos", "seg")))
    val boiler = segs.filter(col("seg").isNotNull)
      .groupBy(col("seg")).agg(count_distinct(col("doc")).as("dfd"))
      .filter(col("dfd") >= minDocs)
      .select(col("seg"), lit(true).as("rm"))
    segs.join(boiler, Seq("seg"), "left_outer")
      .groupBy(col("doc"))
      .agg(count(col("seg")).as("segs"),
        coalesce(sum(when(col("rm"), 1L)), lit(0L)).as("removed"),
        array_join(transform(array_sort(collect_list(
            when(col("rm").isNull && col("seg").isNotNull,
              struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  /** Canonical text normalization — the pass every exact downstream
    * operator (hash dedup, n-gram decontamination, postings terms,
    * fingerprints) assumes has already run, or "the same" text hashes
    * differently: Unicode NFC composition (native
    * [[graft.functions.NfcNormalize]] expression, ASCII fast-path),
    * control/format characters (general categories Cc, Cf — stray
    * NULs, zero-width joiners, BOMs that survive scraping) replaced by
    * spaces, space runs collapsed, ends trimmed. Per-row map-only
    * codegen — composes into any scan with no shuffle.
    *
    * Ordering contract: the control sweep runs BEFORE the collapse so
    * `a\t\x01b` becomes `a b`, never `a  b`; the collapse matches
    * LITERAL spaces only (after the sweep the only ASCII whitespace
    * left IS the space — `\s` classes differ between regex engines,
    * a literal does not). DuckDB mirror (q163):
    * `trim(regexp_replace(regexp_replace(nfc_normalize(t),
    * '[\p{Cc}\p{Cf}]', ' ', 'g'), ' +', ' ', 'g'))`.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.TextFunctions.nfcNormalize(text),
        "[\\p{Cc}\\p{Cf}]", " "),
      " +", " "))
}
