package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorExpressions

/** Vector similarity search over an embedding column (Array[Float]).
  *
  * Two plans:
  *   - `cosineTopK` — brute force: query-set × corpus join, exact cosine,
  *     per-query top-k via the map-side-combined TopKAggregator (only
  *     k rows per query per partition ever shuffle). The *baseline*:
  *     correct at any recall, cost |Q|·|C|. Sensible when |Q| is small
  *     (the query side is broadcast, so the corpus never shuffles).
  *   - `lshTopK` — sign-LSH bucketed: vectors hash to a b-bit bucket
  *     (sign of the first b components — a fixed, data-independent
  *     hyperplane family); candidates are same-bucket only, so the join
  *     is a keyed equi-join that shuffles each corpus row once. The
  *     scale path: cost |C| + Σ_bucket |Q_b|·|C_b|.
  *
  * Hot path runs on the native codegen'd `vec_dot` expression
  * (graft.functions.VecDot) — measured ~30x over the interpreted
  * `aggregate(zip_with(...))` fold at the sf0.1 pairwise workload —
  * with the per-vector norm computed ONCE before the join (the naive
  * plan recomputed both norms per candidate pair). Summation order is
  * unchanged (left-to-right), so results stay oracle-exact.
  */
object Similarity {

  /** Query batches larger than this skip ivfPqProbe's static
    * partition-pruning collect (the plain cluster equi-join still
    * restricts the scan at runtime; only the file-level prune is
    * lost). Bounds the plan-construction driver job.
    */
  val MaxPruneQueryBatch = 10000

  /** Components promoted to double before any arithmetic. */
  def asDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd left-to-right dot product (VecDot). */
  def dot(a: Column, b: Column): Column = call_function(VectorExpressions.fnName, a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Sign-LSH bucket id from the first `bits` components:
    * bit d set iff component d+1 > 0.
    */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map(d =>
      when(element_at(v, d + 1) > 0d, lit(1 << d)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Sign-LSH SIZING RULE — how many total sign bits a corpus needs.
    *
    * Bucket count is 2^bits; under roughly-balanced sign hashing the
    * expected occupancy is |C| / 2^bits, and the per-band candidate
    * join does Σ_bucket |b|² ≈ |C| · occupancy work — so occupancy is
    * the knob that keeps the blocked join linear-ish in the corpus:
    *
    *     2^bits ≈ corpusSize / targetPerBucket
    *
    * | corpus | target/bucket | bits |
    * |--------|---------------|------|
    * | 100k   | 1024          | 7    |
    * | 10M    | 1024          | 14   |
    * | 1B     | 1024          | 20   |
    * | 1B     | 256           | 22   |
    *
    * Recall is then tuned with `bands` (more bands = more chances to
    * collide), and `bitsPerBand = bits` from this rule per band. The
    * vector must carry `bands * bitsPerBand` components — enforced
    * fail-fast by the dim guard in [[blockedTopPairs]]/[[lshTopK]].
    * Clamped to [4, 30] (2^30 buckets ≈ the int band-key space).
    */
  def signBitsFor(corpusSize: Long, targetPerBucket: Int = 1024): Int = {
    require(corpusSize > 0 && targetPerBucket > 0)
    val raw = math.ceil(
      math.log(corpusSize.toDouble / targetPerBucket) / math.log(2.0)).toInt
    math.min(30, math.max(4, raw))
  }

  /** Fail-fast dimensionality guard: sign-LSH reads component
    * `bands * bitsPerBand`; on a too-narrow vector ANSI mode would
    * surface an opaque INVALID_ARRAY_INDEX mid-job. This wraps the
    * vector so the first row fails with the actual contract instead.
    * O(1) per row (array length check), codegen'd, no extra pass over
    * the data.
    */
  private def requireDims(v: Column, needed: Int, op: String): Column =
    when(size(v) >= needed, v)
      .otherwise(raise_error(concat(
        lit(s"$op requires vectors with >= $needed components (bands * bitsPerBand); got "),
        size(v).cast("string"))))

  /** id + RAW vector + precomputed norm, the pre-join projection all
    * plans share (norms must never be computed inside the pair loop).
    * The vector stays in its source type: `dotWide` casts inline, and
    * with GraftExtensions active StripVecDotCasts removes even that —
    * float payloads shuffle at half the width and VecDot reads them
    * zero-copy (widening is IEEE-exact, results unchanged).
    */
  private def prepped(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, nrmAs: String): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
      .withColumn(nrmAs, sqrt(dotWide(col(vecAs), col(vecAs))))
  }

  /** dot over vectors of any float width (cast folded away for float
    * sources by StripVecDotCasts).
    */
  private def dotWide(a: Column, b: Column): Column =
    dot(asDoubleVec(a), asDoubleVec(b))

  /** Int8 scalar quantization (SQ8) — the OTHER standard ANN
    * compression next to PQ: per-dimension [min, max] calibration
    * over the corpus, then each component quantized to
    * floor((v - mn) * 255 / (mx - mn)) (255 at v = mx; 0 on a
    * constant dimension), reconstructed at bucket centers
    * mn + (code + 0.5)·(mx − mn)/255. Returns one row per vector:
    * the int8 `codes` array plus exact integer checksums (code_sum /
    * code_min / code_max) and the L1 reconstruction error (`err`,
    * rounded at 1e-9 — a LEFT fold in array order, the VecDot/
    * list_reduce pairing, so the q241 oracle reproduces it bitwise).
    *
    * Scale shape: calibration is ONE posexplode + partial-aggregated
    * groupBy(pos) — n·d rows combine map-side to d rows per
    * partition — and the d-row collect is bounded by the dimension
    * (the codebook-collect contract, guarded); quantization itself is
    * map-only against two broadcast literal arrays, so the corpus
    * never shuffles. At 100 TB the calibrate-once/quantize-everywhere
    * split is exactly how SQ8 indexes are built.
    */
  def scalarQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (mnsS, mxsS) = sq8Calibrate(emb, vecCol)
    val mns = typedLit(mnsS)
    val mxs = typedLit(mxsS)

    val withCodes = emb.select(col(idCol), asDoubleVec(col(vecCol)).as("v"))
      .withColumn("codes", sq8Codes(col("v"), mns, mxs))
    withCodes
      .withColumn("errs", transform(col("v"), (x, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        abs(x - (mn + (element_at(col("codes"), i + 1) + lit(0.5)) * (mx - mn) / lit(255)))
      }))
      .select(col(idCol), col("codes"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        round(aggregate(col("errs"), lit(0d), (a, x) => a + x), 9).as("err"))
  }

  /** Quantize with a FROZEN calibration (the DSIR frozen-model
    * discipline applied to SQ8): incoming batches encode against the
    * published per-dimension [min, max] without touching corpus
    * statistics — out-of-range components CLAMP to the edge buckets
    * (0 / 255) and are counted per vector (`n_clipped`, the drift
    * signal that tells an index owner when to re-calibrate). This is
    * the O(delta) append path of a production SQ8 index: calibrate
    * once at publish, quantize every batch after against the frozen
    * table. Map-only against two broadcast literal arrays.
    */
  def scalarQuantizeFrozen(
      emb: DataFrame, idCol: String, vecCol: String,
      mnsS: Seq[Double], mxsS: Seq[Double]): DataFrame = {
    require(mnsS.nonEmpty && mnsS.length == mxsS.length,
      s"scalarQuantizeFrozen: ragged calibration (${mnsS.length} vs ${mxsS.length})")
    val mns = typedLit(mnsS)
    val mxs = typedLit(mxsS)
    emb.select(col(idCol), asDoubleVec(col(vecCol)).as("v"))
      .withColumn("codes", transform(col("v"), (x, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        when(mx === mn, lit(0))
          .when(x < mn, lit(0)) // lo clip
          .when(x >= mx, lit(255)) // hi edge (and hi clip beyond)
          .otherwise(floor((x - mn) * lit(255) / (mx - mn)).cast("int"))
      }))
      .withColumn("n_clipped", // components outside the frozen range (x == mx is in-range)
        aggregate(
          zip_with(col("v"), sequence(lit(1), size(col("v"))), (x, i) =>
            when(x < element_at(mns, i) || x > element_at(mxs, i), 1L).otherwise(0L)),
          lit(0L), (a, x) => a + x))
      .select(col(idCol), col("codes"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        col("n_clipped"))
  }

  /** Per-dimension [min, max] calibration — the d-row bounded collect
    * [[scalarQuantize]]/[[sq8TopK]]/the frozen-increment query share.
    */
  def sq8Calibrate(emb: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val cal = emb
      .select(posexplode(asDoubleVec(col(vecCol))).as(Seq("pos", "val")))
      .groupBy(col("pos"))
      .agg(min(col("val")).as("mn"), max(col("val")).as("mx"))
      .collect()
    // empty corpus: a degenerate 1-dim table no row will ever consume
    // (quantizing zero rows yields zero rows — the empty-input rule)
    if (cal.isEmpty) return (Seq(0.0), Seq(0.0))
    require(cal.length <= 4096,
      s"scalarQuantize: dimension ${cal.length} outside the bounded-collect contract")
    val byPos = cal.map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    require(byPos.size == cal.length, "scalarQuantize: ragged vector widths")
    ((0 until cal.length).map(byPos(_)._1), (0 until cal.length).map(byPos(_)._2))
  }

  private def sq8Codes(v: Column, mns: Column, mxs: Column): Column =
    transform(v, (x, i) => {
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      when(mx === mn, lit(0))
        .when(x >= mx, lit(255))
        .otherwise(floor((x - mn) * lit(255) / (mx - mn)).cast("int"))
    })

  /** SQ8 asymmetric search — the retrieval side of
    * [[scalarQuantize]], closing the loop the way the ADC probes do
    * for PQ: corpus vectors live ONLY as int8 codes; each is
    * reconstructed at its bucket center at scan time and scored
    * against the FULL-PRECISION query (asymmetric distance — the
    * standard SQ8 trade), top-k through the map-side-combined
    * aggregator tail. At scale the codes table is 4x smaller than the
    * float corpus, the calibration is the shared d-row broadcast, and
    * the plan is [[cosineTopK]]'s (broadcast query side, map-only
    * scoring, k-row combiners).
    */
  def sq8TopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val (mnsS, mxsS) = sq8Calibrate(corpus, vecCol)
    val mns = typedLit(mnsS)
    val mxs = typedLit(mxsS)
    VectorExpressions.register(corpus.sparkSession)
    val recon = corpus
      .select(col(idCol).as("neighbor_id"), asDoubleVec(col(vecCol)).as("v"))
      .withColumn("rv", transform(sq8Codes(col("v"), mns, mxs), (c, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        mn + (c + lit(0.5)) * (mx - mn) / lit(255)
      }))
      .withColumn("rn", sqrt(dot(col("rv"), col("rv"))))
      .select(col("neighbor_id"), col("rv"), col("rn"))
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val scored = recon.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("rv")) / (col("qn") * col("rn")))
    simTopK(scored, k)
  }

  /** Exact top-k neighbors for each query vector (self-match excluded).
    * Output: query_id, neighbor_id, rank, cosine.
    *
    * Tail: the map-side-combined [[graft.functions.TopKAggregator]]
    * (the `adcTopK` pattern the PQ/IVF-PQ probes already run), NOT a
    * `row_number()` window — the window plan shuffled the full
    * |C|x|Q| scored set into a per-query sort; the aggregator shuffles
    * k combiner rows per query per partition. Ordering is identical
    * (value DESC, neighbor_id ASC tiebreak), so results are
    * hash-exact vs the old plan.
    */
  def cosineTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotWide(col("qv"), col("cv")) / (col("qn") * col("cn")))
    simTopK(scored, k)
  }

  /** Descending-similarity twin of [[adcTopK]]: per-query k LARGEST
    * `simCol` through the TopKAggregator UDAF, exploded to ranked
    * rows. Shared by the exact-scan family (cosineTopK and its eval
    * consumers). String neighbor ids ride the string-tiebreak
    * aggregator (ASCII ids, where JVM and UTF-8 binary order
    * coincide — the topKStr contract); numeric ids widen to long.
    * Tiebreak order (value DESC, id ASC) matches the window plan this
    * tail replaced, so results are hash-identical.
    */
  private def simTopK(scored: DataFrame, k: Int, simCol: String = "cosine"): DataFrame = {
    val isStr = scored.schema("neighbor_id").dataType ==
      org.apache.spark.sql.types.StringType
    val topk =
      if (isStr) graft.functions.TopKAggregator.topKStr(k)
      else graft.functions.TopKAggregator.topK(k)
    val idIn = if (isStr) col("neighbor_id") else col("neighbor_id").cast("long")
    scored
      .groupBy(col("query_id"))
      .agg(topk(col(simCol), idIn).as("top"))
      .select(col("query_id"), col("top.top_values").as("tv"), col("top.top_ids").as("ti"))
      .select(col("query_id"), posexplode(arrays_zip(col("tv"), col("ti"))).as(Seq("pos", "z")))
      .select(col("query_id"),
        col("z.ti").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        round(col("z.tv"), 9).as(simCol))
  }

  /** Batch-hard triplet mining (Schroff et al. CVPR'15 §3.2, the
    * "batch hard" variant) — the contrastive-training data op: for
    * each labeled anchor, the HARDEST POSITIVE (same label, MINIMUM
    * cosine — the most distant example the model must pull in) and
    * the k HARDEST NEGATIVES (different label, MAXIMUM cosine — the
    * closest impostors it must push out).
    * Output: (anchor_id, role 'pos'|'neg', rank, neighbor_id, cosine)
    * — rank 1 for the positive, 1..kNeg for negatives; an anchor with
    * no same-label peer emits no 'pos' row (nothing to pull), never a
    * fabricated one. Deterministic: cosine ties break on neighbor_id.
    *
    * Plan: the anchor batch broadcasts (the cosineTopK query-side
    * discipline); the corpus is scored map-side in one pass and only
    * the scored candidate rows shuffle, partitioned by anchor — the
    * corpus itself never self-joins or re-shuffles. Mining batches
    * are small by construction (a training batch), so candidate
    * volume is |anchors|x|corpus| scored rows filtered by two
    * anchor-partitioned windows.
    */
  def mineTriplets(
      anchors: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      kNeg: Int): DataFrame = {
    val q = prepped(anchors, idCol, vecCol, "anchor_id", "qv", "qn")
      .join(anchors.select(col(idCol).as("anchor_id"), col(labelCol).as("a_label")),
        Seq("anchor_id"))
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("c_label")),
        Seq("neighbor_id"))
    val scored = c.join(broadcast(q), col("anchor_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotWide(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("anchor_id"), col("neighbor_id"),
        col("a_label"), col("c_label"), col("cosine"))
    val byAnchor = Window.partitionBy(col("anchor_id"))
    val pos = scored.filter(col("a_label") === col("c_label"))
      .withColumn("rank",
        row_number().over(byAnchor.orderBy(col("cosine").asc, col("neighbor_id"))))
      .filter(col("rank") === 1)
      .withColumn("role", lit("pos"))
    val neg = scored.filter(col("a_label") =!= col("c_label"))
      .withColumn("rank",
        row_number().over(byAnchor.orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= kNeg)
      .withColumn("role", lit("neg"))
    pos.unionByName(neg)
      .select(col("anchor_id"), col("role"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 9).as("cosine"))
  }

  /** Bucketed approximate top-k: neighbors come only from the query's
    * sign-LSH bucket. Same output shape as cosineTopK.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 6): DataFrame = {
    require(bits > 0 && bits <= 30, "bits must be in [1, 30]")
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
      .withColumn("bucket", signBucket(requireDims(col("qv"), bits, "lshTopK"), bits))
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .withColumn("bucket", signBucket(requireDims(col("cv"), bits, "lshTopK"), bits))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotWide(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cosine"), 9).as("cosine"))
  }

  /** Multi-probe sign-LSH top-k (Lv et al., "Multi-Probe LSH",
    * VLDB'07, for the sign-hyperplane family): each query searches its
    * own bucket PLUS the `bits` nearest perturbed buckets, QUERY-
    * DIRECTED — the recall lever that needs NO extra corpus hashing
    * or index space (contrast adding bands, which multiplies the
    * index).
    *
    * Probe ordering: for the sign family here, hyperplane d is the
    * coordinate axis (bit d = sign of v[d]), so the boundary distance
    * of flipping bit d is the normalized component |v[d]|/‖v‖ — a
    * near neighbor most likely differs in the bits where the query
    * sits CLOSEST to the boundary. Perturbation sets are scored by
    * Lv et al.'s sum of squared boundary distances PLUS a per-extra-
    * bit penalty of 1/dim: under the Bernoulli flip model
    * P(bit flips) <= 1/2·exp(-u²/s), every additional perturbed bit
    * costs a factor >= 2 in probability (the log2 ceiling term) on
    * top of its boundary distance, and expressing that log2 in the
    * score's units at the isotropic scale E[u²] = 1/dim gives
    * score(S) = Σ_{d∈S} (v[d]/‖v‖)² + (|S|-1)/dim. Without the
    * penalty (pure additive Lv), cheap 2-bit flips displace far
    * 1-bit flips that still hold real neighbors — measured WORSE
    * than exhaustive 1-bit on all three testdata scales; with it,
    * recall@3 >= exhaustive 1-bit, TEST-PINNED against a driver-side
    * exhaustive-1-bit reference at sf0.001/sf0.01 (CorpusOpsSpec
    * "query-directed probes") and reported per-method by q100.
    * Candidates are all 1-bit and 2-bit flips (the standard
    * practical cut that keeps the candidate list at b(b+1)/2, scale-
    * safe to bits=30), ordered (score asc, mask asc), first `bits`
    * taken. Same b+1 probes/query as exhaustive 1-bit flipping, but
    * spent where misses actually are.
    *
    * Plan shape: the corpus still hashes ONCE into one bucket; only
    * the (small, broadcast) query side fans out b+1 probe rows per
    * query, and the probe choice is per-row array math (codegen'd,
    * no window/shuffle on the query side). The probe join stays a
    * keyed equi-join; per-query cost is (b+1) bucket scans.
    * Deterministic probe set => SQL-mirrorable, so the oracle pins
    * bucket keys, the scored probe expansion, candidate set, and
    * ranking. Output shape matches [[lshTopK]].
    */
  def lshMultiProbeTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 6): DataFrame = {
    require(bits > 0 && bits <= 30, "bits must be in [1, 30]")
    // (score, mask) for every 1-bit and 2-bit flip; score terms are
    // written (vi/n)*(vi/n) + (vj/n)*(vj/n) + 1/dim so the oracle's
    // IEEE arithmetic matches operation-for-operation
    def comp(d: Int) = element_at(col("qv"), d + 1) / col("qn")
    val extraBitPenalty = lit(1.0) / size(col("qv"))
    val perturbations: Seq[Column] =
      (0 until bits).map(d =>
        struct((comp(d) * comp(d)).as("score"), lit(1 << d).as("mask"))) ++
      (for { i <- 0 until bits; j <- i + 1 until bits } yield
        struct((comp(i) * comp(i) + comp(j) * comp(j) + extraBitPenalty).as("score"),
          lit((1 << i) | (1 << j)).as("mask")))
    val q = prepped(queries, idCol, vecCol, "query_id", "qv", "qn")
      .withColumn("home", signBucket(requireDims(col("qv"), bits, "lshMultiProbeTopK"), bits))
      // home bucket + the `bits` lowest-score flips: b+1 probe rows
      .withColumn("probes",
        concat(
          array(col("home")),
          transform(
            slice(array_sort(array(perturbations: _*)), 1, bits),
            p => col("home").bitwiseXOR(p.getField("mask")))))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("probes")).as("bucket"))
    val c = prepped(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .withColumn("bucket", signBucket(requireDims(col("cv"), bits, "lshMultiProbeTopK"), bits))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a candidate can surface via several probes — dedup before rank
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", dotWide(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cosine"), 9).as("cosine"))
  }

  /** IVF-lite approximate top-k: a coarse quantizer (the `centroids`
    * frame — in production a k-means model; any deterministic small
    * vector set works) assigns every vector to its nearest centroid
    * (inverted list); queries search only their own list (nprobe=1).
    *
    * Plan shape: centroids broadcast for assignment (|C| cosines per
    * row, embarrassingly parallel), then a keyed equi-join on
    * cluster id — the corpus shuffles once by cluster, which is the
    * IVF promise: probe cost |C| + |cluster|, not |corpus|.
    * Assignment tie-breaks on centroid id, rankings on neighbor id.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 1): DataFrame = {
    val cent = prepped(centroids, idCol, vecCol, "centroid_id", "centv", "centn")

    // corpus rows live in exactly ONE inverted list; queries probe
    // their `nprobe` nearest lists (the standard IVF recall knob —
    // probing multiplies only the query-side rows, never the corpus)
    def assigned(df: DataFrame, idAs: String, vecAs: String, nrmAs: String,
        lists: Int): DataFrame = {
      val p = prepped(df, idCol, vecCol, idAs, vecAs, nrmAs)
      val scored = p.join(broadcast(cent), lit(true))
        .withColumn("c_cos", dotWide(col(vecAs), col("centv")) / (col(nrmAs) * col("centn")))
      val w = Window.partitionBy(col(idAs))
        .orderBy(col("c_cos").desc, col("centroid_id"))
      scored.withColumn("c_rank", row_number().over(w))
        .filter(col("c_rank") <= lists)
        .select(col(idAs), col(vecAs), col(nrmAs), col("centroid_id").as("cluster"))
    }

    val q = assigned(queries, "query_id", "qv", "qn", lists = math.max(1, nprobe))
    val c = assigned(corpus, "neighbor_id", "cv", "cn", lists = 1)
    val scored = c.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotWide(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cosine"), 9).as("cosine"))
  }

  /** Semantic (embedding-space) near-duplicate pairs, cluster-blocked:
    * every vector is assigned to its nearest centroid (same coarse
    * quantizer as ivfTopK — in production a trainKMeans codebook), and
    * only same-cluster pairs are scored; pairs at cosine >= threshold
    * survive. This is SemDeDup-style semantic dedup: the cluster
    * blocking turns the O(n²) pair scan into per-cluster scans, so
    * cost follows sum(|cluster|²) — bounded by the codebook size the
    * operator is run with, not the corpus.
    *
    * Approximate by construction (a true near-dup pair split across
    * two clusters is missed — the standard SemDeDup trade); the oracle
    * replicates the same blocking, so the gate pins the algorithm.
    *
    * Threshold tests the raw IEEE cosine (portable — correctly-rounded
    * double ops); the output column is round-9 like the other cosine
    * surfaces. Returns (vec_a, vec_b, cluster, cosine).
    */
  def semanticNearDupPairs(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val cent = prepped(centroids, idCol, vecCol, "centroid_id", "centv", "centn")
    val scored = prepped(corpus, idCol, vecCol, "vid", "v", "nrm")
      .join(broadcast(cent), lit(true))
      .withColumn("c_cos", dotWide(col("v"), col("centv")) / (col("nrm") * col("centn")))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("c_cos").desc, col("centroid_id"))
    val assigned = scored.withColumn("c_rank", row_number().over(w))
      .filter(col("c_rank") === 1)
      .select(col("vid"), col("v"), col("nrm"), col("centroid_id").as("cluster"))
    assigned.select(col("cluster"), col("vid").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
      .join(assigned.select(col("cluster"), col("vid").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dotWide(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cluster"), round(col("cos"), 9).as("cosine"))
  }

  /** Cross-table SEMANTIC decontamination: drop corpus vectors whose
    * cosine to ANY benchmark vector reaches `threshold`, candidates
    * blocked by the shared sign-LSH bucket. The n-gram form
    * (Quality.decontaminate, q67) catches verbatim leakage; this
    * catches paraphrased / near-duplicate leakage through the
    * embedding space — the eval-set hygiene step of an LLM data
    * pipeline. Approximate by construction like every LSH surface
    * here (a leak pair split across buckets is missed; raise recall
    * by unioning over rotated/banded buckets); the oracle mirrors the
    * blocking, so the gate pins the algorithm.
    *
    * Plan: benchmark side broadcast (eval sets are small), corpus
    * never shuffles — candidates are same-bucket only, one exact
    * cosine per candidate, then a left-anti on the (small, AQE-
    * broadcast) hit list. Returns surviving corpus rows.
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 6): DataFrame = {
    require(bits > 0 && bits <= 30, "bits must be in [1, 30]")
    val c = prepped(corpus, idCol, vecCol, "cid_", "cv", "cn")
      .withColumn("bucket",
        signBucket(requireDims(col("cv"), bits, "semanticDecontaminate"), bits))
    val b = prepped(benchmark, idCol, vecCol, "bid_", "bv", "bn")
      .withColumn("bucket",
        signBucket(requireDims(col("bv"), bits, "semanticDecontaminate"), bits))
    val hits = c.join(broadcast(b), Seq("bucket"))
      .filter(dotWide(col("cv"), col("bv")) / (col("cn") * col("bn")) >= threshold)
      .select(col("cid_").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Map-only nearest-coarse-centroid assignment: (id, cluster) for
    * every corpus row — the shared entry point of the IVF index build,
    * [[clusterBalancedSample]], and the q122 semantic-drift monitor
    * (rel = c·c − 2 v·c against broadcast-literal centroids, first-min
    * tiebreak).
    */
  def clusterAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Double]]): DataFrame = {
    require(coarse.nonEmpty, "need at least one coarse centroid")
    VectorExpressions.register(corpus.sparkSession)
    val rel = coarseRelCol(asDoubleVec(col(vecCol)), coarse)
    corpus.select(col(idCol).as("id"),
      (array_position(rel, array_min(rel)) - 1).cast("int").as("cluster"))
  }

  /** Cluster-balanced (semantic-diversity) sampling: assign every
    * vector to its nearest coarse centroid, then keep at most `quota`
    * vectors per cluster in the deterministic `cbs|`-salted hash order
    * — the cluster-level complement of Quality.capPerGroup (there the
    * group is a metadata column; here it is a SEMANTIC cluster), and
    * the selection step of cluster-pruning curation à la SemDeDup
    * (Abbas et al. 2023): hot semantic regions cannot dominate the
    * sample because each region's contribution is capped.
    *
    * Scale shape: assignment is map-only against the broadcast-literal
    * centroids (the [[coarseRelCol]] rel = c·c − 2 v·c rule,
    * first-min tiebreak — identical to the IVF index build, so a
    * persisted AnnModel's coarse set can be reused verbatim); the
    * per-cluster cap rides [[graft.functions.TopKAggregator]] — quota-
    * sized state per cluster after map-side combine, never a window
    * sort over a hot cluster. Output (cluster, rank, vec_id), rank
    * 1..quota in keep order.
    */
  def clusterBalancedSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Double]],
      quota: Int): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val hv = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("cbs|"), col("id"))), lit(1L << 52))
    clusterAssign(corpus, idCol, vecCol, coarse)
      .select(col("cluster"), col("id"), hv.as("hv"))
      .groupBy(col("cluster"))
      .agg(graft.functions.TopKAggregator.topK(quota)(
        -col("hv").cast("double"), col("id")).as("top"))
      .select(col("cluster"), posexplode(col("top.top_ids")).as(Seq("pos", "vec_id")))
      .select(col("cluster"), (col("pos") + 1).cast("int").as("rank"), col("vec_id"))
  }

  /** Lloyd's k-means over the embedding column — the trainer that
    * produces real IVF codebooks for `ivfTopK` (whose doc promises "in
    * production a k-means model"). Expressed as DataFrame ops so it
    * scales like any aggregation:
    *
    *   - the corpus projection is materialized ONCE (localCheckpoint —
    *     on a cluster, a reliable checkpoint) and re-scanned per
    *     iteration; nothing else re-executes.
    *   - each iteration = one broadcast of k centroid rows, a map-side
    *     argmin (min_by over a k-row broadcast join; no shuffle), and
    *     ONE shuffle: groupBy(cluster, dim) mean over the exploded
    *     components. Centroids (k x dim doubles) come back to the
    *     driver exactly like MLlib's implementation keeps them.
    *
    * Deterministic: init is a farthest-point traversal (the greedy
    * k-means++ flavor) — seed with the lowest-id-hash vector, then
    * repeatedly take the point maximizing the min distance to the
    * chosen set, ties on id. Hash-random seeds alone can land two
    * seeds in one natural cluster, which Lloyd's cannot undo.
    * Distance ties break on the lower cluster id. Euclidean metric.
    *
    * Init cost knob: the exact traversal is one scan PER pick — k-1
    * scheduled jobs, fine at nlist <= 16 but 4095 jobs at nlist=4096.
    * `initSampleSize > 0` switches init to a BOUNDED deterministic
    * sample (the same hash order, `limit(initSampleSize)`) collected
    * once, with the k-1 farthest-point picks run driver-side over it —
    * zero extra jobs, O(sampleSize * k * dims) driver work (64 MB-ish
    * flops at 8192x4096x64, not a cluster's problem). Same seed row,
    * same d2 arithmetic (expanded form, left-to-right folds), same
    * tie rules — with initSampleSize >= |corpus| it picks exactly the
    * centroids the exact path picks (KMeansSpec pins this). Lloyd
    * iterations always run on the FULL corpus either way.
    *
    * Returns (cluster_id: int, centroid: array<double>).
    */
  def trainKMeans(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 10,
      initSampleSize: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val prepped = corpus
      .select(col(idCol).cast("string").as("id"), asDoubleVec(col(vecCol)).as("v"))
      .localCheckpoint(true)

    val hashOrdered = prepped
      .orderBy(graft.functions.TextFunctions.hash60(concat(lit("km|"), col("id"))), col("id"))
    var centroids: Seq[Seq[Double]] =
      if (initSampleSize > 0) {
        val sample = hashOrdered.limit(initSampleSize)
          .collect().map(r => (r.getString(0), r.getSeq[Double](1).toArray)).toSeq
        require(sample.nonEmpty, "trainKMeans: empty corpus")
        // same expanded form/fold order as the distributed path, so
        // the sampled init agrees bit-for-bit where both see the row
        def d2(x: Array[Double], y: Array[Double]): Double = {
          var xx = 0.0; var xy = 0.0; var yy = 0.0
          var i = 0
          while (i < x.length) { xx += x(i) * x(i); xy += x(i) * y(i); yy += y(i) * y(i); i += 1 }
          xx - 2.0 * xy + yy
        }
        val chosen = scala.collection.mutable.ArrayBuffer(sample.head._2)
        // ties on id ascending must mean what the distributed path's
        // `orderBy(dmin.desc, id)` means: Spark's BINARY UTF-8 string
        // order, not Java's UTF-16 compareTo (they diverge on
        // supplementary-plane code points — same fix as
        // Dedup.driverComponents)
        val utf8Ord: Ordering[org.apache.spark.unsafe.types.UTF8String] =
          Ordering.comparatorToOrdering(
            java.util.Comparator.naturalOrder[org.apache.spark.unsafe.types.UTF8String]())
        while (chosen.length < k) {
          // argmax of min-d2 to the chosen set, ties on id ascending —
          // minBy on (-dmin, utf8(id)) is that total order
          val next = sample.minBy { case (id, v) =>
            (-chosen.map(c => d2(v, c)).min,
              org.apache.spark.unsafe.types.UTF8String.fromString(id))
          }(Ordering.Tuple2(Ordering.Double.TotalOrdering, utf8Ord))
          chosen += next._2
        }
        chosen.map(_.toSeq).toSeq
      } else {
        val seed = hashOrdered.limit(1)
          .collect().map(_.getSeq[Double](1).toSeq).toSeq
        var cents: Seq[Seq[Double]] = seed
        while (cents.length < k) {
          val centDf = cents.zipWithIndex
            .map { case (c, i) => (i, c) }.toDF("cluster", "cv")
          val next = prepped
            .join(broadcast(centDf), lit(true))
            .withColumn("d2", dot(col("v"), col("v"))
              - lit(2.0) * dot(col("v"), col("cv"))
              + dot(col("cv"), col("cv")))
            .groupBy(col("id")).agg(min(col("d2")).as("dmin"), first(col("v")).as("v"))
            .orderBy(col("dmin").desc, col("id"))
            .limit(1)
            .collect().map(_.getSeq[Double](2).toSeq).toSeq
          cents = cents ++ next
        }
        cents
      }

    for (_ <- 0 until iters) {
      val centDf = centroids.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("cluster", "cv")
      val assigned = prepped
        .join(broadcast(centDf), lit(true))
        .withColumn("d2", dot(col("v"), col("v"))
          - lit(2.0) * dot(col("v"), col("cv"))
          + dot(col("cv"), col("cv")))
        .groupBy(col("id"))
        .agg(min_by(struct(col("cluster"), col("v")),
          struct(col("d2"), col("cluster"))).as("best"))
        .select(col("best.cluster").as("cluster"), col("best.v").as("v"))
      val updated = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cluster"))
        .agg(map_from_arrays(collect_list(col("dim")), collect_list(col("m"))).as("byDim"))
        .collect()
        .map(r => r.getInt(0) -> r.getMap[Int, Double](1)).toMap
      // empty clusters keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        updated.get(i) match {
          case Some(byDim) => (0 until old.length).map(byDim)
          case None => old
        }
      }
    }
    // all state is now the driver-side centroid list — free the
    // checkpointed corpus projection before returning
    graft.Checkpoints.release(prepped)
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cluster_id", "centroid")
  }

  /** Most-similar pairs by exact pairwise cosine, global top-n.
    *
    * TEST/AUDIT ONLY — the `vec_a < vec_b` join is non-equi, so Spark
    * plans a nested-loop over corpus x corpus: O(n^2) compute that dies
    * at scale. It exists as the ground-truth differential oracle for
    * [[blockedTopPairs]] (CorpusOpsSpec pins their agreement on
    * candidate pairs); the registered query surface (q31) runs the
    * blocked form. Do not call this on a real corpus.
    */
  def topPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      n: Int): DataFrame = {
    val a = prepped(corpus, idCol, vecCol, "vec_a", "va", "na_")
    val b = prepped(corpus, idCol, vecCol, "vec_b", "vb", "nb_")
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", dotWide(col("va"), col("vb")) / (col("na_") * col("nb_")))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(n)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 9).as("cosine"))
  }

  /** Most-similar pairs at scale: banded sign-LSH candidate generation
    * + exact cosine verification, global top-n among candidates.
    *
    * The scale-safe replacement for [[topPairs]] — the SAME verification
    * (raw-vector cosine, factored norms) but candidates come from
    * `bands` independent hash tables instead of all pairs:
    *
    *   1. signature: each vector emits `bands` (band, key) rows, key =
    *      the sign pattern of components [band*bitsPerBand,
    *      (band+1)*bitsPerBand). ID-ONLY — vectors never fan out.
    *   2. candidates: self equi-join on (band, key), `vid_a < vid_b`,
    *      distinct. Per-bucket cost Σ|bucket|², bounded by
    *      2^bitsPerBand buckets per band — the standard LSH knob.
    *   3. verify: candidate ids equi-join back to the (id, vec, norm)
    *      projection; exact cosine; global top-n via TakeOrdered.
    *
    * Every stage is linear or bucket-bounded; no cartesian, no
    * nested-loop (plan-asserted in PlanSpec). Recall for a pair at
    * angle θ is 1-(1-p^r)^b with p = P(component signs agree) —
    * approximate by construction, like every LSH surface here (q33,
    * q69); the q31 oracle mirrors the identical blocking so the gate
    * pins the algorithm, and CorpusOpsSpec differentials every returned
    * pair against the brute-force [[topPairs]] cosine.
    *
    * Requires vector dims >= bands * bitsPerBand, enforced fail-fast by
    * the dim guard (a clear contract error on the first row instead of
    * an opaque ANSI INVALID_ARRAY_INDEX mid-job). Pick bitsPerBand with
    * [[signBitsFor]] — the occupancy rule that keeps the banded join
    * linear-ish at corpus scale.
    */
  def blockedTopPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      n: Int,
      bands: Int = 8,
      bitsPerBand: Int = 8): DataFrame = {
    require(bands > 0, "bands must be positive")
    require(bitsPerBand > 0 && bitsPerBand <= 30, "bitsPerBand must be in [1, 30]")
    val p0 = prepped(corpus, idCol, vecCol, "vid", "v", "nrm")
    val p = p0.withColumn("v",
      requireDims(col("v"), bands * bitsPerBand, "blockedTopPairs"))
    // sign widening float->double is exact, so the float source and the
    // oracle's DOUBLE[] compute identical band keys
    val bandKeys = array((0 until bands).map { b =>
      (0 until bitsPerBand).map(d =>
        when(element_at(col("v"), b * bitsPerBand + d + 1) > 0d, lit(1 << d))
          .otherwise(lit(0)))
        .reduce(_ + _)
    }: _*)
    val sig = p.select(col("vid"), posexplode(bandKeys).as(Seq("band", "bkey")))
    val cand = sig.as("x").join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("vec_a"), col("y.vid").as("vec_b"))
      .distinct()
    val a = p.select(col("vid").as("vec_a"), col("v").as("va"), col("nrm").as("na_"))
    val b = p.select(col("vid").as("vec_b"), col("v").as("vb"), col("nrm").as("nb_"))
    cand.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .withColumn("cosine", dotWide(col("va"), col("vb")) / (col("na_") * col("nb_")))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(n)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 9).as("cosine"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the compressed-scan ANN path.
  //
  // IVF (ivfTopK) prunes WHICH vectors a query scans; PQ shrinks WHAT
  // a scan reads: each vector is encoded as `numSubspaces` small codes
  // (one per dim-slice, each the id of the nearest per-subspace
  // centroid), so the corpus representation drops from dims*4 bytes of
  // float to numSubspaces bytes — 64x for 64-dim floats at m=4 — and
  // the distance kernel becomes table lookups (ADC: asymmetric
  // distance computation) instead of float dot products. At 100 TB the
  // codes table is the only thing the query scan touches; the raw
  // vectors stay in cold storage for optional exact re-ranking.
  // ------------------------------------------------------------------

  /** Squared L2 distance between an `array<double>` sub-vector column
    * and a literal centroid, in the expanded form x·x − 2·x·c + c·c
    * (x·x and x·c via the codegen'd VecDot; c·c is a driver constant).
    * The centroid is ONE array literal, not an `array(lit, …)` tree,
    * and the already-double slice is not re-cast by a lambda
    * `transform`, which keeps the per-probe LUT tree Catalyst analyses
    * small. Same VecDot sums, so the same bits.
    */
  private def d2ToCentroid(sv: Column, cent: Array[Double]): Column =
    dot(sv, sv) - lit(2.0) * dot(sv, typedLit(cent)) + lit(cent.map(x => x * x).sum)

  /** The ADC lookup table of an `array<double>` vector column: element
    * m is the [[d2ToCentroid]] of the vector's m-th slice to each
    * subspace-m centroid, in codebook order.
    */
  private[operators] def lutCol(dv: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val subDim = codebooks(0)(0).length
    array(codebooks.zipWithIndex.map { case (cents, m) =>
      val sv = slice(dv, m * subDim + 1, subDim)
      array(cents.map(c => d2ToCentroid(sv, c)): _*)
    }: _*)
  }

  /** Train PQ codebooks: k-means per dim-subspace.
    * `codebooks(m)(c)` = centroid c of subspace m (dims/numSubspaces
    * components each).
    *
    * ALL subspaces train together: sub-vectors carry a `sub` key, the
    * assignment step is ONE equi-join against the broadcast (sub,
    * cluster) codebook table, and the recompute step is one
    * aggregation — a single distributed pass per Lloyd iteration
    * regardless of numSubspaces (a per-subspace loop would run m
    * sequential jobs per iteration). Driver state is the codebook
    * itself: numSubspaces * codebookSize * (dims/numSubspaces) doubles
    * = dims * codebookSize — KBs at any corpus size.
    *
    * Deterministic: seeding takes the `codebookSize` hash-min rows
    * (hash60 of "pq|"+id, id tiebreak), not rand(); empty clusters
    * keep their previous centroid.
    */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numSubspaces: Int = 4,
      codebookSize: Int = 16,
      iters: Int = 5): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    VectorExpressions.register(spark)

    val prepped = corpus
      .select(col(idCol).cast("string").as("id"), asDoubleVec(col(vecCol)).as("v"))
      .localCheckpoint(true)
    val firstDims = prepped.select(size(col("v"))).take(1)
    require(firstDims.nonEmpty, "pqTrain: empty corpus")
    val dims = firstDims(0).getInt(0)
    require(dims % numSubspaces == 0,
      s"pqTrain: dims ($dims) must divide evenly into numSubspaces ($numSubspaces)")
    val subDim = dims / numSubspaces

    // (id, sub, sv): every sub-vector of every vector, one exploded row
    val subRows = prepped.select(col("id"),
      posexplode(array((0 until numSubspaces).map(m =>
        slice(col("v"), m * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))

    // seed: k deterministic sample vectors, sliced per subspace
    val sample = prepped
      .orderBy(graft.functions.TextFunctions.hash60(concat(lit("pq|"), col("id"))), col("id"))
      .limit(codebookSize)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(numSubspaces) { m =>
        Array.tabulate(math.min(codebookSize, sample.length)) { c =>
          sample(c).slice(m * subDim, (m + 1) * subDim)
        }
      }

    for (_ <- 0 until iters) {
      val centDf = codebooks.zipWithIndex.flatMap { case (cents, m) =>
        cents.zipWithIndex.map { case (cv, c) => (m, c, cv.toSeq) }
      }.toSeq.toDF("sub", "cluster", "cv")
      val updated = subRows
        .join(broadcast(centDf), Seq("sub"))
        .withColumn("d2", dot(col("sv"), col("sv"))
          - lit(2.0) * dot(col("sv"), col("cv"))
          + dot(col("cv"), col("cv")))
        .groupBy(col("id"), col("sub"))
        .agg(min_by(struct(col("cluster"), col("sv")),
          struct(col("d2"), col("cluster"))).as("best"))
        .select(col("sub"), col("best.cluster").as("cluster"),
          posexplode(col("best.sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cluster"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      codebooks = codebooks.zipWithIndex.map { case (cents, m) =>
        cents.zipWithIndex.map { case (old, c) =>
          if (updated.contains((m, c, 0))) Array.tabulate(subDim)(d => updated((m, c, d)))
          else old
        }
      }
    }
    // codebooks are driver arrays — free the checkpointed projection
    graft.Checkpoints.release(prepped)
    codebooks
  }

  /** The PQ code column: array of `numSubspaces` ints, element m = id
    * of the nearest subspace-m centroid (first-min tiebreak → lowest
    * cluster id). Pure per-row expression — encoding a corpus is a
    * map-only scan, no shuffle.
    */
  def pqEncodeCol(vecCol: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val subDim = codebooks(0)(0).length
    array(codebooks.zipWithIndex.map { case (cents, m) =>
      val sv = slice(asDoubleVec(vecCol), m * subDim + 1, subDim)
      val dists = array(cents.map(c => d2ToCentroid(sv, c)): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** Approximate top-k by PQ/ADC: train codebooks on the corpus,
    * encode the corpus to codes, build each query's distance lookup
    * table (numSubspaces x codebookSize squared-L2s to every centroid
    * — a pure expression on the broadcast query side), then scan the
    * codes with approx_d2 = Σ_m lut[m][code_m].
    *
    * Plan shape: corpus encodes and scans map-only (never shuffles);
    * the per-query top-k runs on the TopKAggregator UDAF, so partial
    * aggregation keeps k rows per query per partition and the only
    * shuffle is |Q|·k combiner rows. Output: query_id, neighbor_id,
    * rank, approx_d2 (ascending — smaller is closer).
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numSubspaces: Int = 4,
      codebookSize: Int = 16,
      iters: Int = 5): DataFrame = {
    if (corpus.limit(1).isEmpty) return emptyAnnResult(queries, idCol)
    val codebooks = pqTrain(corpus, idCol, vecCol, numSubspaces, codebookSize, iters)
    pqProbe(queries, pqIndex(corpus, idCol, vecCol, codebooks), idCol, vecCol, k, codebooks)
  }

  /** The PQ codes table (neighbor_id, codes): map-only encode — the
    * INDEX-BUILD half of [[pqTopK]]. In production this is built once,
    * persisted (bytes per vector), and probed by every query batch.
    */
  def pqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    VectorExpressions.register(corpus.sparkSession)
    corpus.select(col(idCol).as("neighbor_id"),
      pqEncodeCol(col(vecCol), codebooks).as("codes"))
  }

  /** The ADC scan over a prebuilt codes table — the QUERY-TIME half of
    * [[pqTopK]]: per-query LUT (broadcast), table-lookup distances,
    * top-k UDAF tail. Cost per query batch: one pass over the codes.
    */
  def pqProbe(
      queries: DataFrame,
      codes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    VectorExpressions.register(queries.sparkSession)
    val numSubspaces = codebooks.length
    val q = broadcast(queries.select(col(idCol).as("query_id"), asDoubleVec(col(vecCol)).as("qv"))
      .select(col("query_id"), lutCol(col("qv"), codebooks).as("lut")))

    val scored = codes.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2",
        (0 until numSubspaces).map(m =>
          element_at(element_at(col("lut"), m + 1), element_at(col("codes"), m + 1) + 1))
          .reduce(_ + _))

    adcTopK(scored, k)
  }

  /** Empty-corpus result for the ANN paths: zero rows, full output
    * schema, no jobs (training on nothing is not an error for a
    * pipeline stage — it is an empty stage).
    */
  private[graft] def emptyAnnResult(queries: DataFrame, idCol: String): DataFrame =
    queries.limit(0).select(col(idCol).as("query_id"),
      lit(0L).as("neighbor_id"), lit(0).as("rank"), lit(0d).as("approx_d2"))

  /** Shared ADC top-k tail: per-query k smallest `distCol` through the
    * TopKAggregator UDAF (map-side combined; the only shuffle is the
    * |Q|*k combiner rows), exploded to ranked rows.
    */
  private def adcTopK(scored: DataFrame, k: Int, distCol: String = "approx_d2"): DataFrame = {
    val topk = graft.functions.TopKAggregator.topK(k)
    scored
      .groupBy(col("query_id"))
      .agg(topk(-col(distCol), col("neighbor_id").cast("long")).as("top"))
      .select(col("query_id"), col("top.top_values").as("tv"), col("top.top_ids").as("ti"))
      .select(col("query_id"), posexplode(arrays_zip(col("tv"), col("ti"))).as(Seq("pos", "z")))
      .select(col("query_id"),
        col("z.ti").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        round(-col("z.tv"), 9).as(distCol))
  }

  /** Stage two of two-stage retrieval: EXACT re-ranking of ANN
    * candidates. Takes any candidate table with (query_id,
    * neighbor_id) — the output of [[pqTopK]]/[[ivfPqTopK]]/[[lshTopK]]
    * run with an over-fetched k — re-attaches the RAW vectors and
    * keeps the k exactly-nearest per query by squared L2.
    *
    * This is where the raw vectors earn their cold-storage keep: the
    * ANN stage scans codes (bytes/vector), and only |Q| * k_candidates
    * rows ever touch the raw floats — the candidate->corpus join is an
    * equi-join on neighbor_id (shuffles candidates, never the corpus
    * scan) and the query side is broadcast. Output: query_id,
    * neighbor_id, rank, d2 (exact).
    */
  def exactRerank(
      candidates: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    VectorExpressions.register(corpus.sparkSession)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      asDoubleVec(col(vecCol)).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = candidates.select(col("query_id"), col("neighbor_id"))
      .join(q, Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("d2",
        dotWide(col("qv"), col("qv")) - lit(2.0) * dotWide(col("qv"), col("nv"))
          + dotWide(col("nv"), col("nv")))
    adcTopK(scored, k, distCol = "d2")
  }

  /** IVF-PQ (the FAISS IVFADC architecture, Jégou et al. TPAMI'11,
    * composed from this file's two halves): a coarse k-means quantizer
    * prunes WHICH inverted lists a query scans (as ivfTopK), PQ codes
    * shrink WHAT the scan reads (as pqTopK). This is the shape that
    * holds at 100 TB: the index table is (neighbor_id, cluster, codes)
    * — a few bytes per vector, partitioned/bucketed by `cluster` in
    * production so a query's nprobe list probes are partition-pruned
    * scans — and the per-query work is nprobe/nlist of the corpus at
    * numSubspaces table lookups per candidate. Codebooks are plain
    * (non-residual) PQ: one global code space keeps encoding map-only;
    * residual encoding would couple codes to the coarse assignment.
    *
    * Plan shape: coarse centroids + PQ codebooks are driver state
    * (nlist*dims + dims*codebookSize doubles — KBs); the corpus
    * encodes map-only; the probe join is an EQUI-join on `cluster`
    * with the (|Q|*nprobe)-row query side broadcast; the only shuffle
    * is the top-k combiner rows.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      numSubspaces: Int = 4,
      codebookSize: Int = 16,
      iters: Int = 4,
      initSampleSize: Int = 0): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "nprobe must be in [1, nlist]")
    if (corpus.limit(1).isEmpty) return emptyAnnResult(queries, idCol)
    // initSampleSize: pass the bounded-sample init through for large
    // nlist (exact k-1-scan init is fine at the defaults)
    val coarse: Array[Array[Double]] =
      trainKMeans(corpus, idCol, vecCol, nlist, iters, initSampleSize)
      .orderBy(col("cluster_id"))
      .collect().map(_.getSeq[Double](1).toArray)
    val codebooks = pqTrain(corpus, idCol, vecCol, numSubspaces, codebookSize, iters)
    ivfPqScan(queries, corpus, idCol, vecCol, k, coarse, codebooks, nprobe)
  }

  /** The query-time half of [[ivfPqTopK]] over EXPLICIT coarse
    * centroids and PQ codebooks (driver-state arrays): encode, probe
    * selection, ADC scan, top-k. Split from the trainer so a FIXED
    * deterministic codebook can be oracle-gated end-to-end (q92 — the
    * q41 first-k-vectors precedent) while the trained path (q86)
    * reuses exactly this code; it also lets production amortize one
    * trained codebook across query batches.
    */
  def ivfPqScan(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int): DataFrame = {
    if (corpus.limit(1).isEmpty) return emptyAnnResult(queries, idCol)
    ivfPqProbe(queries, ivfPqIndex(corpus, idCol, vecCol, coarse, codebooks),
      idCol, vecCol, k, coarse, codebooks, nprobe)
  }

  /** Per-centroid coarse-selection key. Selection needs only the
    * ORDERING of distances, and the ||v||^2 term is constant per row —
    * drop it (one VecDot per centroid saved):
    * rel(c) = c.c - 2 v.c = d2(v,c) - ||v||^2. `dv` is an
    * `array<double>` column or an [[asDoubleVec]] of one; each centroid
    * is one array literal (see [[d2ToCentroid]]).
    */
  private[operators] def coarseRelCol(dv: Column, coarse: Array[Array[Double]]): Column =
    array(coarse.map(c =>
      lit(c.map(x => x * x).sum) - lit(2.0) * dot(dv, typedLit(c))): _*)

  /** The IVF-PQ index table (neighbor_id, cluster, codes) — the
    * INDEX-BUILD half of [[ivfPqScan]]: map-only coarse assignment +
    * PQ encode, a few bytes per vector. In production it is built
    * once, written partitioned/bucketed by `cluster` (so probes are
    * partition-pruned scans), and amortized over every query batch.
    */
  def ivfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    VectorExpressions.register(corpus.sparkSession)
    // nearest coarse cluster: first-min tiebreak, same rule as pqEncodeCol
    val corpusRel = coarseRelCol(asDoubleVec(col(vecCol)), coarse)
    corpus.select(col(idCol).as("neighbor_id"),
      (array_position(corpusRel, array_min(corpusRel)) - 1)
        .cast("int").as("cluster"),
      pqEncodeCol(col(vecCol), codebooks).as("codes"))
  }

  /** The probe + ADC scan over a prebuilt index table — the QUERY-TIME
    * half of [[ivfPqScan]]: per query the nprobe nearest lists and the
    * LUT (broadcast), an equi-join on `cluster`, table-lookup
    * distances, top-k UDAF tail. Per-query cost: ~nprobe/nlist of the
    * codes table at numSubspaces lookups per candidate.
    */
  def ivfPqProbe(
      queries: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int): DataFrame =
    ivfPqProbe(queries, index, idCol, vecCol, k, coarse, codebooks, nprobe,
      probeClusterPrune(queries, vecCol, coarse, nprobe))

  /** The nprobe-nearest-lists expression shared by the probe plan and
    * the static prune: per query the lexicographic struct sort
    * (distance, then cluster id — deterministic), sliced to nprobe.
    * `dv` as in [[coarseRelCol]].
    */
  private def probesCol(
      dv: Column, coarse: Array[Array[Double]], nprobe: Int): Column =
    slice(
      array_sort(zip_with(
        coarseRelCol(dv, coarse),
        sequence(lit(0), lit(coarse.length - 1)),
        (d, i) => struct(d.as("d"), i.as("cl")))),
      1, nprobe)

  /** Static partition pruning set for [[ivfPqProbe]] — computed ONCE.
    *
    * The equi-join on `cluster` alone does NOT emit a partition
    * filter, so a probe over a cluster-PARTITIONED published index
    * (Pipeline.publishAnn's layout) would scan every file. The
    * probe-cluster set is ≤ nlist rows (distinct cluster ids), and the
    * query batch is small by the same contract that lets the probe's
    * query side broadcast — collect it (one tiny job, no LUT
    * evaluation) and filter the index scan explicitly.
    * Semantics-preserving (the join already restricts to these
    * clusters); at fleet scale this is the difference between reading
    * nprobe partitions and the whole index. BucketingSpec pins the
    * file-count effect on the REAL probe path.
    *
    * The collect runs at plan-CONSTRUCTION time, so its driver job
    * must stay cheap even when a caller violates the small-batch
    * contract: ONE bounded head() over the per-query probe lists
    * (reads partitions only until the cap is hit, never the full
    * frame) both checks the contract and yields the lists; an
    * oversized batch falls back to the plain join (None) — correct
    * either way, just without static pruning (a batch that big can't
    * broadcast-probe efficiently regardless). The ids come back
    * sorted, so the same probe lists always give the same `isin`
    * filter (and the same generated code).
    *
    * Split out of ivfPqProbe in r22 so callers probing SEVERAL index
    * reads with the SAME query batch and frozen model (the q232
    * asof/compact/live lifecycle) pay the job once, not once per probe.
    */
  def probeClusterPrune(
      queries: DataFrame,
      vecCol: String,
      coarse: Array[Array[Double]],
      nprobe: Int): Option[Seq[Int]] = {
    val lists = queries
      .select(transform(probesCol(asDoubleVec(col(vecCol)), coarse, nprobe), _.getField("cl")))
      .head(MaxPruneQueryBatch + 1)
    if (lists.length > MaxPruneQueryBatch) None
    else Some(lists.flatMap(_.getSeq[Int](0)).distinct.sorted.toSeq)
  }

  /** [[ivfPqProbe]] with an explicit (pre-computed) prune set — see
    * [[probeClusterPrune]]. None = no static pruning.
    */
  def ivfPqProbe(
      queries: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int,
      pruneClusters: Option[Seq[Int]]): DataFrame = {
    val nlist = coarse.length
    val numSubspaces = codebooks.length
    require(nprobe >= 1 && nprobe <= nlist, "nprobe must be in [1, nlist]")
    VectorExpressions.register(queries.sparkSession)

    // per query: the nprobe nearest lists + the ADC LUT, both over the
    // query vector cast to double ONCE
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), asDoubleVec(col(vecCol)).as("qv"))
        .select(col("query_id"), lutCol(col("qv"), codebooks).as("lut"),
          explode(probesCol(col("qv"), coarse, nprobe)).as("probe"))
        .select(col("query_id"), col("lut"), col("probe.cl").as("cluster")))

    val prunedIndex = pruneClusters match {
      case Some(cs) => index.filter(col("cluster").isin(cs: _*))
      case None => index
    }
    val scored = prunedIndex.join(q, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2",
        (0 until numSubspaces).map(m =>
          element_at(element_at(col("lut"), m + 1), element_at(col("codes"), m + 1) + 1))
          .reduce(_ + _))
    adcTopK(scored, k)
  }
}
