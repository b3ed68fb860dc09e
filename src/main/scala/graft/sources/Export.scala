package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The last step a training-data pipeline runs: a DETERMINISTIC
  * global shuffle of the curated corpus (training-order randomization
  * — Xu et al.'s data-order effects literature is why this is not
  * optional) followed by a size-targeted sharded export (fixed
  * examples per shard, the layout data loaders stream).
  *
  * Shuffle discipline: position = rank of a seeded md5 hash of the id
  * (the q98 salted-hash replay rule — same seed, same permutation, on
  * any cluster, any day), ranked WITHOUT a global window through
  * [[graft.operators.Curriculum.globalRank]]'s three-level prefix
  * count: hash keys are uniform in [0, 2^60), so blocks are balanced
  * by construction and the data-row windows stay bounded.
  *
  * Shard discipline: shard = (position - 1) div rowsPerShard — the
  * row-count sibling of [[Layout.compact]]'s byte bin-packing (training
  * shards are counted in EXAMPLES because loaders schedule epochs by
  * example count). Each shard is one task's writer (repartition on the
  * shard id) and rows land sorted by position, so a shard FILE read
  * top-to-bottom replays the shuffle order.
  */
object Export {

  /** Attach the seeded shuffle `position` (contiguous 1..N) to every
    * row. Replayable: position is a pure function of (seed, id).
    * `blockWidth` partitions the 2^60 hash space (default 2^48 ->
    * 4096 balanced blocks for the serial count pass).
    */
  def shufflePositions(
      docs: DataFrame,
      idCol: String,
      seed: Long,
      blockWidth: Long = 1L << 48): DataFrame = {
    val key = "__shuf_key"
    val keyed = docs.select(
      col(idCol),
      TextFunctions.hash60(concat(lit(s"shuf|$seed|"), col(idCol))).as(key))
    val ranked = graft.operators.Curriculum.globalRank(keyed, key, idCol, blockWidth)
      .select(col(idCol), col("global_rank").as("position"))
    docs.join(ranked, Seq(idCol))
  }

  /** Shuffle + export: write `outDir/shard=<k>/` dirs of exactly
    * `rowsPerShard` rows each (the last shard takes the remainder),
    * one file per shard, rows in shuffle order within the file.
    * Returns the shard count. Deterministic end-to-end: same (corpus,
    * seed, rowsPerShard) -> same shard membership and row order.
    */
  def writeShards(
      docs: DataFrame,
      idCol: String,
      outDir: String,
      seed: Long,
      rowsPerShard: Long): Int = {
    require(rowsPerShard >= 1, s"rowsPerShard must be >= 1: $rowsPerShard")
    val sharded = shufflePositions(docs, idCol, seed)
      .withColumn("shard", expr(s"(position - 1) div $rowsPerShard"))
    // hash repartition, NOT repartitionByRange (measured r22, verdict
    // item 6): the file layout is identical either way (partitionBy
    // splits by shard value — one file per shard as long as a shard
    // lives in one task, which both give), but repartitionByRange's
    // range-boundary SAMPLING pass re-executes the whole
    // shufflePositions pipeline a second time (no shuffle boundary
    // below it to reuse) — q218 2.70 s -> 3.71 s, q222 3.79 s -> 5.18 s
    // in one window. Hash partitioning needs no sample.
    sharded
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("position"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    val d = new java.io.File(outDir)
    Option(d.listFiles()).toSeq.flatten.count(_.getName.startsWith("shard="))
  }

  /** [[writeShards]] plus the catalog a data loader actually consumes:
    * `manifest.json` in `outDir` recording the replay recipe (seed,
    * rowsPerShard), the totals, and the per-shard row counts in shard
    * order — so an epoch scheduler sizes itself without listing or
    * footer-reading thousands of shard files, and a re-export is
    * verifiable by manifest diff alone (same corpus + seed ⇒
    * byte-identical manifest). Manifest commits LAST via temp + atomic
    * move (the [[graft.changesets.Pipeline]] artifact rule: a crash
    * mid-export leaves data files but no manifest — an incomplete
    * export is never mistaken for a committed one).
    */
  def writeShardsWithManifest(
      docs: DataFrame,
      idCol: String,
      outDir: String,
      seed: Long,
      rowsPerShard: Long): Int = {
    val n = writeShards(docs, idCol, outDir, seed, rowsPerShard)
    val spark = docs.sparkSession
    // an EMPTY corpus (empty daily drop) writes zero shard dirs — a
    // valid, committable export of 0 rows; there is nothing to re-read
    val (perShard, checksums) =
      if (n == 0) (Array.empty[(Int, Long)], Map.empty[Int, Long])
      else {
        val rows = shardCountsAndChecksums(readShardFiles(spark, outDir))
        (rows.map { case (s, r, _) => (s, r) },
          rows.map { case (s, _, c) => s -> c }.toMap)
      }
    val total = perShard.map(_._2).sum
    writeManifestJson(outDir, seed, rowsPerShard, n, total,
      perShard.toSeq, checksums, lastBatch = -1L)
    n
  }

  /** Per-row content digest over a shard-files frame: xxhash64 of the
    * `position` plus every data column (name-sorted for a canonical
    * order; the derivable `shard` key excluded). Binding position into
    * the hash makes the XOR-fold below ORDER-SENSITIVE: content swapped
    * between two positions, a bit-flipped payload, or a row replayed
    * into the wrong slot all change some digest even though counts and
    * position ranges stay clean.
    */
  private def rowDigest(df: DataFrame): org.apache.spark.sql.Column = {
    val cols = df.columns.filterNot(_ == "shard").sorted.map(col).toSeq
    xxhash64(cols: _*)
  }

  /** (shard, rows, checksum) from the shard files, shard order. The
    * checksum is the bit_xor fold of [[rowDigest]] — commutative, so
    * it map-side combines (one exchange of shard-cardinality rows),
    * while position-binding keeps it order-sensitive.
    */
  private def shardCountsAndChecksums(files: DataFrame): Array[(Int, Long, Long)] =
    files
      .withColumn("__digest", rowDigest(files))
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("rows"), expr("bit_xor(__digest)").as("checksum"))
      .orderBy(col("shard"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

  private def writeManifestJson(
      outDir: String, seed: Long, rowsPerShard: Long, n: Int, total: Long,
      perShard: Seq[(Int, Long)], checksums: Map[Int, Long],
      lastBatch: Long): Unit = {
    val shardJson = perShard
      .map { case (sh, r) =>
        checksums.get(sh) match {
          case Some(c) => s"""{"shard": $sh, "rows": $r, "checksum": $c}"""
          case None => s"""{"shard": $sh, "rows": $r}"""
        }
      }
      .mkString("[", ", ", "]")
    val json =
      s"""{
         |  "seed": $seed,
         |  "rows_per_shard": $rowsPerShard,
         |  "n_shards": $n,
         |  "total_rows": $total,
         |  "last_batch_id": $lastBatch,
         |  "shards": $shardJson
         |}""".stripMargin
    val tmp = java.nio.file.Paths.get(outDir, ".manifest.json.tmp")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(outDir, "manifest.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** INCREMENTAL export append — the O(delta) daily-drop step for the
    * training artifact. Deliberately NO time-travel on this lifecycle
    * (the ANN/postings families have it; the compressed-video
    * adjudication pattern): completing the partial last shard rewrites
    * it IN PLACE, so prior versions are not readable from the same
    * dirs — a loader that needs frozen epochs snapshots the export
    * (or re-exports at a pinned seed; both replayable from manifest
    * recipes). Copy-on-write shard generations would buy time-travel
    * at a write amplification the training-artifact consumer never
    * asks for (loaders read HEAD; reproducibility comes from the
    * recipe, not from old bytes).
    *
    * The append itself (the countMinIncrement / appendPostings
    * lifecycle discipline applied to sharded exports): a new batch of
    * documents takes the NEXT positions (its own seeded permutation,
    * offset by the committed total), lands in the shards those
    * positions imply, and the manifest re-commits atomically with the
    * new totals. Only the touched shards are written — a PARTIAL last
    * shard is completed in place (read old + union delta rows for
    * that one shard: cost O(delta + rowsPerShard), never O(corpus)) —
    * via dynamic partition overwrite, so every untouched shard's
    * bytes are byte-identical after the append.
    *
    * Replay contract: with a monotone `batchId`, a batch at or below
    * the committed `last_batch_id` is a no-op; a HALF-committed
    * replay (shards written, manifest not flipped) recomputes the
    * identical positions (pure function of deltaSeed + ids) against
    * the unmoved manifest and overwrites identical bytes —
    * convergent. Caller contract: delta ids are NEW (dedup upstream);
    * delta schema matches the base export's.
    *
    * Returns the new shard count. [[verifyShards]] /
    * [[readShardsInOrder]] apply unchanged — positions stay the
    * contiguous 1..N and shard = (position-1) div rowsPerShard, so
    * the read-back gate holds across any number of appends (q222
    * pins base+append ≡ the declared combined order).
    */
  def appendShardsWithManifest(
      delta: DataFrame,
      idCol: String,
      outDir: String,
      deltaSeed: Long,
      batchId: Long = -1L): Int = {
    val m = readManifest(outDir)
    if (batchId >= 0 && batchId <= m.lastBatch) return m.nShards // committed replay
    val spark = delta.sparkSession
    val r = m.rowsPerShard
    val n0 = m.totalRows
    val deltaCount = delta.count()
    if (deltaCount == 0L) {
      writeManifestJson(outDir, m.seed, r, m.nShards, n0, m.shards,
        m.checksums, math.max(batchId, m.lastBatch))
      return m.nShards
    }
    val positioned = shufflePositions(delta, idCol, deltaSeed)
      .withColumn("position", col("position") + n0)
      .withColumn("shard", expr(s"(position - 1) div $r"))
    val firstTouched = n0 / r // the partial shard when n0 % r != 0
    val toWrite =
      if (n0 % r == 0 || !shardDirsExist(outDir)) positioned
      else {
        // trust only COMMITTED rows (position <= the manifest total):
        // a crashed earlier attempt may have already rewritten this
        // shard with its delta rows before the manifest flipped —
        // re-reading those would duplicate them; filtered out, the
        // replay recomputes them identically instead
        val tail = readShardFiles(spark, outDir)
          .filter(col("shard") === firstTouched)
          .filter(col("position") <= n0)
          .withColumn("shard", col("shard").cast("long"))
        tail.unionByName(positioned.select(tail.columns.map(col).toSeq: _*))
      }
    toWrite
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("position"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(outDir)
    // positions are contiguous 1..N by construction, so per-shard
    // counts are arithmetic: r everywhere, remainder in the last
    val n1 = n0 + deltaCount
    val nShards = ((n1 + r - 1) / r).toInt
    val perShard = (0 until nShards)
      .map(k => k -> math.min(r, n1 - k.toLong * r))
    // checksums: untouched shards keep their committed values; the
    // touched tail (the completed partial + the new shards — exactly
    // what was just written) re-reads at O(delta + rowsPerShard)
    val touched = shardCountsAndChecksums(
        readShardFiles(spark, outDir).filter(col("shard") >= firstTouched))
      .map { case (s, _, c) => s -> c }.toMap
    val checksums = m.checksums.filter(_._1 < firstTouched) ++ touched
    writeManifestJson(outDir, m.seed, r, nShards, n1, perShard,
      checksums, math.max(batchId, m.lastBatch))
    nShards
  }

  /** Parsed export manifest — the replay recipe plus the per-shard
    * row counts a loader schedules by, and the per-shard content
    * checksums [[verifyShards]] diffs (absent entries — older
    * manifests — simply skip the checksum comparison).
    */
  final case class ExportManifest(
      seed: Long, rowsPerShard: Long, nShards: Int, totalRows: Long,
      shards: Seq[(Int, Long)], lastBatch: Long = -1L,
      checksums: Map[Int, Long] = Map.empty)

  /** Read `outDir/manifest.json`, failing LOUDLY when absent: the
    * manifest commits last ([[writeShardsWithManifest]]), so a
    * missing manifest means an uncommitted/crashed export — a loader
    * must never schedule against one.
    */
  def readManifest(outDir: String): ExportManifest = {
    val p = java.nio.file.Paths.get(outDir, "manifest.json")
    if (!java.nio.file.Files.exists(p))
      throw new IllegalStateException(
        s"no manifest.json in $outDir — export never committed (the " +
          "manifest lands LAST; data files without one are an aborted write)")
    val j = graft.Json.read(p)
    def f(k: String): Long =
      graft.Json.long(j, k).getOrElse(throw new IllegalStateException(s"manifest missing $k"))
    val entries = j.path("shards").elements.asScala.toSeq
      .filter(e => graft.Json.long(e, "shard").isDefined && graft.Json.long(e, "rows").isDefined)
    val shards = entries.map(e => (e.get("shard").asInt, e.get("rows").asLong))
    val checksums = entries.flatMap(e =>
      graft.Json.long(e, "checksum").map(e.get("shard").asInt -> _)).toMap
    ExportManifest(f("seed"), f("rows_per_shard"), f("n_shards").toInt,
      f("total_rows"), shards, graft.Json.long(j, "last_batch_id").getOrElse(-1L), checksums)
  }

  /** CONSUMER-side verification of a sharded export — the read-back
    * gate the lifecycle families (ANN q170, postings q148, CMS q155)
    * already have, applied to the training artifact: re-derive every
    * shard's row count and position range from the FILES and diff
    * them against the manifest. One report row per shard (manifest ∪
    * files), status one of:
    *
    *  - `ok` — counts match and positions are exactly the contiguous
    *    duplicate-free range `[shard·rps + 1, shard·rps + rows]`
    *  - `row_count_mismatch` — a TRUNCATED (or padded) shard: files
    *    exist but rows were lost/duplicated after the manifest landed
    *  - `missing_shard` — the manifest promises a shard no file backs
    *  - `unexpected_shard` — files carry a shard the manifest never
    *    recorded (a foreign/partial write landed in the dir)
    *  - `order_broken` — counts match but the position set is not the
    *    shard's contiguous range (rows landed in the wrong shard, or
    *    a replay would skip/repeat examples)
    *  - `checksum_mismatch` — counts and positions are clean but the
    *    order-sensitive content fold ([[rowDigest]] XOR'd per shard)
    *    differs from the manifest: a bit-flipped payload, content
    *    swapped between positions, or any silent in-place rewrite the
    *    cardinality checks cannot see (manifests without checksums —
    *    pre-checksum exports — skip this comparison)
    *
    * Plan shape: ONE scan of the export + a groupBy on the shard key
    * (shard-cardinality result), full-outer-joined against the
    * broadcast manifest frame — no window over data rows, no collect
    * of data. The q218 gate pins verify-then-replay ≡ the q132
    * declared order end-to-end.
    */
  def verifyShards(
      spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val m = readManifest(outDir)
    val manifest = m.shards
      .map { case (s, r) => (s, r, m.checksums.get(s)) }
      .toDF("shard", "manifest_rows", "manifest_checksum")
    if (!shardDirsExist(outDir))
      // no data files at all: a committed EMPTY export verifies clean
      // (empty report); a manifest promising shards reports them all
      // missing
      return manifest
        .select(col("shard"), col("manifest_rows"),
          lit(0L).as("actual_rows"), lit("missing_shard").as("status"))
        .orderBy(col("shard"))
    val files = readShardFiles(spark, outDir)
    val actual = files
      .withColumn("__digest", rowDigest(files))
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("actual_rows"),
        min(col("position")).as("min_position"),
        max(col("position")).as("max_position"),
        count_distinct(col("position")).as("n_distinct"),
        expr("bit_xor(__digest)").as("actual_checksum"))
    val rps = m.rowsPerShard
    manifest.join(actual, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("manifest_rows").isNull, lit("unexpected_shard"))
          .when(col("actual_rows").isNull, lit("missing_shard"))
          .when(col("actual_rows") =!= col("manifest_rows"),
            lit("row_count_mismatch"))
          .when(col("min_position") =!= col("shard") * rps + 1 ||
            col("max_position") =!= col("shard") * rps + col("actual_rows") ||
            col("n_distinct") =!= col("actual_rows"), lit("order_broken"))
          .when(col("manifest_checksum").isNotNull &&
            col("actual_checksum") =!= col("manifest_checksum"),
            lit("checksum_mismatch"))
          .otherwise(lit("ok")))
      .select(col("shard"),
        coalesce(col("manifest_rows"), lit(0L)).as("manifest_rows"),
        coalesce(col("actual_rows"), lit(0L)).as("actual_rows"),
        col("status"))
      .orderBy(col("shard"))
  }

  /** Replay the training order from a committed export, verifying
    * FIRST: any non-`ok` shard in [[verifyShards]] aborts loudly (a
    * loader must not train on a corrupted artifact), then the rows
    * come back carrying their `position`/`shard` columns — position
    * is the declared global training order (within a shard file rows
    * are already physically sorted by it; a sequential reader of
    * shard 0, 1, 2… replays the q132 permutation without this sort).
    */
  def readShardsInOrder(
      spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val m = readManifest(outDir)
    require(m.totalRows > 0,
      s"export at $outDir is committed but EMPTY (total_rows = 0) — " +
        "nothing to replay; callers gate on the manifest total")
    val bad = verifyShards(spark, outDir)
      .filter(col("status") =!= "ok")
      .collect() // shard-cardinality, not data
    if (bad.nonEmpty)
      throw new IllegalStateException(
        "export verification failed: " + bad.map(r =>
          s"shard ${r.get(0)}: ${r.getString(3)} " +
            s"(manifest ${r.getLong(1)}, files ${r.getLong(2)})").mkString("; "))
    readShardFiles(spark, outDir)
  }

  /** [[readShardsInOrder]], or None for an export committed EMPTY
    * (total_rows = 0) — which still verifies: a `shard=` dir beside a
    * 0-row manifest is a foreign or partial write ([[verifyShards]]
    * reports it `unexpected_shard`) and is refused, not replayed as
    * nothing.
    */
  def readShardsInOrderIfAny(
      spark: org.apache.spark.sql.SparkSession, outDir: String): Option[DataFrame] =
    if (readManifest(outDir).totalRows > 0) Some(readShardsInOrder(spark, outDir))
    else if (shardDirsExist(outDir))
      throw new IllegalStateException(s"export verification failed: $outDir is committed " +
        "EMPTY (total_rows = 0) but holds shard= dirs: unexpected_shard")
    else None

  /** The shard data files only — the manifest (json) sits in the same
    * dir and must not reach the parquet footer reader.
    */
  private def readShardFiles(
      spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    spark.read.option("basePath", outDir).parquet(s"$outDir/shard=*")

  private def shardDirsExist(outDir: String): Boolean =
    Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .exists(_.getName.startsWith("shard="))

  /** EXACT stratified holdout selection — carve a validation/test set
    * of EXACTLY `budget` examples out of the corpus, allocated across
    * strata (sources, domains, languages) proportionally to their
    * size and picked deterministically within each stratum. The two
    * invariants the common salted-hash split (q98) cannot give:
    * Σ holdout ≡ budget exactly (hash thresholds drift ±√n per
    * stratum), and per-stratum counts ≡ the largest-remainder
    * apportionment of the budget — the numbers an eval-set datasheet
    * publishes.
    *
    * Mechanics, all exact-integer and replayable: per-stratum quotas
    * via [[graft.operators.LinkGraph.apportionBudget]] (Hamilton;
    * remainder ties to the smaller stratum index); within a stratum,
    * docs rank by a seeded md5 hash (ties by id) and the first
    * `quota` ranks hold out. The rank is
    * [[graft.operators.Curriculum.globalRank]] over the composite
    * key `stratum · 2⁵⁷ + (hash60 div 16)` — stratum-major,
    * hash-minor, so subtracting the stratum's cumulative-size offset
    * turns the skew-proof GLOBAL rank into the per-stratum one with
    * no per-stratum window over data rows. Strata indices must be
    * non-negative longs ≤ 62 (the pack keeps 56 hash bits under
    * 2⁶³); wider stratum spaces would shrink the hash width — derive
    * both from the stratum manifest at fleet scale.
    *
    * Returns (idCol, strataCol, holdout BOOLEAN); the quota/offset
    * frames are stratum-cardinality and broadcast back (the q147
    * "key-table window" class — the only windows run over count
    * rows, never the corpus).
    */
  /** Priority sampling (Duffield, Lund & Thorup 2007) — weighted
    * sampling WITHOUT replacement, deterministic: each row draws
    * priority = u DIV max(w, 1) with u the seeded 52-bit hash of its
    * id (the q98/q132 replay family — same seed, same sample, any
    * cluster, any day), and the sample is the k SMALLEST priorities
    * (ties to the smaller id). Heavier rows draw stochastically
    * smaller priorities, giving the inclusion-probability-∝-weight
    * sample the mixture/eval tooling wants, with the DLT estimator
    * properties (weight sums estimable from the k+1-th priority) and
    * none of rand()'s replay problems.
    *
    * Plan shape: one map-only priority projection, then the bounded
    * TopK aggregator (O(k) state, map-side partial — never a global
    * sort), and one broadcast semi-join to pull the sampled rows.
    * Returns the sampled rows + their `priority` column.
    */
  def prioritySample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val m = 1L << 52
    val pri = df.select(col(idCol).as("__ps_id"),
        pmod(TextFunctions.hash60(
          concat(lit(s"psample|$seed|"), col(idCol))), lit(m)).as("__ps_u"),
        col(weightCol).cast("long").as("__ps_w"))
      .selectExpr("__ps_id", "__ps_u DIV greatest(__ps_w, 1L) AS __ps_p")
    val top = pri.agg(graft.functions.TopKAggregator.topK(k)(
        -col("__ps_p").cast("double"), col("__ps_id")).as("t"))
      .select(explode(col("t.top_ids")).as("__ps_id"))
    df.join(broadcast(top.withColumnRenamed("__ps_id", idCol)), Seq(idCol),
        "left_semi")
      .join(pri.select(col("__ps_id").as(idCol), col("__ps_p").as("priority")),
        Seq(idCol))
  }

  def stratifiedHoldout(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      budget: Long,
      seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be >= 0: $budget")
    val cnt = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("__sh_n"))
    val quota = graft.operators.LinkGraph
      .apportionBudget(cnt, strataCol, "__sh_n", budget)
      .withColumn("__sh_off",
        coalesce(sum(col("__sh_n")).over(Window.orderBy(col(strataCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(strataCol), col("slots").as("__sh_q"), col("__sh_off"))
    val keyed = docs
      .withColumn("__sh_h",
        TextFunctions.hash60(concat(lit(s"strat|$seed|"), col(idCol))))
      .withColumn("__sh_key",
        col(strataCol) * lit(1L << 57) + expr("__sh_h div 16"))
    val ranked = graft.operators.Curriculum
      .globalRank(keyed.select(col(idCol), col("__sh_key")),
        "__sh_key", idCol, blockWidth = 1L << 48)
      .select(col(idCol), col("global_rank"))
    docs.select(col(idCol), col(strataCol))
      .join(ranked, Seq(idCol))
      .join(broadcast(quota), Seq(strataCol))
      .withColumn("holdout",
        col("global_rank") - col("__sh_off") <= col("__sh_q"))
      .select(col(idCol), col(strataCol), col("holdout"))
  }
}
