package graft

import scala.jdk.CollectionConverters._

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR (and a second, smaller scale point) and prints
  * one COMPACT JSON line the driver collects into BENCH_r{N}.json.
  * Timing includes plan + execution to a count (forces the whole
  * plan; avoids driver-side materialization cost).
  *
  * Each query runs once as warmup (JIT + codegen compilation +
  * parquet footer reads — paid once per executor lifetime in
  * production), then measured, reporting the MIN of the measured
  * runs: single warm runs of the heavy similarity queries still vary
  * 2-6x with GC/AQE noise in a shared JVM, and the minimum is the
  * standard estimator for the actual plan cost under one-way noise.
  * Measurement count is ADAPTIVE (r13 verdict task 7 — the sweep was
  * 0.63 harness fixed cost by r13): a query whose first measured run
  * is >= 1 s gets a second run and reports the min (the heavies are
  * where 2-6x one-way noise actually bites); a sub-second query keeps
  * its single measurement — its worst-case noise contribution is
  * bounded by the 1 s threshold itself, and cutting the second run
  * removes ~1/3 of the sweep's wall-clock without touching any heavy
  * query's min. Side effect: `run_spread_sec` now sums re-run spread
  * over the >= 1 s queries only, making it a cleaner contention signal
  * (sub-second spread was never evidence, just jitter).
  *
  * Output contract: the driver keeps only the last ~2000 chars of
  * stdout, and with 80+ registered queries the full per-query map no
  * longer fits (BENCH_r4..r6 all recorded `parsed: null` because the
  * line was truncated mid-JSON). So the final stdout line is a compact
  * summary — totals, converter throughput, and the slowest queries
  * (time-descending) up to a strict char budget — and the COMPLETE
  * two-scale-point per-query detail goes to `bench_detail.json` in the
  * working directory (a generated, gitignored per-run artifact; see
  * SURVEY §8.6).
  *
  * Measurement isolation: BENCH_r07 collapsed 3x because eagerly
  * checkpointed frames from the iterative operators accumulated in
  * the block manager across the 90-query sweep (fresh-JVM q28 ran
  * 3.1 s vs 17.5 s in-bench). Every query run now RELEASES its
  * checkpoint-backed result (Checkpoints.release) and clears the SQL
  * cache, and the residual persisted-block footprint is recorded per
  * query in bench_detail (`storage_mb` — a growing series means an
  * operator is leaking again).
  */
object Bench {

  /** `s` as a JSON string literal, quotes and escapes included. */
  private def jsonString(s: String): String = Json.Mapper.writeValueAsString(s)

  /** Seconds per query (`queries.<q…>.sec`) from the `bench_detail.json`
    * at `p`, when that run's primary `sf` was `sfDir`; empty when there
    * is no such file, it names another sf, or it is not a JSON object.
    */
  private[graft] def priorSeconds(p: java.nio.file.Path, sfDir: String): Map[String, Double] =
    Option.when(java.nio.file.Files.exists(p))(java.nio.file.Files.readString(p))
      .flatMap(Json.parseOption).filter(j => Json.text(j, "sf").contains(sfDir))
      .map(_.path("queries").properties.asScala.collect {
        case e if e.getKey.matches("q[0-9].*") && e.getValue.path("sec").isNumber =>
          e.getKey -> e.getValue.path("sec").asDouble
      }.toMap)
      .getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // second scale point: exposes fixed per-query overheads (planning,
    // shuffle setup) that dominate at small inputs but amortize at
    // scale — a query whose time does NOT drop from sf0.1 to sf0.01 is
    // all fixed cost.
    val sfDir2 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR2", "/root/testdata/sf0.01")
    val spark = GraftSession.build("graft-bench")
    // warmup: JIT/codegen/parquet-footer caches
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // machine-speed calibration: a fixed deterministic single-core
    // integer workload (67M multiply-xor steps). Cross-ROUND query
    // comparisons should normalize by this — the same plans on a
    // slower or neighbor-loaded box scale with it, and without it a
    // ratio of two rounds' seconds confounds plan changes with
    // machine variance (the r6-vs-r8 lesson, SURVEY §8.7).
    def calibrate(): Double = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < (1 << 26)) { h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL + i; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (h == 42L) System.err.println("") // keep the loop live
      dt
    }
    // warm once, then three samples: calib_sec = min (the machine's
    // actual speed under one-way noise); the full sample list goes to
    // bench_detail so cross-round normalization can see whether the
    // CALIBRATION itself was noise-bound (r12's q28 mystery question)
    val calibSamples = { calibrate(); Seq(calibrate(), calibrate(), calibrate()) }
    val calib = calibSamples.min
    // ALL-CORES calibration: the same workload on every core at once.
    // Single-core calib stays flat while a neighbor JVM eats half the
    // box — exactly the blind spot behind r12's q28 driver-vs-builder
    // 3.6x same-code gap (r13 reproduced it: q28 20.4 s with test JVMs
    // winding down, 1.3-5.8 s quiet, calib 0.132 throughout; PERF.md
    // "q28 file"). calib_mt_ratio = calib_mt/calib: ~1 on an idle box,
    // elevated means the 32-thread queries in THIS sweep ran contended
    // and their seconds are not comparable to a quiet round's.
    //
    // Statistic: the MEDIAN across threads, not the max. Measured on
    // this box (r14): with 32 workers on 32 CPUs the max is ~1.5x
    // even fully idle — one worker always shares a core with OS
    // daemons + the measuring process itself — while the median reads
    // ~steady-state single-core speed and only rises when a neighbor
    // actually eats cores from MOST threads (real contention slows
    // the bulk of the pool, not one straggler). The max is still
    // recorded in bench_detail (calib_mt_max) as the straggler
    // diagnostic.
    val (calibMt, calibMtMax) = {
      val n = Runtime.getRuntime.availableProcessors()
      val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val threads = (0 until n).map { _ =>
        new Thread(() => { times.add(calibrate()) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val sorted = times.asScala.toSeq.sorted
      (sorted(sorted.size / 2), sorted.last)
    }
    // MEMORY-BANDWIDTH calibration (r18, the r17-adjudication lesson):
    // both register-loop calibs stayed flat (+0% single-core min,
    // +5% all-cores median) across the r16→r17 driver artifacts while
    // memory-streaming work — converter parse throughput, the
    // shuffle/export heavies — ran 1.5-2x slower, and the r16 CODE
    // re-probed on the degraded box reproduced the elevated numbers.
    // A frequency-bound integer loop cannot see a neighbor saturating
    // the memory controllers; a 256 MiB streaming sweep (beyond any
    // LLC) can. Cross-round rule: totals are comparable only between
    // sweeps whose membw numbers agree within ~15%.
    // Measured BEFORE AND AFTER the query loop (r18 verdict task 1):
    // one snapshot per sweep cannot see a mid-run bandwidth burst —
    // BENCH_r18 carried membw_mt 106 (healthy) next to a 50 s run
    // spread, a contradiction only a second, post-loop reading can
    // adjudicate inside the artifact itself. Disagreement between
    // membw_mt_gbs and membw_mt_gbs_post means the box state SHIFTED
    // mid-sweep and the per-query numbers straddle two regimes.
    def membwSweep(): (Double, Double) = {
      val words = 1 << 25 // 256 MiB of longs
      val arr = new Array[Long](words)
      java.util.Arrays.fill(arr, 0x9E3779B97F4A7C15L)
      def sweep(from: Int, until: Int): Long = {
        var s = 0L; var i = from
        while (i < until) { s += arr(i); i += 1 }
        s
      }
      def onePass(): Double = {
        val t0 = System.nanoTime()
        if (sweep(0, words) == 42L) System.err.println("")
        (System.nanoTime() - t0) / 1e9
      }
      onePass() // fault pages in
      val st = Seq(onePass(), onePass()).min
      val n = Runtime.getRuntime.availableProcessors()
      val chunk = words / n
      def mtPass(): Double = {
        val t0 = System.nanoTime()
        val ts = (0 until n).map { k =>
          new Thread(() => {
            var r = 0
            while (r < 4) { if (sweep(k * chunk, (k + 1) * chunk) == 42L) System.err.println(""); r += 1 }
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      val mt = Seq(mtPass(), mtPass()).min
      (words.toLong * 8 / st / 1e9, words.toLong * 8 * 4 / mt / 1e9)
    }
    val (membwSt, membwMt) = membwSweep()

    def once(name: String, dir: String,
             fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        df.count()
        // release the query's own checkpoint-backed blocks inside its
        // timed window — cleanup is part of the operator's honest cost
        Checkpoints.release(df)
      }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }

    // TIERING (r15 verdict task 6 — the sweep was growing linearly
    // with the registry, 19:37 wall at 215 queries): the previous
    // run's bench_detail.json, when present for the SAME primary sf,
    // classifies the registry into a STABLE SUB-SECOND tail (prior
    // sec < 1 s) and everything else. The tail runs ONCE at the
    // primary scale — no dedicated warm run — because its values were
    // never evidence (bounded by the 1 s threshold; the r13 diet
    // already stripped its second measurement); everything >= 1 s,
    // plus every query NEW or missing from the prior artifact, keeps
    // the full warm + adaptive-min-of-2 discipline, so the >= 1 s
    // mins stay identical to the untiered sweep. Cold tail values
    // carry first-compile codegen (~0.2-0.4 s) — recorded with
    // "tier":"cold1" in bench_detail so cross-round diffs know the
    // regime; a tail query that regresses past 1 s is measured cold
    // once, flagged high, and re-enters the full tier next run. The
    // sf2 sweep is untouched (warm + 1 for all — dropping ITS warm
    // was the r14 scale-inversion defect).
    val priorDetail = priorSeconds(java.nio.file.Paths.get("bench_detail.json"), sfDir)

    // per-query result: (min seconds, all measured runs, residual
    // persisted bytes AFTER the query's runs + cleanup — the leak
    // detector series). BOTH measured runs go to bench_detail: the
    // r12 driver-vs-builder 30% gap on identical code was invisible
    // in a min-only artifact — the per-run spread is what says
    // whether a round's headline moved because of a plan or because
    // one execution was noisy.
    final case class QRun(sec: Double, runs: Seq[Double], residualBytes: Long,
        coldTier: Boolean = false)
    def sweep(dir: String, primary: Boolean): Seq[(String, QRun)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val stableSubSecond =
          primary && priorDetail.get(name).exists(_ < 1.0)
        if (stableSubSecond) {
          // tail tier: one cold execution, no warm run
          System.gc()
          val t = once(name, dir, fn)
          spark.catalog.clearCache()
          name -> QRun(t, Seq(t), Checkpoints.storageBytes(spark), coldTier = true)
        } else {
          once(name, dir, fn) // warm: codegen compile, JIT, IO caches
          System.gc() // don't bill this query for its predecessor's garbage
          val t1 = once(name, dir, fn)
          // adaptive re-measure (scaladoc): only >= 1 s queries earn a
          // second run; min-of-2 there is identical to the old discipline
          val runs = if (primary && t1 >= 1.0) {
            System.gc() // don't bill the second measurement for the first's
            Seq(t1, once(name, dir, fn))
          } else Seq(t1)
          spark.catalog.clearCache() // defense: drop anything cache-registered
          name -> QRun(runs.min, runs, Checkpoints.storageBytes(spark))
        }
      }

    // primary SF: warm + adaptive min (steady state, noise-robust for
    // the heavies). Second scale point: warm + single measurement.
    // BOTH scales warm: the r14 "diet" that dropped sf2's warm pass
    // assumed codegen is keyed on the plan, but at sf0.01 AQE plans
    // DIFFERENTLY (broadcast joins, coalesced stages), so the sf2 pass
    // paid first-compile per query — total_sf2 205 s vs 114 s primary,
    // 51 spurious scale inversions (r14 verdict wrong #3). One warm
    // run restores the fixed-cost signal; dropping sf2's SECOND
    // measured run keeps half the diet's savings.
    val results = sweep(sfDir, primary = true)
    val results2 =
      if (new java.io.File(sfDir2).isDirectory && sfDir2 != sfDir)
        sweep(sfDir2, primary = false)
      else Seq.empty
    val total = results.map(_._2.sec).sum
    val total2 = results2.map(_._2.sec).sum
    // post-loop bandwidth reading (see membwSweep scaladoc): taken
    // right after the LAST timed query so a mid-sweep box-state shift
    // shows up as pre/post disagreement in this artifact
    val (_, membwMtPost) = membwSweep()

    // explicit locale: f"%.3f" under a comma-decimal locale emits
    // "0,123" and the JSON stops parsing
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // converter throughput - the surface BASELINE.md actually
    // measures (the reference is a single-threaded XML->parquet
    // converter; its implied bound is "full planet inside one CI
    // job"). Synthetic but shape-faithful input: all 12 attributes
    // + a comment tag per element.
    // sharded like any real dump directory — 16 chunks let the parse
    // fan out across cores
    val convRows = 500000
    val chunks = 16
    val xmlDir = java.nio.file.Files.createTempDirectory("bench-changesets")
    (0 until chunks).foreach { c =>
      val xml = new StringBuilder(1 << 22)
      xml.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
      var i = c * (convRows / chunks)
      val end = (c + 1) * (convRows / chunks)
      while (i < end) {
        val d = 1 + i % 28
        xml.append(s"""<changeset id="$i" created_at="2024-01-${f"$d%02d"}T10:30:00Z" """ +
          s"""closed_at="2024-01-${f"$d%02d"}T11:00:00Z" open="false" user="u${i % 997}" """ +
          s"""uid="${i % 997}" min_lat="${-89 + i % 178}.5" min_lon="${-179 + i % 358}.5" """ +
          s"""max_lat="${-88 + i % 178}.5" max_lon="${-178 + i % 358}.5" """ +
          s"""num_changes="${i % 500}" comments_count="${i % 7}">""" +
          s"""<tag k="comment" v="edit number $i"/></changeset>\n""")
        i += 1
      }
      xml.append("</osm>\n")
      java.nio.file.Files.writeString(xmlDir.resolve(f"chunk-$c%02d.osm"), xml.toString)
    }
    val convOut = java.nio.file.Files.createTempDirectory("bench-conv").toString + "/out.parquet"
    // same warm-once/measure-twice/report-min discipline as the
    // queries: a single conversion measurement at 32 threads swings
    // 2-3x with GC phase
    def convOnce(): (Long, Double) = {
      System.gc()
      val t0 = System.nanoTime()
      val written = graft.changesets.ChangesetConverter.convert(spark, xmlDir.toString, convOut)
      (written, (System.nanoTime() - t0) / 1e9)
    }
    convOnce() // warm
    // the converter has one parser; the artifact writes this figure
    // under both `converter` and `converter_fast` so readers of the
    // older two-key artifact keep working
    val conv = {
      val (rows, s1) = convOnce()
      val (_, s2) = convOnce()
      val sec = math.min(s1, s2)
      s"""{"rows":$rows,"sec":${r3(sec)},"rows_per_sec":${(rows / sec).toLong}}"""
    }
    // ~150 MB of temp input per run — don't leak it across rounds
    Checkpoints.deleteDir(spark, xmlDir.toString)
    Checkpoints.deleteDir(spark, java.nio.file.Paths.get(convOut).getParent.toString)

    // ANN build-vs-probe split: q85/q86/q90 sweep times are dominated
    // by index BUILD (k-means + PQ training + encode) — a fixed cost
    // production pays once and amortizes over every query batch. This
    // measures the recurring PROBE cost as its own number, over a
    // prebuilt checkpoint-materialized index, with the same
    // warm+min-of-2 discipline as the query sweep.
    // the two eager checkpoints live in vars so the finally can
    // release whatever was built even when a later sub-stage throws —
    // a mid-section failure must not leak block-manager storage into
    // subsequent measurements (storage_mb is the leak detector)
    var codes85: org.apache.spark.sql.DataFrame = null
    var idx86: org.apache.spark.sql.DataFrame = null
    val annSplit: String = try {
      import org.apache.spark.sql.functions.col
      import graft.operators.Similarity
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      // q85 shape (PQ/ADC): build = train + encode-materialize
      val (cb85, tTrain85) = timed(Similarity.pqTrain(emb, "vec_id", "embedding", 4, 16, 4))
      val tEnc85 = timed {
        codes85 = Similarity.pqIndex(emb, "vec_id", "embedding", cb85).localCheckpoint(true)
      }._2
      def probe85(): Unit = { val _ =
        Similarity.pqProbe(queries, codes85, "vec_id", "embedding", 10, cb85).count() }
      probe85() // warm
      val p85 = math.min(timed(probe85())._2, timed(probe85())._2)
      // q86 shape (IVF-PQ): build = coarse k-means + PQ train + index
      val (coarse86, tKm) = timed(
        Similarity.trainKMeans(emb, "vec_id", "embedding", 8, 3)
          .orderBy(col("cluster_id"))
          .collect().map(_.getSeq[Double](1).toArray))
      val (cb86, tPq) = timed(Similarity.pqTrain(emb, "vec_id", "embedding", 4, 16, 3))
      val tIdx = timed {
        idx86 = Similarity.ivfPqIndex(emb, "vec_id", "embedding", coarse86, cb86)
          .localCheckpoint(true)
      }._2
      def probe86(k: Int) = Similarity.ivfPqProbe(
        queries, idx86, "vec_id", "embedding", k, coarse86, cb86, 2)
      probe86(10).count() // warm
      val p86 = math.min(timed(probe86(10).count())._2, timed(probe86(10).count())._2)
      // q90 shape (two-stage): probe = 3x over-fetch probe + exact re-rank
      def probe90(): Unit = { val _ = Similarity.exactRerank(
        probe86(30), queries, emb, "vec_id", "embedding", 10).count() }
      probe90() // warm
      val p90 = math.min(timed(probe90())._2, timed(probe90())._2)
      s"""{"q85_pq":{"build_sec":${r3(tTrain85 + tEnc85)},"probe_sec":${r3(p85)}},""" +
        s""""q86_ivfpq":{"build_sec":${r3(tKm + tPq + tIdx)},"probe_sec":${r3(p86)}},""" +
        s""""q90_rerank":{"build_sec":${r3(tKm + tPq + tIdx)},"probe_sec":${r3(p90)}}}"""
    } catch {
      // the ~100-query sweep above already ran — a missing embeddings
      // table or an ANN failure must not abort Bench before
      // bench_detail.json and the stdout line are written
      case e: Exception =>
        val msg = e.toString.take(200).replaceAll("[\\\\\"\\p{Cntrl}]", " ")
        s"""{"err":"$msg"}"""
    } finally {
      if (codes85 != null) Checkpoints.release(codes85)
      if (idx86 != null) Checkpoints.release(idx86)
    }

    // full two-scale-point detail -> bench_detail.json (complete map;
    // the stdout line below is budgeted to survive tail-capture)
    val m2 = results2.toMap
    val detailQs = results.map { case (k, q) =>
      val second = m2.get(k).map(v2 => s""","sf2_sec":${r3(v2.sec)}""").getOrElse("")
      val runs = q.runs.map(r3).mkString("[", ",", "]")
      val tier = if (q.coldTier) s""","tier":"cold1"""" else ""
      s""""$k":{"sec":${r3(q.sec)},"runs":$runs$second$tier,""" +
        s""""storage_mb":${r3(q.residualBytes / 1e6)}}"""
    }.mkString("{", ",", "}")
    val calibJson = calibSamples.map(r3).mkString("[", ",", "]")
    val detail =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":${jsonString(sfDir)},""" +
        s""""sf2":${jsonString(sfDir2)},""" +
        s""""total_sf2":${r3(total2)},"queries":$detailQs,"converter":$conv,""" +
        s""""converter_fast":$conv,"ann_split":$annSplit,"calib_sec":${r3(calib)},""" +
        s""""calib_samples":$calibJson,"calib_mt_sec":${r3(calibMt)},""" +
        s""""calib_mt_max_sec":${r3(calibMtMax)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_detail.json"), detail + "\n")

    // compact final line: totals + converter + slowest queries first,
    // hard-capped so the whole JSON fits inside the driver's ~2000-char
    // stdout tail (see scaladoc). Remaining queries are in the detail
    // file; "queries_elided" says how many.
    // (was 1400; ann_split takes ~230 chars of the ~2000-char tail,
    // calib_mt another ~25, the quiet-gate fields ~45, the post-loop
    // membw reading ~28)
    // (1040 until r22; "window_ok":false is ~19 chars of new tail)
    val budget = 1020
    // one-number noise summary that survives tail-capture: total
    // excess of the slower measured run over the faster, across all
    // queries — a large value flags an unusually noisy sweep without
    // needing bench_detail
    val runSpread = results.map { case (_, q) => q.runs.max - q.runs.min }.sum
    // quiet gate (r13 verdict task 1): a sweep is cross-round
    // comparable ONLY when the box was idle — the all-cores MEDIAN
    // calibration ran at steady-state single-core speed and the
    // heavies' re-run spread stayed under 15% of the total (min-of-2
    // exists because first measured runs still warm in — an idle r14
    // sweep reads 7-10% of honest one-way warm-in spread across ~30
    // re-measured queries with no swing over 1.4 s; CONTENDED r13
    // read 54% with single swings of 18 s).
    //
    // The ratio's denominator is the single-core MEDIAN, not calib_sec
    // (which stays the min, for query normalization): the min catches
    // a turbo-frequency window (r14 probe: samples 0.149/0.181/0.183 —
    // first sample turbo, rest steady-state), so median-over-min reads
    // ~1.23 on a FULLY IDLE box purely from clock variance; median-
    // over-median reads ~1.0 idle and still inflates under real
    // contention (r13 evidence: single-core calib held 0.132-0.139
    // while a neighbor JVM tripled the 32-wide queries — one compute
    // thread always finds a free core, the 32-wide pool does not).
    // A false gate means: rerun on a quiet box before citing this
    // artifact in PERF.md's reference series.
    val calibMedian = calibSamples.sorted.apply(calibSamples.size / 2)
    val mtRatio = calibMt / calibMedian
    // window comparability (r22, verdict item 4): the r20 AND r21
    // driver sweeps both passed the quiet gate while memory bandwidth
    // slid ~40% mid-sweep (128.0 -> 77.1 GB/s in BENCH_r21) — the
    // calibration-ratio check cannot see a bandwidth regime shift that
    // happens DURING the query loop. PERF.md's own comparability rule
    // (membw pre ≈ post within ~15%) is now enforced in the gate and
    // carried as its own field so cross-round PERF comparisons can
    // filter on it without re-deriving the rule from the two readings.
    val windowOk =
      math.abs(membwMt - membwMtPost) <= 0.15 * math.max(membwMt, membwMtPost)
    val quietGate = mtRatio <= 1.15 && runSpread <= 0.15 * total && windowOk
    val ordered = results.map { case (k, q) => (k, q.sec) }.sortBy(-_._2)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var elided = 0
    ordered.foreach { case (k, v) =>
      val e = s""""$k":${r3(v)}"""
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
      else elided += 1
    }
    val qsCompact = entries.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsCompact,""" +
        s""""queries_elided":$elided,"total_sf2":${r3(total2)},"n_queries":${results.size},""" +
        s""""converter":$conv,"converter_fast":$conv,"ann_split":$annSplit,""" +
        s""""calib_sec":${r3(calib)},"calib_mt_sec":${r3(calibMt)},""" +
        s""""run_spread_sec":${r3(runSpread)},"calib_mt_ratio":${r3(mtRatio)},""" +
        s""""membw_gbs":${r3(membwSt)},"membw_mt_gbs":${r3(membwMt)},""" +
        s""""membw_mt_gbs_post":${r3(membwMtPost)},"window_ok":$windowOk,""" +
        s""""quiet_gate":$quietGate,"tier_cold1":${results.count(_._2.coldTier)},""" +
        s""""detail":"bench_detail.json","perf_doc":"PERF.md","sf":${jsonString(sfDir)}}""")
    spark.stop()
  }
}
