package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt politeness (RFC 9309) — the other half of the crawl
  * loop's identity alongside WARC ingestion: a fetcher that cannot
  * evaluate exclusion rules cannot crawl at all, and a curation
  * pipeline re-checks them when licensing/compliance audits ask "was
  * this page allowed when fetched". Same design rules as [[Warc]]:
  * builtin expressions end-to-end (the q145 oracle re-derives the
  * MATCHING half generically in SQL; the PARSE half is load-bearing in
  * the gate because the fixture's rule set only comes out right if
  * grouping/comments/case handling do), malformed input degrades to
  * fewer rules rather than task failures.
  *
  * Supported per RFC 9309: `User-agent` groups (consecutive UA lines
  * share the following rules; rules before any UA line are ignored),
  * `Allow`/`Disallow` path patterns with `*` wildcards and the
  * end-of-path `$` anchor, comments (`#` to end of line), blank-line
  * tolerance, case-insensitive directive names and agent tokens.
  * Precedence: longest pattern (octet length) wins; `Allow` wins a
  * length tie; no matching rule means allowed. Agent selection is
  * exact-token-or-`*` (the most-specific-substring refinement real
  * crawlers layer on is out of scope and documented).
  */
object Robots {

  /** Parse a corpus of robots.txt files into flat rules:
    * (host, agent, allow, pattern, plen). One window pass per host —
    * bounded state, the spec caps robots.txt at 500 KiB — to attach
    * each rule line to its group's user-agent set; groups with
    * multiple UA lines fan out (one rule row per agent). Empty
    * patterns (`Disallow:` with no value = allow everything) drop
    * here, matching the major implementations.
    */
  def parseRules(robots: DataFrame, hostCol: String, txtCol: String): DataFrame = {
    val grouped = groupedDirectives(robots, hostCol, txtCol)
    val rules = grouped
      .filter(col("key").isin("allow", "disallow") && col("value") =!= "")
      .select(col("host"), col("grp"),
        (col("key") === "allow").as("allow"), col("value").as("pattern"))
    // rules in group 0 (before any user-agent line) have no agent row
    // and drop in this join — the RFC's "ignore ungrouped rules"
    groupAgents(grouped).join(rules, Seq("host", "grp"))
      .select(col("host"), col("agent"), col("allow"), col("pattern"),
        length(col("pattern")).as("plen"))
  }

  /** Directive lines attributed to their user-agent GROUP: comments
    * and blanks dropped, keys folded to lower case, each kept line
    * tagged with its group id — a UA line whose predecessor (among
    * kept lines) is NOT a UA line starts a new group; the running sum
    * of starts is the id. Any non-UA directive (rule OR crawl-delay)
    * between two UA lines correctly ENDS the first group's UA
    * accumulation, per RFC 9309 §2.2.1. One window pass per host —
    * bounded state, the spec caps robots.txt at 500 KiB.
    */
  private def groupedDirectives(
      robots: DataFrame, hostCol: String, txtCol: String): DataFrame = {
    val kv = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(txtCol), "\r?\n")).as(Seq("ln", "raw")))
      .select(col("host"), col("ln"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(col("line") =!= "")
      .select(col("host"), col("ln"),
        lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))).as("key"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)).as("value"))
      .filter(col("key").isin("user-agent", "allow", "disallow", "crawl-delay"))
    val w = Window.partitionBy(col("host")).orderBy(col("ln"))
    kv.withColumn("prev_key", lag(col("key"), 1).over(w))
      .withColumn("grp", sum(when(col("key") === "user-agent" &&
        (col("prev_key").isNull || col("prev_key") =!= "user-agent"), 1)
        .otherwise(0)).over(w))
  }

  /** (host, grp, agent) — each group's user-agent set, fanned out one
    * row per agent token.
    */
  private def groupAgents(grouped: DataFrame): DataFrame =
    grouped.filter(col("key") === "user-agent")
      .select(col("host"), col("grp"), lower(col("value")).as("agent"))
      .distinct()

  /** Per-(host, agent) crawl delay in EXACT milliseconds — the
    * `Crawl-delay` extension directive (not in RFC 9309, honored by
    * most non-Google crawlers; the politeness knob a frontier
    * scheduler multiplies into fetch times). Values are decimal
    * seconds ("1.5"); the conversion is string arithmetic — integer
    * seconds · 1000 plus the fraction right-padded/truncated to
    * milliseconds — never a double (0.7 s must be 700 ms, not 699).
    * Non-numeric values drop (malformed input degrades, the [[Warc]]
    * rule); several delays for one agent keep the MAX (the
    * conservative read). Returns (host, agent, delay_ms).
    */
  def crawlDelays(robots: DataFrame, hostCol: String, txtCol: String): DataFrame = {
    val grouped = groupedDirectives(robots, hostCol, txtCol)
    val secs = regexp_extract(col("value"), "^(\\d+)(?:\\.(\\d+))?$", 1)
    val frac = regexp_extract(col("value"), "^(\\d+)(?:\\.(\\d+))?$", 2)
    val delays = grouped.filter(col("key") === "crawl-delay")
      .withColumn("delay_ms",
        when(secs =!= "", secs.cast("long") * 1000L +
          rpad(frac, 3, "0").cast("long")))
      .filter(col("delay_ms").isNotNull)
      .select(col("host"), col("grp"), col("delay_ms"))
    groupAgents(grouped).join(delays, Seq("host", "grp"))
      .groupBy(col("host"), col("agent"))
      .agg(max(col("delay_ms")).as("delay_ms"))
  }

  /** Adaptive recrawl scheduling from observed change history — the
    * refresh-policy estimator of Cho & Garcia-Molina 2003 ("Effective
    * page refresh policies for web crawlers") in the repo's exact-
    * integer discipline: a page's observed change RATE over its
    * snapshot history decides how often the crawler returns. Input is
    * a snapshot stack (id, version, text) — the q177 shape; per page,
    * consecutive OBSERVATIONS (present versions, gaps skipped — an
    * absent version is an observation the crawler didn't get) compare
    * content hashes, and
    *
    *   change_ppm = n_changes · 10⁶ DIV (n_obs − 1)
    *
    * is the exact empirical change fraction. The schedule buckets it
    * the way a fetch planner consumes it: `new` (one observation — no
    * signal yet, crawl soon), `hot` (≥ hotPpm), `cold` (never seen to
    * change), `warm` (the rest). Returns (id, n_obs, n_changes,
    * change_ppm, refresh_class).
    *
    * Plan shape: ONE id-partitioned lag window over the stack (the
    * versionHistory exchange — per-page frames are version-count
    * bounded) then a map-side-combined groupBy on the same key, which
    * AQE coalesces into the window's partitioning — one effective
    * exchange. At 100 TB the snapshot stack is already stored
    * partitioned by id (the publish layout), making the window local.
    */
  def recrawlSchedule(
      snaps: DataFrame,
      idCol: String,
      versionCol: String,
      textCol: String,
      hotPpm: Long = 500000L): DataFrame = {
    require(hotPpm >= 1 && hotPpm <= 1000000L,
      s"hotPpm must be a positive ppm fraction, got $hotPpm")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__rc_v"))
    val h = snaps.select(col(idCol),
      col(versionCol).cast("long").as("__rc_v"),
      md5(col(textCol)).as("__rc_h"))
    val chg = h.withColumn("__rc_c",
      when(lag(col("__rc_h"), 1).over(w).isNotNull
        && col("__rc_h") =!= lag(col("__rc_h"), 1).over(w), 1L).otherwise(0L))
    chg.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_obs"), sum(col("__rc_c")).as("n_changes"))
      .withColumn("change_ppm", expr(
        "CASE WHEN n_obs > 1 THEN (n_changes * 1000000L) DIV (n_obs - 1) " +
          "ELSE 0L END"))
      .withColumn("refresh_class",
        when(col("n_obs") === 1, "new")
          .when(col("change_ppm") >= hotPpm, "hot")
          .when(col("change_ppm") === 0, "cold")
          .otherwise("warm"))
  }

  private case class RcHead(gen: Long, lastBatch: Long)

  private def readRcHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration): Option[RcHead] = {
    for (j <- graft.Json.read(new org.apache.hadoop.fs.Path(stateDir, "_rc_head.json"), hconf);
         g <- graft.Json.long(j, "gen"); b <- graft.Json.long(j, "last_batch_id"))
      yield RcHead(g, b)
  }

  private def writeRcHead(stateDir: String,
      hconf: org.apache.hadoop.conf.Configuration, h: RcHead): Unit =
    graft.Json.commit(new org.apache.hadoop.fs.Path(stateDir, "_rc_head.json"),
      Seq("gen" -> h.gen, "last_batch_id" -> h.lastBatch), hconf)

  /** One incremental step of the recrawl estimator — the PRODUCTION
    * form of [[recrawlSchedule]]: snapshot versions arrive one at a
    * time (a crawl cycle completes, a CDC batch lands) and fold into
    * persisted per-page state (n_obs, n_changes, last_hash) WITHOUT
    * revisiting any earlier snapshot — cost ∝ |batch|, the
    * countMinIncrement / cdcAbsorb discipline. Change counting is
    * associative over consecutive observations, so the folded state
    * is BIT-EQUAL to the batch rebuild over the full stack — q195's
    * gate pins exactly that, against q192's oracle.
    *
    * State discipline = the sketch family: generations are immutable
    * dirs, the head pointer flips LAST via temp+rename, and monotone
    * `batchId`s make replays idempotent — a committed batch id skips
    * outright; a half-committed one recomputes against the unmoved
    * head and overwrites its own gen dir (convergent). Multiple rows
    * per id in one batch collapse deterministically (min hash).
    *
    * Plan per step: one map-only hash projection of the batch, one
    * id-keyed full-outer join against head state, one write. At
    * 100 TB both sides live bucketed by id — the join is co-located.
    */
  def recrawlIncrement(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      batchId: Long = -1L): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val head = readRcHead(stateDir, hconf)
    val alreadyAbsorbed = head.exists(h => batchId >= 0 && batchId <= h.lastBatch)
    if (!alreadyAbsorbed) {
      val b = batch
        .select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("__h"))
        .groupBy(col("id")).agg(min(col("__h")).as("h_new"))
      val merged = head match {
        case None => b.select(col("id"), lit(1L).as("n_obs"),
          lit(0L).as("n_changes"), col("h_new").as("last_hash"))
        case Some(h) =>
          spark.read.parquet(s"$stateDir/gen-${h.gen}")
            .join(b, Seq("id"), "full_outer")
            .select(col("id"),
              when(col("h_new").isNull, col("n_obs")) // not observed this cycle
                .when(col("n_obs").isNull, 1L)        // first sighting
                .otherwise(col("n_obs") + 1L).as("n_obs"),
              when(col("h_new").isNull, col("n_changes"))
                .when(col("n_changes").isNull, 0L)
                .otherwise(col("n_changes") +
                  when(col("h_new") =!= col("last_hash"), 1L).otherwise(0L))
                .as("n_changes"),
              coalesce(col("h_new"), col("last_hash")).as("last_hash"))
      }
      val nextGen = head.map(_.gen + 1L).getOrElse(0L)
      merged.write.mode("overwrite").parquet(s"$stateDir/gen-$nextGen")
      writeRcHead(stateDir, hconf, RcHead(nextGen,
        math.max(batchId, head.map(_.lastBatch).getOrElse(-1L))))
    }
  }

  /** The committed recrawl state (id, n_obs, n_changes, last_hash) —
    * resolves the head pointer; fails loudly on an empty state dir.
    */
  def readRecrawlState(
      spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val h = readRcHead(stateDir, hconf).getOrElse(throw new IllegalStateException(
      s"recrawl state at $stateDir has no committed head — no batch was ever absorbed"))
    spark.read.parquet(s"$stateDir/gen-${h.gen}")
  }

  /** `Sitemap:` references — the crawl-SEEDING half of robots.txt
    * (RFC 9309 calls it an "other record"; sitemaps.org defines it):
    * group-INDEPENDENT, valid anywhere in the file, several allowed.
    * Parsed without the group machinery for exactly that reason —
    * comment strip, first-colon key split (the URL's own `://` stays
    * in the value), case-insensitive key, blank values drop,
    * duplicates collapse. A `#` inside a sitemap URL is read as a
    * comment start per the line grammar — a fragment would be
    * meaningless in a fetch URL anyway. Returns (host, sitemap_url).
    */
  def sitemapRefs(robots: DataFrame, hostCol: String, txtCol: String): DataFrame =
    robots
      .select(col(hostCol).as("host"),
        explode(split(col(txtCol), "\r?\n")).as("raw"))
      .select(col("host"), trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .select(col("host"),
        lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))).as("key"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)).as("value"))
      .filter(col("key") === "sitemap" && col("value") =!= "")
      .select(col("host"), col("value").as("sitemap_url"))
      .distinct()

  /** Resolve [[crawlDelays]] output for one crawler agent with the
    * same group-selection rule as [[isAllowed]]: the host's
    * exact-token delay if it defines one, else its `*` delay, else no
    * row (caller supplies the default). Returns (host, delay_ms) —
    * rules-side small, intended for a broadcast join onto the
    * frontier.
    */
  def delayFor(delays: DataFrame, agent: String): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = delays.filter(col("agent") === a)
    val fallback = delays.filter(col("agent") === "*")
      .join(exact.select(col("host")).distinct(), Seq("host"), "left_anti")
    exact.unionByName(fallback).select(col("host"), col("delay_ms"))
  }

  /** RFC pattern → anchored regex: strip a trailing `$` (end-of-path
    * anchor), escape regex metachars EXCEPT `*`, turn `*` into `.*`,
    * re-anchor. Behavioral contract only — the oracle derives its own
    * equivalent regex; match OUTCOMES are what the gate compares.
    */
  private def patternRegex(pattern: Column): Column = {
    val endsDollar = pattern.endsWith("$")
    val body = when(endsDollar, expr("substring(pattern, 1, length(pattern) - 1)"))
      .otherwise(pattern)
    val esc = regexp_replace(body, "([\\\\.\\[\\]{}()+?^$|-])", "\\\\$1")
    concat(lit("^"), regexp_replace(esc, "\\*", ".*"),
      when(endsDollar, lit("$")).otherwise(lit("")))
  }

  /** Evaluate URLs against parsed rules for one crawler agent: adds
    * an `allowed` boolean. Group selection: the host's exact-token
    * group if it defines one, else its `*` group (computed on the
    * RULES side — all small). The rule table then aggregates to ONE
    * array per host and broadcast-joins onto the URL corpus, so the
    * corpus side is map-only: per row an array filter (regex match)
    * and a fold picking (longest pattern, Allow on ties). No shuffle,
    * no window over URLs — the 100 TB shape.
    */
  def isAllowed(
      urls: DataFrame,
      hostCol: String,
      pathCol: String,
      rules: DataFrame,
      agent: String): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = rules.filter(col("agent") === a)
    val fallback = rules.filter(col("agent") === "*")
      .join(exact.select(col("host")).distinct(), Seq("host"), "left_anti")
    val selected = exact.unionByName(fallback)
    val perHost = selected
      .withColumn("re", patternRegex(col("pattern")))
      .select(col("host").as("_rb_host"),
        struct(col("re"), col("plen"), col("allow")).as("r"))
      .groupBy(col("_rb_host")).agg(collect_list(col("r")).as("_rb_rules"))
    val init = struct(lit(-1).as("plen"), lit(true).as("allow"))
    urls
      .join(broadcast(perHost), urls(hostCol) === perHost("_rb_host"), "left")
      .withColumn("_rb_best", aggregate(
        filter(col("_rb_rules"), r => regexp_like(col(pathCol), r.getField("re"))),
        init,
        (acc, r) => when(
          r.getField("plen") > acc.getField("plen") ||
            (r.getField("plen") === acc.getField("plen") && r.getField("allow")),
          struct(r.getField("plen").as("plen"), r.getField("allow").as("allow")))
          .otherwise(acc)))
      .withColumn("allowed", coalesce(
        when(col("_rb_best").isNotNull,
          col("_rb_best.plen") === -1 || col("_rb_best.allow")),
        lit(true)))
      .drop("_rb_host", "_rb_rules", "_rb_best")
  }
}
