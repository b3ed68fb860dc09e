package graft.changesets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OSM changeset XML -> Parquet conversion, Spark-first.
  *
  * The reference (src/main.rs:286-382) is a single-threaded pull parse;
  * here the whole converter is one declarative plan — XML file scan
  * (parallel across file splits; bz2 input is decoded by Hadoop's
  * splittable Bzip2Codec, upgrading the reference's single-threaded
  * decompress for free) -> codegen'd cast/extract projection -> Parquet
  * sink. No shuffle anywhere in the plan.
  *
  * == Error semantics (reference parity, SURVEY.md §1.3) ==
  * The reference has two error tiers:
  *   - XML well-formedness: `--continue-on-error` saves everything
  *     parsed so far (src/main.rs:344-363). Spark analog: PERMISSIVE
  *     XML mode with corrupt-record capture, then drop corrupt rows.
  *     (Divergence, documented: the reference stops at the first
  *     malformed byte; a parallel engine keeps every well-formed record
  *     in all splits. Strictly more data, same "partial save" contract.)
  *     Without the flag: FAILFAST aborts the job as the reference does.
  *   - Value parses (bad @uid, bad timestamp) ALWAYS kill the run, even
  *     with --continue-on-error (src/main.rs:333,337). Replicated with
  *     raise_error on cast failure in both modes.
  */
object ChangesetConverter {

  final case class Options(
      continueOnError: Boolean = false,
      /** Reference --batch-size (src/main.rs:32-33) controlled write
        * batching; the Spark analog of "rows per output chunk" is
        * maxRecordsPerFile (0 = let the writer decide).
        */
      batchSize: Long = 0L,
      /** Reference writes exactly one file; at the 100 TB design point
        * the default is a directory of parts, single-file is opt-in.
        */
      singleFile: Boolean = false,
      /** Opt-in speed rung: the hand-rolled splittable scanner
        * (FastChangesetParser) instead of the StAX XML datasource —
        * ~10x the single-core throughput, same output and error tiers
        * (differentially pinned by FastParserSpec). Default stays the
        * full XML tokenizer.
        */
      fastParser: Boolean = false)

  /** Strict value parse: null input stays null (or `default`), but a
    * present-yet-unparseable value aborts the run — in every mode —
    * matching the reference's `?` propagation (src/main.rs:333,337).
    */
  private def strict(raw: Column, cast: Column, what: String): Column =
    when(raw.isNull, lit(null))
      .when(cast.isNull, raise_error(concat(
        lit(s"value parse failed for $what: '"), raw, lit("'"))))
      .otherwise(cast)

  /** Shape gate in front of the cast: try_cast alone is far more
    * lenient than the reference's parsers (Rust str::parse rejects
    * padded/decimal ints; chrono's parse_from_rfc3339 rejects
    * date-only and offset-free strings that Spark's cast would accept
    * in session TZ). A present value failing the shape aborts.
    */
  private def shaped(c: Column, pattern: String, what: String): Column =
    when(c.isNull || c.rlike(pattern), c)
      .otherwise(raise_error(concat(
        lit(s"value parse failed for $what: '"), c, lit("'"))))

  /** Rust i64/u32 str::parse: optional sign, digits only
    * (reference src/main.rs:333,337 via `?` propagation).
    */
  private val intShape = "^[+-]?[0-9]+$"

  /** RFC3339 as chrono parse_from_rfc3339 accepts it: full date-time
    * with mandatory offset ('Z' or +-hh:mm), optional fractional
    * seconds (reference src/main.rs:193-197).
    */
  private val rfc3339Shape =
    "^[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt ][0-9]{2}:[0-9]{2}:[0-9]{2}([.][0-9]+)?([Zz]|[+-][0-9]{2}:[0-9]{2})$"

  private def strictLong(c: Column, what: String): Column =
    strict(c, shaped(c, intShape, what).try_cast(LongType), what)

  /** u32 range check standing in for the reference's parquet UINT_32
    * (no unsigned types in Spark; SURVEY.md §1.2).
    */
  private def strictU32(c: Column, what: String): Column = {
    val v = strict(c, shaped(c, intShape, what).try_cast(LongType), what)
    when(v.isNotNull && (v < 0L || v > 4294967295L),
      raise_error(concat(lit(s"$what out of u32 range: '"), c, lit("'"))))
      .otherwise(v)
  }

  private def strictDouble(c: Column, what: String): Column =
    strict(c, c.try_cast(DoubleType), what)

  /** RFC3339 -> UTC timestamp truncated to millis
    * (reference src/main.rs:193-197 stores epoch millis).
    *
    * chrono (and the RFC) accept lowercase 't'/'z', which Spark's
    * timestamp cast rejects — normalized after the shape gate, where
    * the only possible 't'/'z' are the separator and zone designator.
    */
  private def strictTs(c: Column, what: String): Column =
    strict(c, date_trunc("millisecond",
      translate(shaped(c, rfc3339Shape, what), "tz", "TZ").try_cast(TimestampType)), what)

  /** The 13-column projection over the raw XML struct — the Spark form
    * of parse_changeset_element + parse_changeset_body
    * (reference src/main.rs:199-284).
    */
  def projection: Seq[Column] = Seq(
    // absent id defaults to 0 via Rust Default (reference src/main.rs:40-42)
    coalesce(strictLong(col("_id"), "id"), lit(0L)).as("id"),
    strictTs(col("_created_at"), "created_at").as("created_at"),
    strictTs(col("_closed_at"), "closed_at").as("closed_at"),
    // strict string equality with "true" — NOT a boolean cast; "True"/"1"
    // are false in the reference (src/main.rs:211)
    coalesce(col("_open") === "true", lit(false)).as("open"),
    col("_user").as("user"),
    strictLong(col("_uid"), "uid").as("uid"),
    strictDouble(col("_min_lat"), "min_lat").as("min_lat"),
    strictDouble(col("_min_lon"), "min_lon").as("min_lon"),
    strictDouble(col("_max_lat"), "max_lat").as("max_lat"),
    strictDouble(col("_max_lon"), "max_lon").as("max_lon"),
    coalesce(strictU32(col("_num_changes"), "num_changes"), lit(0L)).as("num_changes"),
    coalesce(strictU32(col("_comments_count"), "comments_count"), lit(0L)).as("comments_count"),
    // last <tag k="comment"> wins (repeated tags overwrite,
    // reference src/main.rs:240-244); index -1 = last match, and no
    // match (tags but no comment) is a null description, not an ANSI
    // out-of-bounds error
    try_element_at(filter(col("tag"), t => t.getField("_k") === "comment"), lit(-1))
      .getField("_v").as("description"))

  /** Read the raw XML into the attribute/tag struct shape. */
  def readRaw(spark: SparkSession, input: String, continueOnError: Boolean): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "changeset")
      .option("attributePrefix", "_")
      // quick_xml hands attribute values through verbatim; the default
      // trim would hide shape violations like ' 42' from the strict
      // parsers (reference aborts on those)
      .option("ignoreSurroundingSpaces", "false")
      .option("mode", if (continueOnError) "PERMISSIVE" else "FAILFAST")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(ChangesetSchema.raw)
      .load(input)

  /** XML (optionally .bz2) -> 13-column DataFrame. */
  def parse(spark: SparkSession, input: String, opts: Options = Options()): DataFrame = {
    if (opts.fastParser)
      return FastChangesetParser.parse(spark, input, opts.continueOnError)
    val raw = readRaw(spark, input, opts.continueOnError)
    val wellFormed =
      if (opts.continueOnError) raw.filter(col("_corrupt_record").isNull)
      else raw
    wellFormed.select(projection: _*)
  }

  /** Full conversion: XML in, snappy Parquet out. Returns the row count
    * (the reference prints it at src/main.rs:453). The count is taken
    * in-flight via `observe` (CollectMetrics) on the write itself — no
    * post-write listing/footer scan of the output directory, which at
    * 100 TB is thousands of files.
    */
  def convert(spark: SparkSession, input: String, output: String,
      opts: Options = Options()): Long = {
    val df = parse(spark, input, opts)
    val obs = new org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val shaped = if (opts.singleFile) observed.coalesce(1) else observed
    val writer = shaped.write.mode("overwrite")
      .option("compression", "snappy")
    val sized =
      if (opts.batchSize > 0) writer.option("maxRecordsPerFile", opts.batchSize)
      else writer
    sized.parquet(output)
    obs.get("rows").asInstanceOf[Long]
  }
}
