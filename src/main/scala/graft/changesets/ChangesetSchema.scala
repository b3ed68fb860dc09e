package graft.changesets

import org.apache.spark.sql.types._

/** Schema for the OSM changeset conversion.
  *
  * Mirrors the reference's fixed 13-column output schema
  * (reference src/main.rs:384-408). FastChangesetParser fills it from
  * the attributes of `<changeset>` and its `<tag k v>` children
  * (src/main.rs:199-284), with strict value parses that fail the run
  * (src/main.rs:333,337).
  */
object ChangesetSchema {

  /** Output schema (reference src/main.rs:384-408). `num_changes` and
    * `comments_count` are parquet UINT_32 in the reference; Spark has no
    * unsigned types, so they widen to LongType with a [0, 2^32) range
    * check in the strict-parse layer (SURVEY.md §1.2 rows 11-12).
    */
  val output: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("created_at", TimestampType),
    StructField("closed_at", TimestampType),
    StructField("open", BooleanType, nullable = false),
    StructField("user", StringType),
    StructField("uid", LongType),
    StructField("min_lat", DoubleType),
    StructField("min_lon", DoubleType),
    StructField("max_lat", DoubleType),
    StructField("max_lon", DoubleType),
    StructField("num_changes", LongType, nullable = false),
    StructField("comments_count", LongType, nullable = false),
    StructField("description", StringType)))
}

/** Typed row for tests and Dataset-typed pipelines. */
case class Changeset(
    id: Long,
    created_at: Option[java.sql.Timestamp],
    closed_at: Option[java.sql.Timestamp],
    open: Boolean,
    user: Option[String],
    uid: Option[Long],
    min_lat: Option[Double],
    min_lon: Option[Double],
    max_lat: Option[Double],
    max_lon: Option[Double],
    num_changes: Long,
    comments_count: Long,
    description: Option[String])
