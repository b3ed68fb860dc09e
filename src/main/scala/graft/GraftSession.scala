package graft

import org.apache.spark.sql.SparkSession

/** Single place every entry point (Verify, Bench, CLI, tests) builds its
  * SparkSession, so the scale-oriented settings stay consistent.
  *
  * Design notes for the 100 TB target (tested on local[N]):
  *   - shuffle partitions sized to the active parallelism, not the 200
  *     default; on a real cluster this is superseded by AQE coalescing.
  *   - AQE on: runtime re-planning (skew-join splitting, partition
  *     coalescing, broadcast-join conversion) is the main lever when the
  *     data is 1000x the test scale.
  *   - session timezone pinned to UTC: the reference stores UTC epoch
  *     millis with no zone (reference src/main.rs:193-197,389), and the
  *     DuckDB oracle compares naive timestamps.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 64m (default 10m): lets AQE broadcast mid-size build sides it
      // MEASURES as small — e.g. per-doc signature arrays under a
      // similarity verify join, where the shuffled alternative ships
      // GBs of array-laden intermediate rows. Executors sized for the
      // workload (48g driver-mem local; real clusters: set per fleet).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // native graft expressions (vec_dot, sorted_intersect_count)
      // available to every consumer of this session, incl. pure SQL
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
      // reader rejects; read as epoch-nanos long and normalize in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // 1000 (default 100) compiled classes, JVM-wide: one lifecycle
      // write compiles dozens, so at 100 a repeated probe shape lost its
      // classes to the writes between two probes and recompiled them
      // (4–8 classes per BM25 probe; PERF.md "Lifecycle probes III")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def build(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
