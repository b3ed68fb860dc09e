package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout operators — the knobs that decide how much of
  * a 100 TB table a query actually reads:
  *
  *   - Z-order clustering: multi-dimensional locality so parquet
  *     row-group/file min-max stats prune on EVERY clustered column,
  *     not just a lexicographic prefix. Pure expression + one range
  *     exchange; no driver involvement.
  *   - small-file compaction: bin-packs a directory that accumulated
  *     many small files (streaming sinks, per-batch appends) back to
  *     target-sized files — the footer-read amortization that keeps
  *     scan planning O(files) tolerable.
  */
object Layout {

  /** Bit-interleaved Morton (Z-order) value of two non-negative int
    * columns over the low `bits` bits each: x's bit j lands at 2j,
    * y's at 2j+1. A fold of shift/mask terms — whole-stage codegen,
    * no UDF. Callers pre-scale/clamp domain values into [0, 2^bits).
    */
  def zorder2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val terms = (0 until bits).flatMap { j =>
      Seq(
        shiftleft(shiftright(x.cast("long"), j).bitwiseAND(lit(1L)), 2 * j),
        shiftleft(shiftright(y.cast("long"), j).bitwiseAND(lit(1L)), 2 * j + 1))
    }
    terms.reduce(_.bitwiseOR(_)).as("zval")
  }

  /** Write `df` clustered by the Z-order of (xCol, yCol) into
    * `numFiles` range-partitioned, internally-sorted parquet files.
    * One exchange (range partition on the z-value) + in-partition
    * sort; the helper column never reaches the files.
    */
  def writeZOrdered(
      df: DataFrame,
      output: String,
      xCol: String,
      yCol: String,
      numFiles: Int,
      bits: Int = 16): Unit = {
    val z = "__zorder_tmp"
    df.withColumn(z, zorder2(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z) // projection after sort: order survives, column does not
      .write.mode("overwrite").parquet(output)
  }

  /** Compact a parquet directory to ~targetBytes files: reads the
    * current footprint from the file listing (driver metadata only),
    * rewrites with round-robin repartition to the computed file count,
    * then swaps directories. Returns the new file count.
    *
    * At fleet scale this is the nightly OPTIMIZE pass; the rewrite is
    * one shuffle-free-scan + exchange, cost linear in the partition's
    * bytes, and the swap keeps a `.pre-compact` escape hatch until the
    * new layout is fully written (the staged two-rename swap of
    * [[graft.changesets.Pipeline.run]]'s stable-name publish).
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val staged = new Path(dir + ".compact-staging")
    spark.read.parquet(dir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(staged.toString)
    val retired = new Path(dir + ".pre-compact")
    fs.delete(retired, true)
    graft.changesets.Pipeline.move(fs, path, retired)
    graft.changesets.Pipeline.move(fs, staged, path)
    fs.delete(retired, true)
    nFiles
  }
}
