package graft.changesets

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Structural-failure diagnostics for `--continue-on-error` runs —
  * parity with the reference's error block (src/main.rs:344-363),
  * which reports byte position, changesets-processed count, last
  * parsed changeset id, the error, and 500-byte head/tail windows of
  * the buffer at failure.
  *
  * The reference is single-threaded, so "position" and "last id" are
  * global stream state. A parallel engine has no global cursor; the
  * honest distributed analogs, reported one row per damaged fragment:
  *
  *   - `char_offset`   — character offset of the fragment within its
  *                       SCAN SPLIT (== the file offset when the file
  *                       maps to one split; split-relative otherwise,
  *                       which still pins the damage to a byte
  *                       neighborhood a user can seek to);
  *   - `n_good_before` — well-formed changesets parsed earlier in the
  *                       same split (the reference's "Changesets
  *                       processed" scoped to the split);
  *   - `last_good_id`  — id of the nearest preceding well-formed
  *                       changeset in the split (null when the damage
  *                       precedes every good record);
  *   - `error`         — the scanner's structural complaint;
  *   - `context_head` / `context_tail` — first/last 500 chars of the
  *                       damaged fragment (the reference's two buffer
  *                       windows).
  *
  * The report uses the converter's own text framing
  * (`lineSep = "</changeset>"`) and FastChangesetParser's record
  * scanner, so it describes exactly the damaged fragments that
  * `ChangesetConverter.parse` skips under continue-on-error.
  * ConverterDiagnosticsSpec pins that agreement on damaged fixtures.
  *
  * Scale: one linear pass over the input text, no shuffle, ~zero
  * driver state; the output is proportional to the damage, not the
  * dump.
  */
object ConverterDiagnostics {

  /** One damaged fragment (see object scaladoc for field semantics). */
  final case class CorruptFragment(
      file: String,
      char_offset: Long,
      n_good_before: Long,
      last_good_id: Option[Long],
      error: String,
      context_head: String,
      context_tail: String)

  private val Delim = "</changeset>"

  /** One row per structurally-damaged `<changeset>` fragment. */
  def report(spark: SparkSession, input: String): DataFrame = {
    val txt = spark.read.option("lineSep", Delim).text(input)
      .select(col("value"), col("_metadata.file_path").as("file"))
    txt.mapPartitions { rows =>
      // per-(split∩file) running state; a FilePartition can pack
      // multiple files, so reset when the path changes
      var curFile: String = null
      var offset = 0L
      var nGood = 0L
      var lastGoodId: Option[Long] = None
      rows.flatMap { r =>
        val rec = r.getString(0)
        val file = r.getString(1)
        if (file != curFile) {
          curFile = file; offset = 0L; nGood = 0L; lastGoodId = None
        }
        val recOffset = offset
        val nGoodAtRec = nGood
        val lastGoodAtRec = lastGoodId
        val errs = scala.collection.mutable.ArrayBuffer.empty[CorruptFragment]
        val goods = FastChangesetParser.parseRecord(rec, continueOnError = true,
          m => errs += CorruptFragment(
            file,
            recOffset + m.start,
            nGoodAtRec + m.goodsBefore,
            // goodsBefore > 0 iff lastGoodId != null, so falling back
            // to the running split-level id is only ever the "damage
            // first in record" case
            if (m.lastGoodId != null) Some(m.lastGoodId.longValue)
            else lastGoodAtRec,
            m.error,
            rec.substring(m.start, math.min(m.end, m.start + 500)),
            rec.substring(math.max(m.start, m.end - 500), m.end))
        ).toArray // materialize: callbacks fire during iteration
        nGood += goods.length
        if (goods.nonEmpty) lastGoodId = Some(goods.last.id)
        offset += rec.length + Delim.length
        errs
      }
    }(Encoders.product[CorruptFragment]).toDF()
  }

  /** Reference-format stderr dump (src/main.rs:344-363) for the CLI's
    * continue-on-error runs; `limit` bounds driver materialization —
    * damage is reported, never collected unboundedly.
    */
  def printReport(spark: SparkSession, input: String, limit: Int = 100): Long = {
    val rep = report(spark, input)
    val rows = rep.limit(limit + 1).collect()
    rows.take(limit).foreach { r =>
      System.err.println("\n=== XML PARSE ERROR ===")
      System.err.println(s"File: ${r.getString(0)}")
      System.err.println(s"Split char offset: ${r.getLong(1)}")
      System.err.println(s"Changesets processed before (split): ${r.getLong(2)}")
      System.err.println(s"Last changeset ID: ${if (r.isNullAt(3)) "n/a" else r.getLong(3)}")
      System.err.println(s"Error: ${r.getString(4)}")
      System.err.println("\nFragment at error (first 500 chars):")
      System.err.println(r.getString(5))
      System.err.println("\nFragment at error (last 500 chars):")
      System.err.println(r.getString(6))
      System.err.println("======================")
    }
    if (rows.length > limit)
      System.err.println(s"... further damaged fragments elided (limit $limit)")
    rows.length.toLong.min(limit.toLong)
  }
}
