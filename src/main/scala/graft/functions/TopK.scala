package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed top-k accumulator: keeps the k largest (value, tiebreak-id)
  * pairs per group as a bounded buffer — the custom-UDAF path for
  * "top-N per group" when a window sort is overkill (no per-group
  * materialization, O(k) state, merges associatively so partial
  * aggregation applies map-side).
  *
  * At 100 TB this is the difference between shuffling every row to a
  * per-group sort (window plan) and shuffling k rows per group after
  * map-side combine. Ordering: value DESC, then id ASC — a total order,
  * so results are deterministic and SQL-mirrorable. A null value is no
  * candidate: its row is skipped, as SQL aggregates skip nulls.
  */
class TopKAggregator(k: Int)
    extends Aggregator[TopKAggregator.In, List[(Double, Long)], TopKAggregator.Out] {
  import TopKAggregator._

  private def insert(buf: List[(Double, Long)], v: (Double, Long)): List[(Double, Long)] = {
    // descending by value, ascending by id; keep k
    val merged = (v :: buf).sortBy { case (value, id) => (-value, id) }
    if (merged.length > k) merged.take(k) else merged
  }

  override def zero: List[(Double, Long)] = Nil
  override def reduce(buf: List[(Double, Long)], in: In): List[(Double, Long)] =
    in.value.fold(buf)(v => insert(buf, (v, in.id)))
  override def merge(a: List[(Double, Long)], b: List[(Double, Long)]): List[(Double, Long)] =
    b.foldLeft(a)(insert)
  override def finish(buf: List[(Double, Long)]): Out =
    Out(buf.map(_._1), buf.map(_._2))
  override def bufferEncoder: Encoder[List[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
  override def outputEncoder: Encoder[Out] = Encoders.product[Out]
}

object TopKAggregator {
  final case class In(value: Option[Double], id: Long)
  /** Parallel arrays (not array<struct>) so the SQL oracle can mirror
    * the output with plain list aggregates.
    */
  final case class Out(top_values: Seq[Double], top_ids: Seq[Long])

  /** DataFrame-callable: topK(3)(struct-free two-column call). */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAggregator(k), Encoders.product[In])
    (value, id) => fn(value, id)
  }

  final case class InStr(value: Option[Double], id: String)
  final case class OutStr(top_values: Seq[Double], top_ids: Seq[String])

  /** String-id variant (value DESC, id ASC). The id tiebreak is
    * JVM-String lexicographic order, which equals the binary UTF-8
    * order Spark/DuckDB compare strings by ONLY for codepoints below
    * the surrogate range — callers feed ASCII-tokenized terms (the
    * [[graft.functions.TextFunctions.tokens]] alphabet), where the
    * orders coincide exactly.
    */
  def topKStr(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKStrAggregator(k), Encoders.product[InStr])
    (value, id) => fn(value, id)
  }
}

/** [[TopKAggregator]] with string tiebreak ids — same bounded-buffer
  * contract, same map-side combine.
  */
class TopKStrAggregator(k: Int)
    extends Aggregator[TopKAggregator.InStr, List[(Double, String)], TopKAggregator.OutStr] {
  import TopKAggregator._

  private def insert(buf: List[(Double, String)], v: (Double, String)): List[(Double, String)] = {
    val merged = (v :: buf).sortBy { case (value, id) => (-value, id) }
    if (merged.length > k) merged.take(k) else merged
  }

  override def zero: List[(Double, String)] = Nil
  override def reduce(buf: List[(Double, String)], in: InStr): List[(Double, String)] =
    in.value.fold(buf)(v => insert(buf, (v, in.id)))
  override def merge(a: List[(Double, String)], b: List[(Double, String)]): List[(Double, String)] =
    b.foldLeft(a)(insert)
  override def finish(buf: List[(Double, String)]): OutStr =
    OutStr(buf.map(_._1), buf.map(_._2))
  override def bufferEncoder: Encoder[List[(Double, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, String)]]()
  override def outputEncoder: Encoder[OutStr] = Encoders.product[OutStr]
}
