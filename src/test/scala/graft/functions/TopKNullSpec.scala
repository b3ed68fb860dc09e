package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A null value is no top-k candidate: both aggregator variants skip
  * it, and a group holding only nulls yields empty top lists.
  */
class TopKNullSpec extends SparkSpec {

  test("topK and topKStr skip null values") {
    import spark.implicits._
    val df = Seq(
      (1, Some(1.0), 1L), (1, None, 2L), (1, Some(3.0), 3L),
      (2, None, 4L)).toDF("g", "v", "id")
    val byLong = df.groupBy("g").agg(TopKAggregator.topK(2)(col("v"), col("id")).as("t"))
      .select($"g", $"t.top_values", $"t.top_ids").orderBy("g").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getSeq[Long](2))).toSeq
    assert(byLong === Seq((1, Seq(3.0, 1.0), Seq(3L, 1L)), (2, Nil, Nil)))
    val byStr = df.groupBy("g")
      .agg(TopKAggregator.topKStr(2)(col("v"), col("id").cast("string")).as("t"))
      .select($"g", $"t.top_values", $"t.top_ids").orderBy("g").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getSeq[String](2))).toSeq
    assert(byStr === Seq((1, Seq(3.0, 1.0), Seq("3", "1")), (2, Nil, Nil)))
  }
}
