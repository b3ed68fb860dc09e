package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product quantization: codebook shape/determinism, code bounds,
  * exactness in the degenerate full-resolution configuration, and
  * recall of the ADC scan against an exact driver-side L2 ranking on
  * the real embeddings table.
  */
class PQSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("pqTrain: codebook shape, determinism, dims guard") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", numSubspaces = 4,
      codebookSize = 8, iters = 2)
    assert(cb.length === 4)
    assert(cb.forall(_.length === 8))
    assert(cb.forall(_.forall(_.length === 16))) // 64 / 4

    val cb2 = Similarity.pqTrain(emb, "vec_id", "embedding", numSubspaces = 4,
      codebookSize = 8, iters = 2)
    assert(cb.flatten.flatten.toSeq === cb2.flatten.flatten.toSeq, "training must be deterministic")

    val e = intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb, "vec_id", "embedding", numSubspaces = 7)
    }
    assert(e.getMessage.contains("divide evenly"))
  }

  test("pqEncodeCol: codes in [0, codebookSize)") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", numSubspaces = 4,
      codebookSize = 8, iters = 2)
    val codes = emb.select(Similarity.pqEncodeCol(col("embedding"), cb).as("codes"))
      .select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(codes.getInt(0) >= 0)
    assert(codes.getInt(1) < 8)
  }

  test("degenerate full-resolution codebook makes ADC exact") {
    import spark.implicits._
    // corpus of 3 vectors, codebook = the vectors themselves (one
    // subspace, k = n): every vector encodes to itself, and the ADC
    // "approximation" IS the exact squared L2 distance.
    val vs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 2.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 3.0, 4.0))).toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(vs.filter($"vec_id" === 0L), vs, "vec_id", "embedding",
        k = 2, numSubspaces = 1, codebookSize = 3, iters = 3)
      .orderBy($"rank").collect()
    // exact d2 from vec 0: to vec1 = 1+4 = 5, to vec2 = 1+9+16 = 26
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
    assert(got.map(_.getAs[Double]("approx_d2")).toSeq === Seq(5.0, 26.0))
  }

  test("pqProbe: a null query vector gets no neighbors, not distance-0 ones") {
    import spark.implicits._
    val vs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 2.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 3.0, 4.0))).toDF("vec_id", "embedding")
    val cb = Array(vs.collect().map(_.getSeq[Double](1).toArray))
    val queries = Seq((0L, Some(Seq(1.0, 0.0, 0.0, 0.0))), (9L, None))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqProbe(queries, Similarity.pqIndex(vs, "vec_id", "embedding", cb),
        "vec_id", "embedding", k = 2, cb)
      .orderBy($"query_id", $"rank").collect()
    assert(got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("approx_d2"))).toSeq === Seq((0L, 1L, 5.0), (0L, 2L, 26.0)))
  }

  test("clustered data: ADC recovers same-cluster neighbors with high recall") {
    import spark.implicits._
    // 8 well-separated 64-dim clusters, 8 points each: the regime PQ
    // is built for. Every point's exact top-7 is its own cluster; the
    // ADC scan must agree almost everywhere.
    val pts = for {
      c <- 0 until 8
      j <- 0 until 8
    } yield {
      val v = Array.tabulate(64)(d => if (d % 8 == c) 10.0 else 0.0)
      v(j % 64) += 0.2 * ((c + j) % 3) // small within-cluster spread
      ((c * 8 + j).toLong, v.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df.filter($"vec_id" % 8 === 0), df, "vec_id", "embedding",
        k = 7, numSubspaces = 4, codebookSize = 8, iters = 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val recalls = got.map { case (q, ns) =>
      val cluster = (q / 8) * 8
      val sameCluster = (cluster until cluster + 8).filter(_ != q).toSet
      (sameCluster & ns).size / 7.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean same-cluster recall@7 $mean below 0.9 (${recalls.toSeq})")
  }

  test("ivfPqTopK with nprobe = nlist is exactly the full PQ scan") {
    // coarse pruning disabled (all lists probed) must reproduce
    // pqTopK bit-for-bit: same deterministic codebooks, same ADC
    // distances, same top-k tie-breaks.
    val full = Similarity.pqTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 5, numSubspaces = 4, codebookSize = 8, iters = 2)
      .collect().map(_.toString).sorted.toSeq
    val ivf = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 5, nlist = 4, nprobe = 4,
        numSubspaces = 4, codebookSize = 8, iters = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(ivf === full)
  }

  test("ivfPqTopK: pruned probes still recover same-cluster neighbors on clustered data") {
    import spark.implicits._
    val pts = for {
      c <- 0 until 8
      j <- 0 until 8
    } yield {
      val v = Array.tabulate(64)(d => if (d % 8 == c) 10.0 else 0.0)
      v(j % 64) += 0.2 * ((c + j) % 3)
      ((c * 8 + j).toLong, v.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopK(df.filter($"vec_id" % 8 === 0), df, "vec_id", "embedding",
        k = 7, nlist = 8, nprobe = 2, numSubspaces = 4, codebookSize = 8, iters = 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val recalls = got.map { case (q, ns) =>
      val cluster = (q / 8) * 8
      val sameCluster = (cluster until cluster + 8).filter(_ != q).toSet
      (sameCluster & ns).size / 7.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean same-cluster recall@7 $mean below 0.9 (${recalls.toSeq})")
  }

  test("exactRerank: over-fetched ADC candidates re-rank to the exact order within the set") {
    val cand = Similarity.pqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 30, numSubspaces = 4, codebookSize = 8, iters = 2)
    val got = Similarity.exactRerank(cand, emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 10)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("d2"))).toList).toMap

    // reference: exact L2 over the SAME candidate sets, driver-side
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val candSets = cand.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    candSets.foreach { case (q, ns) =>
      val want = ns.toSeq.map { id =>
        val d2 = vecs(id).zip(vecs(q)).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, id)
      }.sortBy(identity).take(10).map(_._2).toList
      assert(got(q).map(_._1) === want, s"query $q re-rank order")
      // exact distances are monotone non-decreasing down the ranking
      val ds = got(q).map(_._2)
      assert(ds === ds.sorted, s"query $q distances not sorted: $ds")
    }
  }

  test("real embeddings: ADC recall@10 beats the random baseline by >= 5x") {
    // the sf0.001 embeddings are near-random (pairwise d2 concentrates
    // at 2.0 +- 0.4; a numpy reference PQ gets ~0.17@m=4, ~0.26@m=8),
    // so the honest gate is distance from the random-pick baseline
    // 10/(n-1) ~= 0.02, not an absolute number.
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def exactTop10(q: Long): Set[Long] =
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val d2 = v.zip(vecs(q)).map { case (a, b) => (a - b) * (a - b) }.sum
          (d2, id)
        }
        .sortBy(identity).take(10).map(_._2).toSet

    val queries = emb.filter(col("vec_id") < 20)
    val got = Similarity.pqTopK(queries, emb, "vec_id", "embedding", k = 10,
        numSubspaces = 8, codebookSize = 16, iters = 4)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap

    assert(got.keySet === (0L until 20L).toSet)
    got.foreach { case (_, ns) => assert(ns.size === 10) }
    val recalls = got.map { case (q, ns) => (exactTop10(q) & ns).size / 10.0 }
    val mean = recalls.sum / recalls.size
    val baseline = 10.0 / (vecs.size - 1)
    assert(mean >= 5 * baseline,
      f"mean recall@10 $mean%.3f below 5x random baseline ${5 * baseline}%.3f")
  }
}
