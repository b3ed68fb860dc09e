package graft

import org.apache.spark.sql.functions._

/** Stage-level timing for the q232 chunk-ANN lifecycle (r21): where do
  * the ~13 bench seconds go — encode, index build, publish, append,
  * artifact reads, compaction, or probes?
  */
object Q232Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build("q232probe")
    val s = spark
    import graft.operators.{Encode, Similarity}

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q232] $label%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    spark.read.parquet(s"$dir/region.parquet").count()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val enc = new Encode.HashingTrickEncoder(dims = 16)
    val chunks = graft.operators.Retrieval
      .chunkSliding(docs, "doc_id", "text", winTokens = 32, stride = 24)
      .select(graft.operators.Retrieval.chunkVid("doc_id").as("vid"), col("chunk"))
    val corpus = time("encode chunks") {
      val c = Encode.encodeWithModel(chunks, "vid", "chunk", enc).localCheckpoint(true)
      c.count(); c
    }
    val queries = time("encode queries") {
      val q = Encode.encodeWithModel(
        docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("vid"), col("text")), "vid", "text", enc)
        .localCheckpoint(true)
      q.count(); q
    }
    val day1 = corpus.filter(expr("(vid div 1000) % 2 = 0"))
    val day2 = corpus.filter(expr("(vid div 1000) % 2 = 1"))
    def firstVecs(n: Int): Array[Array[Double]] =
      day1.orderBy(col("vid")).limit(n)
        .select(Similarity.asDoubleVec(col("embedding")))
        .collect().map(_.getSeq[Double](0).toArray)
    val coarse = time("firstVecs(8)")(firstVecs(8))
    val sample = time("firstVecs(16)")(firstVecs(16))
    val subDim = sample(0).length / 4
    val codebooks = Array.tabulate(4)(m =>
      sample.map(_.slice(m * subDim, (m + 1) * subDim)))
    val publishDir = java.nio.file.Files.createTempDirectory("q232probe").toString
    val idx1 = Similarity.ivfPqIndex(day1, "vid", "embedding", coarse, codebooks)
    val day1Dir = time("publishAnn") {
      graft.changesets.Pipeline.publishAnn(
        s, publishDir, "chunks-day1", idx1, coarse, codebooks)
    }
    time("appendAnn") {
      graft.changesets.Pipeline.appendAnn(
        s, publishDir, "chunks-day2", day2, "vid", "embedding")
    }
    val cur = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
    val model = time("model load") {
      graft.operators.AnnModel.load(s, graft.changesets.Pipeline.annModelDir(cur))
    }
    val liveIdx = time("read live idx") {
      val d = graft.changesets.Pipeline.readAnnIndex(s, cur).localCheckpoint(true)
      d.count(); d
    }
    val asofIdx = time("read asof idx") {
      val d = graft.changesets.Pipeline.readAnnIndex(s, day1Dir).localCheckpoint(true)
      d.count(); d
    }
    time("compactAnn") {
      graft.changesets.Pipeline.compactAnn(s, publishDir, "chunks-compact")
    }
    val cur2 = graft.changesets.Pipeline.readCurrentAnn(publishDir).get
    val compIdx = time("read compact idx") {
      val d = graft.changesets.Pipeline.readAnnIndex(s, cur2).localCheckpoint(true)
      d.count(); d
    }
    val table = time("probe table") {
      Similarity.probeTable(queries, "vid", "embedding", model.coarse, model.codebooks, nprobe = 2).get
    }
    def probe(idx: org.apache.spark.sql.DataFrame, stage: String) = time(s"probe $stage") {
      val p = Similarity.ivfPqProbe(idx, table, k = 5)
      p.count(); p
    }
    probe(asofIdx, "asof")
    probe(compIdx, "compact")
    probe(liveIdx, "live")
    spark.stop()
  }
}
