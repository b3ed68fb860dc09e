package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.changesets.Pipeline
import graft.operators.{Retrieval, Similarity}

/** `lifecycle`: a versioned ANN pair and postings index, published from
  * a seeded corpus and then driven through seeded days of public
  * `changesets.Pipeline` calls. A day is three steps, each one write-side
  * call followed by one single-query probe of each index: append a
  * disjoint batch; delete sampled live ids; read a retained older
  * version as of its version and compact both indexes. Each call is one
  * timed operation; `op_s` is the probes' latency. Writes beside reads:
  * many small jobs, manifest and pointer I/O, retention, and probe cost
  * rising with the live segment count.
  *
  * Checks: every probe must equal the same probe over a from-scratch
  * `Similarity.ivfPqIndex` / `Retrieval.postings` rebuild of the rows
  * live at that probe (deferred to the end of the window, one rebuild
  * per write version), and every as-of read must see that version's
  * live row count.
  */
final class LifecycleWorkload extends Workload {
  val baseRows = 1200
  val batchRows = 60
  val deleteRows = 20
  val k = 10
  val nprobe = 2

  private var spark: org.apache.spark.sql.SparkSession = _
  private var seed = 0L
  private var rng: java.util.SplittableRandom = _
  private var annDir: String = _
  private var postDir: String = _
  private var coarse: Array[Array[Double]] = _
  private var codebooks: Array[Array[Array[Double]]] = _
  private val docs = mutable.LinkedHashMap.empty[Long, Corpus.Doc]
  private val vecs = mutable.LinkedHashMap.empty[Long, Corpus.Vec]
  private val liveAt = mutable.Map.empty[String, Long] // ann version dir name -> live rows
  private var nextId = 0L
  private var version = 0
  private var batches = 0

  def setup(h: Harness, work: Path, seed: Long): Unit = {
    spark = h.spark
    this.seed = seed
    rng = new java.util.SplittableRandom(seed)
    annDir = work.resolve("publish/ann").toString
    postDir = work.resolve("publish/postings").toString
    val d0 = Corpus.docs(seed, baseRows)
    val v0 = Corpus.vecs(seed, baseRows)
    d0.foreach(d => docs(d.id) = d)
    v0.foreach(v => vecs(v.id) = v)
    nextId = baseRows
    // the model is frozen at publish: coarse lists and PQ codebooks
    // from the first vectors, as the repo's lifecycle queries build it
    val sample = v0.take(16).map(_.v.map(_.toDouble))
    coarse = sample.take(8).toArray
    val sub = Corpus.dim / 4
    codebooks = Array.tabulate(4)(m => sample.map(_.slice(m * sub, (m + 1) * sub)).toArray)
    // the two publishes are independent: run them concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val ann = Future(Pipeline.publishAnn(spark, annDir, "v0", Similarity.ivfPqIndex(
      Corpus.vecFrame(spark, v0), "vec_id", "embedding", coarse, codebooks), coarse, codebooks))
    val post = Future(Pipeline.publishPostings(spark, postDir, "v0", Corpus.docFrame(spark, d0), "doc_id", "text"))
    Await.result(ann.zip(post), scala.concurrent.duration.Duration.Inf)
    liveAt("ann-v0") = baseRows
    warmUp(h, passes = 1, capS = 30)
  }

  private def token(): String = { version += 1; s"v$version" }
  private def curAnn: String = Pipeline.readCurrentAnn(annDir).get
  private def curPost: String = Pipeline.readCurrentPostings(postDir).get

  /** A day has three steps, an odd number, so a traced run's
    * alternation traces each of them within two days.
    */
  override def stepsPerCycle: Int = 3
  private var steps = 0 // warm-up included
  // deferred probe checks: per write version, the rows live then and
  // the queries probed; one from-scratch rebuild answers all of them
  private var queries = 0L
  private val pendingAnn = mutable.Map.empty[Int, (Vector[Corpus.Vec], mutable.ArrayBuffer[Corpus.Vec])]
  private val pendingPost = mutable.Map.empty[Int, (Vector[Corpus.Doc], mutable.ArrayBuffer[Corpus.Doc])]
  private val expectedAnn = mutable.Map.empty[Int, Once[Map[Long, (Long, Long)]]]
  private val expectedPost = mutable.Map.empty[Int, Once[Map[Long, (Long, Long)]]]

  /** A value computed once, on first use, by whichever deferred check
    * needs it first; the checks run in parallel.
    */
  private final class Once[A](compute: => A) { lazy val value: A = compute }
  private def once[A](m: mutable.Map[Int, Once[A]], ver: Int)(compute: => A): A =
    m.synchronized(m.getOrElseUpdate(ver, new Once(compute))).value

  def step(h: Harness, i: Int): Unit = {
    val writes = steps % 3 match {
      case 0 => Seq("append")
      case 1 => Seq("delete")
      case _ => Seq("asof", "compact")
    }
    steps += 1
    (writes ++ Seq("ann", "bm25")).foreach { what =>
      val t = what match {
        case "append" => append(h)
        case "delete" => delete(h)
        case "asof" => asOf(h)
        case "compact" => compact(h)
        case "ann" => annProbeOp(h)
        case "bm25" => bm25ProbeOp(h)
      }
      t.foreach { s =>
        // the end-to-end figure is the read latency beside the writes;
        // the writes themselves are per-layer metrics
        if (what == "ann" || what == "bm25") h.record("op_s", s)
        h.record(s"lifecycle.${what}_s", s)
      }
      if (h.traced) h.record("pipeline.live_segments",
        Pipeline.readAnnManifest(curAnn)._2.size + Pipeline.readPostingsManifest(curPost).size)
    }
  }

  override def settled(): Unit =
    Seq(pendingAnn, pendingPost, expectedAnn, expectedPost).foreach(_.clear())

  private def append(h: Harness): Option[Double] = {
    batches += 1
    val batchSeed = seed * 1000003L + batches
    val newDocs = Corpus.docs(batchSeed, batchRows, nextId)
    val newVecs = Corpus.vecs(batchSeed, batchRows, nextId)
    nextId += batchRows
    val tA = token()
    val t = writeOp(h, "append") {
      h.span("pipeline.append_ann_s")(
        Pipeline.appendAnn(spark, annDir, tA, Corpus.vecFrame(spark, newVecs), "vec_id", "embedding"))
      h.span("pipeline.append_postings_s")(
        Pipeline.appendPostings(spark, postDir, tA, Corpus.docFrame(spark, newDocs), "doc_id", "text"))
    }
    newDocs.foreach(d => docs(d.id) = d)
    newVecs.foreach(v => vecs(v.id) = v)
    liveAt(s"ann-$tA") = vecs.size
    t
  }

  private def delete(h: Harness): Option[Double] = {
    val ids = vecs.keys.toArray
    val gone = (0 until deleteRows).map(_ => ids(rng.nextInt(ids.length))).distinct
    val goneDf = spark.createDataFrame(gone.map(x => Row(x)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
    val tD = token()
    val t = writeOp(h, "delete") {
      h.span("pipeline.delete_ann_s")(Pipeline.deleteAnn(spark, annDir, tD, goneDf, "id"))
      h.span("pipeline.delete_postings_s")(Pipeline.deletePostings(spark, postDir, tD, goneDf, "id"))
    }
    gone.foreach { x => docs.remove(x); vecs.remove(x) }
    liveAt(s"ann-$tD") = vecs.size
    t
  }

  private def compact(h: Harness): Option[Double] = {
    val tC = token()
    val t = writeOp(h, "compact") {
      h.span("pipeline.compact_ann_s")(Pipeline.compactAnn(spark, annDir, tC))
      h.span("pipeline.compact_postings_s")(Pipeline.compactPostings(spark, postDir, tC))
    }
    liveAt(s"ann-$tC") = vecs.size
    t
  }

  private def annProbeOp(h: Harness): Option[Double] = {
    val q = Corpus.Vec(nextQuery(), Corpus.queryVec(rng), 0)
    val batch = pendingAnn.getOrElseUpdate(version, (vecs.values.toVector, mutable.ArrayBuffer.empty))
    batch._2 += q
    val ver = version
    h.op("ann_probe", deferCheck = true) {
      val idx = h.span("pipeline.read_ann_index_s")(Pipeline.readAnnIndex(spark, curAnn))
      h.span("operators.similarity.ivfpq_probe_s")(annProbe(Corpus.vecFrame(spark, Seq(q)), idx))
    } { got =>
      val want = once(expectedAnn, ver) {
        val (live, qs) = pendingAnn(ver)
        byQuery(annProbe(Corpus.vecFrame(spark, qs.toSeq), Similarity.ivfPqIndex(
          Corpus.vecFrame(spark, live), "vec_id", "embedding", coarse, codebooks)))
      }
      require(RowHash.rows(got) == want.getOrElse(q.id, (0L, 0L)),
        "ANN probe over the live index differs from the probe over a rebuild")
    }
  }

  private def bm25ProbeOp(h: Harness): Option[Double] = {
    val words = docs.valuesIterator.drop(rng.nextInt(docs.size)).next().text.split(' ')
    val q = Corpus.Doc(nextQuery(), Seq.fill(4)(words(rng.nextInt(words.length))).mkString(" "), "en", "query")
    val batch = pendingPost.getOrElseUpdate(version, (docs.values.toVector, mutable.ArrayBuffer.empty))
    batch._2 += q
    val ver = version
    h.op("bm25_probe", deferCheck = true) {
      val post = h.span("pipeline.read_postings_index_s")(Pipeline.readPostingsIndex(spark, curPost))
      h.span("operators.retrieval.bm25_s")(bm25Probe(Corpus.docFrame(spark, Seq(q)), post))
    } { got =>
      val want = once(expectedPost, ver) {
        val (live, qs) = pendingPost(ver)
        byQuery(bm25Probe(Corpus.docFrame(spark, qs.toSeq),
          Retrieval.postings(Corpus.docFrame(spark, live), "doc_id", "text")))
      }
      require(RowHash.rows(got) == want.getOrElse(q.id, (0L, 0L)),
        "BM25 probe over the live index differs from the probe over a rebuild")
    }
  }

  /** As-of read of a retained older version. */
  private def asOf(h: Harness): Option[Double] = {
    val retained = Files.list(Paths.get(annDir)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("ann-") && n != Paths.get(curAnn).getFileName.toString).toSeq.sorted
    val older = retained(rng.nextInt(retained.size))
    h.op("asof_read") {
      h.span("pipeline.asof_read_s")(Pipeline.readAnnIndex(spark, s"$annDir/$older").count())
    } { n =>
      require(n == liveAt(older), s"as-of read of $older saw $n rows, expected ${liveAt(older)}")
    }
  }

  private def nextQuery(): Long = { queries += 1; -queries }

  /** Result hash per query id; probes answer each query independently. */
  private def byQuery(rows: Array[Row]): Map[Long, (Long, Long)] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (id, rs) => id -> RowHash.rows(rs) }

  private def annProbe(q: DataFrame, index: DataFrame): Array[Row] =
    Similarity.ivfPqProbe(q, index, "vec_id", "embedding", k, coarse, codebooks, nprobe).collect()

  private def bm25Probe(q: DataFrame, post: DataFrame): Array[Row] =
    Retrieval.bm25OverPostings(q, post, "doc_id", "text", k).collect()

  /** A write operation; traced, it also records the files and bytes it
    * added under the publish tree (counted outside the timed window).
    */
  private def writeOp(h: Harness, name: String)(body: => Unit): Option[Double] = {
    val before = if (h.traced) files() else Map.empty[String, Long]
    val t = h.op(name)(body)(_ => ())
    if (h.traced && t.isDefined) {
      val added = files().filter { case (p, _) => !before.contains(p) }
      h.record("pipeline.files_written_per_op", added.size)
      h.record("pipeline.bytes_written_per_op", added.values.sum.toDouble)
    }
    t
  }

  private def files(): Map[String, Long] = {
    val root = Paths.get(annDir).getParent
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  override def derived(h: Harness): Map[String, Double] = {
    def med(n: String) = h.median(n).getOrElse(0.0)
    // a tail needs 11 samples; a short run logs that it has none
    def logTail(n: String): Unit = Main.log(Stats.tail(h.values(n)).map(t =>
      f"$n tail: p${t.percentile}%.1f over ${t.samples} samples = ${t.value}%.4f s")
      .getOrElse(s"$n tail: ${h.values(n).size} samples, fewer than 11, no tail"))
    logTail("lifecycle.ann_s")
    logTail("lifecycle.bm25_s")
    val liveBytes = docs.values.map(_.text.getBytes("UTF-8").length.toLong).sum + vecs.size * Corpus.dim * 4L
    Map(
      "lifecycle.ann_probe_p50_s" -> med("lifecycle.ann_s"),
      "lifecycle.bm25_probe_p50_s" -> med("lifecycle.bm25_s"),
      "lifecycle.space_amp" -> files().values.sum.toDouble / liveBytes)
  }
}
