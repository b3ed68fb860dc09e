package graft.changesets

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Retrieval, Similarity}

/** The segment store's read path (Pipeline.readAnnIndex /
  * readPostingsIndex) over versions with several segments and
  * tombstones: opening a version launches no Spark job, reads equal a
  * from-scratch rebuild even when an id is tombstoned twice, and
  * segments whose files hold their columns in different orders still
  * read as one frame.
  */
class SegmentReadSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private def vec(id: Long): Array[Double] =
    Array.tabulate(dims)(d => math.sin(id * 31 + d * 7) * 10)
  private def emb(ids: Seq[Int]) = ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  private val coarse = Array.tabulate(4)(c => vec(1000 + c))
  private val codebooks = Array.tabulate(2)(m =>
    Array.tabulate(4)(c => vec(2000 + m * 10 + c).slice(m * 4, m * 4 + 4)))

  private def docs(ids: Seq[Int]) =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}")).toDF("doc_id", "text")
  private def ids(xs: Int*) = xs.map(_.toLong).toDF("id")

  /** Two data segments and two tombstones that both delete id 5, in
    * each store. Returns (ANN publish dir, postings publish dir).
    */
  private def twoSegmentsTwoTombstones(): (String, String) = {
    val annDir = tmpDir("segread-ann")
    Pipeline.publishAnn(spark, annDir, "base",
      Similarity.ivfPqIndex(emb(0 until 40), "vec_id", "embedding", coarse, codebooks),
      coarse, codebooks)
    Pipeline.appendAnn(spark, annDir, "day2", emb(40 until 70), "vec_id", "embedding")
    Pipeline.deleteAnn(spark, annDir, "del1", ids(5, 45), "id")
    Pipeline.deleteAnn(spark, annDir, "del2", ids(5, 50), "id")
    val postDir = tmpDir("segread-post")
    Pipeline.publishPostings(spark, postDir, "base", docs(0 until 40), "doc_id", "text")
    Pipeline.appendPostings(spark, postDir, "day2", docs(40 until 70), "doc_id", "text")
    Pipeline.deletePostings(spark, postDir, "del1", ids(5, 45), "id")
    Pipeline.deletePostings(spark, postDir, "del2", ids(5, 50), "id")
    (annDir, postDir)
  }
  private val survivors = (0 until 70).filterNot(Set(5, 45, 50))

  /** Spark jobs started on this thread while `body` runs. A marker job
    * run afterwards flushes the listener bus: events arrive in order,
    * so once the marker's start is seen every earlier start has been.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (g.contains("segread-marker")) marker.countDown() else g.foreach(groups.add)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("segread-body", "segment reads")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("segread-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker job")
      (out, groups.asScala.count(_ == "segread-body"))
    } finally sc.removeSparkListener(listener)
  }

  private def annProbe(index: DataFrame) =
    Similarity.ivfPqProbe(emb(Seq(1, 42, 69)), index, "vec_id", "embedding",
        k = 5, coarse = coarse, codebooks = codebooks, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
  private def bm25Probe(post: DataFrame) =
    Retrieval.bm25OverPostings(Seq((1000L, "alpha word1 doc45")).toDF("doc_id", "text"),
        post, "doc_id", "text", k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toList

  test("opening a version with 2 segments and 2 tombstones launches no Spark job") {
    val (annDir, postDir) = twoSegmentsTwoTombstones()
    val annCur = Pipeline.readCurrentAnn(annDir).get
    val postCur = Pipeline.readCurrentPostings(postDir).get
    assert(Pipeline.readAnnManifest(annCur)._2.size === 2)
    assert(Pipeline.annStore.readManifest(annCur).tombstones.size === 2)
    assert(Pipeline.readPostingsManifest(postCur).size === 2)
    assert(Pipeline.postingsStore.readManifest(postCur).tombstones.size === 2)

    val (ann, annJobs) = jobsDuring(Pipeline.readAnnIndex(spark, annCur))
    val (post, postJobs) = jobsDuring(Pipeline.readPostingsIndex(spark, postCur))
    assert(annJobs === 0, "readAnnIndex launched Spark jobs")
    assert(postJobs === 0, "readPostingsIndex launched Spark jobs")
    // the counter does see jobs: an action on the opened frame runs some
    assert(jobsDuring(ann.count())._2 > 0)

    // the schemas are the ones Spark's own inference gives each segment
    val seg = Pipeline.readAnnManifest(annCur)._2.head
    assert(ann.schema === spark.read.parquet(s"$annDir/$seg").select(
      ann.columns.map(col).toSeq: _*).schema)
    val postSeg = Pipeline.readPostingsManifest(postCur).head
    assert(post.schema === spark.read.parquet(s"$postDir/$postSeg").select(
      post.columns.map(col).toSeq: _*).schema)
  }

  test("an id tombstoned in two delete versions: reads and probes equal a rebuild") {
    val (annDir, postDir) = twoSegmentsTwoTombstones()
    val index = Pipeline.readAnnIndex(spark, Pipeline.readCurrentAnn(annDir).get)
    val rebuilt = Similarity.ivfPqIndex(emb(survivors), "vec_id", "embedding", coarse, codebooks)
    def rows(df: DataFrame) = df.select(col("neighbor_id"), col("cluster"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(rows(index) === rows(rebuilt))
    assert(annProbe(index) === annProbe(rebuilt))

    val post = Pipeline.readPostingsIndex(spark, Pipeline.readCurrentPostings(postDir).get)
    val postRebuilt = Retrieval.postings(docs(survivors), "doc_id", "text")
    def postRows(df: DataFrame) = df.select(col("term"), col("doc"), col("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(postRows(post) === postRows(postRebuilt))
    assert(bm25Probe(post) === bm25Probe(postRebuilt))
  }

  test("segments whose files order their columns differently still read") {
    val (annDir, postDir) = twoSegmentsTwoTombstones()
    /** Rewrite one segment in place with its data columns reversed. */
    def reorder(dir: String, partitioned: Boolean): Unit = {
      val tmp = tmpDir("segread-reorder") + "/seg"
      val df = spark.read.parquet(dir)
      val data = df.columns.filterNot(c => partitioned && c == "cluster")
      val w = df.select((data.reverse ++ (if (partitioned) Seq("cluster") else Nil)).map(col).toSeq: _*)
        .write.mode("overwrite")
      (if (partitioned) w.partitionBy("cluster") else w).parquet(tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.moveDirectory(new java.io.File(tmp), new java.io.File(dir))
    }
    val annCur = Pipeline.readCurrentAnn(annDir).get
    val annSeg = s"$annDir/${Pipeline.readAnnManifest(annCur)._2.last}"
    val before = annProbe(Pipeline.readAnnIndex(spark, annCur))
    reorder(annSeg, partitioned = true)
    assert(spark.read.parquet(annSeg).columns.toSeq === Seq("codes", "neighbor_id", "cluster"))
    assert(annProbe(Pipeline.readAnnIndex(spark, annCur)) === before)

    val postCur = Pipeline.readCurrentPostings(postDir).get
    val postSeg = s"$postDir/${Pipeline.readPostingsManifest(postCur).last}"
    val postBefore = Pipeline.readPostingsIndex(spark, postCur)
    val cols = postBefore.columns.toSeq
    val want = postBefore.collect().toSet
    val fileCols = spark.read.parquet(postSeg).columns.toSeq
    reorder(postSeg, partitioned = false)
    assert(spark.read.parquet(postSeg).columns.toSeq === fileCols.reverse)
    val after = Pipeline.readPostingsIndex(spark, postCur)
    assert(after.columns.toSeq === cols)
    assert(after.collect().toSet === want)
  }
}
