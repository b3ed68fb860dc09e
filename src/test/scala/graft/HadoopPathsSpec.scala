package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.changesets.{Pipeline, SegmentStore}
import graft.operators.{AnnModel, Quality, Similarity}
import graft.sources.{Export, Layout, Robots}

/** Every versioned artifact family runs on `graftfs` paths
  * ([[GraftFs]]), which only Hadoop can open: the two segment stores,
  * both changeset publishes, Export, the four heads, AnnModel and
  * `Layout.compact` reach their files through Hadoop alone. A store
  * write opens each retained manifest at most once, and a commit
  * record carries no checksum sidecar.
  */
class HadoopPathsSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private def vec(id: Long): Array[Double] =
    Array.tabulate(dims)(d => math.sin(id * 31 + d * 7) * 10)
  private def emb(ids: Range) = ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  private val coarse = Array.tabulate(4)(c => vec(1000 + c))
  private val codebooks = Array.tabulate(2)(m =>
    Array.tabulate(4)(c => vec(2000 + m * 10 + c).slice(m * 4, m * 4 + 4)))
  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}")).toDF("doc_id", "text")

  /** One index through its public Pipeline functions; `ids` reads back
    * the ids a version holds.
    */
  private abstract class Index(val name: String, val store: SegmentStore, val idCol: String) {
    def publish(dir: String, v: String, ids: Range): String
    def append(dir: String, v: String, ids: Range): String
    def delete(dir: String, v: String, ids: Range): String
    def compact(dir: String, v: String): String
    def absorb(dir: String, batchId: Long, ids: Range): String
    def read(versionDir: String): DataFrame
    def ids(versionDir: String): Set[Long] =
      read(versionDir).select(col(idCol)).as[Long].collect().toSet
  }

  private object Ann extends Index("ANN", Pipeline.annStore, "neighbor_id") {
    def publish(dir: String, v: String, ids: Range) = Pipeline.publishAnn(spark, dir, v,
      Similarity.ivfPqIndex(emb(ids), "vec_id", "embedding", coarse, codebooks), coarse, codebooks,
      keepHistory = 2)
    def append(dir: String, v: String, ids: Range) =
      Pipeline.appendAnn(spark, dir, v, emb(ids), "vec_id", "embedding", keepHistory = 2)
    def delete(dir: String, v: String, ids: Range) =
      Pipeline.deleteAnn(spark, dir, v, emb(ids), "vec_id", keepHistory = 2)
    def compact(dir: String, v: String) = Pipeline.compactAnn(spark, dir, v, keepHistory = 2)
    def absorb(dir: String, batchId: Long, ids: Range) =
      Pipeline.absorbAnnBatch(spark, dir, batchId, emb(ids), "vec_id", "embedding", keepHistory = 2)
    def read(versionDir: String) = Pipeline.readAnnIndex(spark, versionDir)
  }

  private object Postings extends Index("postings", Pipeline.postingsStore, "doc") {
    def publish(dir: String, v: String, ids: Range) =
      Pipeline.publishPostings(spark, dir, v, docs(ids), "doc_id", "text", keepHistory = 2)
    def append(dir: String, v: String, ids: Range) =
      Pipeline.appendPostings(spark, dir, v, docs(ids), "doc_id", "text", keepHistory = 2)
    def delete(dir: String, v: String, ids: Range) =
      Pipeline.deletePostings(spark, dir, v, docs(ids), "doc_id", keepHistory = 2)
    def compact(dir: String, v: String) = Pipeline.compactPostings(spark, dir, v, keepHistory = 2)
    def absorb(dir: String, batchId: Long, ids: Range) =
      Pipeline.absorbPostingsBatch(spark, dir, batchId, docs(ids), "doc_id", "text", keepHistory = 2)
    def read(versionDir: String) = Pipeline.readPostingsIndex(spark, versionDir)
  }

  /** The local path behind a `graftfs` path. */
  private def local(p: String): String = new Path(p).toUri.getPath

  /** The most opens of any one version manifest while `body` runs. */
  private def manifestOpens(body: => Any): Int =
    GraftFs.recording(body)._2
      .filter(o => o.kind == "open" && o.path.matches(".*/(ann|post)-[^/]*/manifest\\.json"))
      .groupBy(_.path).values.map(_.size).maxOption.getOrElse(0)

  for (ix <- Seq(Ann, Postings))
    test(s"${ix.name} store on graftfs: publish, append, delete, compact, retention, " +
        "as-of read, absorb replay; each write opens a retained manifest at most once") {
      val dir = graftDir(s"hp-${ix.name}")
      assert(manifestOpens(ix.publish(dir, "v0", 0 until 20)) <= 1)
      assert(manifestOpens(ix.append(dir, "v1", 20 until 30)) === 1)
      assert(manifestOpens(ix.delete(dir, "v2", 0 until 3)) === 1)
      val absorbed = ix.absorb(dir, 7L, 30 until 35)
      assert(ix.absorb(dir, 7L, 30 until 35) === absorbed, "a replayed batch must be a no-op")
      assert(ix.ids(absorbed) === (3 until 35).map(_.toLong).toSet)
      var compacted = ""
      assert(manifestOpens { compacted = ix.compact(dir, "v3") } === 1)
      assert(ix.store.readCurrent(dir).contains(compacted))
      assert(ix.ids(compacted) === (3 until 35).map(_.toLong).toSet)
      // as of the retained version before the compaction
      assert(ix.ids(absorbed) === (3 until 35).map(_.toLong).toSet)
      // keepHistory = 2: the two newest versions and only their refs stay
      val kept = new java.io.File(local(dir)).list().filter(_.matches("(ann|post)-.*")).toSet
      assert(kept === Set(new Path(absorbed).getName, new Path(compacted).getName))
      val refs = Seq(absorbed, compacted).flatMap(v => ix.store.readManifest(v).refs).toSet
      val segments = new java.io.File(local(dir)).listFiles().filter(_.getName.startsWith("_"))
        .flatMap(s => s.list().map(c => s"${s.getName}/$c")).toSet
      assert(segments === refs)
      if (ix eq Ann) {
        val m = AnnModel.load(spark, Pipeline.annModelDir(compacted))
        assert(m.coarse.map(_.toSeq).toSeq === coarse.map(_.toSeq).toSeq)
      } else assert(Pipeline.storedPostingsStatistics(ix.read(compacted), Seq("alpha")).isDefined)
    }

  private def writeXml(ids: Seq[Int]): String = {
    val body = ids.map(i =>
      s"""<changeset id="$i" created_at="2024-01-0${i % 9 + 1}T00:00:00Z" open="false" """ +
        s"""user="u$i" uid="$i" num_changes="1" comments_count="0"/>""").mkString("\n")
    val f = Files.createTempFile("hp-changesets", ".osm")
    Files.writeString(f,
      s"""<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n$body\n</osm>""")
    f.toString
  }

  test("changeset run and runPointer on graftfs: publish, marker, catalog, pointer, retention") {
    val (pub, state) = (graftDir("hp-run-pub"), graftDir("hp-run-state"))
    (1 to 3).foreach(v =>
      assert(Pipeline.run(spark, writeXml(1 to v), pub, state, s"v$v", keepHistory = 2).ran))
    assert(!Pipeline.run(spark, writeXml(1 to 3), pub, state, "v3").ran)
    assert(Pipeline.readMarker(state).contains("v3"))
    assert(spark.read.parquet(s"$pub/changesets.parquet").count() === 3L)
    val index = Json.read(new Path(pub, "index.json"), spark.sparkContext.hadoopConfiguration).get
    assert(Json.long(index, "rows").contains(3L) && Json.text(index, "source_version").contains("v3"))
    assert(new java.io.File(local(pub)).list().filter(_.startsWith("changesets-")).toSet ===
      Set("changesets-v2.parquet", "changesets-v3.parquet"))

    val (pub2, state2) = (graftDir("hp-ptr-pub"), graftDir("hp-ptr-state"))
    (1 to 3).foreach(v =>
      Pipeline.runPointer(spark, writeXml(1 to v), pub2, state2, s"v$v", keepHistory = 1))
    assert(spark.read.parquet(Pipeline.readCurrent(pub2).get).count() === 3L)
    assert(new java.io.File(local(pub2)).list().filter(_.startsWith("changesets-")).toSeq ===
      Seq("changesets-v3.parquet"))
  }

  test("a pre-JSON changeset marker (the bare token) still reads") {
    val state = tmpDir("hp-marker")
    Files.writeString(Paths.get(state, ".last-modified"), "Wed, 21 Oct 2015 07:28:00 GMT\n")
    assert(Pipeline.readMarker(state).contains("Wed, 21 Oct 2015 07:28:00 GMT"))
    Pipeline.writeMarker(state, "v2")
    assert(Pipeline.readMarker(state).contains("v2"))
  }

  test("Export on graftfs: write, append, verify, replay") {
    val out = graftDir("hp-export") + "/data"
    val base = (1 to 100).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    assert(Export.writeShardsWithManifest(base, "doc_id", out, seed = 7L, rowsPerShard = 32L) === 4)
    val delta = (101 to 150).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    assert(Export.appendShardsWithManifest(delta, "doc_id", out, deltaSeed = 9L, batchId = 0L) === 5)
    assert(Export.readManifest(out).totalRows === 150L)
    assert(Export.verifyShards(spark, out).collect().forall(_.getString(3) === "ok"))
    assert(Export.readShardsInOrder(spark, out).count() === 150L)
  }

  test("the four heads on graftfs: count-min, heavy hitters, CDC, recrawl") {
    val text = Seq((0L, "a b a"), (1L, "b c a"), (2L, "a a d")).toDF("doc_id", "text")
    val cms = graftDir("hp-cms")
    Quality.countMinIncrement(spark, cms, text.filter($"doc_id" < 2), "text", 2, 16, batchId = 0L)
    Quality.countMinIncrement(spark, cms, text.filter($"doc_id" >= 2), "text", 2, 16, batchId = 1L)
    Quality.countMinIncrement(spark, cms, text.filter($"doc_id" >= 2), "text", 2, 16, batchId = 1L)
    val cells = Quality.readCmsSketch(spark, cms).head.getSeq[Long](0)
    assert(cells.sum === 2L * 9L, "each of the 9 tokens lands once per row, replay skipped")

    val (mg, corpus) = (graftDir("hp-mg"), graftDir("hp-mg-corpus"))
    Seq(0L, 1L, 2L).foreach(b => Quality.heavyHittersIncrement(text.filter($"doc_id" === b), "text",
      mg, corpus, capacity = 8, batchId = Some(b)))
    val hh = Quality.heavyHittersFromState(spark.read.parquet(corpus), "text", mg, support = 2)
    assert(hh.collect().map(_.getString(0)).toSet.contains("a"))
    assert(new java.io.File(local(mg)).list().filter(_.startsWith("gen-")).toSet ===
      Set("gen-1", "gen-2"), "generations older than the previous one go")

    val (cdc, log) = (graftDir("hp-cdc"), graftDir("hp-cdc-log"))
    Quality.cdcAbsorb(spark, cdc, log, text, "doc_id", "text", batchId = 0L)
    Quality.cdcAbsorb(spark, cdc, log, text.filter($"doc_id" > 0), "doc_id", "text", batchId = 1L)
    assert(Quality.readCdcLog(spark, log).filter($"batch_id" === 1).select($"change").as[String]
      .collect().toSeq === Seq("removed"))

    val rc = graftDir("hp-rc")
    Robots.recrawlIncrement(spark, rc, text, "doc_id", "text", batchId = 1L)
    Robots.recrawlIncrement(spark, rc, text.withColumn("text", concat($"text", lit("!"))),
      "doc_id", "text", batchId = 2L)
    assert(Robots.readRecrawlState(spark, rc).agg(sum($"n_changes")).head.getLong(0) === 3L)
  }

  test("AnnModel save and load on graftfs") {
    val dir = graftDir("hp-model")
    AnnModel.save(spark, dir, coarse, codebooks)
    val m = AnnModel.load(spark, dir)
    assert(m.coarse.map(_.toSeq).toSeq === coarse.map(_.toSeq).toSeq)
    assert(m.codebooks.map(_.map(_.toSeq).toSeq).toSeq === codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("Layout.compact on graftfs") {
    val dir = graftDir("hp-layout") + "/t"
    spark.range(0, 200).repartition(8).write.parquet(dir)
    assert(Layout.compact(spark, dir, targetBytes = Long.MaxValue) === 1)
    assert(spark.read.parquet(dir).count() === 200L)
    assert(!new java.io.File(local(dir) + ".pre-compact").exists())
  }

  test("a commit record carries no checksum sidecar, and a stale one cannot fail the read") {
    val dir = tmpDir("hp-crc")
    val conf = spark.sessionState.newHadoopConf()
    val head = new Path(s"file://$dir", "_mg_head.json")
    Json.commit(head, Seq("gen" -> 1L, "last_batch_id" -> 4L), conf)
    assert(new java.io.File(dir).list().toSeq === Seq("_mg_head.json"))
    // the sidecar a checksummed commit left for an older body
    Files.write(Paths.get(dir, "._mg_head.json.crc"), Array[Byte](0x63, 0x72, 0x63, 0, 0, 0, 2, 0))
    Json.commit(head, Seq("gen" -> 2L, "last_batch_id" -> 5L), conf)
    assert(Json.read(head, conf).flatMap(Json.long(_, "gen")).contains(2L))
  }
}
