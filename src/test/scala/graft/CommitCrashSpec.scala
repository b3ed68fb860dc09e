package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.{Failure, Success, Try}
import scala.util.matching.Regex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.changesets.{Pipeline, SegmentStore}
import graft.operators.{Quality, Similarity}
import graft.sources.{Export, Robots}

/** Crashes injected by [[GraftFs]] at every commit-record rename (a
  * manifest, a pointer, `index.json`, the changeset marker, an export
  * manifest, a head or stamp) and at every retention delete of one call
  * per artifact family. The call is first run uncrashed and its calls
  * counted; then, for each such rename or delete, it runs again from
  * the same parent state and is stopped right there. After each crash:
  *
  *   - readers see exactly the parent's state or the uncrashed result;
  *   - every file a retained manifest references is still there;
  *   - repeating the same call converges to the uncrashed result.
  *
  * A segment-store call under an explicit version token is the one
  * exception to the last rule, by design: once its manifest committed,
  * the token is taken, so the repeat is refused ("Use a fresh version
  * token") without changing what readers see, and then either the
  * crash came after the pointer flip (readers already see the result)
  * or a retry under a fresh token converges.
  */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._
  import CommitCrashSpec.Family

  /** The targets of commit-record renames. */
  private val Record = """.*(\.json|/\.last-modified)""".r

  /** The retention pattern of a family whose call deletes nothing. */
  private val Never = "$^".r

  private def local(p: String): String = new Path(p).toUri.getPath

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  /** Runs `f`'s call crashed at each of its commit renames and at each
    * of its retention deletes; there is at least one of each (no
    * delete when `f.retention` is `Never`).
    */
  private def crashEverywhere(f: Family): Unit = {
    val clean = f.setup()
    val parent = f.view(clean)
    val (_, ops) = GraftFs.recording(f.step(clean))
    val expected = f.view(clean)
    assert(expected != parent, s"${f.name}: the call must change what readers see")
    def count(kind: String, re: Regex) = ops.count(o => o.kind == kind && re.matches(o.path))
    assert(count("rename", Record) >= 1, s"${f.name}: no commit rename")
    assert((count("delete", f.retention) >= 1) === (f.retention ne Never),
      s"${f.name}: ${count("delete", f.retention)} retention deletes")
    val points = Seq("rename" -> Record, "delete" -> f.retention).flatMap { case (kind, re) =>
      (1 to count(kind, re)).map(n => (kind, re, n)) }
    for ((kind, re, n) <- points) {
      val at = s"${f.name}: crash at $kind #$n"
      val dir = f.setup()
      val crashed = GraftFs.crashingAt(kind, re, n)(f.step(dir))
      assert(crashed.isLeft, s"$at: the call finished")
      val seen = f.view(dir)
      assert(seen == parent || seen == expected,
        s"$at (${crashed.fold(_.op.toString, _ => "")}): readers see $seen")
      f.intact(dir)
      Try(f.step(dir)) match {
        case Success(_) => ()
        case Failure(e: IllegalArgumentException) if f.retry.isDefined &&
            e.getMessage.contains("fresh version token") =>
          assert(f.view(dir) == seen, s"$at: the refused repeat changed what readers see")
          if (seen == parent) f.retry.get(dir)
        case Failure(e) => throw e
      }
      assert(f.view(dir) == expected, s"$at: the repeat did not converge")
      f.intact(dir)
    }
    info(s"${f.name}: crashed at ${count("rename", Record)} commit renames and " +
      s"${count("delete", f.retention)} retention deletes")
  }

  // ------------------------------------------------------------ stores
  private val dims = 8
  private def vec(id: Long): Array[Double] =
    Array.tabulate(dims)(d => math.sin(id * 31 + d * 7) * 10)
  private def emb(ids: Range) = ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  private val coarse = Array.tabulate(4)(c => vec(1000 + c))
  private val codebooks = Array.tabulate(2)(m =>
    Array.tabulate(4)(c => vec(2000 + m * 10 + c).slice(m * 4, m * 4 + 4)))
  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"alpha doc$i shared beta word${i % 3}")).toDF("doc_id", "text")

  private val StoreRetention =
    """.*/((ann|post)-[^/]*|_(ann_segments|postings_segments|ann_models)/[^/]*)""".r

  /** A copy of the local tree `from` in a fresh temp dir, as a `graftfs` path. */
  private def copyOf(from: String, prefix: String): String = {
    val to = Paths.get(tmpDir(prefix))
    val src = Paths.get(local(from))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    GraftFs.path(to.toString)
  }

  private def storeFamilies(name: String, store: SegmentStore,
      publish: (String, String, Range) => Any, append: (String, String, Range) => Any,
      compact: (String, String) => Any, absorb: (String, Long, Range) => Any,
      read: String => DataFrame): Seq[Family] = {
    val template = graftDir(s"crash-$name")
    publish(template, "v0", 0 until 10)
    append(template, "v1", 10 until 15)
    // compaction keeps the rows, so a reader's view includes the layout
    val view = (dir: String) => {
      val cur = store.readCurrent(dir).get
      (rows(read(cur)), store.readManifest(cur).segments.size)
    }
    val intact = (dir: String) => new java.io.File(local(dir)).listFiles()
      .filter(f => f.getName.matches("(ann|post)-.*") && new java.io.File(f, "manifest.json").exists)
      .flatMap(f => store.readManifest(s"$dir/${f.getName}").refs)
      .foreach(r => assert(new java.io.File(s"${local(dir)}/$r").exists, s"retention deleted referenced $r"))
    Seq(
      Family(s"$name compact", () => copyOf(template, s"crash-$name-compact"),
        compact(_, "x"), view, StoreRetention, intact, Some(compact(_, "x-retry"))),
      Family(s"$name absorb", () => copyOf(template, s"crash-$name-absorb"),
        absorb(_, 7L, 20 until 25), view, StoreRetention, intact))
  }

  private lazy val annFamilies = storeFamilies("ann", Pipeline.annStore,
    (d, v, ids) => Pipeline.publishAnn(spark, d, v,
      Similarity.ivfPqIndex(emb(ids), "vec_id", "embedding", coarse, codebooks), coarse, codebooks),
    (d, v, ids) => Pipeline.appendAnn(spark, d, v, emb(ids), "vec_id", "embedding"),
    (d, v) => Pipeline.compactAnn(spark, d, v, keepHistory = 1),
    (d, b, ids) => Pipeline.absorbAnnBatch(spark, d, b, emb(ids), "vec_id", "embedding", keepHistory = 1),
    Pipeline.readAnnIndex(spark, _))

  private lazy val postingsFamilies = storeFamilies("postings", Pipeline.postingsStore,
    (d, v, ids) => Pipeline.publishPostings(spark, d, v, docs(ids), "doc_id", "text"),
    (d, v, ids) => Pipeline.appendPostings(spark, d, v, docs(ids), "doc_id", "text"),
    (d, v) => Pipeline.compactPostings(spark, d, v, keepHistory = 1),
    (d, b, ids) => Pipeline.absorbPostingsBatch(spark, d, b, docs(ids), "doc_id", "text", keepHistory = 1),
    Pipeline.readPostingsIndex(spark, _))

  // -------------------------------------------------------- changesets
  private def writeXml(ids: Seq[Int]): String = {
    val body = ids.map(i =>
      s"""<changeset id="$i" created_at="2024-01-0${i % 9 + 1}T00:00:00Z" open="false" """ +
        s"""user="u$i" uid="$i" num_changes="1" comments_count="0"/>""").mkString("\n")
    val f = Files.createTempFile("crash-changesets", ".osm")
    Files.writeString(f,
      s"""<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n$body\n</osm>""")
    f.toString
  }

  private lazy val (xml1, xml2) = (writeXml(1 to 2), writeXml(1 to 3))
  private val ChangesetRetention = """.*/changesets-[^/]*\.parquet""".r

  private lazy val changesetFamilies = Seq(
    Family("changeset run", () => {
      val d = graftDir("crash-run")
      Pipeline.run(spark, xml1, s"$d/pub", s"$d/state", "v1", keepHistory = 1)
      d
    }, d => Pipeline.run(spark, xml2, s"$d/pub", s"$d/state", "v2", keepHistory = 1),
      d => { Pipeline.recoverPublish(s"$d/pub"); spark.read.parquet(s"$d/pub/changesets.parquet").count() },
      ChangesetRetention),
    Family("changeset runPointer", () => {
      val d = graftDir("crash-ptr")
      Pipeline.runPointer(spark, xml1, s"$d/pub", s"$d/state", "v1", keepHistory = 1)
      d
    }, d => Pipeline.runPointer(spark, xml2, s"$d/pub", s"$d/state", "v2", keepHistory = 1),
      d => spark.read.parquet(Pipeline.readCurrent(s"$d/pub").get).count(),
      ChangesetRetention))

  // ------------------------------------------------------------ export
  private def shardDocs(ids: Range) = ids.map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")

  private def manifestView(out: String): Option[(Long, Long)] =
    Try(Export.readManifest(out)).toOption.map(m => (m.totalRows, m.lastBatch))

  /** A loader replays every row of the committed export — `rows` of
    * them — or refuses a torn one; it never replays a mix. An append
    * completes the partial last shard in place, so between its shard
    * write and its manifest commit the verification refuses.
    */
  private def replaysOrRefuses(out: String, rows: Set[Long]): Unit =
    if (manifestView(out).isDefined) Try(Export.readShardsInOrder(spark, out).count()) match {
      case Success(n) => assert(rows(n), s"replayed $n rows")
      case Failure(e: IllegalStateException) =>
        assert(e.getMessage.startsWith("export verification failed"), e.getMessage)
      case Failure(e) => throw e
    }

  private lazy val exportFamilies = Seq(
    Family("export write", () => graftDir("crash-export-write"),
      d => Export.writeShardsWithManifest(shardDocs(1 to 100), "doc_id", s"$d/data", 7L, 32L),
      d => manifestView(s"$d/data"), Never, d => replaysOrRefuses(s"$d/data", Set(100L))),
    Family("export append", () => {
      val d = graftDir("crash-export-append")
      Export.writeShardsWithManifest(shardDocs(1 to 100), "doc_id", s"$d/data", 7L, 32L)
      d
    }, d => Export.appendShardsWithManifest(shardDocs(101 to 150), "doc_id", s"$d/data", 9L, 0L),
      d => manifestView(s"$d/data"), Never, d => replaysOrRefuses(s"$d/data", Set(100L, 150L))))

  // ------------------------------------------------------------- heads
  private lazy val text = Seq((0L, "a b a"), (1L, "b c a"), (2L, "a a d")).toDF("doc_id", "text")
  private val GenRetention = """.*/gen-\d+""".r

  private lazy val headFamilies = Seq(
    Family("count-min head", () => {
      val d = graftDir("crash-cms")
      Quality.countMinIncrement(spark, d, text.filter($"doc_id" < 2), "text", 2, 16, batchId = 0L)
      d
    }, d => Quality.countMinIncrement(spark, d, text, "text", 2, 16, batchId = 1L),
      d => rows(Quality.readCmsSketch(spark, d)), Never),
    Family("heavy-hitters head", () => {
      val d = graftDir("crash-mg")
      Seq(0L, 1L).foreach(b => Quality.heavyHittersIncrement(text.filter($"doc_id" === b), "text",
        s"$d/state", s"$d/corpus", capacity = 8, batchId = Some(b)))
      d
    }, d => Quality.heavyHittersIncrement(text.filter($"doc_id" === 2L), "text",
        s"$d/state", s"$d/corpus", capacity = 8, batchId = Some(2L)),
      d => rows(Quality.readSketch(spark, s"$d/state")), GenRetention),
    Family("CDC head", () => {
      val d = graftDir("crash-cdc")
      Quality.cdcAbsorb(spark, s"$d/state", s"$d/log", text, "doc_id", "text", batchId = 0L)
      d
    }, d => Quality.cdcAbsorb(spark, s"$d/state", s"$d/log", text.filter($"doc_id" > 0),
        "doc_id", "text", batchId = 1L),
      d => rows(spark.read.parquet(s"$d/state/gen-" + Json.read(new Path(s"$d/state/_cdc_head.json"),
        spark.sparkContext.hadoopConfiguration).flatMap(Json.long(_, "gen")).get)), Never),
    Family("recrawl head", () => {
      val d = graftDir("crash-rc")
      Robots.recrawlIncrement(spark, d, text, "doc_id", "text", batchId = 1L)
      d
    }, d => Robots.recrawlIncrement(spark, d, text.withColumn("text", concat($"text", lit("!"))),
        "doc_id", "text", batchId = 2L),
      d => rows(Robots.readRecrawlState(spark, d)), Never))

  test("ANN store: crashes at every commit rename and retention delete of compact and absorb") {
    annFamilies.foreach(crashEverywhere)
  }

  test("postings store: crashes at every commit rename and retention delete of compact and absorb") {
    postingsFamilies.foreach(crashEverywhere)
  }

  test("changeset run and runPointer: crashes at the catalog, pointer, marker and retention") {
    changesetFamilies.foreach(crashEverywhere)
  }

  test("export write and append: crashes at the manifest commit") {
    exportFamilies.foreach(crashEverywhere)
  }

  test("the four heads: crashes at each head, stamp and generation retention") {
    headFamilies.foreach(crashEverywhere)
  }
}

object CommitCrashSpec {
  /** One call of one family: `setup` builds the parent state in a
    * fresh dir and returns it, `step` is the call, `view` what a
    * reader of the family sees, `intact` checks that retention kept
    * every referenced file, `retention` matches its retention deletes,
    * `retry` is the fresh-token retry of a segment-store call.
    */
  final case class Family(
      name: String,
      setup: () => String,
      step: String => Any,
      view: String => Any,
      retention: Regex,
      intact: String => Unit = _ => (),
      retry: Option[String => Any] = None)
}
