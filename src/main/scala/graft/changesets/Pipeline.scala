package graft.changesets

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Json

/** The reference's scheduled pipeline (EP2, SURVEY.md §3) as a
  * driver-side runner: file-level change detection → full reconvert →
  * overwrite publish → catalog metadata → retention. The reference
  * implements this as a GitHub workflow
  * (.github/workflows/process-changesets-r2.yml:35-234); here it is
  * library code so it can run under any scheduler, with the same
  * state contract (a committed last-modified marker, an overwritten
  * latest artifact, a metadata index, keep-newest-N retention —
  * manage-r2.sh:83-105).
  *
  * Scale note: "incremental" in the reference is file-level — detect
  * change, reprocess everything, overwrite. That contract is kept
  * (it is what the published artifact promises); row-level
  * incrementality is the streaming module's job
  * (EventStreams.fileStream + checkpoint).
  */
object Pipeline {

  final case class Result(
      ran: Boolean,
      rows: Long,
      published: Option[String],
      reason: String)

  /** Filesystem-safe form of the opaque sourceVersion token before it
    * is embedded in an artifact name: path separators would misplace
    * the artifact, and control chars and quotes confuse tooling. The
    * MARKER keeps the raw token (change detection compares the
    * upstream value verbatim).
    *
    * Sanitization alone is lossy ('a/b' and 'a_b' both map to "a_b",
    * so a later version could silently overwrite an earlier retained
    * artifact); whenever any char was replaced, a short SHA-256 prefix
    * of the RAW token is appended so sanitized names stay injective.
    * Clean tokens (the common case) keep their exact name.
    *
    * One-time migration note: before the hash suffix (round 9), a
    * sanitized token like 'a/b' published as plain 'a_b'; its next
    * publish lands under 'a_b-<hash8>' and the old dir is simply
    * orphaned until mtime retention ages it out — pointer reads are
    * unaffected (the pointer names a full artifact name, not a
    * derived one). A pre-existing CLEAN token that itself ends in
    * '-<8 hex>' could in principle collide with a sanitized name;
    * acceptable: clean tokens keep their exact name, so the collision
    * needs an adversarial pair of tokens AND survives only until
    * retention.
    */
  private[changesets] def safeVersion(v: String): String = {
    val s = v.map(c => if (c == '/' || c == '\\' || c == '"' || c < ' ') '_' else c)
    require(s.nonEmpty && s != "." && s != "..", s"unusable sourceVersion: '$v'")
    if (s == v) s
    else {
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
      s"$s-$h"
    }
  }

  /** The Hadoop conf of the active session: the conf of the calls that
    * take no session.
    */
  private[graft] def activeConf: Configuration = SparkSession.active.sessionState.newHadoopConf()

  /** The committed `.last-modified` marker (reference
    * process-changesets-r2.yml:44-50,224-234): the last source version
    * a run published. A marker from before the JSON commit holds the
    * bare token.
    */
  def readMarker(stateDir: String): Option[String] = readMarker(stateDir, activeConf)

  def writeMarker(stateDir: String, value: String): Unit = writeMarker(stateDir, value, activeConf)

  private def readMarker(stateDir: String, conf: Configuration): Option[String] =
    Json.readText(new Path(stateDir, ".last-modified"), conf).map(s =>
      Json.parseOption(s).flatMap(Json.text(_, "source_version")).getOrElse(s.trim))

  private def writeMarker(stateDir: String, value: String, conf: Configuration): Unit =
    Json.commit(new Path(stateDir, ".last-modified"), Seq("source_version" -> value), conf)

  /** One pipeline run.
    *
    * @param sourceVersion the upstream change token (the reference uses
    *                      the HTTP Last-Modified header; any
    *                      monotonically-changing string works)
    * @param force         reprocess even when unchanged
    *                      (workflow_dispatch force, yml:53-58)
    */
  def run(
      spark: SparkSession,
      inputXml: String,
      publishDir: String,
      stateDir: String,
      sourceVersion: String,
      force: Boolean = false,
      keepHistory: Int = 5,
      opts: ChangesetConverter.Options = ChangesetConverter.Options()): Result = {
    val conf = spark.sessionState.newHadoopConf()
    if (!force && readMarker(stateDir, conf).contains(sourceVersion))
      return Result(ran = false, rows = 0L, published = None,
        reason = s"unchanged (version $sourceVersion)")

    // convert to a timestamped artifact, then overwrite-publish the
    // stable name (yml:145-162 publishes changesets.parquet + keeps a
    // versioned copy; retention below mirrors manage-r2.sh:94-102)
    val versioned = s"$publishDir/changesets-${safeVersion(sourceVersion)}.parquet"
    val rows = ChangesetConverter.convert(spark, inputXml, versioned, opts)

    // publish the stable name as a byte-identical COPY of the
    // versioned artifact (no second Spark job re-encoding the same
    // data), staged + renamed so readers race a rename, not a
    // multi-second overwrite-in-place (the reference's `aws s3 cp`
    // overwrite has the same race; object-store copies are per-object
    // atomic there)
    val latest = s"$publishDir/changesets.parquet"
    val staging = new Path(publishDir, ".changesets.parquet.staging")
    val retired = new Path(publishDir, ".changesets.parquet.retired")
    val fs = staging.getFileSystem(conf)
    recoverPublish(fs, publishDir)
    fs.delete(staging, true)
    fs.delete(retired, true)
    FileUtil.copy(fs, new Path(versioned), fs, staging, false, conf)
    if (fs.exists(new Path(latest))) move(fs, new Path(latest), retired)
    move(fs, staging, new Path(latest))
    fs.delete(retired, true)

    writeIndex(publishDir, rows, sourceVersion, conf)
    applyRetention(fs, publishDir, keepHistory, protect = None)
    writeMarker(stateDir, sourceVersion, conf)
    Result(ran = true, rows = rows, published = Some(latest),
      reason = if (force) "forced" else "source changed")
  }

  /** Rename `from` to `to`, failing loudly when the filesystem refuses. */
  private[graft] def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")

  /** Crash recovery for the publish swap. The swap is two renames
    * (latest→retired, staging→latest); a crash between them leaves the
    * ONLY copy of the previous publish under the hidden `.retired`
    * name, which a blind next run would delete before republishing —
    * losing every stable artifact if it crashed again. Restoring
    * `.retired` back to the stable name whenever the stable name is
    * missing closes that window: at every point outside a single
    * rename, some run of `recoverPublish` + readers sees a complete
    * `changesets.parquet`. Called automatically at the start of each
    * `run`; safe (no-op) when the previous publish completed. Public
    * so long-lived readers can also invoke it before opening the
    * artifact.
    */
  def recoverPublish(publishDir: String): Unit =
    recoverPublish(new Path(publishDir).getFileSystem(activeConf), publishDir)

  private def recoverPublish(fs: FileSystem, publishDir: String): Unit = {
    val latest = new Path(publishDir, "changesets.parquet")
    val retired = new Path(publishDir, ".changesets.parquet.retired")
    if (!fs.exists(latest) && fs.exists(retired)) move(fs, retired, latest)
  }
  // ------------------------------------------------------------------
  // Pointer-flip publish — the object-store variant of the swap.
  //
  // The rename-swap above assumes an atomic POSIX rename. Object
  // stores (S3-class) have no rename: "rename" is copy+delete, and a
  // reader can observe the stable name mid-copy. What they DO have is
  // an atomic single-object PUT with read-after-write consistency. So
  // the object-store-safe publish is: write each snapshot as an
  // IMMUTABLE versioned artifact (never renamed, never overwritten),
  // then flip ONE small pointer object naming the current version.
  // Readers resolve the pointer, then open the (complete, immutable)
  // artifact it names — there is no observable intermediate state,
  // and a crash between artifact write and pointer flip simply leaves
  // the pointer at the previous (still complete) version: no recovery
  // step needed, unlike recoverPublish's retired-name window.
  //
  // The pointer is a commit record ([[graft.Json.commit]]): the new
  // content goes to a temp name, then one rename replaces the pointer —
  // the single-small-object flip that maps to one PUT on a store.
  // ------------------------------------------------------------------

  private val PointerName = "current.json"

  /** The publishDir-relative path a pointer file's `field` names,
    * resolved against publishDir (None before the first flip).
    */
  private[changesets] def readPointer(
      publishDir: String, name: String, field: String, conf: Configuration): Option[String] =
    Json.read(new Path(publishDir, name), conf).flatMap(j => Option(j.get(field)))
      .map(f => s"$publishDir/${f.asText}")

  /** Atomically point `current.json` at an already-written versioned
    * artifact. Call ONLY after the artifact is fully written (the
    * caller's Spark write has committed).
    */
  def flipPointer(publishDir: String, versionedFile: String, rows: Long, version: String): Unit =
    flipPointer(publishDir, versionedFile, rows, version, activeConf)

  private def flipPointer(publishDir: String, versionedFile: String, rows: Long, version: String,
      conf: Configuration): Unit =
    Json.commit(new Path(publishDir, PointerName),
      Seq("file" -> versionedFile, "rows" -> rows, "source_version" -> version), conf)

  /** Resolve the current pointer to the artifact path it names (None
    * before the first publish). This is the whole reader protocol:
    * one small read, then open the immutable artifact.
    */
  def readCurrent(publishDir: String): Option[String] =
    readPointer(publishDir, PointerName, "file", activeConf)

  /** Pointer-flip pipeline run: convert to a versioned immutable
    * artifact, flip the pointer, retain newest N (never deleting the
    * pointed-at version). Same change-detection/marker contract as
    * [[run]]; no stable-name copy exists in this mode — consumers use
    * `readCurrent`.
    */
  def runPointer(
      spark: SparkSession,
      inputXml: String,
      publishDir: String,
      stateDir: String,
      sourceVersion: String,
      force: Boolean = false,
      keepHistory: Int = 5,
      opts: ChangesetConverter.Options = ChangesetConverter.Options()): Result = {
    val conf = spark.sessionState.newHadoopConf()
    if (!force && readMarker(stateDir, conf).contains(sourceVersion))
      return Result(ran = false, rows = 0L, published = None,
        reason = s"unchanged (version $sourceVersion)")

    val versionedFile = s"changesets-${safeVersion(sourceVersion)}.parquet"
    val versioned = s"$publishDir/$versionedFile"
    val rows = ChangesetConverter.convert(spark, inputXml, versioned, opts)

    flipPointer(publishDir, versionedFile, rows, sourceVersion, conf)
    applyRetention(new Path(publishDir).getFileSystem(conf), publishDir, keepHistory,
      protect = Some(versioned))
    writeMarker(stateDir, sourceVersion, conf)
    Result(ran = true, rows = rows, published = Some(versioned),
      reason = if (force) "forced" else "source changed")
  }

  // ------------------------------------------------------------------
  // ANN artifact publish — the pointer-flip story applied to the
  // index+model PAIR. The ANN index table is unusable without the
  // model (coarse centroids + PQ codebooks) that encoded it, and a
  // model from a different build probes a silently-wrong index — so
  // the two MUST version together. A version is a MANIFEST over
  // immutable segments ([[SegmentStore]]) that also names ONE model:
  //
  //   publishDir/_ann_segments/seg-<v>/   (immutable cluster-partitioned
  //                                        index rows; one per publish
  //                                        or append batch)
  //   publishDir/_ann_models/model-<v>/   (immutable AnnModel.save)
  //   publishDir/ann-<v>/manifest.json    (names ONE model + the
  //                                        ordered segment list)
  //   publishDir/ann_current.json         (the pointer)
  //
  // The pointer names the manifest dir, so a rollback flip rolls
  // index and model atomically-together; retention garbage-collects
  // models exactly like segments.
  // ------------------------------------------------------------------

  private val AnnModelDir = "_ann_models"

  /** Every ANN segment is `cluster`-partitioned (the store's layout,
    * which appends follow too); `partitionCol` stays in the public
    * signatures for compatibility and must name that column.
    */
  private def requireClusterLayout(op: String, partitionCol: String): Unit =
    require(partitionCol == "cluster",
      s"$op: ANN segments are partitioned by 'cluster', not '$partitionCol'")

  private[graft] val annStore = new SegmentStore(
    kind = "Ann", prefix = "ann-", pointerName = "ann_current.json",
    segmentDir = "_ann_segments", idCol = "neighbor_id", partitionCol = Some("cluster"),
    modelDir = Some(AnnModelDir), sortColumns = true)

  /** Parse a pair dir's manifest: (model ref, segment refs), both
    * publishDir-relative. Fails loudly on a dir with no manifest —
    * a half-written version must never be readable as a pair.
    */
  def readAnnManifest(pairDir: String): (String, Seq[String]) = {
    val m = annStore.readManifest(pairDir)
    (m.model.getOrElse(throw new IllegalStateException(s"manifest at $pairDir names no model")),
      m.segments)
  }

  /** The model dir a pair's manifest names — the read half of the
    * pair protocol (with [[readAnnIndex]]): resolve the pointer once,
    * open both halves through the same manifest.
    */
  def annModelDir(pairDir: String): String =
    s"${new Path(pairDir).getParent}/${readAnnManifest(pairDir)._1}"

  /** The pair's index as ONE DataFrame: the union of its manifest's
    * immutable segments, minus its tombstones ([[SegmentStore.read]]).
    * Each segment keeps its own cluster-partition layout, so probe-side
    * partition pruning applies per segment.
    */
  def readAnnIndex(spark: SparkSession, pairDir: String): DataFrame = annStore.read(spark, pairDir)

  /** Resolve the current ANN pair dir (None before the first publish);
    * [[readAnnIndex]] and [[annModelDir]] open its two halves.
    */
  def readCurrentAnn(publishDir: String): Option[String] = annStore.readCurrent(publishDir)

  /** Publish one ANN build (index table + its model) as an immutable
    * versioned pair — one full segment + one model + a manifest — and
    * flip the pointer to it. Returns the versioned dir. The segment is
    * written partitioned by `cluster` so probes keep their
    * partition-pruning story (BucketingSpec).
    */
  def publishAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      index: org.apache.spark.sql.DataFrame,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      partitionCol: String = "cluster",
      keepHistory: Int = 5): String = {
    requireClusterLayout("publishAnn", partitionCol)
    val modelRef = s"$AnnModelDir/model-${safeVersion(sourceVersion)}"
    graft.operators.AnnModel.save(spark, s"$publishDir/$modelRef", coarse, codebooks)
    annStore.publish(spark, publishDir, sourceVersion, index, keepHistory, Some(modelRef))
  }

  /** Daily-increment ANN index maintenance WITHOUT retraining — the
    * production daily path (codebooks are retrained weekly/monthly,
    * not per batch): encode ONLY the new vectors with the CURRENT
    * pair's frozen model, and publish a NEW immutable versioned pair
    * whose index is (current index ∪ batch delta) and whose model is
    * the same artifact — the ANN analog of
    * `Dedup.dedupIncrementWithIndex`'s indexDelta fold. Per-day cost is
    * O(|batch|): ONLY the delta segment and a new manifest are written
    * ([[SegmentStore.append]]). [[Similarity.ivfPqIndex]] is a pure
    * per-row select (neighbor_id IS idCol verbatim), so the encode+PQ
    * pass runs exactly once, inside the segment write.
    *
    * AnnAppendSpec pins append ≡ rebuild (bit-equal index and probe
    * results vs indexing everything from scratch with the same model)
    * AND the O(delta) cost shape; q106 hash-gates the same equivalence
    * through the DuckDB oracle.
    */
  def appendAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      newVecs: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      keepHistory: Int = 5,
      absorbBatchId: Option[Long] = None): String =
    annStore.append(spark, publishDir, sourceVersion, newVecs, idCol, keepHistory,
        absorbBatchId) { m =>
      val model = graft.operators.AnnModel.load(spark, s"$publishDir/${m.model.get}")
      graft.operators.Similarity.ivfPqIndex(newVecs, idCol, vecCol, model.coarse, model.codebooks)
    }

  /** Segment compaction for the versioned ANN pair — the maintenance
    * half of [[appendAnn]]'s O(delta) contract: rewrite the live
    * manifest's segments as ONE cluster-partitioned segment under a
    * NEW manifest naming the SAME frozen model ([[SegmentStore.compact]]).
    * A single-segment pair without tombstones is already compact and
    * comes back unchanged. AnnAppendSpec pins compact ≡ append ≡
    * rebuild, the 1-segment layout, and pre-compact rollback; q133
    * hash-gates the equivalence through q92's full-scan oracle.
    */
  def compactAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      partitionCol: String = "cluster",
      keepHistory: Int = 5): String = {
    requireClusterLayout("compactAnn", partitionCol)
    annStore.compact(spark, publishDir, sourceVersion, keepHistory)
  }

  /** Vector takedown — [[deletePostings]] on the ANN pair (embeddings
    * of removed user content are as much a compliance surface as the
    * text): one tombstone segment of ids + a manifest whose tombstone
    * list grows; segments and the frozen model stay untouched.
    * q173 hash-gates delete ≡ rebuild-without through the full IVF-PQ
    * probe.
    */
  def deleteAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      ids: org.apache.spark.sql.DataFrame,
      idCol: String,
      keepHistory: Int = 5): String =
    annStore.delete(publishDir, sourceVersion, ids, idCol, keepHistory)

  /** Idempotent per-batch absorb for STREAMING ingest loops
    * ([[graft.streaming.EventStreams.annIngestStream]]): appendAnn
    * keyed by micro-batch id ([[SegmentStore.absorb]]). Returns the
    * live pair dir. Bootstrap contract: a pair must exist
    * ([[publishAnn]] — in production the weekly retrain), because a
    * frozen model is what makes per-batch encode O(batch).
    */
  def absorbAnnBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      newVecs: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      keepHistory: Int = 5): String =
    annStore.absorb(spark, publishDir, batchId, keepHistory)(
      appendAnn(spark, publishDir, s"batch-$batchId", newVecs, idCol, vecCol,
        keepHistory, absorbBatchId = Some(batchId)))

  /** [[absorbAnnBatch]] at CHUNK granularity (r19, the q232 lifecycle
    * driven by the streaming loop): the batch of DOCUMENTS is sliding-
    * window chunked ([[graft.operators.Retrieval.chunkSliding]]),
    * chunk vids composed by the canonical
    * [[graft.operators.Retrieval.chunkVid]] rule, chunks encoded
    * through the FROZEN model boundary, and the result absorbed as
    * one O(batch) delta segment, batch-id-idempotently. This is the
    * exact per-micro-batch body of
    * [[graft.streaming.EventStreams.chunkAnnIngestStream]] — query
    * gates over this function gate the stream's absorb path too.
    * Returns the live pair dir (unchanged on a replayed batch id or
    * an empty chunk set).
    */
  def absorbChunkAnnBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      docsBatch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      encoder: graft.operators.Encode.BatchEncoder,
      winTokens: Int,
      stride: Int,
      keepHistory: Int = 5): String = {
    val chunks = graft.operators.Retrieval
      .chunkSliding(docsBatch, idCol, textCol, winTokens, stride)
      .select(graft.operators.Retrieval.chunkVid(idCol).as("vid"), col("chunk"))
    if (chunks.limit(1).isEmpty)
      readCurrentAnn(publishDir).getOrElse(throw new IllegalStateException(
        s"absorbChunkAnnBatch: no current ANN pair under $publishDir — publishAnn must run first"))
    else {
      val vecs = graft.operators.Encode.encodeWithModel(chunks, "vid", "chunk", encoder)
      absorbAnnBatch(spark, publishDir, batchId, vecs, "vid", "embedding", keepHistory)
    }
  }

  // ------------------------------------------------------------------
  // Segmented POSTINGS index lifecycle — the retrieval analog of the
  // ANN pair protocol above, for the inverted index Retrieval.postings
  // builds ("built once and stored, like the ANN index"), on the same
  // [[SegmentStore]] without a model. What makes the incremental form
  // CORRECT for BM25/tf-idf is that every corpus statistic the scorers
  // need is ADDITIVE over disjoint-doc segments: df(term) counts
  // (term, doc) rows, nd counts docs, avgdl sums tf — so probing the
  // segment UNION is bit-identical to probing a full rebuild (q148
  // hash-gates exactly that through the BM25 tail), while a daily
  // append tokenizes ONLY the new docs: build cost ∝ batch, not corpus.
  // The per-doc statistics are stored, not recomputed per probe: every
  // data segment row carries its doc's length `dl`, and exactly one row
  // per doc (its smallest term) carries `lead` = true
  // (Retrieval.postingsWithStats at publish and append; the store's
  // `prepare`, Retrieval.withDocStats, adds them when a compaction
  // rewrites a version that still holds older segments), so a probe counts
  // docs and sums lengths in one partial aggregate instead of
  // regrouping the whole index by doc. A doc's rows live in one
  // segment and a tombstone drops all of them, so both columns stay
  // exact under append, delete and compaction.
  // The collection statistics are stored too: every write records each
  // new ref's term → df lexicon, nd and Σ dl (the store's `figures`,
  // [[writeLexicon]]), so a probe of a version adds them up on the
  // driver ([[storedPostingsStatistics]]) instead of aggregating the
  // index in a Spark job.
  // ------------------------------------------------------------------

  private[graft] val postingsStore = new SegmentStore(
    kind = "Postings", prefix = "post-", pointerName = "postings_current.json",
    segmentDir = "_postings_segments", idCol = "doc", partitionCol = None,
    modelDir = None, sortColumns = false, prepare = graft.operators.Retrieval.withDocStats,
    figures = Some(writeLexicon))

  /** A postings ref's figures: the term → df lexicon of `rows`, written
    * to `dir` as one parquet file sorted by term, with their nd (`lead`
    * rows) and Σ dl (Σ tf) observed on that write — one Spark job.
    * Rows that lack `lead` (a tombstone over a segment rewritten
    * without it) get it from [[graft.operators.Retrieval.withDocStats]].
    */
  private def writeLexicon(rows: DataFrame, dir: String): RefStats = {
    val obs = new org.apache.spark.sql.Observation()
    graft.operators.Retrieval.withDocStats(rows).groupBy(col("term"))
      .agg(count(lit(1)).as("df"), count_if(col("lead")).as("nd"), sum(col("tf")).as("sum_dl"))
      .observe(obs, coalesce(sum(col("nd")), lit(0L)).as("nd"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
      .select(col("term"), col("df"))
      .coalesce(1).sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(dir)
    val figures = obs.get
    RefStats(figures("nd").asInstanceOf[Long], figures("sum_dl").asInstanceOf[Long])
  }

  /** The BM25 statistics of `post` from what its refs stored at write
    * time, when `post` is a frame [[readPostingsIndex]] returned and
    * every ref of its version stored them: (nd, Σ dl, df of each of
    * `terms` that has rows). Data segments add, tombstones subtract the
    * rows they hide. The lexicons are read on the driver, filtered to
    * `terms`, so no Spark job runs. None for any other frame, or when a
    * ref's lexicon is missing.
    */
  private[graft] def storedPostingsStatistics(
      post: DataFrame, terms: Seq[String]): Option[(Long, Long, Map[String, Long])] =
    postingsStore.opened(post).filter(_._2.figured).flatMap { case (publishDir, m) =>
      val conf = post.sparkSession.sessionState.newHadoopConf()
      val signed = m.segments.map(_ -> 1L) ++ m.tombstones.map(_ -> -1L)
      val lexicons = signed.map { case (r, _) =>
        readLexicon(conf, s"$publishDir/$r/${SegmentStore.LexiconDir}", terms) }
      Option.when(lexicons.forall(_.isDefined)) {
        def total(f: RefStats => Long) = signed.map { case (r, sign) => sign * f(m.stats(r)) }.sum
        val df = signed.zip(lexicons.flatten).flatMap { case ((_, sign), lex) =>
          lex.map { case (t, n) => t -> sign * n } }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
        (total(_.nd), total(_.sumDl), df)
      }
    }

  /** The df of each of `terms` in the lexicon at `dir`, read on the
    * driver with a pushed-down `term IN (…)` filter; None when there is
    * no lexicon.
    */
  private def readLexicon(conf: Configuration, dir: String, terms: Seq[String]): Option[Map[String, Long]] = {
    val root = new Path(dir)
    val files =
      try Some(root.getFileSystem(conf).listStatus(root).map(_.getPath).filter(_.getName.endsWith(".parquet")))
      catch { case _: java.io.FileNotFoundException => None }
    lazy val wanted = FilterCompat.get(FilterApi.in[Binary, Operators.BinaryColumn](
      FilterApi.binaryColumn("term"), terms.map(Binary.fromString).toSet.asJava))
    files.map(parts => if (terms.isEmpty) Map.empty else parts.iterator.flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f).withConf(conf).withFilter(wanted).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(g => g.getString("term", 0) -> g.getLong("df", 0)).toList
      finally reader.close()
    }.toMap)
  }

  def readPostingsManifest(pairDir: String): Seq[String] =
    postingsStore.readManifest(pairDir).segments

  /** A version as ONE postings DataFrame (term, doc, tf, dl, lead) —
    * the no-shuffle union of the manifest's immutable segments, minus
    * its tombstones, opened without a Spark job. Disjoint doc batches
    * mean no (term, doc) pair spans segments, so df/tf over the union
    * and the stored per-doc `dl`/`lead` equal a full rebuild's. A
    * version that still holds segments written before the stored
    * statistics existed reads as (term, doc, tf); the BM25 scorers
    * derive `dl`/`lead` for it ([[graft.operators.Retrieval.withDocStats]]).
    */
  def readPostingsIndex(spark: SparkSession, pairDir: String): DataFrame =
    postingsStore.read(spark, pairDir)

  def readCurrentPostings(publishDir: String): Option[String] =
    postingsStore.readCurrent(publishDir)

  /** Publish a full postings build as version one of the index. */
  def publishPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5): String =
    postingsStore.publish(spark, publishDir, sourceVersion,
      graft.operators.Retrieval.postingsWithStats(corpus, idCol, textCol), keepHistory)

  /** O(delta) daily append: tokenize ONLY the new docs, write one
    * delta segment + one manifest referencing the live prefix
    * ([[SegmentStore.append]]: disjoint-batch contract checked, version
    * token collision-checked against every retained manifest).
    */
  def appendPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5,
      absorbBatchId: Option[Long] = None): String =
    postingsStore.append(spark, publishDir, sourceVersion, newDocs, idCol, keepHistory,
      absorbBatchId)(_ => graft.operators.Retrieval.postingsWithStats(newDocs, idCol, textCol))

  /** Takedown: delete documents from the live postings index WITHOUT
    * touching any segment — the compliance operation (DMCA/GDPR
    * removal) a training-data index must support on the same
    * immutable-artifact terms as append. Every read of the new version
    * subtracts the docs from the segments it holds, so df/dl/avgdl shift
    * EXACTLY as if the docs had never been indexed (q172 hash-gates
    * delete ≡ rebuild-without). Retained older versions still see the
    * docs (takedown of HISTORY is [[compactPostings]] + retention aging
    * the old manifests out).
    */
  def deletePostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      keepHistory: Int = 5): String =
    postingsStore.delete(publishDir, sourceVersion, docs, idCol, keepHistory)

  /** Idempotent per-batch absorb for STREAMING retrieval-index ingest
    * ([[graft.streaming.EventStreams.postingsIngestStream]]) —
    * [[absorbAnnBatch]]'s contract applied to the postings lifecycle.
    * Returns the live version dir; [[publishPostings]] must have run
    * first.
    */
  def absorbPostingsBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5): String =
    postingsStore.absorb(spark, publishDir, batchId, keepHistory)(
      appendPostings(spark, publishDir, s"batch-$batchId", newDocs, idCol, textCol,
        keepHistory, absorbBatchId = Some(batchId)))

  /** Weekly compaction of the postings index — the retrieval analog of
    * [[compactAnn]]: rewrite the live segment union as ONE segment,
    * bounding read-side manifest fan-in (365 segments/year otherwise).
    * The union is bit-identical to a full rebuild (additive
    * df/dl/avgdl — q158 gates compact ≡ rebuild through the BM25
    * tail).
    */
  def compactPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      keepHistory: Int = 5): String =
    postingsStore.compact(spark, publishDir, sourceVersion, keepHistory)

  /** The catalog the reference publishes as index.json
    * (yml:176-222): size, update time token, row count, usage snippet.
    */
  def writeIndex(publishDir: String, latest: String, rows: Long, version: String): Unit =
    writeIndex(publishDir, rows, version, activeConf)

  private def writeIndex(publishDir: String, rows: Long, version: String, conf: Configuration): Unit =
    Json.commit(new Path(publishDir, "index.json"), Seq(
      "file" -> "changesets.parquet", "rows" -> rows, "source_version" -> version,
      "usage" -> "SELECT COUNT(*) FROM 'changesets.parquet'"), conf)

  /** Row-level incremental merge — the upgrade path past the
    * reference's reprocess-everything contract: union the published
    * snapshot with an incoming (partial) snapshot and keep ONE row per
    * id, preferring the incoming side (changesets mutate after
    * creation: closed_at/open/num_changes change on close). One
    * shuffle on id; at fleet scale both sides are id-partitioned
    * parquet so AQE keeps the exchange lean. Within a side, duplicate
    * ids resolve to the newest created_at; rows identical in (side,
    * created_at) have no further tiebreak — callers needing one
    * should dedup a side first.
    */
  def mergeSnapshots(
      published: org.apache.spark.sql.DataFrame,
      incoming: org.apache.spark.sql.DataFrame,
      idCol: String = "id"): org.apache.spark.sql.DataFrame = {
    val srcCol = "__merge_src"
    val tagged = published.withColumn(srcCol, lit(0))
      .unionByName(incoming.withColumn(srcCol, lit(1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col(srcCol).desc, col("created_at").desc_nulls_last)
    tagged
      .withColumn("__merge_rn", row_number().over(w))
      .filter(col("__merge_rn") === 1)
      .drop(srcCol, "__merge_rn")
  }

  /** Keep the newest N changeset artifacts. Newness is filesystem
    * mtime, not the version token: the documented sourceVersion is any
    * opaque changing string (e.g. an HTTP Last-Modified header), which
    * is NOT lexicographically monotonic — 'Wed, 21 Oct ...' tokens
    * sort by weekday and a token sort could delete the newest artifact
    * (the reference's `sort -r` in manage-r2.sh:94-102 works only
    * because its tokens are zero-padded epoch-like names). These
    * artifacts carry no manifest; the segment stores order by their
    * manifests' `seq` instead ([[SegmentStore.applyRetention]]).
    */
  def applyRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit =
    applyRetention(new Path(publishDir).getFileSystem(activeConf), publishDir, keep, protect)

  private def applyRetention(fs: FileSystem, publishDir: String, keep: Int,
      protect: Option[String]): Unit =
    retainNewest(fs, children(fs, new Path(publishDir))
      .filter(_.getPath.getName.matches("changesets-.*\\.parquet"))
      .sortBy(c => (c.getModificationTime, c.getPath.getName)).reverse.map(_.getPath),
      keep, protect.map(new Path(_)))

  /** Delete all but the first `keep` of `newestFirst` — except the
    * artifact `protect` names (the current pointer's target), even
    * when the order would age it out (e.g. a rollback flip back to an
    * old version followed by N new publishes). Returns what it deleted.
    */
  private[changesets] def retainNewest(
      fs: FileSystem, newestFirst: Seq[Path], keep: Int, protect: Option[Path]): Seq[Path] = {
    val keepAlways = protect.map(fs.makeQualified)
    val gone = newestFirst.drop(keep).filterNot(p => keepAlways.contains(fs.makeQualified(p)))
    gone.foreach(fs.delete(_, true))
    gone
  }

  /** The entries of `dir`; none when it does not exist. */
  private[graft] def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
}

/** One version of a [[SegmentStore]]: its commit record. All refs are
  * publishDir-relative. Tombstone t hides ids in the first `scopes(t)`
  * segments only — the segments the version held when the delete
  * committed — so rows a later append re-adds under a deleted id show,
  * while the deleted rows stay hidden (per-segment deletion, like a
  * lakehouse deletion vector). `absorbed` holds the streaming micro-batch ids
  * the version contains, carried forward by every later version (a
  * compaction rewrites the segment list, so the list alone stops being
  * evidence of absorption). `seq` orders versions for retention: 1 +
  * the largest seq among the manifests retained when it committed.
  * `parent` names the version an append, delete or compact was built
  * from (its dir name and seq; a publish builds on none). `stats` holds
  * the [[RefStats]] of each ref that stored them, keyed by the ref; a
  * ref without an entry has none. Absent fields (manifests from before
  * a field existed) read as empty, an absent `seq` as 0, absent scopes
  * as every segment (the manifest's writer applied each tombstone to
  * all of them).
  */
private[graft] final case class SegmentManifest(
    segments: Seq[String],
    tombstones: Seq[String] = Nil,
    absorbed: Set[Long] = Set.empty,
    model: Option[String] = None,
    seq: Long = 0L,
    parent: Option[(String, Long)] = None,
    scopes: Seq[Int] = Nil,
    stats: Map[String, RefStats] = Map.empty) {
  def refs: Seq[String] = model.toSeq ++ segments ++ tombstones

  /** The tombstones that hide segment `i`: those committed after it. */
  def hiddenBy(i: Int): Seq[String] = tombstones.zip(scopes).collect { case (t, s) if i < s => t }

  /** Every data segment and tombstone carries stored statistics. */
  def figured: Boolean = (segments ++ tombstones).forall(stats.contains)
}

/** The collection statistics a store records for one ref at write time
  * (see [[SegmentStore]]): for a data segment, the docs it holds (`nd`)
  * and their summed length (`sumDl`); for a tombstone, the same figures
  * of the rows it hides.
  */
private[graft] final case class RefStats(nd: Long, sumDl: Long)

/** A versioned index as manifests over IMMUTABLE segments — the
  * snapshot-isolation idea of lakehouse table formats, reduced to what
  * the ANN and postings indexes need:
  *
  *   publishDir/<segmentDir>/seg-<v>/   data segment (publish, append, compact)
  *   publishDir/<segmentDir>/tomb-<v>/  tombstone segment: ids that reads
  *                                      of a version subtract from the
  *                                      segments the delete saw
  *   publishDir/<segmentDir>/<ref>/_lexicon/  a ref's stored lexicon
  *                                      (stores with `figures` only)
  *   publishDir/<prefix><v>/manifest.json   one version ([[SegmentManifest]])
  *   publishDir/<pointerName>           the pointer: names the live version
  *
  * Every write follows one order: data segments, then the manifest
  * (the version's commit record), then the pointer flip, then
  * retention. A crash before the manifest leaves unreferenced segments
  * that the next retention garbage-collects; a crash before the flip
  * leaves readers on the parent version. Segments are never rewritten,
  * so an append costs O(delta), a flip back is a true rollback, and a
  * segment is deleted only once no retained manifest references it.
  *
  * What differs between indexes is the constructor: `kind` names the
  * public operations in errors (`appendAnn`, `publishPostings`, …),
  * `idCol` is the id column tombstones hold, `partitionCol` the
  * column a data segment is clustered and partitioned by, `modelDir`
  * a directory of extra refs (the ANN model) collected like segments,
  * `sortColumns` fixes the read's column order whatever order the
  * segments' footers hold, and `prepare` completes a data segment's
  * rows before they are written (the postings' stored per-doc
  * statistics).
  *
  * `figures`, when given, records collection statistics at write time
  * (the postings' BM25 statistics): it is handed a ref's rows and the
  * ref's `_lexicon` dir, writes what it keeps there and returns the
  * ref's [[RefStats]], which the manifest's `stats` field records. A
  * data segment's rows are the rows it holds, read back after its
  * write; a tombstone's are the rows of the live version it hides. A
  * tombstone gets figures only when every ref of the live version has
  * them, so a version's figures are either complete or unused. Spark
  * skips `_`-prefixed dirs, so segment reads, tombstone reads and
  * garbage collection are unchanged, and a crash before the manifest
  * leaves the lexicon in the orphaned ref dir that retention deletes.
  * Such a store remembers the frames [[read]] returns ([[opened]]).
  */
private[graft] final class SegmentStore(
    kind: String,
    prefix: String,
    pointerName: String,
    segmentDir: String,
    idCol: String,
    partitionCol: Option[String],
    modelDir: Option[String],
    sortColumns: Boolean,
    prepare: DataFrame => DataFrame = identity,
    figures: Option[(DataFrame, String) => RefStats] = None) {
  import Pipeline.{activeConf, children, safeVersion}
  import SegmentStore.Listing

  /** The frames [[read]] returned, weakly held and keyed by identity
    * (a Dataset keeps Object's equality), with the version each one
    * is. A frame derived from one (a projection, a filter, a
    * checkpoint) is a different object and is not here.
    */
  private val returned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, (String, SegmentManifest)]())

  /** The (publishDir, manifest) of the version `df` is, when `df` is a
    * frame this store's [[read]] returned.
    */
  def opened(df: DataFrame): Option[(String, SegmentManifest)] = Option(returned.get(df))

  def readCurrent(publishDir: String): Option[String] = readCurrent(publishDir, activeConf)

  private def readCurrent(publishDir: String, conf: Configuration): Option[String] =
    Pipeline.readPointer(publishDir, pointerName, "dir", conf)

  /** Atomically point the pointer at an already-committed version dir.
    * Flipping BACK to an older dir is the rollback.
    */
  def flipPointer(publishDir: String, versionDir: String, version: String): Unit =
    flipPointer(publishDir, versionDir, version, activeConf)

  private def flipPointer(publishDir: String, versionDir: String, version: String,
      conf: Configuration): Unit =
    Json.commit(new Path(publishDir, pointerName),
      Seq("dir" -> versionDir, "source_version" -> version), conf)

  /** A version dir's manifest. Fails loudly on a dir with no manifest —
    * a half-written version must never be readable.
    */
  def readManifest(versionDir: String): SegmentManifest = readManifest(versionDir, activeConf)

  private def readManifest(versionDir: String, conf: Configuration): SegmentManifest =
    manifest(versionDir, conf).getOrElse(throw new IllegalStateException(
      s"$kind version at $versionDir has no manifest.json — the version is incomplete " +
        "(a write commits its segments first, the manifest last)"))

  /** The manifest of the version dir `versionDir`; None when it has none. */
  private def manifest(versionDir: String, conf: Configuration): Option[SegmentManifest] =
    Json.read(new Path(versionDir, "manifest.json"), conf).map { j =>
      if (!j.has("segments"))
        throw new IllegalStateException(s"manifest at $versionDir names no segments")
      def all(field: String) = j.path(field).elements.asScala.toSeq
      val segments = all("segments").map(_.asText)
      val tombstones = all("tombstones").map(_.asText)
      val scopes =
        if (j.has("tombstone_scopes")) all("tombstone_scopes").map(_.asInt)
        else tombstones.map(_ => segments.size)
      if (scopes.size != tombstones.size || scopes.exists(s => s < 0 || s > segments.size))
        throw new IllegalStateException(
          s"manifest at $versionDir has tombstone scopes $scopes that do not fit its " +
            s"${tombstones.size} tombstone(s) over ${segments.size} segment(s)")
      val stats = j.path("stats").properties.asScala.flatMap { e =>
        for (nd <- Json.long(e.getValue, "nd"); dl <- Json.long(e.getValue, "sum_dl"))
          yield e.getKey -> RefStats(nd, dl)
      }.toMap
      SegmentManifest(segments, tombstones,
        all("absorbed").map(_.asLong).toSet, Option(j.get("model")).map(_.asText),
        j.path("seq").asLong(0L),
        Option(j.get("parent")).map(p => (p.asText, j.path("parent_seq").asLong(0L))),
        scopes, stats)
    }

  private def list(publishDir: String, conf: Configuration): Listing = {
    val fs = new Path(publishDir).getFileSystem(conf)
    val dirs = children(fs, new Path(publishDir)).filter(c =>
      c.isDirectory && c.getPath.getName.startsWith(prefix))
      .map(c => c.getPath.getName -> c.getModificationTime).toMap
    Listing(publishDir, conf, dirs,
      dirs.keys.flatMap(n => manifest(s"$publishDir/$n", conf).map(n -> _)).toMap)
  }

  /** Keep the newest N versions by manifest `seq` (mtime, then name,
    * break ties among manifests without one), never deleting `protect`;
    * then garbage-collect every segment and model no retained manifest
    * references — including the orphans of a write that crashed before
    * its manifest commit. Reference counting via the manifests is what
    * lets versions share segments without copies while rollback and
    * retention stay safe.
    */
  def applyRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit =
    retain(list(publishDir, activeConf), keep, protect.map(new Path(_)))

  private def retain(l: Listing, keep: Int, protect: Option[Path]): Unit = {
    val fs = l.fs
    val root = new Path(l.publishDir)
    val newestFirst = l.dirs.toSeq.sortBy { case (n, mtime) =>
      (l.manifests.get(n).fold(-1L)(_.seq), mtime, n) }.reverse.map(d => new Path(root, d._1))
    val gone = Pipeline.retainNewest(fs, newestFirst, keep, protect).map(_.getName).toSet
    val held = l.copy(manifests = l.manifests.filter(v => !gone(v._1))).referenced
    (segmentDir +: modelDir.toSeq).foreach { store =>
      children(fs, new Path(root, store))
        .filterNot(c => held(s"$store/${c.getPath.getName}"))
        .foreach(c => fs.delete(c.getPath, true))
    }
  }

  /** A version's rows as ONE DataFrame: each segment minus the ids of
    * the tombstones that hide it ([[SegmentManifest.hiddenBy]]).
    * Tombstoned ids subtract at READ time (deletion is a manifest
    * operation, segments stay immutable); the takedown set is tiny
    * relative to the index, so it broadcasts onto the anti join —
    * undeduplicated, as duplicates on an anti join's build side cannot
    * change its result. Consecutive segments hidden by the same
    * tombstones are one scan with one anti join, so a version with no
    * segment appended after a delete reads as one union and one anti
    * join. Opening a version launches no Spark job ([[readSegments]]).
    * A store with `figures` remembers the returned frame ([[opened]]).
    */
  def read(spark: SparkSession, versionDir: String): DataFrame =
    read(spark, new Path(versionDir).getParent.toString,
      readManifest(versionDir, spark.sessionState.newHadoopConf()))

  /** [[read]] of the version of `publishDir` whose manifest is `m`. */
  private def read(spark: SparkSession, publishDir: String, m: SegmentManifest): DataFrame = {
    val runs = m.segments.indices.foldLeft(Vector.empty[(Vector[String], Seq[String])]) {
      case (acc :+ ((segs, tombs)), i) if m.hiddenBy(i) == tombs =>
        acc :+ ((segs :+ m.segments(i), tombs))
      case (acc, i) => acc :+ ((Vector(m.segments(i)), m.hiddenBy(i)))
    }
    val union = unionCommon(runs.map { case (segs, tombs) =>
      val rows = readSegments(spark, publishDir, segs)
      if (tombs.isEmpty) rows
      else rows.join(broadcast(readSegments(spark, publishDir, tombs).select(col(idCol))),
        Seq(idCol), "left_anti")
    })
    val out = if (sortColumns) union.select(union.columns.sorted.map(col).toSeq: _*) else union
    if (figures.isDefined) returned.put(out, (publishDir, m))
    out
  }

  /** Publish `rows` as a new version holding one segment (and `model`,
    * when the index has one), and flip the pointer to it. Returns the
    * version dir.
    */
  def publish(spark: SparkSession, publishDir: String, sourceVersion: String, rows: DataFrame,
      keepHistory: Int, model: Option[String] = None): String = {
    val segRef = ref("seg", sourceVersion)
    val stats = writeData(rows, publishDir, segRef)
    commit(list(publishDir, spark.sessionState.newHadoopConf()), sourceVersion,
      SegmentManifest(Seq(segRef), model = model, stats = stats), keepHistory)
  }

  /** O(delta) append: `encode` turns the batch into the delta segment's
    * rows (given the live manifest, e.g. for its frozen model); the new
    * version is the live one plus that segment. The disjoint-batch
    * contract is CHECKED — a re-appended id would duplicate its rows
    * (plain union, no dedup: dedup here would mask real upstream id
    * collisions) — by one broadcast semi-join count of the live index
    * against the batch's ids. That count reads the FILTERED index, so a
    * deleted id may be re-added: the live tombstones keep their scopes,
    * which end before the new segment, so its new rows show and its
    * old rows stay hidden.
    */
  def append(spark: SparkSession, publishDir: String, sourceVersion: String, batch: DataFrame,
      batchIdCol: String, keepHistory: Int, absorbBatchId: Option[Long])(
      encode: SegmentManifest => DataFrame): String = {
    val l = list(publishDir, spark.sessionState.newHadoopConf())
    val (cur, m) = live(l, s"append$kind")
    requireFresh(s"append$kind", l, cur, sourceVersion)
    val newIds = batch.select(col(batchIdCol).as(idCol)).distinct()
    val delta = encode(m)
    val dup = read(spark, publishDir, m).join(broadcast(newIds), Seq(idCol), "left_semi").count()
    require(dup == 0L,
      s"append$kind: $dup row(s) of the live index at $cur share an id with the new " +
        "batch — batches must be disjoint (re-running an already-appended batch would " +
        "duplicate its rows).")
    val segRef = ref("seg", sourceVersion)
    val stats = writeData(delta, publishDir, segRef)
    commit(l, sourceVersion, child(cur, m).copy(segments = m.segments :+ segRef,
      absorbed = m.absorbed ++ absorbBatchId, stats = m.stats ++ stats), keepHistory)
  }

  /** Takedown: one tombstone segment of `ids`, scoped to the version's
    * current segments, and a version whose tombstone list grows by it;
    * data segments stay untouched, retained versions still see the
    * rows, a later append may re-add an id ([[append]]), compaction
    * materializes and clears. With `figures`, the rows the tombstone
    * hides are the live version's rows with its ids: earlier
    * tombstones already subtract theirs, so no row is hidden twice.
    */
  def delete(publishDir: String, sourceVersion: String, ids: DataFrame, idsCol: String,
      keepHistory: Int): String = {
    val spark = ids.sparkSession
    val l = list(publishDir, spark.sessionState.newHadoopConf())
    val (cur, m) = live(l, s"delete$kind")
    requireFresh(s"delete$kind", l, cur, sourceVersion)
    val tRef = ref("tomb", sourceVersion)
    ids.select(col(idsCol).as(idCol)).distinct().write.mode("overwrite").parquet(s"$publishDir/$tRef")
    val stats = if (!m.figured) Map.empty else recordFigures(publishDir, tRef,
      read(spark, publishDir, m).join(broadcast(readSegments(spark, publishDir, Seq(tRef))),
        Seq(idCol), "left_semi"))
    commit(l, sourceVersion, child(cur, m).copy(tombstones = m.tombstones :+ tRef,
      scopes = m.scopes :+ m.segments.size, stats = m.stats ++ stats), keepHistory)
  }

  /** Rewrite the live version's rows as ONE segment under a new
    * version — O(index), paid only when scheduled. A version with one
    * segment and no tombstones is already compact: it comes back
    * unchanged and nothing is written. Absorbed batch ids survive the
    * rewrite, so an at-least-once replay never looks like a fresh batch.
    */
  def compact(spark: SparkSession, publishDir: String, sourceVersion: String,
      keepHistory: Int): String = {
    val l = list(publishDir, spark.sessionState.newHadoopConf())
    val (cur, m) = live(l, s"compact$kind")
    if (m.segments.size <= 1 && m.tombstones.isEmpty) return cur
    requireFresh(s"compact$kind", l, cur, sourceVersion)
    val segRef = ref("seg", sourceVersion)
    val stats = writeData(read(spark, publishDir, m), publishDir, segRef)
    commit(l, sourceVersion, child(cur, m).copy(segments = Seq(segRef), tombstones = Nil,
      scopes = Nil, stats = stats), keepHistory)
  }

  /** Idempotent per-batch absorb for streaming ingest: run `append`
    * (an append under the token `batch-<id>` that records `batchId` as
    * absorbed) unless the live version already holds the batch.
    * foreachBatch is at-least-once, so a batch can come back:
    *   - already absorbed (the live manifest's absorbed set, or, for
    *     manifests without that field, its segment list, names it):
    *     the live dir comes back unchanged;
    *   - after a crash between its manifest commit and its pointer
    *     flip: its committed version names the live version (dir and
    *     seq) as its parent and absorbed exactly this batch on top of
    *     it, so the replay completes that commit — flip and retention —
    *     instead of writing anything. A version built from any other
    *     parent (the live one moved on, e.g. by a takedown) is never
    *     flipped to: that would drop what the live version added;
    *   - anything else reaches `append`, whose token checks refuse a
    *     version that would overwrite what a retained manifest names.
    */
  def absorb(spark: SparkSession, publishDir: String, batchId: Long, keepHistory: Int)(
      append: => String): String = {
    val l = list(publishDir, spark.sessionState.newHadoopConf())
    val (cur, m) = live(l, s"absorb${kind}Batch")
    val name = prefix + s"batch-$batchId"
    def extendsLive(b: SegmentManifest) =
      b.parent == child(cur, m).parent && b.absorbed == m.absorbed + batchId
    if (m.absorbed(batchId) || m.segments.contains(ref("seg", s"batch-$batchId"))) cur
    else if (l.manifests.get(name).exists(extendsLive)) flip(l, name, s"batch-$batchId", keepHistory)
    else append
  }

  /** The live version of a listed publish dir: its dir and manifest. */
  private def live(l: Listing, op: String): (String, SegmentManifest) = {
    val cur = readCurrent(l.publishDir, l.conf).getOrElse(throw new IllegalStateException(
      s"$op: no current $kind version under ${l.publishDir} — publish$kind must run first"))
    (cur, l.manifests.getOrElse(new Path(cur).getName, readManifest(cur, l.conf)))
  }

  /** `m` (the live version at `cur`) as the parent of a new version. */
  private def child(cur: String, m: SegmentManifest): SegmentManifest =
    m.copy(parent = Some((new Path(cur).getName, m.seq)))

  private def ref(what: String, sourceVersion: String): String =
    s"$segmentDir/$what-${safeVersion(sourceVersion)}"

  /** Segments are immutable: the names a new version writes — its
    * version dir, data segment and tombstone segment — must be ones no
    * retained manifest is or references. Checking only the LIVE
    * manifest would miss the segments an older, still-rollback-able
    * manifest holds (after a compaction the live manifest names one
    * segment), and `mode("overwrite")` would destroy them.
    */
  private def requireFresh(op: String, l: Listing, cur: String, sourceVersion: String): Unit = {
    val clash = Seq(prefix + safeVersion(sourceVersion), ref("seg", sourceVersion),
      ref("tomb", sourceVersion)).filter(l.referenced)
    require(clash.isEmpty,
      s"$op: sourceVersion '$sourceVersion' resolves to ${clash.mkString("'", "', '", "'")}, " +
        s"which a retained manifest already references (the live version is '$cur') — " +
        "writing it would overwrite the index it is reading or corrupt every version built " +
        "on it. Use a fresh version token.")
  }

  /** Write the data segment `segRef` from `rows` (completed by
    * `prepare`); returns its figures, keyed by the ref.
    */
  private def writeData(rows: DataFrame, publishDir: String, segRef: String): Map[String, RefStats] = {
    val out = prepare(rows)
    val path = s"$publishDir/$segRef"
    partitionCol match {
      // cluster-collocate before the partitioned write: without it every
      // upstream partition emits a file into every cluster dir; with it
      // each cluster's rows land in one file, so a probe opens nprobe
      // files, not nprobe × thousands
      case Some(c) => out.repartition(col(c)).write.mode("overwrite").partitionBy(c).parquet(path)
      case None => out.write.mode("overwrite").parquet(path)
    }
    recordFigures(publishDir, segRef, readSegments(rows.sparkSession, publishDir, Seq(segRef)))
  }

  /** `figures` of `rows` for the ref `r`, its lexicon inside the ref's
    * dir; nothing for a store without figures.
    */
  private def recordFigures(publishDir: String, r: String, rows: => DataFrame): Map[String, RefStats] =
    figures.map(f => r -> f(rows, s"$publishDir/$r/${SegmentStore.LexiconDir}")).toMap

  /** Commit `m` as the version of `sourceVersion` — the manifest LAST,
    * after every segment it names, with seq = 1 + the largest seq `l`
    * lists — then flip to it.
    */
  private def commit(l: Listing, sourceVersion: String, m: SegmentManifest,
      keepHistory: Int): String = {
    val name = prefix + safeVersion(sourceVersion)
    val committed = m.copy(seq = 1L + l.manifests.values.map(_.seq).maxOption.getOrElse(0L))
    val stats = ListMap(committed.stats.toSeq.sortBy(_._1).map { case (r, s) =>
      r -> ListMap("nd" -> s.nd, "sum_dl" -> s.sumDl) }: _*)
    Json.commit(new Path(s"${l.publishDir}/$name", "manifest.json"),
      committed.model.map("model" -> _).toSeq ++ Seq(
        "segments" -> committed.segments, "tombstones" -> committed.tombstones,
        "tombstone_scopes" -> committed.scopes, "absorbed" -> committed.absorbed.toSeq.sorted,
        "source_version" -> sourceVersion, "seq" -> committed.seq) ++
        committed.parent.toSeq.flatMap { case (p, ps) => Seq("parent" -> p, "parent_seq" -> ps) } ++
        Option.when(stats.nonEmpty)("stats" -> stats), l.conf)
    flip(l.committed(name, committed), name, sourceVersion, keepHistory)
  }

  /** Flip the pointer to the committed version `name`, then apply
    * retention to the listing `l`, which holds it.
    */
  private def flip(l: Listing, name: String, sourceVersion: String, keepHistory: Int): String = {
    flipPointer(l.publishDir, name, sourceVersion, l.conf)
    retain(l, keepHistory, protect = Some(new Path(l.publishDir, name)))
    s"${l.publishDir}/$name"
  }

  /** The Spark schema key in the footer of every parquet file Spark
    * writes — the schema Spark's own inference returns for the file.
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** A segment or tombstone dir's data schema, read on the driver from
    * the footer of its first data file, and whether its rows sit under
    * `col=value` partition dirs. None when there is no such footer (an
    * empty partitioned write, a file Spark did not write): the reader
    * then leaves the dir to Spark's own inference and its errors.
    */
  private def segmentLayout(conf: Configuration, dir: String): Option[(StructType, Boolean)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def visible(name: String) = !name.startsWith("_") && !name.startsWith(".")
    def firstFile(p: Path, depth: Int): Option[(Path, Int)] = {
      val (dirs, files) = fs.listStatus(p).filter(s => visible(s.getPath.getName))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.map(f => (f.getPath, depth)).orElse(
        dirs.iterator.filter(_.getPath.getName.contains("="))
          .flatMap(d => firstFile(d.getPath, depth + 1)).nextOption())
    }
    if (!fs.exists(root)) None
    else firstFile(root, 0).flatMap { case (file, depth) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
        finally reader.close()
      Option(json).map(j => (DataType.fromJson(j).asInstanceOf[StructType], depth > 0))
    }
  }

  /** The one reader for segment and tombstone refs (publishDir-relative):
    * their union as ONE DataFrame, opened without a Spark job. A bare
    * `spark.read.parquet` runs a schema-inference job per ref; here the
    * schema comes from the ref's footer ([[segmentLayout]]) and is
    * passed to `spark.read.schema`, which is what inference would have
    * returned. Partition discovery (`cluster=`) still applies, so
    * partition pruning holds. Unpartitioned refs that share a schema
    * are one multi-path scan (at most the parallel-listing threshold
    * of paths each, so listing stays on the driver); the rest union by
    * name ([[unionCommon]]), so refs whose column order differs still
    * read.
    */
  private def readSegments(spark: SparkSession, publishDir: String, refs: Seq[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val maxPaths = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    final case class Scan(schema: Option[StructType], flat: Boolean, paths: Vector[String])
    val scans = refs.foldLeft(Vector.empty[Scan]) { (acc, r) =>
      val p = s"$publishDir/$r"
      val layout = segmentLayout(conf, p)
      val flat = layout.exists(!_._2)
      val i = acc.indexWhere(s => flat && s.flat && s.schema == layout.map(_._1) &&
        s.paths.size < maxPaths)
      if (i >= 0) acc.updated(i, acc(i).copy(paths = acc(i).paths :+ p))
      else acc :+ Scan(layout.map(_._1), flat, Vector(p))
    }
    unionCommon(scans.map {
      case Scan(Some(schema), _, ps) => spark.read.schema(schema).parquet(ps: _*)
      case Scan(None, _, ps) => spark.read.parquet(ps: _*)
    })
  }

  /** The union by column name of `frames` over the columns they all
    * hold. A column only some segments carry — one a newer writer adds,
    * like the postings' stored `dl`/`lead` — is left out, and readers
    * that need it derive it (Retrieval.withDocStats).
    */
  private def unionCommon(frames: Seq[DataFrame]): DataFrame = {
    val common = frames.map(_.columns.toSet).reduce(_ intersect _)
    frames.map(f => if (f.columns.forall(common)) f else f.select(f.columns.filter(common).map(col).toSeq: _*))
      .reduce(_.unionByName(_))
  }
}

private[graft] object SegmentStore {
  /** The dir inside a ref's dir that holds its stored lexicon. */
  val LexiconDir = "_lexicon"

  /** One listing of a publish dir: every version dir (its name and
    * mtime) and the manifest of each committed one, keyed by dir name.
    * A write lists once and passes the listing down, so it opens each
    * retained manifest once.
    */
  final case class Listing(publishDir: String, conf: Configuration,
      dirs: Map[String, Long], manifests: Map[String, SegmentManifest]) {
    def fs: FileSystem = new Path(publishDir).getFileSystem(conf)

    /** The names retained versions hold: their dirs and every ref their
      * manifests name — what garbage collection keeps and what a new
      * version must not overwrite.
      */
    def referenced: Set[String] = manifests.flatMap { case (n, m) => n +: m.refs }.toSet

    /** This listing once `m` is committed as version `name`. */
    def committed(name: String, m: SegmentManifest): Listing =
      copy(dirs = dirs.updated(name, dirs.getOrElse(name, System.currentTimeMillis)),
        manifests = manifests.updated(name, m))
  }
}
