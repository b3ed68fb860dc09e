package graft.changesets

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** The committed `.last-modified` marker (reference
    * process-changesets-r2.yml:44-50,224-234).
    */
  def readMarker(stateDir: String): Option[String] = {
    val p = Paths.get(stateDir, ".last-modified")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  def writeMarker(stateDir: String, value: String): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    Files.writeString(Paths.get(stateDir, ".last-modified"), value + "\n")
  }

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

    if (!force && readMarker(stateDir).contains(sourceVersion))
      return Result(ran = false, rows = 0L, published = None,
        reason = s"unchanged (version $sourceVersion)")

    // convert to a timestamped artifact, then overwrite-publish the
    // stable name (yml:145-162 publishes changesets.parquet + keeps a
    // versioned copy; retention below mirrors manage-r2.sh:94-102)
    val versioned = s"$publishDir/changesets-${safeVersion(sourceVersion)}.parquet"
    ChangesetConverter.convert(spark, inputXml, versioned, opts)
    val rows = spark.read.parquet(versioned).count()

    // publish the stable name as a byte-identical COPY of the
    // versioned artifact (no second Spark job re-encoding the same
    // data), staged + renamed so readers race a rename, not a
    // multi-second overwrite-in-place (the reference's `aws s3 cp`
    // overwrite has the same race; object-store copies are per-object
    // atomic there)
    val latest = s"$publishDir/changesets.parquet"
    val latestPath = Paths.get(latest)
    val staging = Paths.get(publishDir, ".changesets.parquet.staging")
    val retired = Paths.get(publishDir, ".changesets.parquet.retired")
    recoverPublish(publishDir)
    deleteRecursively(staging)
    deleteRecursively(retired)
    copyRecursively(Paths.get(versioned), staging)
    if (Files.exists(latestPath)) Files.move(latestPath, retired)
    Files.move(staging, latestPath)
    deleteRecursively(retired)

    writeIndex(publishDir, latest, rows, sourceVersion)
    applyRetention(publishDir, keepHistory)
    writeMarker(stateDir, sourceVersion)
    Result(ran = true, rows = rows, published = Some(latest),
      reason = if (force) "forced" else "source changed")
  }

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
  def recoverPublish(publishDir: String): Unit = {
    val latestPath = Paths.get(publishDir, "changesets.parquet")
    val retired = Paths.get(publishDir, ".changesets.parquet.retired")
    if (!Files.exists(latestPath) && Files.exists(retired))
      Files.move(retired, latestPath)
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
  // Locally the pointer write is modeled the same way ([[commitJson]]):
  // write the new pointer content to a temp name, then one Files.move —
  // the single-small-object flip that maps to one PUT on a store.
  // ------------------------------------------------------------------

  private val PointerName = "current.json"

  private val JsonOut = graft.Json.Mapper.writer(new DefaultPrettyPrinter().withSeparators(
    Separators.createDefaultInstance().withObjectFieldValueSpacing(Separators.Spacing.AFTER)))

  /** The one commit primitive for pointers, manifests and the catalog:
    * `fields` as a JSON object written to a temp name beside `target`,
    * then one atomic move onto it. A reader sees the old file or the
    * new one, never a torn write.
    */
  private[changesets] def commitJson(target: JPath, fields: (String, Any)*): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.writeString(tmp, JsonOut.writeValueAsString(ListMap(fields: _*)))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private[changesets] def readJson(p: JPath): JsonNode = graft.Json.read(p)

  /** The publishDir-relative path a pointer file's `field` names,
    * resolved against publishDir (None before the first flip).
    */
  private[changesets] def readPointer(
      publishDir: String, name: String, field: String): Option[String] = {
    val p = Paths.get(publishDir, name)
    if (!Files.exists(p)) None
    else Option(readJson(p).get(field)).map(f => s"$publishDir/${f.asText}")
  }

  /** Atomically point `current.json` at an already-written versioned
    * artifact. Call ONLY after the artifact is fully written (the
    * caller's Spark write has committed).
    */
  def flipPointer(publishDir: String, versionedFile: String, rows: Long, version: String): Unit =
    commitJson(Paths.get(publishDir, PointerName),
      "file" -> versionedFile, "rows" -> rows, "source_version" -> version)

  /** Resolve the current pointer to the artifact path it names (None
    * before the first publish). This is the whole reader protocol:
    * one small read, then open the immutable artifact.
    */
  def readCurrent(publishDir: String): Option[String] = readPointer(publishDir, PointerName, "file")

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

    if (!force && readMarker(stateDir).contains(sourceVersion))
      return Result(ran = false, rows = 0L, published = None,
        reason = s"unchanged (version $sourceVersion)")

    Files.createDirectories(Paths.get(publishDir))
    val versionedFile = s"changesets-${safeVersion(sourceVersion)}.parquet"
    val versioned = s"$publishDir/$versionedFile"
    ChangesetConverter.convert(spark, inputXml, versioned, opts)
    val rows = spark.read.parquet(versioned).count()

    flipPointer(publishDir, versionedFile, rows, sourceVersion)
    applyRetention(publishDir, keepHistory, protect = readCurrent(publishDir))
    writeMarker(stateDir, sourceVersion)
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
    s"${Paths.get(pairDir).getParent}/${readAnnManifest(pairDir)._1}"

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
    annStore.absorb(publishDir, batchId, keepHistory)(
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
  // ------------------------------------------------------------------

  private[graft] val postingsStore = new SegmentStore(
    kind = "Postings", prefix = "post-", pointerName = "postings_current.json",
    segmentDir = "_postings_segments", idCol = "doc", partitionCol = None,
    modelDir = None, sortColumns = false, prepare = graft.operators.Retrieval.withDocStats)

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
    postingsStore.absorb(publishDir, batchId, keepHistory)(
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
    commitJson(Paths.get(publishDir, "index.json"),
      "file" -> "changesets.parquet", "rows" -> rows, "source_version" -> version,
      "usage" -> "SELECT COUNT(*) FROM 'changesets.parquet'")

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
  def applyRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit = {
    val dir = Paths.get(publishDir)
    if (Files.exists(dir))
      retainNewest(listChildren(dir)
        .filter(_.toString.matches(".*/changesets-.*\\.parquet$"))
        .sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.toString)).reverse, keep, protect)
  }

  /** Delete all but the first `keep` of `newestFirst` — except the
    * artifact `protect` names (the current pointer's target), even
    * when the order would age it out (e.g. a rollback flip back to an
    * old version followed by N new publishes).
    */
  private[changesets] def retainNewest(
      newestFirst: Seq[JPath], keep: Int, protect: Option[String]): Unit = {
    val keepAlways = protect.map(p => Paths.get(p).toAbsolutePath.normalize)
    newestFirst.drop(keep)
      .filterNot(p => keepAlways.contains(p.toAbsolutePath.normalize))
      .foreach(deleteRecursively)
  }

  private[changesets] def listChildren(p: JPath): Seq[JPath] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[JPath])
    finally s.close()
  }

  private[graft] def deleteRecursively(p: JPath): Unit = {
    if (Files.isDirectory(p)) listChildren(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private def copyRecursively(from: JPath, to: JPath): Unit = {
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      listChildren(from).foreach(c => copyRecursively(c, to.resolve(c.getFileName)))
    } else {
      Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    }
  }
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
  * from (its dir name and seq; a publish builds on none). Absent fields
  * (manifests from before a field existed) read as empty, an absent
  * `seq` as 0, absent scopes as every segment (the manifest's writer
  * applied each tombstone to all of them).
  */
private[graft] final case class SegmentManifest(
    segments: Seq[String],
    tombstones: Seq[String] = Nil,
    absorbed: Set[Long] = Set.empty,
    model: Option[String] = None,
    seq: Long = 0L,
    parent: Option[(String, Long)] = None,
    scopes: Seq[Int] = Nil) {
  def refs: Seq[String] = model.toSeq ++ segments ++ tombstones

  /** The tombstones that hide segment `i`: those committed after it. */
  def hiddenBy(i: Int): Seq[String] = tombstones.zip(scopes).collect { case (t, s) if i < s => t }
}

/** A versioned index as manifests over IMMUTABLE segments — the
  * snapshot-isolation idea of lakehouse table formats, reduced to what
  * the ANN and postings indexes need:
  *
  *   publishDir/<segmentDir>/seg-<v>/   data segment (publish, append, compact)
  *   publishDir/<segmentDir>/tomb-<v>/  tombstone segment: ids that reads
  *                                      of a version subtract from the
  *                                      segments the delete saw
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
    prepare: DataFrame => DataFrame = identity) {
  import Pipeline.{deleteRecursively, listChildren, safeVersion}

  def readCurrent(publishDir: String): Option[String] =
    Pipeline.readPointer(publishDir, pointerName, "dir")

  /** Atomically point the pointer at an already-committed version dir.
    * Flipping BACK to an older dir is the rollback.
    */
  def flipPointer(publishDir: String, versionDir: String, version: String): Unit =
    Pipeline.commitJson(Paths.get(publishDir, pointerName),
      "dir" -> versionDir, "source_version" -> version)

  /** A version dir's manifest. Fails loudly on a dir with no manifest —
    * a half-written version must never be readable.
    */
  def readManifest(versionDir: String): SegmentManifest = {
    val p = Paths.get(versionDir, "manifest.json")
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"$kind version at $versionDir has no manifest.json — the version is incomplete " +
          "(a write commits its segments first, the manifest last)")
    val j = Pipeline.readJson(p)
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
    SegmentManifest(segments, tombstones,
      all("absorbed").map(_.asLong).toSet, Option(j.get("model")).map(_.asText),
      j.path("seq").asLong(0L),
      Option(j.get("parent")).map(p => (p.asText, j.path("parent_seq").asLong(0L))),
      scopes)
  }

  /** Every committed version under publishDir, with its manifest. */
  private def versions(publishDir: String): Seq[(JPath, SegmentManifest)] = {
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) Nil
    else listChildren(dir)
      .filter(p => p.getFileName.toString.startsWith(prefix) &&
        Files.exists(p.resolve("manifest.json")))
      .map(p => p -> readManifest(p.toString))
  }

  /** The names retained versions hold: their dirs and every ref their
    * manifests name — what garbage collection keeps and what a new
    * version must not overwrite.
    */
  private def referenced(publishDir: String): Set[String] =
    versions(publishDir).flatMap { case (p, m) => p.getFileName.toString +: m.refs }.toSet

  /** Keep the newest N versions by manifest `seq` (mtime, then name,
    * break ties among manifests without one), never deleting `protect`;
    * then garbage-collect every segment and model no retained manifest
    * references — including the orphans of a write that crashed before
    * its manifest commit. Reference counting via the manifests is what
    * lets versions share segments without copies while rollback and
    * retention stay safe.
    */
  def applyRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit = {
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) return
    val seqOf = versions(publishDir).map { case (p, m) => p -> m.seq }.toMap
    Pipeline.retainNewest(listChildren(dir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
      .sortBy(p => (seqOf.getOrElse(p, -1L), Files.getLastModifiedTime(p).toMillis, p.toString))
      .reverse, keep, protect)
    val held = referenced(publishDir)
    (segmentDir +: modelDir.toSeq).map(dir.resolve).filter(Files.exists(_)).foreach { store =>
      listChildren(store)
        .filterNot(c => held.contains(s"${store.getFileName}/${c.getFileName}"))
        .foreach(deleteRecursively)
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
    */
  def read(spark: SparkSession, versionDir: String): DataFrame = {
    val publishDir = Paths.get(versionDir).getParent.toString
    val m = readManifest(versionDir)
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
    if (sortColumns) union.select(union.columns.sorted.map(col).toSeq: _*) else union
  }

  /** Publish `rows` as a new version holding one segment (and `model`,
    * when the index has one), and flip the pointer to it. Returns the
    * version dir.
    */
  def publish(spark: SparkSession, publishDir: String, sourceVersion: String, rows: DataFrame,
      keepHistory: Int, model: Option[String] = None): String = {
    Files.createDirectories(Paths.get(publishDir))
    val segRef = ref("seg", sourceVersion)
    writeData(rows, s"$publishDir/$segRef")
    commit(publishDir, sourceVersion, SegmentManifest(Seq(segRef), model = model), keepHistory)
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
    val (cur, m) = live(publishDir, s"append$kind")
    requireFresh(s"append$kind", publishDir, cur, sourceVersion)
    val newIds = batch.select(col(batchIdCol).as(idCol)).distinct()
    val delta = encode(m)
    val dup = read(spark, cur).join(broadcast(newIds), Seq(idCol), "left_semi").count()
    require(dup == 0L,
      s"append$kind: $dup row(s) of the live index at $cur share an id with the new " +
        "batch — batches must be disjoint (re-running an already-appended batch would " +
        "duplicate its rows).")
    val segRef = ref("seg", sourceVersion)
    writeData(delta, s"$publishDir/$segRef")
    commit(publishDir, sourceVersion, child(cur, m).copy(segments = m.segments :+ segRef,
      absorbed = m.absorbed ++ absorbBatchId), keepHistory)
  }

  /** Takedown: one tombstone segment of `ids`, scoped to the version's
    * current segments, and a version whose tombstone list grows by it;
    * data segments stay untouched, retained versions still see the
    * rows, a later append may re-add an id ([[append]]), compaction
    * materializes and clears.
    */
  def delete(publishDir: String, sourceVersion: String, ids: DataFrame, idsCol: String,
      keepHistory: Int): String = {
    val (cur, m) = live(publishDir, s"delete$kind")
    requireFresh(s"delete$kind", publishDir, cur, sourceVersion)
    val tRef = ref("tomb", sourceVersion)
    ids.select(col(idsCol).as(idCol)).distinct().write.mode("overwrite").parquet(s"$publishDir/$tRef")
    commit(publishDir, sourceVersion, child(cur, m).copy(tombstones = m.tombstones :+ tRef,
      scopes = m.scopes :+ m.segments.size), keepHistory)
  }

  /** Rewrite the live version's rows as ONE segment under a new
    * version — O(index), paid only when scheduled. A version with one
    * segment and no tombstones is already compact: it comes back
    * unchanged and nothing is written. Absorbed batch ids survive the
    * rewrite, so an at-least-once replay never looks like a fresh batch.
    */
  def compact(spark: SparkSession, publishDir: String, sourceVersion: String,
      keepHistory: Int): String = {
    val (cur, m) = live(publishDir, s"compact$kind")
    if (m.segments.size <= 1 && m.tombstones.isEmpty) return cur
    requireFresh(s"compact$kind", publishDir, cur, sourceVersion)
    val segRef = ref("seg", sourceVersion)
    writeData(read(spark, cur), s"$publishDir/$segRef")
    commit(publishDir, sourceVersion,
      child(cur, m).copy(segments = Seq(segRef), tombstones = Nil, scopes = Nil), keepHistory)
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
  def absorb(publishDir: String, batchId: Long, keepHistory: Int)(append: => String): String = {
    val (cur, m) = live(publishDir, s"absorb${kind}Batch")
    val segRef = ref("seg", s"batch-$batchId")
    val name = prefix + s"batch-$batchId"
    val committed = Paths.get(publishDir, name, "manifest.json")
    def extendsLive(b: SegmentManifest) =
      b.parent == child(cur, m).parent && b.absorbed == m.absorbed + batchId
    if (m.absorbed(batchId) || m.segments.contains(segRef)) cur
    else if (Files.exists(committed) && extendsLive(readManifest(committed.getParent.toString)))
      flip(publishDir, name, s"batch-$batchId", keepHistory)
    else append
  }

  private def live(publishDir: String, op: String): (String, SegmentManifest) = {
    val cur = readCurrent(publishDir).getOrElse(throw new IllegalStateException(
      s"$op: no current $kind version under $publishDir — publish$kind must run first"))
    (cur, readManifest(cur))
  }

  /** `m` (the live version at `cur`) as the parent of a new version. */
  private def child(cur: String, m: SegmentManifest): SegmentManifest =
    m.copy(parent = Some((Paths.get(cur).getFileName.toString, m.seq)))

  private def ref(what: String, sourceVersion: String): String =
    s"$segmentDir/$what-${safeVersion(sourceVersion)}"

  /** Segments are immutable: the names a new version writes — its
    * version dir, data segment and tombstone segment — must be ones no
    * retained manifest is or references. Checking only the LIVE
    * manifest would miss the segments an older, still-rollback-able
    * manifest holds (after a compaction the live manifest names one
    * segment), and `mode("overwrite")` would destroy them.
    */
  private def requireFresh(op: String, publishDir: String, cur: String,
      sourceVersion: String): Unit = {
    val clash = Seq(prefix + safeVersion(sourceVersion), ref("seg", sourceVersion),
      ref("tomb", sourceVersion)).filter(referenced(publishDir))
    require(clash.isEmpty,
      s"$op: sourceVersion '$sourceVersion' resolves to ${clash.mkString("'", "', '", "'")}, " +
        s"which a retained manifest already references (the live version is '$cur') — " +
        "writing it would overwrite the index it is reading or corrupt every version built " +
        "on it. Use a fresh version token.")
  }

  private def writeData(rows: DataFrame, path: String): Unit = {
    val out = prepare(rows)
    partitionCol match {
      // cluster-collocate before the partitioned write: without it every
      // upstream partition emits a file into every cluster dir; with it
      // each cluster's rows land in one file, so a probe opens nprobe
      // files, not nprobe × thousands
      case Some(c) => out.repartition(col(c)).write.mode("overwrite").partitionBy(c).parquet(path)
      case None => out.write.mode("overwrite").parquet(path)
    }
  }

  /** Commit `m` as the version of `sourceVersion` — the manifest LAST,
    * after every segment it names, with seq = 1 + the largest retained
    * seq — then flip to it.
    */
  private def commit(publishDir: String, sourceVersion: String, m: SegmentManifest,
      keepHistory: Int): String = {
    val name = prefix + safeVersion(sourceVersion)
    val seq = 1L + versions(publishDir).map(_._2.seq).maxOption.getOrElse(0L)
    val dir = Paths.get(publishDir, name)
    Files.createDirectories(dir)
    Pipeline.commitJson(dir.resolve("manifest.json"), m.model.map("model" -> _).toSeq ++ Seq(
      "segments" -> m.segments, "tombstones" -> m.tombstones, "tombstone_scopes" -> m.scopes,
      "absorbed" -> m.absorbed.toSeq.sorted, "source_version" -> sourceVersion,
      "seq" -> seq) ++ m.parent.toSeq.flatMap { case (p, ps) =>
        Seq("parent" -> p, "parent_seq" -> ps) }: _*)
    flip(publishDir, name, sourceVersion, keepHistory)
  }

  private def flip(publishDir: String, name: String, sourceVersion: String,
      keepHistory: Int): String = {
    flipPointer(publishDir, name, sourceVersion)
    applyRetention(publishDir, keepHistory, protect = readCurrent(publishDir))
    s"$publishDir/$name"
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
