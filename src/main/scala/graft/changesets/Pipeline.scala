package graft.changesets

import java.nio.file.{Files, Paths, StandardCopyOption}

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

  /** JSON string escape for the tiny pointer/index writers — an
    * unescaped quote or backslash in the opaque version token would
    * emit an invalid pointer object.
    */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Filesystem-safe form of the opaque sourceVersion token before it
    * is embedded in an artifact name: path separators would misplace
    * the artifact, control chars confuse tooling, and a quote would
    * defeat readCurrent's pointer parse. The MARKER keeps the raw
    * token (change detection compares the upstream value verbatim).
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
  // Locally the pointer write is modeled the same way: write the new
  // pointer content to a temp name, then one Files.move — the
  // single-small-object flip that maps to one PUT on a store.
  // ------------------------------------------------------------------

  private val PointerName = "current.json"

  /** Atomically point `current.json` at an already-written versioned
    * artifact. Call ONLY after the artifact is fully written (the
    * caller's Spark write has committed).
    */
  def flipPointer(publishDir: String, versionedFile: String, rows: Long, version: String): Unit = {
    val json =
      s"""{
         |  "file": ${jsonStr(versionedFile)},
         |  "rows": $rows,
         |  "source_version": ${jsonStr(version)}
         |}""".stripMargin
    val tmp = Paths.get(publishDir, s".$PointerName.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(publishDir, PointerName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Resolve the current pointer to the artifact path it names (None
    * before the first publish). This is the whole reader protocol:
    * one small read, then open the immutable artifact.
    */
  def readCurrent(publishDir: String): Option[String] = {
    val p = Paths.get(publishDir, PointerName)
    if (!Files.exists(p)) return None
    val json = Files.readString(p)
    "\"file\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(json)
      .map(m => s"$publishDir/${m.group(1)}")
  }

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
  // immutable segments (the snapshot-isolation idea of lakehouse
  // table formats, reduced to the two files this artifact needs):
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
  // index and model atomically-together (an old manifest references
  // exactly its prefix of the segment list and its model); retention
  // ages out manifest dirs and then garbage-collects segments/models
  // no retained manifest references. Readers resolve the pointer,
  // then the manifest, then union the named segments — segment files
  // are NEVER rewritten, so an append costs O(delta), not O(index).
  // ------------------------------------------------------------------

  private val AnnPointerName = "ann_current.json"
  private val AnnSegmentStore = "_ann_segments"
  private val AnnModelStore = "_ann_models"

  /** Write a version's manifest: the model ref and the ordered
    * segment refs (all publishDir-relative), committed via temp +
    * atomic move like the pointers.
    */
  private def writeAnnManifest(pairDir: String, modelRef: String,
      segmentRefs: Seq[String], version: String,
      absorbed: Seq[Long] = Seq.empty,
      tombstones: Seq[String] = Seq.empty): Unit = {
    Files.createDirectories(Paths.get(pairDir))
    val json =
      s"""{
         |  "model": ${jsonStr(modelRef)},
         |  "segments": [${segmentRefs.map(jsonStr).mkString(", ")}],
         |  "tombstones": [${tombstones.map(jsonStr).mkString(", ")}],
         |  "absorbed": [${absorbed.sorted.mkString(", ")}],
         |  "source_version": ${jsonStr(version)}
         |}""".stripMargin
    val tmp = Paths.get(pairDir, ".manifest.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(pairDir, "manifest.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Parse a pair dir's manifest: (model ref, segment refs), both
    * publishDir-relative. Fails loudly on a dir with no manifest —
    * a half-written version must never be readable as a pair.
    */
  def readAnnManifest(pairDir: String): (String, Seq[String]) = {
    val p = Paths.get(pairDir, "manifest.json")
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"ANN pair at $pairDir has no manifest.json — the version is incomplete " +
          "(a publish writes segments and model first, the manifest last)")
    val json = Files.readString(p)
    val model = "\"model\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"manifest at $pairDir names no model"))
    val segs = "\"segments\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"manifest at $pairDir names no segments"))
    val refs = "\"([^\"]+)\"".r.findAllMatchIn(segs).map(_.group(1)).toSeq
    (model, refs)
  }

  /** The micro-batch ids a pair's manifest records as absorbed — the
    * commit record [[absorbAnnBatch]]'s idempotence skip checks.
    * Carried FORWARD by append and compact (compaction rewrites the
    * segment list, so "does the live manifest name seg-batch-N" stops
    * being evidence of absorption the moment a compact lands — the r14
    * advisor's crash-loop scenario). Absent field (pre-r15 manifests)
    * reads as empty.
    */
  def readAnnAbsorbed(pairDir: String): Set[Long] = {
    val p = Paths.get(pairDir, "manifest.json")
    if (!Files.exists(p)) return Set.empty
    "\"absorbed\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(Files.readString(p))
      .map(m => "-?\\d+".r.findAllIn(m.group(1)).map(_.toLong).toSet)
      .getOrElse(Set.empty)
  }

  /** The model dir a pair's manifest names — the read half of the
    * pair protocol (with [[readAnnIndex]]): resolve the pointer once,
    * open both halves through the same manifest.
    */
  def annModelDir(pairDir: String): String = {
    val (model, _) = readAnnManifest(pairDir)
    s"${Paths.get(pairDir).getParent}/$model"
  }

  /** The pair's index as ONE DataFrame: the union of its manifest's
    * immutable segments, minus its tombstones. Each segment keeps its
    * own cluster-partition layout, so probe-side partition pruning
    * applies per segment; the union is a no-shuffle concatenation.
    * Opening it launches no Spark job ([[readSegments]]).
    */
  def readAnnIndex(spark: SparkSession, pairDir: String): DataFrame = {
    val publishDir = Paths.get(pairDir).getParent.toString
    val (_, segs) = readAnnManifest(pairDir)
    val union = readSegments(spark, publishDir, segs)
    // a fixed column order, whatever order the segments' footers hold
    val index = union.select(union.columns.sorted.map(col).toSeq: _*)
    val tombs = readAnnTombstones(pairDir)
    if (tombs.isEmpty) index
    else {
      // tombstoned vectors subtract at READ time (deletion is a
      // manifest operation, segments stay immutable) — the q172
      // postings rule on the vector side. An id tombstoned twice is
      // harmless: duplicates on an anti join's build side cannot
      // change its result, so no distinct (and no shuffle) here.
      val deleted = readSegments(spark, publishDir, tombs).select(col("neighbor_id"))
      index.join(broadcast(deleted), Seq("neighbor_id"), "left_anti")
    }
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
    * name, so refs whose column order differs still read.
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
    scans.map {
      case Scan(Some(schema), _, ps) => spark.read.schema(schema).parquet(ps: _*)
      case Scan(None, _, ps) => spark.read.parquet(ps: _*)
    }.reduce(_.unionByName(_))
  }

  /** An ANN version's tombstone segment refs — see
    * [[readPostingsTombstones]]; absent field reads as empty.
    */
  def readAnnTombstones(pairDir: String): Seq[String] = {
    val p = Paths.get(pairDir, "manifest.json")
    if (!Files.exists(p)) return Seq.empty
    "\"tombstones\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(Files.readString(p))
      .map(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Seq.empty)
  }

  /** Publish one ANN build (index table + its model) as an immutable
    * versioned pair — one full segment + one model + a manifest — and
    * flip the pointer to it. Returns the versioned dir. The segment is
    * written partitioned by `partitionCol` so probes keep their
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
    Files.createDirectories(Paths.get(publishDir))
    val v = safeVersion(sourceVersion)
    val segRef = s"$AnnSegmentStore/seg-$v"
    val modelRef = s"$AnnModelStore/model-$v"
    // cluster-collocate before the partitioned write: without it every
    // upstream partition emits a file into every cluster dir (up to
    // nlist x shuffle.partitions small files per publish); with it each
    // cluster's codes land in one file. At test scale this is
    // wall-clock-neutral (the publish chain is barrier-bound), but at
    // fleet scale the reader-side file-open count is the difference
    // between a probe scanning nprobe files and nprobe x thousands.
    index.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(s"$publishDir/$segRef")
    graft.operators.AnnModel.save(spark, s"$publishDir/$modelRef", coarse, codebooks)
    val dirName = s"ann-$v"
    val dir = s"$publishDir/$dirName"
    // manifest LAST: it is the version's commit record — a crash
    // before this line leaves an unreferenced segment/model that the
    // next retention pass garbage-collects, never a readable
    // half-version
    writeAnnManifest(dir, modelRef, Seq(segRef), sourceVersion)
    flipAnnPointer(publishDir, dirName, sourceVersion)
    applyAnnRetention(publishDir, keepHistory, protect = readCurrentAnn(publishDir))
    dir
  }

  /** Daily-increment ANN index maintenance WITHOUT retraining — the
    * production daily path (codebooks are retrained weekly/monthly,
    * not per batch): encode ONLY the new vectors with the CURRENT
    * pair's frozen model, and publish a NEW immutable versioned pair
    * whose index is (current index ∪ batch delta) and whose model is
    * the same artifact — the ANN analog of
    * `Dedup.dedupIncrementWithIndex`'s indexDelta fold. The corpus is
    * never re-encoded: per-day cost is O(|batch|) — ONLY the delta
    * segment and a new manifest are written; the live segments and the
    * model are referenced, not copied. Rollback story unchanged: each
    * day is its own manifest, an old manifest references exactly its
    * prefix of the segment list, so flipping the pointer back reverts
    * index AND model together, and a dropped batch never haunts the
    * index.
    *
    * AnnAppendSpec pins append ≡ rebuild (bit-equal index and probe
    * results vs indexing everything from scratch with the same model)
    * AND the O(delta) cost shape (pre-existing segment files are
    * byte-untouched by an append; the new version writes only
    * delta-sized data); q106 hash-gates the same equivalence through
    * the DuckDB oracle.
    */
  def appendAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      newVecs: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      keepHistory: Int = 5,
      absorbBatchId: Option[Long] = None): String = {
    val cur = readCurrentAnn(publishDir).getOrElse(throw new IllegalStateException(
      s"appendAnn: no current ANN pair under $publishDir — publishAnn must run first"))
    val (modelRef, segRefs) = readAnnManifest(cur)
    val v = safeVersion(sourceVersion)
    // segments are immutable: a version token that resolves to the
    // live pair — or to ANY segment a RETAINED manifest references
    // (not just the live one: after a compaction the live manifest
    // names one seg-<v>, but pre-compact manifests still reference the
    // old segments for byte-exact rollback, and mode(overwrite) would
    // destroy them) — would overwrite data a committed manifest
    // depends on. Fail loudly; an idempotent re-run of the same day
    // must bump the version.
    require(s"ann-$v" != new java.io.File(cur).getName,
      s"appendAnn: sourceVersion '$sourceVersion' resolves to the live pair dir " +
        s"'$cur' — appending would overwrite the index it is reading. " +
        "Use a fresh version token per append.")
    val segRef = s"$AnnSegmentStore/seg-$v"
    require(!annReferencedRefs(publishDir).contains(segRef),
      s"appendAnn: sourceVersion '$sourceVersion' resolves to segment '$segRef', " +
        s"which a retained manifest already references — overwriting an " +
        "immutable segment would corrupt every version built on it. " +
        "Use a fresh version token per append.")
    val model = graft.operators.AnnModel.load(spark, s"$publishDir/$modelRef")
    // the delta's IDS feed the dup check and the tombstone resurrection
    // below, but [[Similarity.ivfPqIndex]] is a pure per-row select
    // (neighbor_id IS idCol verbatim, one output row per vector), so
    // those ids come straight off the BATCH (r22) — the encode+PQ pass
    // runs exactly once, inside the segment write, with no checkpoint
    // materialization job (r21 recomputed the encode per consumer; the
    // first r22 form checkpointed it — one whole extra pass over the
    // batch whose only purpose was feeding two ids-only joins).
    val newIds = newVecs.select(col(idCol).as("neighbor_id")).distinct()
    val delta = graft.operators.Similarity.ivfPqIndex(
      newVecs, idCol, vecCol, model.coarse, model.codebooks)
    val curIndex = readAnnIndex(spark, cur)
    // Disjoint-batch contract, CHECKED: a re-append of an already-
    // appended batch would silently duplicate neighbor_ids (plain
    // union, no dedup — dedup here would mask real upstream id
    // collisions). One broadcast semi-join count against the batch's
    // ids; the publish chain is already an action, this adds one cheap
    // ids-only pass over the live index.
    val dup = curIndex.join(
      broadcast(newIds), Seq("neighbor_id"), "left_semi").count()
    require(dup == 0L,
      s"appendAnn: $dup id(s) in the new batch already exist in the live index " +
        s"at $cur — batches must be disjoint (re-running an already-appended " +
        "batch would duplicate its vectors).")
    // the WHOLE write cost of the append: one delta-sized segment +
    // one manifest; the model and the live segments are untouched
    delta.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$publishDir/$segRef")
    // resurrection rule (the appendPostings rationale verbatim): a
    // re-appended previously-deleted vector passes the dup check
    // (which reads the FILTERED index), so a stale tombstone would
    // silently hide its rows — the new version's tombstone set drops
    // the appended ids instead
    val oldTombs = readAnnTombstones(cur)
    val tombRefs =
      if (oldTombs.isEmpty) Seq.empty[String]
      else {
        val deleted = readSegments(spark, publishDir, oldTombs)
          .select(col("neighbor_id")).distinct()
        if (deleted.join(broadcast(newIds), Seq("neighbor_id"), "left_semi").isEmpty)
          oldTombs
        else {
          val remaining = deleted.join(broadcast(newIds), Seq("neighbor_id"), "left_anti")
          if (remaining.isEmpty) Seq.empty[String]
          else {
            val tRef = s"$AnnSegmentStore/tomb-$v"
            remaining.write.mode("overwrite").parquet(s"$publishDir/$tRef")
            Seq(tRef)
          }
        }
      }
    val dirName = s"ann-$v"
    val dir = s"$publishDir/$dirName"
    writeAnnManifest(dir, modelRef, segRefs :+ segRef, sourceVersion,
      absorbed = (readAnnAbsorbed(cur) ++ absorbBatchId).toSeq,
      tombstones = tombRefs)
    flipAnnPointer(publishDir, dirName, sourceVersion)
    applyAnnRetention(publishDir, keepHistory, protect = readCurrentAnn(publishDir))
    dir
  }

  /** Segment compaction for the versioned ANN pair — the maintenance
    * half of [[appendAnn]]'s O(delta) contract. Daily appends keep
    * per-day cost ∝ batch, but each adds one segment: after a year of
    * drops a probe opens nprobe × 365 segment dirs and the manifest's
    * union is 365-wide. compactAnn rewrites the LIVE manifest's
    * segments as ONE equivalent segment under a NEW manifest naming
    * the SAME frozen model — O(index), paid only when scheduled
    * (weekly/monthly, the [[Layout.compact]] cadence argument lifted
    * to the index artifact).
    *
    * Safety is inherited from the manifest protocol, not re-proved:
    * segments are immutable and the pre-compaction manifests still
    * name exactly their segment prefix, so rollback across a
    * compaction stays byte-exact, readers mid-union are never
    * disturbed, and retention GCs the old segments only after every
    * manifest naming them ages out. Version-token collisions are
    * checked against EVERY retained manifest's refs (not just the
    * live one — an old manifest's segment is still rollback-live);
    * a crashed compact's orphan segment (no manifest committed) is
    * safely overwritten by the re-run, same as [[publishAnn]].
    *
    * A single-segment pair is already compact: returns the live dir
    * unchanged, writes nothing (idempotence without version burn).
    * AnnAppendSpec pins compact ≡ append ≡ rebuild (probe results
    * bit-equal), the 1-segment layout, and pre-compact rollback;
    * q133 hash-gates the equivalence through q92's full-scan oracle.
    */
  def compactAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      partitionCol: String = "cluster",
      keepHistory: Int = 5): String = {
    val cur = readCurrentAnn(publishDir).getOrElse(throw new IllegalStateException(
      s"compactAnn: no current ANN pair under $publishDir — publishAnn must run first"))
    val (modelRef, segRefs) = readAnnManifest(cur)
    // a single-segment pair still needs compacting when tombstones
    // exist — materializing deletions IS part of the rewrite
    if (segRefs.size <= 1 && readAnnTombstones(cur).isEmpty) return cur
    val v = safeVersion(sourceVersion)
    require(s"ann-$v" != new java.io.File(cur).getName,
      s"compactAnn: sourceVersion '$sourceVersion' resolves to the live pair dir " +
        s"'$cur'. Use a fresh version token per compaction.")
    val segRef = s"$AnnSegmentStore/seg-$v"
    require(!annReferencedRefs(publishDir).contains(segRef),
      s"compactAnn: sourceVersion '$sourceVersion' resolves to segment '$segRef', " +
        "which a retained manifest already references — overwriting an immutable " +
        "segment would corrupt the versions built on it. Use a fresh version token.")
    // one partitioned rewrite of the union — each cluster's rows from
    // all segments land in one file again (the publishAnn layout)
    readAnnIndex(spark, cur)
      .repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(s"$publishDir/$segRef")
    val dirName = s"ann-$v"
    val dir = s"$publishDir/$dirName"
    // absorbed batch ids survive the segment rewrite: they are the
    // absorb protocol's commit record, and compaction must not make
    // an at-least-once replay look like a fresh batch
    writeAnnManifest(dir, modelRef, Seq(segRef), sourceVersion,
      absorbed = readAnnAbsorbed(cur).toSeq)
    flipAnnPointer(publishDir, dirName, sourceVersion)
    applyAnnRetention(publishDir, keepHistory, protect = readCurrentAnn(publishDir))
    dir
  }

  /** Vector takedown — [[deletePostings]] on the ANN pair (embeddings
    * of removed user content are as much a compliance surface as the
    * text): one tombstone segment of ids + a manifest whose tombstone
    * list grows; segments and the frozen model stay untouched, reads
    * subtract the tombstone union, retained versions still see the
    * vectors, re-appending resurrects ([[appendAnn]] shrinks the
    * set), compaction materializes and clears. q173 hash-gates
    * delete ≡ rebuild-without through the full IVF-PQ probe.
    */
  def deleteAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      ids: org.apache.spark.sql.DataFrame,
      idCol: String,
      keepHistory: Int = 5): String = {
    val cur = readCurrentAnn(publishDir).getOrElse(throw new IllegalStateException(
      s"deleteAnn: no current ANN pair under $publishDir — publishAnn must run first"))
    val (modelRef, segRefs) = readAnnManifest(cur)
    val v = safeVersion(sourceVersion)
    require(s"ann-$v" != new java.io.File(cur).getName,
      s"deleteAnn: sourceVersion '$sourceVersion' resolves to the live pair dir. " +
        "Use a fresh version token per deletion.")
    val tRef = s"$AnnSegmentStore/tomb-$v"
    require(!annReferencedRefs(publishDir).contains(tRef),
      s"deleteAnn: sourceVersion '$sourceVersion' resolves to tombstone '$tRef', " +
        "which a retained manifest already references. Use a fresh version token.")
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .write.mode("overwrite").parquet(s"$publishDir/$tRef")
    val dirName = s"ann-$v"
    val dir = s"$publishDir/$dirName"
    writeAnnManifest(dir, modelRef, segRefs, sourceVersion,
      absorbed = readAnnAbsorbed(cur).toSeq,
      tombstones = readAnnTombstones(cur) :+ tRef)
    flipAnnPointer(publishDir, dirName, sourceVersion)
    applyAnnRetention(publishDir, keepHistory, protect = readCurrentAnn(publishDir))
    dir
  }

  /** Idempotent per-batch absorb for STREAMING ingest loops
    * ([[graft.streaming.EventStreams.annIngestStream]]): appendAnn
    * keyed by micro-batch id, SKIPPING batches the live manifest
    * already references — foreachBatch is at-least-once on
    * failure/replay, and without the skip a replayed batch would trip
    * appendAnn's fresh-version require and crash-loop the stream (or,
    * without THAT require, silently duplicate its vectors). The
    * incrementalDedupStream / heavyHittersIncrement batch_id
    * discipline applied to the index artifact. Returns the live pair
    * dir either way. Bootstrap contract: a pair must exist
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
      keepHistory: Int = 5): String = {
    val cur = readCurrentAnn(publishDir).getOrElse(throw new IllegalStateException(
      s"absorbAnnBatch: no current ANN pair under $publishDir — publishAnn must run first"))
    val (_, segRefs) = readAnnManifest(cur)
    // skip on the DURABLE commit record (the manifest's absorbed-id
    // set, carried through append AND compact), not the segment list:
    // after a compactAnn the live manifest names one seg-<v>, and a
    // segment-list check would let a replayed batch through to
    // appendAnn's duplicate-id require — crash-looping the stream.
    // The segRefs check stays for pre-absorbed-field manifests.
    if (readAnnAbsorbed(cur).contains(batchId) ||
        segRefs.contains(s"$AnnSegmentStore/seg-batch-$batchId")) cur
    else appendAnn(spark, publishDir, s"batch-$batchId", newVecs, idCol, vecCol,
      keepHistory, absorbBatchId = Some(batchId))
  }

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
  // builds ("built once and stored, like the ANN index"). Same
  // invariants, re-used helpers: a version is a manifest over
  // IMMUTABLE segments, the manifest commits last, the pointer flip is
  // atomic, retention ages out manifests then GCs unreferenced
  // segments. What makes the incremental form CORRECT for BM25/tf-idf
  // is that every corpus statistic the scorers need is ADDITIVE over
  // disjoint-doc segments: df(term) counts (term, doc) rows, dl(doc)
  // sums tf, avgdl sums dl — so probing the segment UNION is
  // bit-identical to probing a full rebuild (q148 hash-gates exactly
  // that through the BM25 tail), while a daily append tokenizes ONLY
  // the new docs: build cost ∝ batch, not corpus.
  // ------------------------------------------------------------------

  private val PostingsPointerName = "postings_current.json"
  private val PostingsStore = "_postings_segments"

  private def writePostingsManifest(
      pairDir: String, segmentRefs: Seq[String], version: String,
      absorbed: Seq[Long] = Seq.empty,
      tombstones: Seq[String] = Seq.empty): Unit = {
    Files.createDirectories(Paths.get(pairDir))
    val json =
      s"""{
         |  "segments": [${segmentRefs.map(jsonStr).mkString(", ")}],
         |  "tombstones": [${tombstones.map(jsonStr).mkString(", ")}],
         |  "absorbed": [${absorbed.sorted.mkString(", ")}],
         |  "source_version": ${jsonStr(version)}
         |}""".stripMargin
    val tmp = Paths.get(pairDir, ".manifest.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(pairDir, "manifest.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** A version's tombstone segment refs (doc-id parquet files whose
    * union is subtracted from every read of this version). Absent
    * field (pre-deletion manifests) reads as empty.
    */
  def readPostingsTombstones(pairDir: String): Seq[String] = {
    val p = Paths.get(pairDir, "manifest.json")
    if (!Files.exists(p)) return Seq.empty
    "\"tombstones\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(Files.readString(p))
      .map(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Seq.empty)
  }

  /** The micro-batch ids this postings version records as absorbed —
    * the durable commit record [[absorbPostingsBatch]]'s idempotence
    * skip checks, carried forward by append AND compact (the
    * [[readAnnAbsorbed]] rationale verbatim: after a compaction the
    * segment list stops being evidence of absorption). Absent field
    * reads as empty.
    */
  def readPostingsAbsorbed(pairDir: String): Set[Long] = {
    val p = Paths.get(pairDir, "manifest.json")
    if (!Files.exists(p)) return Set.empty
    "\"absorbed\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(Files.readString(p))
      .map(m => "-?\\d+".r.findAllIn(m.group(1)).map(_.toLong).toSet)
      .getOrElse(Set.empty)
  }

  def readPostingsManifest(pairDir: String): Seq[String] = {
    val p = Paths.get(pairDir, "manifest.json")
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"postings version at $pairDir has no manifest.json — incomplete version")
    val json = Files.readString(p)
    val segs = "\"segments\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"manifest at $pairDir names no segments"))
    "\"([^\"]+)\"".r.findAllMatchIn(segs).map(_.group(1)).toSeq
  }

  /** The live index as ONE postings DataFrame (term, doc, tf) — the
    * no-shuffle union of the manifest's immutable segments, minus its
    * tombstones. Disjoint doc batches mean no (term, doc) pair spans
    * segments, so df/dl/tf over the union equal a full rebuild's.
    * Opening it launches no Spark job ([[readSegments]]).
    */
  def readPostingsIndex(spark: SparkSession, pairDir: String): DataFrame = {
    val publishDir = Paths.get(pairDir).getParent.toString
    val segs = readSegments(spark, publishDir, readPostingsManifest(pairDir))
    val tombs = readPostingsTombstones(pairDir)
    if (tombs.isEmpty) segs
    else {
      // tombstoned docs subtract at READ time (deletion is a manifest
      // operation, segments stay immutable); the takedown set is tiny
      // relative to the index, so it broadcasts onto the anti join —
      // undeduplicated, as duplicates cannot change an anti join
      val deleted = readSegments(spark, publishDir, tombs).select(col("doc"))
      segs.join(broadcast(deleted), Seq("doc"), "left_anti")
    }
  }

  /** Publish a full postings build as version one of the index. */
  def publishPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5): String = {
    Files.createDirectories(Paths.get(publishDir))
    val v = safeVersion(sourceVersion)
    val segRef = s"$PostingsStore/seg-$v"
    graft.operators.Retrieval.postings(corpus, idCol, textCol)
      .write.mode("overwrite").parquet(s"$publishDir/$segRef")
    val dir = s"$publishDir/post-$v"
    writePostingsManifest(dir, Seq(segRef), sourceVersion)
    flipPostingsPointer(publishDir, s"post-$v", sourceVersion)
    applyPostingsRetention(publishDir, keepHistory, protect = readCurrentPostings(publishDir))
    dir
  }

  /** O(delta) daily append: tokenize ONLY the new docs, write one
    * delta segment + one manifest referencing the live prefix. The
    * disjoint-batch contract is CHECKED (a re-appended doc would split
    * its postings across segments and inflate df); the version token
    * is collision-checked against every retained manifest (the
    * appendAnn lesson: the live manifest alone forgets pre-compaction
    * segments).
    */
  def appendPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5,
      absorbBatchId: Option[Long] = None): String = {
    val cur = readCurrentPostings(publishDir).getOrElse(throw new IllegalStateException(
      s"appendPostings: no current postings index under $publishDir — publishPostings must run first"))
    val segRefs = readPostingsManifest(cur)
    val v = safeVersion(sourceVersion)
    require(s"post-$v" != new java.io.File(cur).getName,
      s"appendPostings: sourceVersion '$sourceVersion' resolves to the live version " +
        "dir. Use a fresh version token per append.")
    val segRef = s"$PostingsStore/seg-$v"
    require(!postingsReferencedRefs(publishDir).contains(segRef),
      s"appendPostings: sourceVersion '$sourceVersion' resolves to segment '$segRef', " +
        "which a retained manifest already references. Use a fresh version token.")
    // two consumers (dup check, segment write) — materialize the
    // O(batch) delta once instead of tokenizing the new docs twice (r22)
    val delta = graft.operators.Retrieval.postings(newDocs, idCol, textCol)
      .localCheckpoint(true)
    val dup = readPostingsIndex(spark, cur).select(col("doc")).distinct()
      .join(broadcast(delta.select(col("doc")).distinct()), Seq("doc"), "left_semi").count()
    require(dup == 0L,
      s"appendPostings: $dup doc(s) in the new batch already exist in the live " +
        "index — batches must be disjoint (a re-appended doc splits its postings " +
        "across segments and inflates df).")
    delta.write.mode("overwrite").parquet(s"$publishDir/$segRef")
    // resurrection rule: re-appending a previously DELETED doc brings
    // it back — the new version's tombstone set drops the appended
    // ids (tombstone segments are immutable, so a shrunken set means
    // writing one new tombstone segment; unchanged sets carry refs).
    // Without this, the dup check (which reads the FILTERED index)
    // would admit the doc and the stale tombstone would silently hide
    // its postings — an append that reports success and indexes
    // nothing.
    val oldTombs = readPostingsTombstones(cur)
    val tombRefs =
      if (oldTombs.isEmpty) Seq.empty[String]
      else {
        val deleted = readSegments(spark, publishDir, oldTombs)
          .select(col("doc")).distinct()
        val resurrected = deleted
          .join(broadcast(newDocs.select(col(idCol).as("doc")).distinct()), Seq("doc"), "left_semi")
        if (resurrected.isEmpty) oldTombs
        else {
          val remaining = deleted.join(broadcast(
            newDocs.select(col(idCol).as("doc")).distinct()), Seq("doc"), "left_anti")
          if (remaining.isEmpty) Seq.empty[String]
          else {
            val tRef = s"$PostingsStore/tomb-$v"
            remaining.write.mode("overwrite").parquet(s"$publishDir/$tRef")
            Seq(tRef)
          }
        }
      }
    val dir = s"$publishDir/post-$v"
    writePostingsManifest(dir, segRefs :+ segRef, sourceVersion,
      absorbed = (readPostingsAbsorbed(cur) ++ absorbBatchId).toSeq,
      tombstones = tombRefs)
    flipPostingsPointer(publishDir, s"post-$v", sourceVersion)
    applyPostingsRetention(publishDir, keepHistory, protect = readCurrentPostings(publishDir))
    graft.Checkpoints.release(delta) // both consumers above have run
    dir
  }

  /** Takedown: delete documents from the live postings index WITHOUT
    * touching any segment — the compliance operation (DMCA/GDPR
    * removal) a training-data index must support on the same
    * immutable-artifact terms as append. A deletion writes ONE
    * tombstone segment (the doc-id set) and a new manifest whose
    * tombstone list grows by that ref; every read of the new version
    * subtracts the union of its tombstones, so df/dl/avgdl shift
    * EXACTLY as if the docs had never been indexed (the statistics
    * are computed from the filtered postings at probe time — q172
    * hash-gates delete ≡ rebuild-without). Retained older versions
    * still see the docs (time travel is unaffected — takedown of
    * HISTORY is [[compactPostings]] + retention aging the old
    * manifests out). Re-appending a deleted doc resurrects it
    * (appendPostings shrinks the tombstone set); compaction
    * materializes deletions and clears the tombstone list.
    */
  def deletePostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      keepHistory: Int = 5): String = {
    val cur = readCurrentPostings(publishDir).getOrElse(throw new IllegalStateException(
      s"deletePostings: no current postings index under $publishDir — " +
        "publishPostings must run first"))
    val segRefs = readPostingsManifest(cur)
    val v = safeVersion(sourceVersion)
    require(s"post-$v" != new java.io.File(cur).getName,
      s"deletePostings: sourceVersion '$sourceVersion' resolves to the live version " +
        "dir. Use a fresh version token per deletion.")
    val tRef = s"$PostingsStore/tomb-$v"
    require(!postingsReferencedRefs(publishDir).contains(tRef),
      s"deletePostings: sourceVersion '$sourceVersion' resolves to tombstone '$tRef', " +
        "which a retained manifest already references. Use a fresh version token.")
    docs.select(col(idCol).as("doc")).distinct()
      .write.mode("overwrite").parquet(s"$publishDir/$tRef")
    val dir = s"$publishDir/post-$v"
    writePostingsManifest(dir, segRefs, sourceVersion,
      absorbed = readPostingsAbsorbed(cur).toSeq,
      tombstones = readPostingsTombstones(cur) :+ tRef)
    flipPostingsPointer(publishDir, s"post-$v", sourceVersion)
    applyPostingsRetention(publishDir, keepHistory, protect = readCurrentPostings(publishDir))
    dir
  }

  /** Idempotent per-batch absorb for STREAMING retrieval-index ingest
    * ([[graft.streaming.EventStreams.postingsIngestStream]]) —
    * [[absorbAnnBatch]]'s contract applied to the postings lifecycle:
    * appendPostings keyed by micro-batch id, skipping batches whose id
    * the live manifest's durable absorbed set (or, for pre-absorbed-
    * field manifests, segment list) already records. Without the skip
    * an at-least-once replay would trip appendPostings' disjoint-doc
    * require and crash-loop the stream. Returns the live version dir
    * either way; [[publishPostings]] must have run first.
    */
  def absorbPostingsBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5): String = {
    val cur = readCurrentPostings(publishDir).getOrElse(throw new IllegalStateException(
      s"absorbPostingsBatch: no current postings index under $publishDir — " +
        "publishPostings must run first"))
    val segRefs = readPostingsManifest(cur)
    if (readPostingsAbsorbed(cur).contains(batchId) ||
        segRefs.contains(s"$PostingsStore/seg-batch-$batchId")) cur
    else appendPostings(spark, publishDir, s"batch-$batchId", newDocs, idCol, textCol,
      keepHistory, absorbBatchId = Some(batchId))
  }

  /** Weekly compaction of the postings index — the retrieval analog of
    * [[compactAnn]]: rewrite the live manifest's segment union as ONE
    * segment and flip to a version referencing only it, restoring the
    * single-segment layout after a run of daily O(delta) appends
    * (bounding read-side manifest fan-in at 365 segments/year
    * otherwise). Safe by the same invariants: the union is
    * bit-identical to a full rebuild (additive df/dl/avgdl — q158
    * gates compact ≡ rebuild through the BM25 tail), segments are
    * immutable (the version-token collision require checks EVERY
    * retained manifest, not just the live one — the appendAnn
    * lesson), and the pointer flip is atomic with rollback to any
    * retained pre-compact version intact.
    */
  def compactPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      keepHistory: Int = 5): String = {
    val cur = readCurrentPostings(publishDir).getOrElse(throw new IllegalStateException(
      s"compactPostings: no current postings index under $publishDir — " +
        "publishPostings must run first"))
    val segRefs = readPostingsManifest(cur)
    // a single-segment version still needs compacting when tombstones
    // exist — materializing deletions IS part of the rewrite
    if (segRefs.size <= 1 && readPostingsTombstones(cur).isEmpty) return cur
    val v = safeVersion(sourceVersion)
    require(s"post-$v" != new java.io.File(cur).getName,
      s"compactPostings: sourceVersion '$sourceVersion' resolves to the live version " +
        "dir. Use a fresh version token per compaction.")
    val segRef = s"$PostingsStore/seg-$v"
    require(!postingsReferencedRefs(publishDir).contains(segRef),
      s"compactPostings: sourceVersion '$sourceVersion' resolves to segment '$segRef', " +
        "which a retained manifest already references — overwriting an immutable " +
        "segment would corrupt the versions built on it. Use a fresh version token.")
    readPostingsIndex(spark, cur)
      .write.mode("overwrite").parquet(s"$publishDir/$segRef")
    val dir = s"$publishDir/post-$v"
    // absorbed batch ids survive the segment rewrite — the commit
    // records that keep an at-least-once replay from looking fresh
    writePostingsManifest(dir, Seq(segRef), sourceVersion,
      absorbed = readPostingsAbsorbed(cur).toSeq)
    flipPostingsPointer(publishDir, s"post-$v", sourceVersion)
    applyPostingsRetention(publishDir, keepHistory, protect = readCurrentPostings(publishDir))
    dir
  }

  def flipPostingsPointer(publishDir: String, versionedDir: String, version: String): Unit = {
    val json =
      s"""{
         |  "dir": ${jsonStr(versionedDir)},
         |  "source_version": ${jsonStr(version)}
         |}""".stripMargin
    val tmp = Paths.get(publishDir, s".$PostingsPointerName.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(publishDir, PostingsPointerName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def readCurrentPostings(publishDir: String): Option[String] = {
    val p = Paths.get(publishDir, PostingsPointerName)
    if (!Files.exists(p)) return None
    "\"dir\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(Files.readString(p))
      .map(m => s"$publishDir/${m.group(1)}")
  }

  private def postingsReferencedRefs(publishDir: String): Set[String] = {
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) return Set.empty
    listChildren(dir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("post-") &&
        Files.exists(p.resolve("manifest.json")))
      .flatMap(p => readPostingsManifest(p.toString) ++
        readPostingsTombstones(p.toString)).toSet
  }

  def applyPostingsRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit = {
    retainNewest(publishDir, keep, protect, ".*/post-[^/]*$")
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) return
    val referenced = postingsReferencedRefs(publishDir)
    val storeDir = dir.resolve(PostingsStore)
    if (Files.exists(storeDir))
      listChildren(storeDir)
        .filterNot(c => referenced.contains(s"$PostingsStore/${c.getFileName}"))
        .foreach(deleteRecursively)
  }

  /** Atomically point `ann_current.json` at an already-written
    * versioned pair dir (both halves committed). Flipping BACK to an
    * older dir is the rollback: index and model revert together.
    */
  def flipAnnPointer(publishDir: String, versionedDir: String, version: String): Unit = {
    val json =
      s"""{
         |  "dir": ${jsonStr(versionedDir)},
         |  "source_version": ${jsonStr(version)}
         |}""".stripMargin
    val tmp = Paths.get(publishDir, s".$AnnPointerName.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(publishDir, AnnPointerName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Resolve the current ANN pair dir (None before the first publish).
    * `<dir>/index.parquet` and `<dir>/model` are the two halves.
    */
  def readCurrentAnn(publishDir: String): Option[String] = {
    val p = Paths.get(publishDir, AnnPointerName)
    if (!Files.exists(p)) return None
    val json = Files.readString(p)
    "\"dir\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(json)
      .map(m => s"$publishDir/${m.group(1)}")
  }

  /** Every segment/model ref named by ANY retained manifest — the
    * reference-counting set retention GCs against, and the collision
    * set a new write must avoid (colliding with a ref only the LIVE
    * manifest names would miss a ref an older, still-rollback-able
    * manifest holds).
    */
  private def annReferencedRefs(publishDir: String): Set[String] = {
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) return Set.empty
    listChildren(dir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("ann-") &&
        Files.exists(p.resolve("manifest.json")))
      .flatMap { p =>
        val (model, segs) = readAnnManifest(p.toString)
        (model +: segs) ++ readAnnTombstones(p.toString)
      }.toSet
  }

  /** Keep the newest N ANN pairs (mtime-ordered, like
    * [[applyRetention]]), never deleting the pointed-at pair; then
    * garbage-collect segments and models no retained manifest
    * references (also reaping the orphans of a publish that crashed
    * before its manifest commit). Reference-counting via the
    * manifests is what lets an append share its base's segments
    * without copies while rollback + retention stay safe.
    */
  def applyAnnRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit = {
    retainNewest(publishDir, keep, protect, ".*/ann-[^/]*$")
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) return
    val referenced = annReferencedRefs(publishDir)
    Seq(AnnSegmentStore, AnnModelStore).foreach { store =>
      val storeDir = dir.resolve(store)
      if (Files.exists(storeDir))
        listChildren(storeDir)
          .filterNot(c => referenced.contains(s"$store/${c.getFileName}"))
          .foreach(deleteRecursively)
    }
  }

  /** The catalog the reference publishes as index.json
    * (yml:176-222): size, update time token, row count, usage snippet.
    */
  def writeIndex(publishDir: String, latest: String, rows: Long, version: String): Unit = {
    val json =
      s"""{
         |  "file": "changesets.parquet",
         |  "rows": $rows,
         |  "source_version": ${jsonStr(version)},
         |  "usage": "SELECT COUNT(*) FROM 'changesets.parquet'"
         |}""".stripMargin
    Files.writeString(Paths.get(publishDir, "index.json"), json)
  }

  /** Keep the newest N versioned artifacts. Newness is filesystem
    * mtime, not the version token: the documented sourceVersion is any
    * opaque changing string (e.g. an HTTP Last-Modified header), which
    * is NOT lexicographically monotonic — 'Wed, 21 Oct ...' tokens
    * sort by weekday and a token sort could delete the newest artifact
    * (the reference's `sort -r` in manage-r2.sh:94-102 works only
    * because its tokens are zero-padded epoch-like names).
    */
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

  def applyRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit =
    retainNewest(publishDir, keep, protect, ".*/changesets-.*\\.parquet$")

  private def retainNewest(
      publishDir: String, keep: Int, protect: Option[String], pattern: String): Unit = {
    val dir = Paths.get(publishDir)
    if (!Files.exists(dir)) return
    // `protect`: never delete the artifact the current pointer names,
    // even if mtime-ordering would age it out (e.g. a rollback flip
    // back to an old version followed by N new publishes)
    val keepAlways = protect.map(p => Paths.get(p).toAbsolutePath.normalize)
    val versioned = listChildren(dir)
      .filter(p => p.toString.matches(pattern))
      .sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.toString))
      .reverse
    versioned.drop(keep)
      .filterNot(p => keepAlways.contains(p.toAbsolutePath.normalize))
      .foreach(deleteRecursively)
  }

  private def listChildren(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
    finally s.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) listChildren(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private def copyRecursively(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      listChildren(from).foreach(c => copyRecursively(c, to.resolve(c.getFileName)))
    } else {
      Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
