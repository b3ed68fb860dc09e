package graft.operators

/** Scheme stamps for PERSISTED derived artifacts (LSH band indexes,
  * DSIR models, ...): a `_`-prefixed JSON sidecar (parquet readers
  * skip it, like `_SUCCESS`) naming every algorithmic ingredient that
  * produced the artifact. A stored artifact only composes with future
  * batches if both sides use the IDENTICAL scheme — e.g. the r12
  * md5->poly_hash base-hash switch would have made a pre-switch band
  * index and post-switch batch bands share no key, silently passing
  * every near-duplicate. Loaders fail loudly on a missing or
  * mismatched stamp instead.
  */
object ArtifactStamp {

  /** Commit `dir/fileName` with the scheme string ([[graft.Json.commit]];
    * idempotent — producers re-stamp on every append, which also heals
    * a stamp lost to partial copies).
    */
  def write(dir: String, conf: org.apache.hadoop.conf.Configuration,
      fileName: String, scheme: String): Unit =
    graft.Json.commit(new org.apache.hadoop.fs.Path(dir, fileName), Seq("scheme" -> scheme), conf)

  /** The stored scheme string at `dir/fileName`, if the stamp exists
    * and parses — the read half of [[write]], for operators that need
    * to RECOVER parameters from a stamp (e.g. the MG sketch capacity)
    * rather than just equality-check it.
    */
  def read(dir: String, conf: org.apache.hadoop.conf.Configuration,
      fileName: String): Option[String] = {
    graft.Json.readText(new org.apache.hadoop.fs.Path(dir, fileName), conf).flatMap(scheme)
  }

  /** The `scheme` string of a stamp's body; None when the body is not
    * a JSON object with a non-empty string `scheme`.
    */
  private def scheme(stored: String): Option[String] =
    graft.Json.parseOption(stored).flatMap(graft.Json.text(_, "scheme")).filter(_.nonEmpty)

  /** Fail loudly unless `dir/fileName` exists and names `expected`.
    * An artifact with NO stamp also fails: it predates the stamp (or
    * lost it) and its scheme is unknowable — composing new batches
    * with it risks exactly the silent mismatch the stamp prevents.
    * `artifactKind` names the artifact in error messages.
    */
  def require(dir: String, conf: org.apache.hadoop.conf.Configuration,
      fileName: String, expected: String, artifactKind: String,
      mismatchDetail: String = "composing them would silently produce wrong results"): Unit = {
    val stored = graft.Json.readText(new org.apache.hadoop.fs.Path(dir, fileName), conf)
      .getOrElse(throw new IllegalStateException(
        s"$artifactKind at $dir has no $fileName stamp — its scheme is unknown " +
          s"and composing '$expected' work with it could silently produce wrong " +
          "results. Verify its provenance and stamp it with ArtifactStamp.write."))
    val parsed = scheme(stored)
    if (!parsed.contains(expected))
      throw new IllegalStateException(
        s"$artifactKind at $dir was built with scheme " +
          s"'${parsed.getOrElse("<unparseable>")}' but this pipeline expects " +
          s"'$expected' — $mismatchDetail. " +
          "Rebuild the artifact or match the scheme parameters.")
  }
}
