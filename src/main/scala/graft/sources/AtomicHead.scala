package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}

/** Crash-safe head-pointer commit shared by the persisted-state
  * families (MG heavy-hitters, count-min, CDC, recrawl): write the
  * JSON body to a generation-tagged temp file, then rename it over
  * the head with OVERWRITE semantics in ONE metadata operation.
  *
  * The previous per-site `fs.delete(head); fs.rename(tmp, head)`
  * pair had a crash window between the two calls where NO head file
  * existed, so readers saw a never-initialized state dir — the exact
  * failure the "pointer flips LAST via atomic rename" contract rules
  * out. `FileContext.rename(..., Rename.OVERWRITE)` replaces the
  * destination atomically (POSIX rename on the local fs; an atomic
  * metadata op on HDFS), closing the window.
  *
  * Both the create and the rename go through FileContext (the raw
  * local fs) rather than the checksummed `LocalFileSystem`, so no
  * stale `.crc` sidecar from an earlier generation can shadow the
  * swapped content when a checksummed reader opens the head.
  */
object AtomicHead {
  def write(stateDir: String, name: String, genTag: Long, json: String,
      hconf: Configuration): Unit = {
    val fin = new Path(stateDir, name)
    val tmp = new Path(stateDir, s".$name.tmp-$genTag")
    val fc =
      if (fin.toUri.getScheme == null) FileContext.getFileContext(hconf)
      else FileContext.getFileContext(fin.toUri, hconf)
    val out = fc.create(tmp,
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(json.getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, fin, Options.Rename.OVERWRITE)
  }

  /** The committed head `stateDir/name` as parsed JSON — None when there
    * is none, or when its body is not a JSON object.
    */
  def read(stateDir: String, name: String, hconf: Configuration)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    graft.Json.readText(new Path(stateDir, name), hconf).flatMap(graft.Json.parseOption)
}
