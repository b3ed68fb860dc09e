package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path, RawLocalFileSystem}

/** The one reader and writer of the small commit records graft keeps
  * beside its artifacts: segment-store pointers and manifests, the
  * changeset pointer, catalog and marker, export manifests, sketch and
  * recrawl heads, artifact stamps and ANN model manifests. A real
  * parser, so key order, whitespace and escaped strings never change
  * what a record says.
  *
  * Every record commits through [[commit]]: the body goes to a temp
  * name beside the target, then ONE rename replaces the target, so a
  * reader sees the old record or the new one, never a torn one. On a
  * checksummed filesystem (Hadoop's local `file:`) records are written
  * and read through its raw filesystem: a checksummed rename moves the
  * data file and its `.crc` sidecar in two steps, and a crash between
  * them leaves a body that fails its own checksum. So no sidecar is
  * written and none is checked.
  */
object Json {

  val Mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val Pretty = Mapper.writer(new DefaultPrettyPrinter().withSeparators(
    Separators.createDefaultInstance().withObjectFieldValueSpacing(Separators.Spacing.AFTER)))

  /** The filesystem records at `path` are written and read through. */
  private def fsOf(path: Path, conf: Configuration): FileSystem = path.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  /** Commit `fields`, in order, as the JSON object at `path`: write it
    * to `.<name>.tmp` beside `path`, then rename that over `path`. The
    * rename is the commit point. A POSIX rename (the raw local
    * filesystem) replaces the target itself; a filesystem whose rename
    * refuses an existing target (HDFS) takes its rename with OVERWRITE,
    * one operation there too. Parent dirs are created as needed.
    */
  def commit(path: Path, fields: Seq[(String, Any)], conf: Configuration): Unit = {
    val fs = fsOf(path, conf)
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = fs match {
      // the raw local create and mkdirs set a mode on what they make,
      // and without Hadoop's native library that forks a `chmod` each
      case local: RawLocalFileSystem =>
        local.pathToFile(tmp.getParent).mkdirs()
        new java.io.FileOutputStream(local.pathToFile(tmp))
      case _ => fs.create(tmp, true)
    }
    try out.write(Pretty.writeValueAsBytes(ListMap(fields: _*))) finally out.close()
    if (!fs.rename(tmp, path))
      FileContext.getFileContext(fs.getUri, conf).rename(tmp, path, Options.Rename.OVERWRITE)
  }

  /** The record at `path`, parsed; None when there is no such file. */
  def read(path: Path, conf: Configuration): Option[JsonNode] =
    readText(path, conf).map(Mapper.readTree)

  /** The text of the file at `path` (any Hadoop filesystem, read like a
    * record: no checksum), or None when there is no such file.
    */
  def readText(path: Path, conf: Configuration): Option[String] = {
    val in =
      try Some(fsOf(path, conf).open(path))
      catch { case _: java.io.FileNotFoundException => None }
    in.map(s => try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(s), "UTF-8")
      finally s.close())
  }

  /** `s` parsed, or None when it is not a JSON object. */
  def parseOption(s: String): Option[JsonNode] =
    try Option(Mapper.readTree(s)).filter(_.isObject)
    catch { case _: com.fasterxml.jackson.core.JsonProcessingException => None }

  /** An integral field of an object node. */
  def long(node: JsonNode, field: String): Option[Long] =
    Option(node.get(field)).filter(_.isIntegralNumber).map(_.asLong)

  /** A string field of an object node. */
  def text(node: JsonNode, field: String): Option[String] =
    Option(node.get(field)).filter(_.isTextual).map(_.asText)
}
