package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The one JSON reader for the small commit records graft writes
  * beside its artifacts: segment-store pointers and manifests, export
  * manifests, sketch and recrawl heads, artifact stamps. A real parser,
  * so key order, whitespace and escaped strings never change what a
  * record says.
  */
object Json {

  val Mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(p: java.nio.file.Path): JsonNode = Mapper.readTree(p.toFile)

  /** The text of the file at `path` (any Hadoop filesystem), or None
    * when there is no such file.
    */
  def readText(path: Path, conf: Configuration): Option[String] = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
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
