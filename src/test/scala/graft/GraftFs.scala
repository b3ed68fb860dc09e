package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, Path, RawLocalFileSystem}

/** A test-only Hadoop filesystem under the scheme `graftfs`: the raw
  * local filesystem, addressed as `graftfs:///<local path>`. java.nio
  * cannot open these paths, so code under test that reaches around
  * Hadoop fails on them. It records every open, rename and delete
  * ([[GraftFs.recording]]), and can throw at the Nth rename or delete
  * whose target matches a pattern ([[GraftFs.crashingAt]]): a crash at
  * that point, injected from outside the code under test.
  */
class GraftFs extends RawLocalFileSystem {
  override def getUri: URI = GraftFs.Uri
  override def getScheme: String = GraftFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftFs.hit("open", f)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    GraftFs.hit("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    GraftFs.hit("delete", p)
    super.delete(p, recursive)
  }
}

/** The FileContext half of [[GraftFs]]. */
class GraftAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftFs, conf, GraftFs.Scheme, false)

object GraftFs {
  val Scheme = "graftfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** Registers the scheme in a Hadoop conf. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[GraftFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[GraftAfs].getName)
  }

  /** The `graftfs` path of the local absolute path `local`. */
  def path(local: String): String = s"$Scheme://$local"

  /** One filesystem call: `open`, `rename` (of its target) or `delete`,
    * with the local path it named.
    */
  final case class Op(kind: String, path: String)

  /** The injected failure. */
  final class Crash(val op: Op) extends java.io.IOException(s"injected crash at ${op.kind} of ${op.path}")

  private val recorders = new ConcurrentLinkedQueue[ConcurrentLinkedQueue[Op]]()
  private final case class Plan(kind: String, target: Regex, nth: Int, var seen: Int = 0)
  private var plan: Option[Plan] = None

  private def hit(kind: String, p: Path): Unit = {
    val op = Op(kind, p.toUri.getPath)
    recorders.forEach(_.add(op))
    val crash = synchronized(plan.filter(c => c.kind == kind && c.target.matches(op.path)).exists { c =>
      c.seen += 1
      if (c.seen == c.nth) plan = None
      c.seen == c.nth
    })
    if (crash) throw new Crash(op)
  }

  /** `body`'s result and every call it (and the tasks it ran) made here, in order. */
  def recording[A](body: => A): (A, Seq[Op]) = {
    val ops = new ConcurrentLinkedQueue[Op]()
    recorders.add(ops)
    try (body, ops.asScala.toSeq) finally recorders.remove(ops)
  }

  /** `body`, crashed at the `nth` (from 1) call of `kind` whose path
    * matches `target`: Left with the crash, or Right when `body` made
    * fewer such calls.
    */
  def crashingAt[A](kind: String, target: Regex, nth: Int)(body: => A): Either[Crash, A] = {
    synchronized { plan = Some(Plan(kind, target, nth)) }
    try Right(body)
    catch { case c: Crash => Left(c) }
    finally synchronized { plan = None }
  }
}
