package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of scratch directories — the analog of the reference's
  * one `tmp` schema (load_table.R:149-155). Each SparkContext gets one
  * root under java.io.tmpdir; every scratch dir of the program is a
  * subdir of it. The root is deleted when the context stops and at JVM
  * exit, so a dir outlives the call that made it (streaming sinks are
  * read lazily by the frames they return) but not the session.
  *
  * Liveness: every access touches the root, and a new root sweeps only
  * siblings untouched for more than 6 h — a crashed run's leak is
  * bounded at hours while a live concurrent session is never yanked out
  * from under. Files written deep in a tree do not update the root's
  * mtime, hence the touch; some filesystems ignore setLastModified on
  * directories, hence the `.heartbeat` file fallback. */
object Scratch {

  private val StaleMs = 6L * 60 * 60 * 1000

  /** Deletes its context's root when the context stops. */
  final class Owner private[Scratch] (val root: Path) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      delete(root)
  }

  private val owners = new ConcurrentHashMap[String, Owner]()

  private def prefix = s"graft_scratch_${sys.props("user.name")}_"

  /** The owner of `s`'s context, registered on first use. */
  private[graft] def owner(s: SparkSession): Owner =
    owners.computeIfAbsent(s.sparkContext.applicationId,
      id => open(s.sparkContext, id))

  private def open(sc: SparkContext, id: String): Owner = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val cur = prefix + id
    val staleBefore = System.currentTimeMillis() - StaleMs
    def liveStamp(p: Path): Long = math.max(p.toFile.lastModified(),
      p.resolve(".heartbeat").toFile.lastModified())
    Option(tmp.toFile.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith(prefix) && n != cur)
      .map(tmp.resolve)
      .filter(liveStamp(_) < staleBefore)
      .foreach(delete)
    val o = new Owner(tmp.resolve(cur))
    sc.addSparkListener(o)
    sys.addShutdownHook(delete(o.root))
    o
  }

  /** The session's root, created if absent and touched. */
  def root(s: SparkSession): Path = {
    val r = owner(s).root
    Files.createDirectories(r)
    if (!r.toFile.setLastModified(System.currentTimeMillis()))
      Files.write(r.resolve(".heartbeat"), Array.emptyByteArray)
    r
  }

  /** A fresh subdir of the session's root, named `name_<random>`. */
  def dir(s: SparkSession, name: String): Path =
    Files.createTempDirectory(root(s), name + "_")

  /** Deletes `p` and everything under it. Never throws — a leftover
    * scratch file must not mask the caller's own outcome — and never
    * follows a symbolic link: a link is deleted, its target is not. */
  def delete(p: Path): Unit = {
    def quietly(f: Path): FileVisitResult = {
      try Files.deleteIfExists(f) catch { case NonFatal(_) => () }
      FileVisitResult.CONTINUE
    }
    try Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes) = quietly(f)
      override def visitFileFailed(f: Path, e: IOException) = quietly(f)
      override def postVisitDirectory(d: Path, e: IOException) = quietly(d)
    }) catch { case NonFatal(_) => () }
  }
}
