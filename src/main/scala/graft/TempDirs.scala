package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The one home of scratch lifetime on local disk, shared by the
  * loaders, writers, roundtrip QueryDefs, tools and tests. One rule:
  *   - a path that a returned DataFrame still reads (a roundtrip query's
  *     output, an inline-state file a scan seeks) is [[create]]d or
  *     [[track]]ed and deleted at JVM exit — not earlier, because the
  *     result re-reads it lazily on every action;
  *   - a path that nothing outside the call reads (a streaming
  *     checkpoint, a RocksDB work or staging dir) is [[scoped]] and
  *     deleted when the call returns or throws;
  *   - a path the call hands to its caller to release (a localized
  *     checkpoint download) is made by [[handOff]] and deleted at once
  *     if the call throws before handing it over.
  * Repeated bench/verify runs in a long-lived driver therefore do not
  * accumulate output on disk. [[deleteNow]] is the only tree delete.
  */
object TempDirs {

  private val tracked =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Path]())

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tracked.forEach(p => try deleteNow(p) catch { case _: Throwable => })))

  /** Create a temp directory deleted (recursively) on JVM exit. */
  def create(prefix: String): String =
    track(Files.createTempDirectory(prefix)).toString

  /** Register an existing file or directory for exit-time deletion. */
  def track(p: Path): Path = { tracked.add(p); p }

  /** Create a temp directory, run `body` on it, and delete the tree
    * when `body` returns or throws; the result is `body`'s.
    */
  def scoped[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally deleteNow(dir)
  }

  /** Like [[scoped]], but the tree outlives a `body` that returns (its
    * result hands the dir to the caller to release).
    */
  def handOff[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) catch { case t: Throwable => deleteNow(dir); throw t }
  }

  /** Delete a file or directory tree now; a missing path is a no-op. */
  def deleteNow(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
}
