package graft.core

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `Files.list` whose DirectoryStream is actually CLOSED (the javadoc
  * requires it; `.iterator().asScala` abandons the stream and holds the
  * directory fd until GC — fatal on hot paths like the SSE poll loop,
  * which lists the commit log many times per second per client). */
object Fs {
  /** Observable call counter: specs pin that hot serving paths (the SSE
    * poll tick) do NOT re-list directories per call. */
  val listCalls = new java.util.concurrent.atomic.AtomicLong(0)

  def list(dir: Path): Vector[Path] = {
    listCalls.incrementAndGet()
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Recursive delete, tolerant of concurrent deleters: a directory (or
    * file) vanishing between the listing and the delete is treated as
    * already-deleted, not an error — two processes reaping the same
    * stale dir must both succeed. The single shared implementation for
    * every tree removal in the engine. */
  def rmTree(p: Path): Unit = {
    try {
      if (Files.isDirectory(p)) list(p).foreach(rmTree)
      Files.deleteIfExists(p)
      ()
    } catch {
      // ONLY the concurrent-deleter race is tolerated (the path vanished
      // between listing and delete). Genuine IO failures — permissions,
      // disk errors — rethrow, so they surface here instead of as a
      // misleading DirectoryNotEmptyException at a later Files.move, or
      // as silently-retained snapshot data.
      case _: java.nio.file.NoSuchFileException => ()
      case e: java.io.UncheckedIOException // Files.list race on a vanished dir
        if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
      case e: java.nio.file.DirectoryIteratorException
        if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
    }
  }

  /** Hardlink (copy fallback) an entire directory tree — the O(#files)
    * metadata-only carry both copy-on-write surfaces use (bucketed
    * snapshot commits and lens compute-cache generations): untouched
    * bucket directories of the previous generation become links in the
    * next one instead of rewritten data. An object-store deployment
    * would swap this seam for server-side copy. */
  def linkOrCopyDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    list(src).foreach { f =>
      val t = dst.resolve(f.getFileName.toString)
      if (Files.isDirectory(f)) linkOrCopyDir(f, t)
      else if (!Files.exists(t)) {
        try { Files.createLink(t, f); () }
        catch { case _: Throwable => Files.copy(f, t); () }
      }
    }
  }

  /** Parallel form of [[linkOrCopyDir]] over many independent directory
    * pairs — the copy-on-write bucket carry (VERDICT r17 #8: with the
    * 65 536-bucket cap, a sequential carry is ~65k serial link syscalls
    * of driver time per incremental tick; the pairs are independent, so
    * they fan out over the common pool and the carry's wall time stays
    * roughly flat in bucket count). Exceptions propagate (first one),
    * matching the sequential form's failure semantics. */
  def linkOrCopyDirs(pairs: Seq[(Path, Path)]): Unit =
    if (pairs.sizeIs <= 2) pairs.foreach { case (s, d) => linkOrCopyDir(s, d) }
    else {
      val list = new java.util.ArrayList[(Path, Path)](pairs.size)
      pairs.foreach(list.add)
      list.parallelStream().forEach { p => linkOrCopyDir(p._1, p._2) }
    }

  /** The copy-on-write half of a partitioned write: hardlink-carry every
    * `<column>=k` partition dir of the previous generation `from` into
    * the next one `to`, except the partitions in `skip` (rewritten this
    * generation). Bucketed snapshots (`bucket=k`) and the lens compute
    * cache (`pbucket=k`) both carry this way. */
  def carryPartitions(from: Path, to: Path, column: String, skip: Set[Long]): Unit =
    if (Files.isDirectory(from))
      linkOrCopyDirs(list(from).flatMap { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(s"$column=")) None
        else n.stripPrefix(s"$column=").toLongOption.collect {
          case k if !skip(k) => (p, to.resolve(n))
        }
      })

  /** Reap sibling `<prefix><pid>` dirs left by processes that no longer
    * exist. The pid-suffix pattern gives every live process its own
    * scratch dir (concurrent runs never share state — in-process locks
    * don't reach across processes) while this keeps dead processes'
    * dirs from accumulating forever. Best-effort by design: rmTree
    * tolerates two live reapers racing on one stale dir, and scratch
    * hygiene must never fail the query it piggybacks on. */
  def reapStalePidDirs(parent: Path, prefix: String): Unit =
    try {
      if (Files.isDirectory(parent)) {
        val self = ProcessHandle.current().pid()
        list(parent).foreach { p =>
          val n = p.getFileName.toString
          if (n.startsWith(prefix)) {
            // `<prefix><pid>` or `<prefix><pid>-<tag>` (sf-scoped
            // oracle scratch appends the sf dir name after the pid)
            val tail = n.stripPrefix(prefix)
            val digits = tail.takeWhile(_.isDigit)
            val rest = tail.drop(digits.length)
            if (digits.nonEmpty && (rest.isEmpty || rest.startsWith("-")))
              digits.toLongOption.foreach { pid =>
                if (pid != self && ProcessHandle.of(pid).isEmpty) rmTree(p)
              }
          }
        }
      }
    } catch { case _: Throwable => () }

  /** Pid-scoped scratch root under java.io.tmpdir: reaped when its
    * process is gone, REUSED within one process (never one leaked dir
    * per call). The canonical fixture-scratch helper — previously
    * re-inlined per query file (r13 review). */
  def pidScratch(prefix: String): String = {
    val tmpRoot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    reapStalePidDirs(tmpRoot, s"$prefix-")
    tmpRoot.resolve(s"$prefix-${ProcessHandle.current().pid()}").toString
  }
}
