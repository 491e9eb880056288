package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pid-scoped scratch hygiene: [[Fs.reapStalePidDirs]] must reap
  * `<prefix><pid>` AND the sf-scoped `<prefix><pid>-<tag>` shape
  * (ADVICE r15: q18/q163 oracle scratch appends the sf dir name after
  * the pid so one process verifying several scale factors keeps each
  * sf's oracle input durable), while never touching a live process's
  * dirs or names that are not pid-shaped. */
class FsSpec extends AnyFunSuite {

  test("reapStalePidDirs: bare and sf-tagged stale dirs reaped, live/self/foreign kept") {
    val parent = SparkTestBase.tempDir("graft-fs-reap")
    val self = ProcessHandle.current().pid()
    // a pid that is certainly dead: walk down from an unlikely-high id
    val dead = Iterator.iterate(4194000L)(_ - 1)
      .find(p => ProcessHandle.of(p).isEmpty).get

    def mk(name: String) = Files.createDirectory(parent.resolve(name))
    mk(s"x-$dead")           // stale, bare pid → reaped
    mk(s"x-$dead-sf0.01")    // stale, sf-tagged → reaped
    mk(s"x-$self")           // this process → kept
    mk(s"x-$self-sf0.1")     // this process, sf-tagged → kept
    mk(s"x-$dead.bak")       // pid followed by non-tag junk → kept
    mk("x-notapid")          // not pid-shaped → kept
    mk("unrelated")          // different prefix → kept

    Fs.reapStalePidDirs(parent, "x-")

    val left = Files.list(parent).iterator()
    val names = Iterator.continually(left).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).toSet
    assert(names == Set(s"x-$self", s"x-$self-sf0.1", s"x-$dead.bak",
      "x-notapid", "unrelated"), s"got $names")
  }

  test("linkOrCopyDirs: parallel bucket carry links every pair, same inodes (r18)") {
    val root = SparkTestBase.tempDir("graft-fs-carry")
    val from = Files.createDirectory(root.resolve("from"))
    val to = Files.createDirectory(root.resolve("to"))
    val pairs = (0 until 64).map { k =>
      val d = Files.createDirectory(from.resolve(s"bucket=$k"))
      Files.write(d.resolve("part-0.parquet"), s"data$k".getBytes)
      Files.write(d.resolve("_SUCCESS"), Array.empty[Byte])
      (d, to.resolve(s"bucket=$k"))
    }
    Fs.linkOrCopyDirs(pairs)
    def inode(p: java.nio.file.Path): Any =
      Files.getAttribute(p, "unix:ino")
    (0 until 64).foreach { k =>
      val src = from.resolve(s"bucket=$k").resolve("part-0.parquet")
      val dst = to.resolve(s"bucket=$k").resolve("part-0.parquet")
      assert(Files.exists(dst), s"bucket $k missing")
      assert(new String(Files.readAllBytes(dst)) == s"data$k")
      assert(inode(src) == inode(dst), s"bucket $k not hardlinked")
      assert(Files.exists(to.resolve(s"bucket=$k").resolve("_SUCCESS")))
    }
    // a failing pair propagates (sequential-form failure semantics)
    intercept[Exception] {
      Fs.linkOrCopyDirs((0 until 8).map(i =>
        (root.resolve(s"missing-$i"), to.resolve(s"m$i"))))
    }
  }
}
