package graft.queries

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}
import graft.core.Fs

/** The fixtures that need an empty store or stream checkpoint on every
  * call (q35's attachment GC, q159's maintainers) reuse their
  * pid-scoped scratch roots: repeated runs leave no new temp dir, and
  * each run still starts from nothing. */
class FixtureScratchSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def scratchDirs: Set[String] =
    Fs.list(Paths.get(sys.props("java.io.tmpdir"))).map(_.getFileName.toString)
      .filter(n => n.startsWith("graft-gcq") || n.startsWith("graft-lmq-ck")).toSet

  test("q35 and q159 run twice on their pid-scoped scratch roots") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val spark = SparkTestBase.spark
    val pid = ProcessHandle.current().pid()
    val before = scratchDirs
    val queries = Seq("q35_attachment_gc", "q159_lens_maintainer")
    def runAll() = queries.map(q => SparkEntry.queries(q)(spark, sfDir).collect().toSeq)
    val first = runAll()
    val second = runAll()
    assert(first == second, "a second run must start from the same empty state")
    val gained = scratchDirs -- before
    assert(gained.forall(_.endsWith(s"-$pid")), s"temp dirs not scoped to this pid: $gained")
    assert(scratchDirs.filter(_.endsWith(s"-$pid")) ==
      Set("graft-gcq", "graft-lmq-ck", "graft-lmq-ck2").map(p => s"$p-sf0.001-$pid"))
  }
}
