package graft.lens

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.jobsOf
import graft.core._
import graft.store.{DataPath, Store}

/** Job census of the fixed-cost operation shapes: how many Spark jobs a
  * settled lens rebuild, a one-record incremental build, a one-record
  * dataset PUT and a batched bucketed lookup schedule. Each shape's
  * per-job scheduling is most of its wall time at small scale, so these
  * counts are pinned as budgets: a change that adds a job to one of them
  * fails here, with the job names in the message. */
class JobBudgetSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  private def freshStore(buckets: Option[Int] = None): Store =
    new Store(spark, SparkTestBase.tempDir("graft-jobs").toString, buckets)

  private def doc(tags: String*): PoValue =
    PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))

  private def tagLens(store: Store): Lens = {
    val d = store.dataset("a", "docs").create()
    (1 to 50).foreach(i => d.write(s"r$i", doc(s"t${i % 7}", s"t${i % 3}")))
    val lens = new Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()
    lens.build() // cold full build: not a shape under test
    lens
  }

  test("settled rebuild schedules 0 jobs") {
    val lens = tagLens(freshStore())
    val v = lens.output.meta.version
    val (got, jobs) = jobsOf(lens.build())
    assert(got == v)
    info(s"settled rebuild: ${jobs.size} jobs")
    assert(jobs.isEmpty, s"settled rebuild ran ${jobs.size} job(s): ${jobs.mkString("; ")}")
  }

  test("one-record incremental build schedules at most 8 jobs and maps once") {
    // bucketed: the output's touched buckets fold on the driver, so the
    // copy-on-write commit adds no bucket-probe job
    Seq(None, Some(8)).foreach { buckets =>
      val store = freshStore(buckets)
      val lens = tagLens(store)
      // a warm incremental build first: the shape under test is the
      // steady-state tick, not the first build after the full one
      store.dataset("a", "docs").write("r1", doc("t1", "warm"))
      lens.build()
      Seq(
        "update" -> (() => store.dataset("a", "docs").write("r2", doc("t9"))),
        "insert" -> (() => store.dataset("a", "docs").write("r99", doc("t1", "new"))),
        "delete" -> (() => store.dataset("a", "docs").delete("r3"))
      ).foreach { case (shape, commit) =>
        commit()
        CountingTagFn.calls.set(0)
        val (_, jobs) = jobsOf(lens.build())
        val what = s"one-record $shape build${buckets.fold("")(b => s", $b buckets")}"
        info(s"$what: ${jobs.size} jobs")
        assert(jobs.size <= 8, s"$what ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
        assert(CountingTagFn.calls.get == (if (shape == "delete") 0 else 1))
      }
      val t9 = lens.output.read("t9").get.asInstanceOf[PoSet].items
      assert(t9.contains(PoStr("r2")))
      assert(lens.output.read("new").get == PoSet(PoStr("r99")))
    }
  }

  test("one-record unbucketed dataset PUT schedules 2 jobs") {
    val d = freshStore().dataset("a", "put").create()
    (1 to 20).foreach(i => d.write(s"r$i", doc(s"t$i")))
    val (_, jobs) = jobsOf(d.write("r5", doc("changed")))
    info(s"dataset PUT: ${jobs.size} jobs")
    assert(jobs.size == 2, s"PUT ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
  }

  test("one-record dataset PUT on a 16-bucket store schedules 2 jobs") {
    // the previous-version lookup, then the write of the one touched
    // bucket dir: its carried rows and the new one coalesce into one
    // task, with no shuffle
    val d = freshStore(Some(16)).dataset("a", "put16").create()
    d.writeEntries((1 to 64).map(i =>
      graft.store.WriteEntry(s"r$i", Some(doc(s"t$i")))), graft.store.WriteMode.Merge)
    val (_, jobs) = jobsOf(d.write("r5", doc("changed")))
    info(s"16-bucket dataset PUT: ${jobs.size} jobs")
    assert(jobs.size == 2, s"PUT ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
  }

  test("batched readRows on a bucketed store schedules 1 job") {
    val d = freshStore(buckets = Some(8)).dataset("a", "pts").create()
    d.writeEntries((1 to 40).map(i =>
      graft.store.WriteEntry(s"r$i", Some(doc(s"t$i")))), graft.store.WriteMode.Merge)
    val (rows, jobs) = jobsOf(d.readRows(Seq("r1", "r17", "r33", "nope")))
    assert(rows.map(_.id).toSet == Set("r1", "r17", "r33"))
    info(s"batched readRows: ${jobs.size} jobs")
    assert(jobs.size == 1, s"readRows ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
  }
}
