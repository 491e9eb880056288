package graft.obs

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The census holds exactly the jobs its span scheduled: none from
  * before the span opened, none from after it closed. */
class CensusSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val sc = spark.sparkContext

  /** Runs `body` as job group `group` and returns the ids of its jobs. */
  private def jobIdsOf(group: String)(body: => Unit): Set[Int] = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).toSet
  }

  test("measure records the jobs and stages of its body and of no other span") {
    val before = jobIdsOf("census-before")(spark.range(10).count())
    val (n, profile) = Census.measure(sc)(spark.range(10).count())
    val after = jobIdsOf("census-after")(spark.range(10).count())
    assert(n == 10)
    assert(profile.jobs.nonEmpty)
    profile.jobs.foreach { j =>
      assert(j.stageNames.nonEmpty && j.stageNames.forall(_.nonEmpty), j)
      assert(j.tasks > 0 && j.endMs >= j.startMs, j)
    }
    assert(profile.jobMs == profile.jobs.map(j => j.endMs - j.startMs).sum)
    assert(profile.stages.nonEmpty && profile.stages.forall(s => s.runMs >= 0 && s.tasks > 0))
    val ids = profile.jobs.map(_.id).toSet
    assert(before.nonEmpty && after.nonEmpty)
    assert((ids & before).isEmpty, "a job run before measure was recorded")
    assert((ids & after).isEmpty, "a job run after measure returned was recorded")
  }
}
