package graft.obs

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftSparkShim, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** One Spark job started inside a measured span: its scheduler start
  * and end times (epoch ms; `endMs` is -1 when the job had not ended
  * when the span closed), the names of its stages and their task count. */
final case class JobRecord(id: Int, startMs: Long, endMs: Long, stageNames: Seq[String],
                           tasks: Int) {
  def ms: Long = if (endMs < 0) 0L else endMs - startMs

  /** The job's distinct stage names joined by `" | "`: its call sites. */
  def name: String = stageNames.distinct.mkString(" | ")
}

/** One stage completed inside a measured span: submission to
  * completion (ms, -1 when either time is missing) and the executor
  * run time its tasks reported (ms). */
final case class StageRecord(id: Int, name: String, tasks: Int, runMs: Long,
                             executorRunMs: Long)

/** The jobs and stages of one measured span, in id order. */
final case class Profile(jobs: Seq[JobRecord], stages: Seq[StageRecord]) {
  /** The sum of the jobs' scheduler durations (ms). */
  def jobMs: Long = jobs.map(_.ms).sum
}

/** The job and stage census: the engine's one `SparkListener`. It is
  * attached only for the span of one [[measure]], and the listener bus
  * is flushed on both sides of the span, so the profile holds exactly
  * the jobs the body scheduled and the census itself runs no job.
  * Times are the scheduler's event timestamps, not the moment the
  * listener thread gets to an event, so a contended driver does not
  * stretch them. */
object Census {

  /** Runs `body` and returns its result with the profile of the Spark
    * jobs it scheduled and the stages that completed while it ran. */
  def measure[A](sc: SparkContext)(body: => A): (A, Profile) = {
    val listener = new Listener
    GraftSparkShim.flushListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftSparkShim.flushListenerBus(sc)
      (r, listener.profile)
    } finally sc.removeSparkListener(listener)
  }

  private final class Listener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobRecord]()
    private val stages = new ConcurrentHashMap[Int, StageRecord]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.put(j.jobId, JobRecord(j.jobId, j.time, -1L, j.stageInfos.map(_.name),
        j.stageInfos.map(_.numTasks).sum))

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(r => jobs.put(j.jobId, r.copy(endMs = j.time)))

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val run = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(-1L)
      stages.put(i.stageId, StageRecord(i.stageId, i.name, i.numTasks, run,
        Option(i.taskMetrics).fold(0L)(_.executorRunTime)))
    }

    def profile: Profile = Profile(jobs.values.asScala.toSeq.sortBy(_.id),
      stages.values.asScala.toSeq.sortBy(_.id))
  }
}
