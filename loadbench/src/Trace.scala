package loadbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.lens.{CommutativeMapFn, MapContext, MapFn}

/** Busy time, calls and throws of every wrapped map function. JVM-global:
  * the benchmark runs Spark in local mode, so map tasks run in this JVM. */
object MapCounters {
  val calls = new LongAdder
  val nanos = new LongAdder
  val errors = new LongAdder
  def reset(): Unit = { calls.reset(); nanos.reset(); errors.reset() }
}

/** Timing wrapper around a lens map function. A commutative function is
  * wrapped by [[TimedCommutativeMapFn]], so the lens build keeps its
  * partial-aggregating reduce. */
class TimedMapFn(val inner: MapFn) extends MapFn {
  def map(ctx: MapContext): Unit = {
    val t0 = System.nanoTime()
    try inner.map(ctx)
    catch { case e: Throwable => MapCounters.errors.increment(); throw e }
    finally { MapCounters.calls.increment(); MapCounters.nanos.add(System.nanoTime() - t0) }
  }
}

final class TimedCommutativeMapFn(inner: MapFn) extends TimedMapFn(inner) with CommutativeMapFn

object TimedMapFn {
  def wrap(fn: MapFn): MapFn = fn match {
    case _: CommutativeMapFn => new TimedCommutativeMapFn(fn)
    case _ => new TimedMapFn(fn)
  }
}

/** Spark work attributed to a named call. */
final class CallStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var execMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var outputBytes = 0L
}

/** Passive job census: records every job's submit/end time and its
  * tasks' metrics. Jobs are attributed afterwards to the wall-clock
  * window (see [[Windows]]) their submission falls in, which is exact
  * for the sequential phases and lumps concurrent HTTP work under one
  * name. It schedules no job itself. */
final class JobCensus extends SparkListener {
  import JobCensus.Job
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCount = new ConcurrentHashMap[Int, Int]()
  private val taskMetrics = new ConcurrentHashMap[Int, Array[Long]]() // job → tasks, exec, gc, shuffle, out

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    stageCount.put(e.jobId, e.stageInfos.size)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.getOrDefault(e.stageId, -1)
    val m = e.taskMetrics
    if (j >= 0 && m != null) {
      val a = taskMetrics.computeIfAbsent(j, _ => new Array[Long](5))
      a.synchronized {
        a(0) += 1; a(1) += m.executorRunTime; a(2) += m.jvmGCTime
        a(3) += m.shuffleWriteMetrics.bytesWritten; a(4) += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until every started job has ended and no new job arrived for
    * a short quiet period (the listener bus is asynchronous). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = jobs.size
      val open = jobs.values.asScala.count(_.end < 0)
      if (n != last || open > 0) { last = n; stableSince = System.currentTimeMillis() }
      else if (System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(25)
    }
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Stats of the jobs submitted inside [from, to] (epoch ms). */
  def statsBetween(from: Long, to: Long): CallStats = {
    val s = new CallStats
    allJobs.filter(j => j.start >= from && j.start <= to).foreach { j =>
      s.jobs += 1
      s.stages += stageCount.getOrDefault(j.id, 0)
      Option(taskMetrics.get(j.id)).foreach { a =>
        s.tasks += a(0); s.execMs += a(1); s.gcMs += a(2)
        s.shuffleBytes += a(3); s.outputBytes += a(4)
      }
    }
    s
  }

  /** Wall time inside [from, to] not covered by any job interval. */
  def gapMs(from: Long, to: Long): Long = {
    val ivs = allJobs.filter(j => j.end >= from && j.start <= to)
      .map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (to - from) - covered
  }
}

object JobCensus {
  final class Job(val id: Int, val start: Long) { @volatile var end: Long = -1L }
}

/** Named wall-clock windows (epoch ms), recorded by the benchmark's own
  * thread around each call into the engine. */
final class Windows {
  private val ws = mutable.ArrayBuffer[(String, Long, Long)]()
  def time[A](name: String)(f: => A): A = {
    val s = System.currentTimeMillis()
    try f finally synchronized { ws += ((name, s, System.currentTimeMillis())) }
  }
  def clear(): Unit = synchronized(ws.clear())
  def add(name: String, s: Long, e: Long): Unit = synchronized { ws += ((name, s, e)) }
  def of(name: String): Seq[(Long, Long)] = synchronized(ws.filter(_._1 == name).map(w => (w._2, w._3)).toSeq)

  /** Spark stats summed over every window of `name`. */
  def stats(census: JobCensus, name: String): CallStats = {
    val total = new CallStats
    of(name).foreach { case (s, e) =>
      val c = census.statsBetween(s, e)
      total.jobs += c.jobs; total.stages += c.stages; total.tasks += c.tasks
      total.execMs += c.execMs; total.gcMs += c.gcMs
      total.shuffleBytes += c.shuffleBytes; total.outputBytes += c.outputBytes
    }
    total
  }
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap used after a full collection, in MiB: the least of three
    * readings, as a background thread may allocate between a
    * collection and its reading. */
  def heapLiveMb: Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(50)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}
