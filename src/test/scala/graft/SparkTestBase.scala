package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

import graft.core.Fs

/** Shared local session for Spark-backed specs (one JVM-wide session —
  * Spark sessions are expensive; suites run sequentially under sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(GraftExtensions.inject)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse-test")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` and returns its result with the names of the Spark jobs
    * it scheduled (listener bus flushed on both sides). */
  def jobsOf[A](body: => A): (A, Seq[String]) = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.add(j.stageInfos.map(_.name).distinct.mkString(" | "))
    }
    org.apache.spark.GraftSparkShim.flushListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftSparkShim.flushListenerBus(spark.sparkContext)
      (r, names.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(tempDirs.forEach(d => Fs.rmTree(d)))

  /** A new directory `<prefix><random>` under `java.io.tmpdir`, removed
    * with everything in it when the test JVM exits. Every spec's scratch
    * store, checkpoint and spool dir comes from here. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }
}
