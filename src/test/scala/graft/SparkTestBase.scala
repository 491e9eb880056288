package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

import graft.core.Fs
import graft.obs.Census

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
    * it scheduled, as [[graft.obs.Census]] counts them. */
  def jobsOf[A](body: => A): (A, Seq[String]) = {
    val (r, profile) = Census.measure(spark.sparkContext)(body)
    (r, profile.jobs.map(_.name))
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
