package graft.store

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._

/** `ReadPath.readRecord` — the record GET route — reads one record the
  * way `Collection.read` does: on a bucketed store, one `bucket=k`
  * partition dir, not the whole snapshot. */
class ReadPathSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestBase.spark

  /** The file scans of the queries `body` ran. */
  private def scansOf[A](body: => A): (A, Seq[FileSourceScanExec]) = {
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach(scans.add)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    org.apache.spark.GraftSparkShim.flushListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = body
      org.apache.spark.GraftSparkShim.flushListenerBus(spark.sparkContext)
      (r, scans.toArray(Array.empty[FileSourceScanExec]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a record read on a 16-bucket store scans exactly one bucket dir") {
    val store = new Store(spark, Files.createTempDirectory("graft-readpath").toString, Some(16))
    store.dataset("a", "pts").create().writeEntries(
      (1 to 64).map(i => WriteEntry(s"r$i", Some(PoObj("n" -> PoInt(i.toLong))))), WriteMode.Merge)
    Seq("datasets", "lenses").foreach { source =>
      if (source == "lenses") {
        // a lens output is an ordinary bucketed collection
        store.lens("a", "pts").create()
        store.lens("a", "pts").writeEntries(
          (1 to 64).map(i => WriteEntry(s"r$i", Some(PoObj("n" -> PoInt(i.toLong))))),
          WriteMode.Merge)
      }
      val (v, scans) = scansOf(ReadPath.readRecord(store, DataPath(source, "a", "pts", Some("r17"))))
      assert(v.contains(PoObj("n" -> PoInt(17))))
      assert(scans.size == 1, s"$source: ${scans.size} scans")
      assert(scans.head.metrics("numPartitions").value == 1,
        s"$source: read ${scans.head.metrics("numPartitions").value} bucket dirs")
      assert(ReadPath.readRecord(store, DataPath(source, "a", "pts", Some("nope"))).isEmpty)
    }
  }

  test("meta records are computed alone; other meta paths are rejected") {
    val store = new Store(spark, Files.createTempDirectory("graft-readpath-meta").toString)
    store.dataset("ann", "d").create()
    val meta = DataPath("meta", "system", "system")
    val (authors, scans) = scansOf(ReadPath.readRecord(store, meta.withRecord("authors")))
    assert(authors.contains(PoArr(Vector(PoStr("ann")))))
    assert(scans.isEmpty)
    assert(ReadPath.readRecord(store, meta.withRecord("nope")).isEmpty)
    intercept[IllegalArgumentException](
      ReadPath.readRecord(store, DataPath("meta", "ann", "d", Some("authors"))))
  }
}
