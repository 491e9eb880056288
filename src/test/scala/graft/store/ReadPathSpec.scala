package graft.store

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._

/** `ReadPath.readRecord` — the record GET route — reads one record the
  * way `Collection.read` does: on a bucketed store, one `bucket=k`
  * partition dir, not the whole snapshot. A commit's reads of the old
  * snapshot prune the same way, for a dataset PUT and a lens tick. */
class ReadPathSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestBase.spark
  import spark.implicits._

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
    val store = new Store(spark, SparkTestBase.tempDir("graft-readpath").toString, Some(16))
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

  test("a one-record PUT on a 16-bucket store scans exactly one bucket dir") {
    val store = new Store(spark, SparkTestBase.tempDir("graft-put-prune").toString, Some(16))
    val d = store.dataset("a", "pts").create()
    d.writeEntries((1 to 64).map(i =>
      WriteEntry(s"r$i", Some(PoObj("n" -> PoInt(i.toLong))))), WriteMode.Merge)
    val (_, scans) = scansOf(d.write("r17", PoObj("n" -> PoInt(-17))))
    // the previous-version lookup and the carry of the one touched bucket
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.metrics("numPartitions").value == 1,
      s"the PUT read ${s.metrics("numPartitions").value} bucket dirs"))
    assert(d.read("r17").contains(PoObj("n" -> PoInt(-17))))
    assert(d.list().size == 64)
  }

  test("a one-record lens tick on a 16-bucket store scans only the touched bucket dirs") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val store = new Store(spark, SparkTestBase.tempDir("graft-tick-prune").toString, Some(16))
    val d = store.dataset("a", "docs").create()
    def tags(ts: String*) = PoObj("tags" -> PoArr(ts.map(PoStr.apply).toVector))
    d.writeEntries((1 to 64).map(i => WriteEntry(s"r$i", Some(tags(s"t$i", s"u${i % 8}")))),
      WriteMode.Merge)
    val lens = new graft.lens.Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), graft.lens.TagIndexFn).create()
    lens.build()
    def rows = lens.output.records.collect().map(r => r.id -> (r.version, r.hash)).toMap
    val before = rows
    d.write("r5", tags("t5x", "u5"))
    val outDir = store.dir(lens.path).resolve("v")
    val (_, scans) = scansOf(lens.build())
    val after = rows
    val changed = (before.keySet ++ after.keySet).filter(id => before.get(id) != after.get(id))
    assert(changed == Set("t5", "t5x"))
    // the tick's changed output ids: u5's contributions moved too, though
    // its value did not
    val touched = Seq("t5", "t5x", "u5").toDF("id")
      .select(pmod(xxhash64(col("id")), lit(16L))).distinct().count()
    val outScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains(outDir.toString)))
    assert(outScans.nonEmpty, "the tick read no old output rows")
    outScans.foreach(s => assert(s.metrics("numPartitions").value <= touched,
      s"the tick read ${s.metrics("numPartitions").value} output bucket dirs, $touched touched"))
  }

  test("meta records are computed alone; other meta paths are rejected") {
    val store = new Store(spark, SparkTestBase.tempDir("graft-readpath-meta").toString)
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
