package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.store.{Store, WriteEntry, WriteMode}

/** End-to-end streaming story: store commits → durable commit log →
  * Structured Streaming → streaming dedup → back into a store
  * collection. ChangeFeedSpec pins the log and EventAnalyticsSpec pins
  * the operators; this spec wires them into one pipeline — the CDC shape
  * a 100 TB ingest runs: the commit log is the change feed, a spool of
  * fresh records is the document stream, `dedupDocs` trims duplicates
  * with watermark-bounded state, and survivors land in a curated
  * collection through the ordinary commit path. */
class CommitPipelineSpec extends AnyFunSuite {

  test("commit log drives dedupDocs into a curated collection, deduping ACROSS commits") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val store = new Store(spark, SparkTestBase.tempDir("graft-pipe").toString)
    val log = new CommitLog(store).install()
    val inbox = store.dataset("a", "inbox").create()
    val curated = store.dataset("a", "curated").create()
    val spool = SparkTestBase.tempDir("graft-pipe-spool").toString

    def doc(text: String) = Some(PoObj("text" -> PoStr(text)): PoValue)

    // ---- hop 1: commit events → F2 freshness read → append-only spool.
    // The spool gives the file source immutable files (snapshots are
    // rewritten per commit, so they can't be streamed directly).
    var cursor = 0L
    val q1 = log.stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val events = batch.filter(col("path") === "/datasets/a:inbox").collect()
        if (events.nonEmpty) {
          val evTs = events.map(_.getAs[Long]("ts")).max
          val c = cursor
          val fresh = inbox.records.filter(col("version") > c)
            .map { r =>
              val text = Cbor.decode(r.value).asInstanceOf[PoObj]
                .fields("text").asInstanceOf[PoStr].s
              (r.id, text, new java.sql.Timestamp(evTs))
            }.toDF("id", "text", "ts")
          fresh.write.mode("append").parquet(spool)
          cursor = events.map(_.getAs[Long]("version")).max
        }
        ()
      }
      .option("checkpointLocation", SparkTestBase.tempDir("graft-pipe-ck1").toString)
      .start()

    // ---- hop 2: spool stream → dedupDocs (watermark-bounded state) →
    // survivors merged into the curated collection via the commit path
    val spoolSchema = StructType(Seq(
      StructField("id", StringType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val q2 = spark.readStream.schema(spoolSchema).parquet(spool)
      .transform(df => EventAnalytics.dedupDocs(df))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val entries = batch.select("id", "text").collect().toSeq.map { r =>
          WriteEntry(r.getString(0), doc(r.getString(1)))
        }
        if (entries.nonEmpty) curated.writeEntries(entries, WriteMode.Merge)
        ()
      }
      .option("checkpointLocation", SparkTestBase.tempDir("graft-pipe-ck2").toString)
      .start()

    try {
      // commit 1: two distinct texts + an in-batch duplicate
      inbox.writeEntries(Seq(
        WriteEntry("d1", doc("the quick brown fox")),
        WriteEntry("d2", doc("lorem ipsum dolor")),
        WriteEntry("d3", doc("the quick brown fox"))), WriteMode.Merge)
      q1.processAllAvailable(); q2.processAllAvailable()
      val after1 = curated.list().toSet
      assert(after1.size == 2, s"one survivor per distinct text, got $after1")
      assert(after1.subsetOf(Set("d1", "d2", "d3")))

      // commit 2: a CROSS-commit duplicate of d1's text plus one new text
      // — the streaming state must suppress the dup from a PRIOR batch
      inbox.writeEntries(Seq(
        WriteEntry("d4", doc("the quick brown fox")),
        WriteEntry("d5", doc("fresh new content"))), WriteMode.Merge)
      q1.processAllAvailable(); q2.processAllAvailable()
      val after2 = curated.list().toSet
      assert(after2.contains("d5"), "the genuinely new doc lands")
      assert(!after2.contains("d4"),
        "a duplicate from an EARLIER commit is suppressed by streaming state")
      assert(after2.size == 3)
    } finally { q1.stop(); q2.stop() }
  }

  test("windowedStats runs directly over the commit-log stream (ops metrics)") {
    val spark = SparkTestBase.spark
    val store = new Store(spark, SparkTestBase.tempDir("graft-winlog").toString)
    val log = new CommitLog(store).install()
    val d1 = store.dataset("a", "w1").create()
    val d2 = store.dataset("a", "w2").create()
    // the commit log IS an events stream: (ts, path, version) → commits
    // per collection per window, the ops dashboard a store wants
    val stats = EventAnalytics.windowedStats(
      log.stream
        .withColumn("ts", timestamp_millis(col("ts")))
        .withColumn("event_type", col("path"))
        .withColumn("value", col("version").cast("double")),
      windowLen = "1 hour", lateness = "1 minute")
    val q = stats.writeStream.format("memory").queryName("commit_stats")
      .outputMode("update").start()
    try {
      d1.write("r1", PoInt(1)); d1.write("r2", PoInt(2)); d2.write("x", PoInt(3))
      q.processAllAvailable()
      val byPath = spark.table("commit_stats").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events")).toMap
      assert(byPath("/datasets/a:w1") == 2L)
      assert(byPath("/datasets/a:w2") == 1L)
    } finally q.stop()
  }
}
