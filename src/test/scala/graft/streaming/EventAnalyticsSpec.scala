package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class EventAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("watermarked windowed aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventAnalytics.windowedStats(events, windowLen = "10 minutes",
      lateness = "5 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("update").start()
    try {
      in.addData((1L, ts(1), "click", 1.0), (2L, ts(2), "click", 2.0),
        (3L, ts(11), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"))).toSet
      assert(rows.contains(("2026-01-01 10:00:00.0", "click", 2L, 3.0)))
      assert(rows.contains(("2026-01-01 10:10:00.0", "view", 1L, 5.0)))

      // late-but-within-watermark data updates its window
      in.addData((4L, ts(3), "click", 10.0))
      q.processAllAvailable()
      val updated = spark.table("win_stats").collect()
        .filter(r => r.getAs[String]("event_type") == "click")
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(updated.contains((3L, 13.0)))
    } finally q.stop()
  }

  test("windowedStats over the driver's real events parquet as a file stream") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    // the file source needs an explicit schema: infer it from a batch read
    // so the test tracks whatever physical ts type the driver generated,
    // then normalize through the same helper the batch path uses
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a directory: link the driver file into one
    val streamDir = SparkTestBase.tempDir("graft-events")
    try java.nio.file.Files.createLink(streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    catch { case _: Throwable =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        streamDir.resolve("events.parquet"))
    }
    val raw = spark.readStream.schema(schema).parquet(streamDir.toString)
    val events = graft.Tables.normalizeEventTs(raw)
    val q = EventAnalytics.windowedStats(events, windowLen = "1 day",
      lateness = "1 hour")
      .writeStream.format("memory").queryName("real_events")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("real_events")
        .groupBy("event_type").agg(sum("n_events").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.Tables.load(spark, dir, "events")
        .groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, "stream totals must equal the batch scan")
    } finally q.stop()
  }

  test("stateful sessionization accumulates within the gap, resets across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = EventAnalytics.sessionize(in.toDS(), gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      in.addData((7L, ts(0)), (7L, ts(2)), (9L, ts(0)))
      q.processAllAvailable()
      val s1 = spark.table("sessions").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
      assert(s1(7L) == 2 && s1(9L) == 1)

      in.addData((7L, ts(4))) // within gap: same session grows
      q.processAllAvailable()
      val s2 = spark.table("sessions").collect()
        .filter(_.getAs[Long]("user_id") == 7L)
        .map(_.getAs[Long]("n_events"))
      assert(s2.contains(3L))

      in.addData((7L, ts(30))) // far beyond gap: fresh session
      q.processAllAvailable()
      val s3 = spark.table("sessions").collect()
        .filter(_.getAs[Long]("user_id") == 7L)
      assert(s3.map(_.getAs[Long]("n_events")).contains(1L))
      // the in-data gap also CLOSED the previous 3-event session
      assert(s3.exists(r => r.getAs[Boolean]("closed") &&
        r.getAs[Long]("n_events") == 3L))
    } finally q.stop()
  }

  test("a late within-watermark event must not regress the session's lastTs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = EventAnalytics.sessionize(in.toDS(), gapMs = 5 * 60 * 1000,
      lateness = "30 minutes")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("update").start()
    try {
      in.addData((3L, ts(10)))
      q.processAllAvailable()
      // a LATE event (ts 8 < stored lastTs 10) arrives within the
      // watermark: it merges, and lastTs must stay 10, so an event at
      // ts 14 (gap 4 min from 10, 6 min from 8) still merges — the old
      // head/last code would have split here and closed a session
      in.addData((3L, ts(8)))
      q.processAllAvailable()
      in.addData((3L, ts(14)))
      q.processAllAvailable()
      val user3 = spark.table("late_sessions").collect()
        .filter(_.getAs[Long]("user_id") == 3L)
      assert(!user3.exists(_.getAs[Boolean]("closed")),
        "no premature close: lastTs must not regress on late data")
      assert(user3.exists(r => r.getAs[Long]("n_events") == 3L &&
        r.getAs[Long]("duration_ms") == 6L * 60 * 1000),
        "session spans min(firstTs)..max(lastTs) = ts8..ts14")
    } finally q.stop()
  }

  test("sessionize closes idle sessions on event-time timeout and evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = EventAnalytics.sessionize(in.toDS(), gapMs = 5 * 60 * 1000,
      lateness = "1 minute")
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode("update").start()
    try {
      in.addData((7L, ts(0)), (7L, ts(2)))
      q.processAllAvailable()
      // another user's events advance the watermark past 7's
      // lastTs + gap (ts 7); the watermark used by a batch is the one
      // computed at the END of the previous batch, so two ticks
      in.addData((9L, ts(20)))
      q.processAllAvailable()
      in.addData((9L, ts(21)))
      q.processAllAvailable()
      def user7 = spark.table("timeout_sessions").collect()
        .filter(_.getAs[Long]("user_id") == 7L)
      assert(user7.exists(r => r.getAs[Boolean]("closed") &&
        r.getAs[Long]("n_events") == 2L), "idle session must close via timeout")
      // state was evicted: a later event starts FRESH — if the old state
      // lingered, this batch would close it a second time
      in.addData((7L, ts(40)))
      q.processAllAvailable()
      assert(user7.count(_.getAs[Boolean]("closed")) == 1,
        "timeout must remove state; no second close for the same session")
      assert(user7.exists(r => !r.getAs[Boolean]("closed") &&
        r.getAs[Long]("n_events") == 1L))
    } finally q.stop()
  }

  test("streaming dedupDocs: one survivor per fingerprint, state evicted past watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = EventAnalytics.dedupDocs(docs, lateness = "5 minutes")
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try {
      // 1 and 2 normalize to the same fingerprint ("hello world")
      in.addData((1L, ts(1), "Hello, world"), (2L, ts(2), "hello   WORLD"),
        (3L, ts(3), "something else"))
      q.processAllAvailable()
      def ids = spark.table("dedup_docs").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids.intersect(Set(1L, 2L)).size == 1, s"dup pair must collapse: $ids")
      assert(ids.contains(3L))

      // advance the watermark well past the first batch, then repeat the
      // dup text: its fingerprint state must have been EVICTED (bounded
      // state), so the repeat is re-admitted — the documented horizon
      // semantic, batch exactGroups stays the global authority
      in.addData((4L, ts(50), "advance watermark"))
      q.processAllAvailable()
      in.addData((5L, ts(49), "Hello, world"))
      q.processAllAvailable()
      assert(ids.contains(5L),
        s"fingerprint state older than the watermark horizon must evict: $ids")
    } finally q.stop()
  }

  test("sessionizeBatch: gap boundary merges (streaming parity), strict excess splits") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // user 1: gaps of exactly 100 (merge) then 101 (split);
    // user 2: single event → one session of duration 0
    val ev = Seq(
      (1L, 1000L, 10L), (1L, 1100L, 11L), (1L, 1201L, 12L),
      (2L, 5000L, 20L)).toDF("user_id", "us", "event_id")
    val got = EventAnalytics.sessionizeBatch(ev, gapUs = 100L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 2L, 100L), // events 10+11: boundary gap merges, duration 100
      (1L, 2L, 1L, 0L),   // event 12: 101 > gap → new session
      (2L, 1L, 1L, 0L)))
  }

  test("conversionJoin: stream-stream interval join matches within horizon only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long, Double)]
    val buys = MemoryStream[(Long, Timestamp, Long, Double)]
    def df(m: MemoryStream[(Long, Timestamp, Long, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = EventAnalytics.conversionJoin(df(clicks), df(buys),
        horizon = "30 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("conv").outputMode("append").start()
    try {
      // user 7: click at 10:01, purchases at 10:20 (in horizon) and
      // 10:45 (past 30 min — must NOT join); user 8 purchase with no
      // click; user 7 purchase BEFORE the click (must not join)
      clicks.addData((100L, ts(1), 7L, 0.0))
      buys.addData((200L, ts(0), 7L, 9.0), (201L, ts(20), 7L, 42.0),
        (202L, ts(45), 7L, 5.0), (203L, ts(20), 8L, 1.0))
      q.processAllAvailable()
      // append-mode stream-stream inner join emits once watermarks
      // allow; push both watermarks far forward to flush
      clicks.addData((101L, ts(59), 99L, 0.0))
      buys.addData((204L, ts(59), 99L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("conv").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
          r.getAs[Long]("purchase_id"), r.getAs[Double]("amount"))).toSet
      assert(rows == Set((7L, 100L, 201L, 42.0)),
        s"only the in-horizon purchase after the click joins: $rows")
    } finally q.stop()
  }

  test("sessionTranscripts: ts-ordered concatenation, tie broken by event_id") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // user 1 session 1: three events with a same-microsecond tie (ids 11
    // vs 12 decide the order); then a gap opens session 2. The rows
    // arrive SHUFFLED — the transcript order must come from the sort
    // inside the agg, never from arrival order.
    val ev = Seq(
      (1L, 1100L, 12L, "click"), (1L, 1000L, 10L, "view"),
      (1L, 1100L, 11L, "scroll"), (1L, 5000L, 13L, "purchase"),
      (2L, 9000L, 20L, "view"))
      .toDF("user_id", "us", "event_id", "event_type")
      .repartition(7)
    val got = EventAnalytics.sessionTranscripts(ev, gapUs = 1000L)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L, 1000L, "view>scroll>click"),
      (1L, 2L, 1L, 5000L, "purchase"),
      (2L, 1L, 1L, 9000L, "view")), got.toString)
  }
}
