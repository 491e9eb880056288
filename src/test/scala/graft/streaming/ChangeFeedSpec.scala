package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.lens.{Lens, MapContext, MapFn}
import graft.store.{DataPath, Store}

/** S12 — replayable commit log + Structured Streaming change feed. */
class ChangeFeedSpec extends AnyFunSuite {

  private def freshStore(): Store =
    new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-feed").toString)

  test("every commit appends a replayable event; batch view reads them all") {
    val s = freshStore()
    val log = new CommitLog(s).install()
    val d = s.dataset("a", "x").create()
    d.write("r1", PoInt(1))
    d.write("r2", PoInt(2))
    d.delete("r1")
    val rows = log.batch.orderBy("version").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[String]("path") == "/datasets/a:x"))
    assert(rows.forall(_.getAs[String]("author") == "a"))
  }

  test("readStream over the log delivers commits; foreachBatch drives a lens rebuild") {
    val s = freshStore()
    val log = new CommitLog(s).install()
    val d = s.dataset("a", "base").create()
    d.write("r1", PoObj("tags" -> PoArr(Vector(PoStr("t1")))))

    val fn = new MapFn {
      def map(ctx: MapContext): Unit = ctx.output("n", PoInt(1))
    }
    val lens = new Lens(s, "a", "streamed", Seq(DataPath("datasets", "a", "base")), fn).create()

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = log.stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val paths = batch.collect().map(_.getAs[String]("path")).toSet
        paths.foreach(seen.add)
        // rebuild dependents of changed collections (the LensHub cascade,
        // driven from the durable feed instead of the in-process bus)
        if (paths.contains("/datasets/a:base")) lens.build()
        ()
      }
      .option("checkpointLocation",
        SparkTestBase.tempDir("graft-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(seen.contains("/datasets/a:base"))
      assert(lens.output.read("n").get == PoInt(1))

      d.write("r2", PoObj("tags" -> PoArr(Vector(PoStr("t2")))))
      q.processAllAvailable()
      assert(lens.output.read("n").get == PoInt(2))
    } finally q.stop()
  }

  test("eventsSince serves the SSE catch-up framing") {
    val s = freshStore()
    val log = new CommitLog(s).install()
    val d = s.dataset("a", "sse").create()
    d.write("r1", PoInt(1))
    val events = log.eventsSince(0L)
    assert(events.length == 1)
    assert(events.head.contains("\"path\":\"/datasets/a:sse\""))
    assert(events.head.contains("\"version\":1"))
    assert(log.eventsSince(System.currentTimeMillis() + 1000).isEmpty)
  }

  test("catch-up cursor is (ts, seq): same-millisecond commits are never lost") {
    val s = freshStore()
    val log = new CommitLog(s)
    val p = graft.store.DataPath("datasets", "a", "burst")
    // a tight append loop lands many commits inside one millisecond
    (1 to 20).foreach(v => log.append(p, v.toLong))
    val all = log.eventsSince(0L)
    assert(all.length == 20)
    def cursor(ev: String): (Long, Long) = {
      def field(k: String) =
        s""""$k":(\\d+)""".r.findFirstMatchIn(ev).get.group(1).toLong
      (field("ts"), field("seq"))
    }
    // resume from EVERY event's full cursor: exactly the remainder,
    // even when neighbours share a timestamp (the old ts-only `>`
    // filter dropped same-ms successors)
    all.zipWithIndex.foreach { case (ev, i) =>
      val (ts, seq) = cursor(ev)
      assert(log.eventsSince(ts, seq) == all.drop(i + 1))
    }
    // ts-only resume degrades to >= on that millisecond, never loses
    val (lastTs, _) = cursor(all.last)
    assert(log.eventsSince(lastTs).nonEmpty)
  }

  test("SSE poll ticks read the in-memory tail, never re-listing _commits/") {
    val s = freshStore()
    val log = new CommitLog(s).install()
    val d = s.dataset("a", "tail").create()
    d.write("r1", PoInt(1))
    d.write("r2", PoInt(2))
    val (ts, seq) = log.latestCursor // one scan per connection, at connect
    val before = Fs.listCalls.get()
    // steady-state poll loop: many ticks, zero directory lists
    (1 to 50).foreach { _ =>
      assert(log.eventsSinceCursor(ts, seq).isEmpty)
    }
    assert(Fs.listCalls.get() == before, "an up-to-date poll tick must not list the log dir")
    // a new commit is delivered from the buffer — still no list by the
    // POLL (the commit itself lists snapshot dirs; re-snapshot after it)
    d.write("r3", PoInt(3))
    val afterCommit = Fs.listCalls.get()
    val fresh = log.eventsSinceCursor(ts, seq)
    assert(fresh.map(_._2).exists(_.contains("\"version\":3")))
    assert(Fs.listCalls.get() == afterCommit, "delivery from the tail buffer must not list the log dir")
    // catch-up from the beginning still works (scan fallback allowed)
    assert(log.eventsSince(0L).length == 3)
  }

  test("tail eviction: reads older than the buffer fall back to the durable log") {
    val s = freshStore()
    val log = new CommitLog(s, tailCapacity = 4)
    val p = graft.store.DataPath("datasets", "a", "evict")
    (1 to 10).foreach(v => log.append(p, v.toLong))
    // cursor 0 predates the (evicted) buffer: served by scan, complete + ordered
    val all = log.eventsSince(0L)
    assert(all.length == 10)
    def version(ev: String): Long =
      """"version":(\d+)""".r.findFirstMatchIn(ev).get.group(1).toLong
    assert(all.map(version) == (1L to 10L))
    // a cursor inside the retained tail serves from the buffer
    val lastFour = log.eventsSinceCursor(0L, -1L).drop(6)
    val (ts6, seq6) = log.eventsSinceCursor(0L, -1L).apply(5)._1
    val before = Fs.listCalls.get()
    assert(log.eventsSinceCursor(ts6, seq6).map(_._2) == lastFour.map(_._2))
    assert(Fs.listCalls.get() == before)
  }

  test("a log created over a pre-existing directory treats history as catch-up") {
    val s = freshStore()
    val log1 = new CommitLog(s)
    val p = graft.store.DataPath("datasets", "a", "pre")
    (1 to 3).foreach(v => log1.append(p, v.toLong))
    // fresh CommitLog instance over the same store: its empty buffer must
    // not shadow the durable history
    val log2 = new CommitLog(s)
    assert(log2.eventsSince(0L).length == 3)
    assert(log2.latestCursor == log1.latestCursor)
  }

  test("segment compaction: catch-up spans the compacted boundary; cursors survive") {
    val s = freshStore()
    val log = new CommitLog(s)
    val p = graft.store.DataPath("datasets", "a", "cmp")
    (1 to 10).foreach(v => log.append(p, v.toLong))
    val mid = CommitLog.parseCursor(
      Files.list(java.nio.file.Paths.get(s.root, "_commits")).iterator().next().getFileName.toString)
    val cursorAt5 = log.eventsSinceCursor(0L, -1L)(4)._1

    // roll everything durable so far into one segment
    val rolled = log.compact(maxAgeMs = 0L, minFiles = 1)
    assert(rolled == 10)
    val names = graft.core.Fs.list(java.nio.file.Paths.get(s.root, "_commits"))
      .map(_.getFileName.toString)
    assert(names.count(_.startsWith("segment-")) == 1)
    assert(!names.exists(_.startsWith("commit-")), s"live files remain: $names")

    // two more live appends AFTER compaction
    log.append(p, 11L)
    log.append(p, 12L)

    // a fresh instance (empty tail) must serve catch-up across the
    // segment/live boundary, in order, from any cursor
    val log2 = new CommitLog(s)
    val all = log2.eventsSinceCursor(0L, -1L)
    assert(all.length == 12)
    assert(all.map(_._1) == all.map(_._1).sorted)
    val after5 = log2.eventsSinceCursor(cursorAt5._1, cursorAt5._2)
    assert(after5.length == 7) // 6..10 from the segment, 11..12 live
    assert(after5.map(_._2).exists(_.contains("\"version\":6")))
    assert(after5.map(_._2).exists(_.contains("\"version\":12")))

    // latestCursor sees through segments; seq still strictly advances
    assert(log2.latestCursor == log.latestCursor)
    val beforeAppend = log2.latestCursor
    log2.append(p, 13L)
    assert(CommitLog.cursorLt(beforeAppend, log2.latestCursor))

    // batch view is exact across the boundary
    assert(log.batch.count() == 13)

    // a second compaction merges the old segment with the new files
    val rolled2 = log.compact(maxAgeMs = 0L, minFiles = 1)
    assert(rolled2 == 4) // 1 segment + 3 commit files
    val names2 = graft.core.Fs.list(java.nio.file.Paths.get(s.root, "_commits"))
      .map(_.getFileName.toString)
    assert(names2.count(_.startsWith("segment-")) == 1)
    // log2's eviction horizon predates its own append, so a from-zero
    // read takes the durable-scan path — through the merged segment
    assert(log2.eventsSinceCursor(0L, -1L).length == 13)
    assert(log.batch.count() == 13)

    // below-threshold compaction is a no-op
    assert(log.compact(maxAgeMs = 0L, minFiles = 64) == 0)
    assert(mid._1 > 0) // (sanity: parser ran on a real filename)
  }

  test("compaction crash recovery: overlapping segments merge without losing events") {
    val s = freshStore()
    val log = new CommitLog(s)
    val p = graft.store.DataPath("datasets", "a", "crash")
    val commitsDir = java.nio.file.Paths.get(s.root, "_commits")
    def snapshot(): Map[String, Array[Byte]] =
      graft.core.Fs.list(commitsDir)
        .map(f => f.getFileName.toString -> Files.readAllBytes(f)).toMap

    (1 to 5).foreach(v => log.append(p, v.toLong))
    assert(log.compact(maxAgeMs = 0L, minFiles = 1) == 5) // segment[1-5]
    val afterFirst = snapshot()
    log.append(p, 6L)
    log.append(p, 7L)
    val beforeSecond = snapshot()
    assert(log.compact(maxAgeMs = 0L, minFiles = 1) == 3) // segment[1-7]
    val afterSecond = snapshot()

    // reconstruct the worst crash state: compact#2 died between the
    // segment move and the deletes — segment[1-5], segment[1-7], AND
    // commit-6/commit-7 all on disk at once
    graft.core.Fs.list(commitsDir).foreach(f => Files.delete(f))
    (afterFirst ++ beforeSecond ++ afterSecond).foreach { case (n, bytes) =>
      Files.write(commitsDir.resolve(n), bytes)
    }

    // recovery compaction: the merged [1-7] range collides with the
    // existing segment[1-7] name; the rewrite must land and the cleanup
    // must NOT delete the file it just wrote
    assert(log.compact(maxAgeMs = 0L, minFiles = 1) > 0)
    val names = graft.core.Fs.list(commitsDir).map(_.getFileName.toString)
    assert(names.count(_.startsWith("segment-")) == 1, s"state: $names")
    assert(!names.exists(_.startsWith("commit-")))
    val all = new CommitLog(s).eventsSinceCursor(0L, -1L)
    assert(all.length == 7, s"events lost: ${all.map(_._2)}")
    assert((1 to 7).forall(v => all.exists(_._2.contains(s""""version":$v"""))))
  }

  test("two instances compacting the same range at once: no call throws, every event reads back once") {
    // the soleWriter = false topology: the ingest writer and a
    // maintainer each hold a CommitLog on one _commits dir, and both
    // may compact it
    val s = freshStore()
    val logs = Seq(new CommitLog(s, soleWriter = false), new CommitLog(s, soleWriter = false))
    val p = graft.store.DataPath("datasets", "a", "cc")
    val rounds = 40
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to rounds).foreach { round =>
      (1 to 3).foreach(k => logs(k % 2).append(p, (3 * round + k).toLong))
      // both reach compact() together, so they roll the same range
      val barrier = new java.util.concurrent.CyclicBarrier(logs.size)
      val ts = logs.map { log =>
        val t = new Thread(() => {
          barrier.await()
          try log.compact(maxAgeMs = 0L, minFiles = 1)
          catch { case e: Throwable => failures.add(e) }
          ()
        })
        t.start(); t
      }
      ts.foreach(_.join(60000))
    }
    assert(failures.isEmpty,
      s"${failures.size} of ${2 * rounds} compactions failed, first: ${failures.peek()}")
    val versions = new CommitLog(s).eventsSinceCursor(0L, -1L)
      .map(e => "\"version\":(\\d+)".r.findFirstMatchIn(e._2).get.group(1).toLong)
    assert(versions.sorted == (4L to 3L * rounds + 3), "every event reads back once")
  }

  test("restart seq seeds past the durable log: same-ms appends never collide") {
    val s = freshStore()
    val log1 = new CommitLog(s)
    val p = graft.store.DataPath("datasets", "a", "reseed")
    (1 to 3).foreach(v => log1.append(p, v.toLong))
    val before = log1.latestCursor
    // a restarted (second) CommitLog with a zero-seeded counter would
    // reuse (ts, 1..3) if an append lands in the same millisecond as
    // the last durable commit — ATOMIC_MOVE would silently REPLACE that
    // file, losing an event. The seeded counter must strictly exceed
    // every durable cursor even when ts does not advance.
    val log2 = new CommitLog(s)
    log2.append(p, 4L)
    val after = log2.latestCursor
    assert(CommitLog.cursorLt(before, after), s"$after must exceed $before")
    // all four events survive (nothing replaced)
    assert(log2.eventsSince(0L).length == 4)
  }

  test("two LIVE writers on one log never lose an event (createLink collision-retry)") {
    // the LensMaintainer topology: an ingest writer and a maintainer
    // process each hold an installed CommitLog on the same _commits
    // dir. Both seed equal counters at construction, so interleaved
    // same-millisecond appends repeatedly compute the SAME (ts, seq)
    // filename — the old ATOMIC_MOVE publish silently replaced the
    // other writer's file. createLink fails on the existing name and
    // the retry re-seeds past the durable latest; every event must
    // survive with a distinct cursor.
    val s = freshStore()
    val logA = new CommitLog(s)
    val logB = new CommitLog(s) // seeded identically to logA
    val p = graft.store.DataPath("datasets", "a", "dual")
    val n = 50
    (1 to n).foreach { v =>
      logA.append(p, v.toLong)      // advances only logA's counter
      logB.append(p, (100 + v).toLong) // logB's counter collides constantly
    }
    val events = new CommitLog(s).eventsSinceCursor(0L, -1L)
    assert(events.length == 2 * n, s"lost ${2 * n - events.length} of ${2 * n} events")
    assert(events.map(_._1).distinct.length == 2 * n, "cursors must be unique")
  }

  test("multi-writer mode: reads see the OTHER writer's events, cursors stay monotone") {
    val s = freshStore()
    val logA = new CommitLog(s, soleWriter = false)
    val logB = new CommitLog(s, soleWriter = false)
    val p = graft.store.DataPath("datasets", "a", "mw")

    logA.append(p, 1L)
    val c1 = logA.latestCursor
    // B appends AFTER a reader already advanced to c1: multi-writer
    // append re-seeds past the durable latest, so B's event must sort
    // AFTER c1 (an exact-cursor resumer must not lose it) even though
    // B's own counter was far behind A's
    logB.append(p, 2L)
    val afterC1 = logA.eventsSinceCursor(c1._1, c1._2)
    assert(afterC1.length == 1, s"B's event must be visible after $c1, got $afterC1")
    // and A's view serves it even though A's in-memory tail never saw
    // it — multi-writer reads come from the durable scan
    assert(afterC1.head._2.contains("\"version\":2"))
    // interleaved writers stay pairwise monotone for a polling consumer
    var cursor = logA.latestCursor // skip the two events above
    var seen = 0
    (1 to 20).foreach { v =>
      (if (v % 2 == 0) logA else logB).append(p, (10 + v).toLong)
      val got = logA.eventsSinceCursor(cursor._1, cursor._2)
      seen += got.length
      cursor = got.map(_._1).maxOption.getOrElse(cursor)
    }
    assert(seen == 20, s"polling consumer lost ${20 - seen} of 20 events")
  }

  test("append cost envelope: sole-writer O(1), multi-writer one dir scan per append") {
    // pins the documented envelope (CommitLog.append scaladoc): callers
    // may treat sole-writer append as free and multi-writer append as
    // one directory listing — anything more means a regression landed
    // on what LensMaintainer topologies put after every commit
    val s = freshStore()
    val p = graft.store.DataPath("datasets", "a", "cost")

    val sole = new CommitLog(s) // construction seeds via one scan
    val base = sole.dirScans.get()
    (1 to 10).foreach(v => sole.append(p, v.toLong))
    assert(sole.dirScans.get() == base,
      "sole-writer appends must not scan the log directory")

    val multi = new CommitLog(s, soleWriter = false)
    val mBase = multi.dirScans.get()
    (11 to 20).foreach(v => multi.append(p, v.toLong))
    // exactly one scan per append: no same-ms competitor exists, so no
    // collision retries add extra scans here
    assert(multi.dirScans.get() == mBase + 10,
      s"expected 10 scans, got ${multi.dirScans.get() - mBase}")
    // and every event landed despite the mode switch
    assert(new CommitLog(s).eventsSince(0L).length == 20)
  }
}
