package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.store.{DataPath, Generations, Store}

/** Durable change feed — the commit log behind S12 (reference:
  * library/utility/update-events.js:7-14 is an in-process event bus; a
  * Spark engine wants the same events REPLAYABLE, so every commit
  * appends one JSON file to `_commits/`, which doubles as a Structured
  * Streaming file source: `readStream` over the log is the SSE stream,
  * `foreachBatch` over it is the lens-rebuild trigger, and late
  * subscribers can catch up from any point (the `?at=` pull-sync
  * protocol's push-side complement).
  *
  * One small file per commit: the file-source contract (files are
  * immutable once visible) is exactly the commit contract, and commit
  * rates are human-scale (the reference serializes commits globally).
  *
  * Serving-path scale: the SSE poll loop reads a bounded in-memory TAIL
  * of recent events (fed by the same `append`), so a poll tick is O(new
  * events) regardless of how many commits the durable log has ever
  * accumulated — the directory is re-listed only for catch-up reads
  * older than the buffer. N clients polling a year-old log cost nothing
  * per tick; only genuine history replay pays the scan.
  *
  * WRITER TOPOLOGY: the default (`soleWriter = true`) assumes one
  * writer process per store root. (Collection commits themselves are
  * multi-process-safe either way — `Store.withLock` holds an OS file
  * lock across the commit — this flag is only about THIS class's
  * tail-buffer/cursor bookkeeping.) Under it the tail sees every
  * append and the poll fast path
  * never misses events. The LensMaintainer topology — an ingest
  * process and a maintainer process committing DISJOINT collections to
  * one shared log — passes `soleWriter = false` on every writer, which
  * buys cross-process safety at a per-op cost:
  *   - `append` re-seeds seq past the latest DURABLE cursor (one
  *     directory list per append — human-scale commit rates, and
  *     compaction keeps the directory O(live tail)), so every
  *     published cursor strictly exceeds everything durable at publish
  *     time and exact-cursor resumers never have an event land below
  *     a cursor they already passed. Same-instant writers that pick
  *     the same seq anyway serialize through the createLink collision
  *     retry.
  *   - `eventsSinceCursor` always serves from the durable scan — the
  *     in-memory tail only sees THIS writer's appends, so the fast
  *     path would silently hide the other writer's events.
  * Cross-process CONSUMERS are safe in both modes: `batch`/`stream`
  * and the Structured Streaming file source scan the directory.
  */
final class CommitLog(store: Store, tailCapacity: Int = CommitLog.DefaultTailCapacity,
                      soleWriter: Boolean = true) {
  private def dir: Path = Paths.get(store.root, "_commits")

  /** observable for the append cost-envelope spec: directory scans
    * performed by this instance (each is one Fs.list of the log dir).
    * Declared before initialCursor — the constructor's seed scan
    * already counts. */
  private[streaming] val dirScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The latest cursor already durable when this instance was built —
    * seeds BOTH the seq counter and the eviction horizon. */
  private val initialCursor: (Long, Long) = scanLatestCursor()

  /** Seeded from the latest durable cursor, NOT 0: a process restart (or
    * a second CommitLog on the same store) inside the same millisecond
    * as the last durable commit would otherwise reproduce an existing
    * (ts, seq) filename, and the ATOMIC_MOVE would silently REPLACE
    * that commit file — a lost event. Seeding makes a fresh instance's
    * appends strictly exceed everything durable at construction, which
    * the tail/evictedUpTo logic relies on (cursors unique + monotone);
    * CONCURRENT writers are handled at publish time instead — see the
    * createLink collision-retry in [[append]]. */
  private val seq = new AtomicLong(math.max(0L, initialCursor._2))

  /** Bounded tail of recent events, newest last. Guarded by `this`. */
  private val tail = new java.util.ArrayDeque[((Long, Long), String)]()

  /** Cursor at or before which events may be MISSING from the tail
    * (log contents predating this process + entries evicted by the
    * capacity bound). A read from a cursor at or after this point is
    * served entirely from the buffer; anything older falls back to the
    * durable log scan. Initialized to the latest durable cursor so a
    * pre-existing log counts as evicted, never as absent. */
  private var evictedUpTo: (Long, Long) = initialCursor

  /** install: every commit of this store appends to the log */
  def install(): CommitLog = {
    store.onCommit((p, v) => append(p, v))
    this
  }

  /** Append one event: durable file first (atomically visible — the
    * file source must never see a partial file), then the in-memory
    * tail. Synchronized so the buffer's order always agrees with
    * (ts, seq) order — commit rates are human-scale, the lock is
    * uncontended.
    *
    * Cross-PROCESS uniqueness: seq seeding only orders instances
    * created after each other; two LIVE writers (the LensMaintainer
    * topology — an ingest driver plus a maintainer committing lens
    * outputs to the same log) can hold equal counters, and a same-ms
    * append would then compute the same filename, where ATOMIC_MOVE
    * (rename(2)) silently REPLACES the other writer's event. The
    * durable publish is therefore `Files.createLink` — an atomic
    * CREATE-NEW that FAILS on an existing name — and a collision
    * re-seeds seq past the latest durable cursor and retries, so both
    * events land and later appends sort after everything visible.
    * (A non-colliding same-ms append from a behind-counter writer can
    * still land below a cursor a reader already passed — same-ms
    * catch-up is `>=`-inclusive (at-least-once) for exactly this, see
    * [[eventsSince]].) */
  def append(path: DataPath, version: Long): Unit = synchronized {
    Files.createDirectories(dir)
    val ts = System.currentTimeMillis()
    val line0 = (n: Long) =>
      s"""{"path":"${path.collectionPath}","source":"${path.source}","author":"${path.author}","name":"${path.name}","version":$version,"ts":$ts,"seq":$n}"""
    // multi-writer mode: seed past the DURABLE latest on every append
    // (not just at construction) so the published cursor exceeds
    // everything any process has made visible — the property exact-
    // cursor resumers rely on. Sole-writer mode keeps the O(1) counter.
    // COST ENVELOPE (multi-writer mode): one scanLatestCursor — a
    // directory listing — per append, plus one per collision retry.
    // With compaction running (see [[compact]]) the directory holds
    // O(live tail) entries (segments + the post-segment files), so an
    // append is O(tail) metadata work, NOT O(total commits ever).
    // Commit rates are human-scale (a commit = a store snapshot write,
    // itself many ms), so this is noise where it's used — but do NOT
    // put multi-writer append on a per-record hot path: batch records
    // into commits (writeEntriesDF already does) and let one commit =
    // one append. Sole-writer mode stays O(1) (in-memory counter).
    // CommitLogSpec pins this envelope by counting scans per append.
    var n =
      if (soleWriter) seq.incrementAndGet()
      else { val d = math.max(seq.get(), scanLatestCursor()._2) + 1; seq.set(d); d }
    var published = false
    while (!published) {
      val line = line0(n)
      // tmp name carries pid AND an instance nonce: two CommitLog
      // instances in one JVM (or one pid reused across boots) must
      // never share a tmp path — a shared tmp could publish the OTHER
      // writer's line under this writer's cursor
      val tmp = dir.resolve(
        s".tmp-$ts-$n-${ProcessHandle.current().pid()}-$instanceNonce")
      Files.write(tmp, (line + "\n").getBytes(UTF_8))
      // seq padded to 12 digits: a %06d pad silently broke lexicographic
      // file ordering past 1e6 commits in one process; readers additionally
      // parse (ts, seq) numerically so old 6-digit names still sort right
      val target = dir.resolve(f"commit-$ts%013d-$n%012d.json")
      try {
        publish(tmp, target)
        Files.deleteIfExists(tmp)
        published = true
        tail.addLast(((ts, n), line))
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          val latest = scanLatestCursor()
          n = math.max(n, math.max(seq.get(), latest._2)) + 1
          seq.set(n)
      }
    }
    while (tail.size > tailCapacity) {
      val ev = tail.removeFirst()
      if (CommitLog.cursorLt(evictedUpTo, ev._1)) evictedUpTo = ev._1
    }
  }

  /** Distinguishes this instance's tmp files from any other instance's
    * (same or different JVM, pid reuse included). */
  private val instanceNonce: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())

  /** True until the filesystem proves it cannot hard-link. */
  @volatile private var linkSupported = true

  /** Atomic durable publish: `createLink` is CREATE-NEW (fails on an
    * existing name — the cross-process collision detector). Filesystems
    * without hard links (some NFS/SMB/FAT mounts) fall back to
    * existence-checked ATOMIC_MOVE: atomic visibility is kept, but the
    * check-then-move window means multi-writer collision detection is
    * best-effort there — run such stores sole-writer. */
  private def publish(tmp: Path, target: Path): Unit = {
    if (linkSupported) {
      try { Files.createLink(target, tmp); return }
      catch {
        case e: UnsupportedOperationException => linkSupported = false
        case e: java.nio.file.FileSystemException
            if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] &&
              e.getMessage != null &&
              e.getMessage.toLowerCase.contains("not supported") =>
          linkSupported = false
      }
    }
    if (Files.exists(target)) throw new java.nio.file.FileAlreadyExistsException(target.toString)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Roll durable commit files (and previously-rolled segments) whose
    * events are all older than `maxAgeMs` into ONE segment file, when at
    * least `minFiles` qualify. Returns the number of files rolled up.
    *
    * Why: `_commits/` otherwise grows one file per commit forever, and
    * catch-up reads older than the tail buffer pay a full directory
    * listing proportional to log AGE rather than to the events read.
    * After compaction the directory holds O(live tail + 1) files.
    *
    * Cursor semantics are preserved exactly: the segment carries the
    * same JSON lines in (ts, seq) order, its filename carries the
    * [first, last] cursor range (so catch-up opens it only when the
    * range overlaps), and `scanLatestCursor`/`eventsSinceCursor` treat
    * segment contents identically to file-per-commit entries.
    *
    * Concurrency/crash safety: the segment is written tmp→ATOMIC_MOVE
    * BEFORE the rolled files are deleted, so every event is always in
    * at least one visible file; readers de-duplicate by (ts, seq).
    * A crash between move and deletes leaves duplicates on disk — the
    * next compact() deletes already-covered commit files instead of
    * re-rolling them, and both the scan path and [[batch]] dedup.
    * Synchronized with [[append]], so compaction never races a write.
    * Two instances (or processes) compacting at once each write the
    * segment through their own tmp file; one that finds a candidate
    * already rolled by the other backs off and returns 0.
    *
    * Structured-streaming note: a NEW segment file re-presents old
    * events to a file-source query that already consumed the per-commit
    * files — across a compaction the stream is at-least-once; consumers
    * needing exactly-once key on (ts, seq), which every event carries.
    * Run compact() when live streams are quiescent to avoid even that. */
  def compact(maxAgeMs: Long = 0L,
              minFiles: Int = CommitLog.DefaultCompactMinFiles): Int = synchronized {
    if (!Files.isDirectory(dir)) return 0
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val all = graft.core.Fs.list(dir)
    val segLast: Option[(Long, Long)] = all.iterator
      .map(_.getFileName.toString).filter(_.startsWith("segment-"))
      .map(n => CommitLog.parseSegmentRange(n)._2)
      .maxOption
    // commit files already covered by a segment (a previous compaction
    // crashed between move and delete): delete, never re-roll
    val (covered, fresh) = all.iterator
      .filter(_.getFileName.toString.startsWith("commit-"))
      .map(p => (CommitLog.parseCursor(p.getFileName.toString), p))
      .toVector
      .partition { case (c, _) => segLast.exists(l => !CommitLog.cursorLt(l, c)) }
    covered.foreach { case (_, p) => Files.deleteIfExists(p) }
    // candidates: old-enough commit files + ALL old-enough prior
    // segments (segments merge so the directory stays O(1) segments)
    val fileCands = fresh.filter { case ((ts, _), _) => ts <= cutoff }.toSeq
    val segCands = all.iterator
      .map(p => (p.getFileName.toString, p))
      .filter(_._1.startsWith("segment-"))
      .map { case (n, p) => (CommitLog.parseSegmentRange(n), p) }
      .filter { case ((_, (lastTs, _)), _) => lastTs <= cutoff }
      .toSeq
    if (fileCands.size + segCands.size < minFiles ||
        fileCands.isEmpty && segCands.size < 2) return 0
    val events: Seq[((Long, Long), String)] =
      try {
        (fileCands.map { case (c, p) =>
          (c, new String(Files.readAllBytes(p), UTF_8).trim)
        } ++ segCands.flatMap { case (_, p) =>
          new String(Files.readAllBytes(p), UTF_8).split("\n").iterator
            .filter(_.nonEmpty).map(l => (CommitLog.lineCursor(l), l))
        }).sortBy(_._1).distinctBy(_._1)
      } catch {
        // another instance or process rolled a candidate after the
        // listing: its segment holds those events
        case _: java.nio.file.NoSuchFileException => return 0
      }
    val (firstC, lastC) = (events.head._1, events.last._1)
    val target = dir.resolve(
      f"segment-${firstC._1}%013d-${firstC._2}%012d-${lastC._1}%013d-${lastC._2}%012d.json")
    // through a tmp file unique to this call: another instance or
    // process compacting the same range writes its own. The merged range
    // can equal an existing segment's (crash recovery re-merging
    // segment[1..k] with a same-range leftover): replacing it with the
    // identical merged content is correct
    Generations.atomicWrite(target,
      (events.map(_._2).mkString("\n") + "\n").getBytes(UTF_8))
    // never delete the file just written: a candidate segment whose
    // range equals the merged range IS `target` after the move, and
    // deleting it here would destroy the only copy of the rolled events
    (fileCands.map(_._2) ++ segCands.map(_._2))
      .filterNot(_.getFileName == target.getFileName)
      .foreach(Files.deleteIfExists)
    fileCands.size + segCands.size
  }

  /** All commits so far, batch view. Segments and per-commit files read
    * through the same JSON source; (ts, seq) dedup makes the view exact
    * even if a compaction crash left an event in two files. */
  def batch: DataFrame =
    store.spark.read.schema(CommitLog.schema).json(dir.toString)
      .dropDuplicates("ts", "seq")

  /** The live stream: `readStream` over the log. Compose with
    * `.writeStream.foreachBatch(...)` for cascading rebuilds or any
    * push-sync sink. */
  def stream: DataFrame = {
    Files.createDirectories(dir)
    store.spark.readStream.schema(CommitLog.schema).json(dir.toString)
  }

  /** Driver-side event iterator (the SSE framing of
    * export-controller.js:153-176) for an HTTP layer: events appended
    * after the (afterTs, afterSeq) cursor, in log order.
    *
    * Multiple commits can land in one millisecond (the seq suffix in
    * the file name exists for exactly that), so a timestamp alone is
    * not a safe resume point. A client that tracks the full cursor
    * (the `ts`/`seq` fields on every event) resumes exactly-once; a
    * client with only a timestamp gets `>=` semantics on that
    * millisecond (at-least-once — dedup by (path, version)) instead of
    * silently losing same-ms events. */
  def eventsSince(afterTs: Long, afterSeq: Long = -1L): Seq[String] =
    eventsSinceCursor(afterTs, afterSeq).map(_._2)

  /** As eventsSince, but each event carries its (ts, seq) cursor so a
    * long-lived consumer (the SSE route) can resume-poll exactly.
    * Served from the in-memory tail whenever the cursor is newer than
    * everything evicted from it — the steady-state poll never touches
    * the filesystem; only catch-up older than the buffer scans the log.
    * In multi-writer mode the tail is only THIS writer's view, so every
    * read scans the durable log instead (see the class doc). */
  def eventsSinceCursor(afterTs: Long, afterSeq: Long): Seq[((Long, Long), String)] = {
    if (!soleWriter) return scanSinceCursor(afterTs, afterSeq)
    val cursor = (afterTs, afterSeq)
    val buffered = synchronized {
      if (!CommitLog.cursorLt(cursor, evictedUpTo))
        Some(tail.asScala.filter(e => CommitLog.cursorLt(cursor, e._1)).toVector)
      else None
    }
    buffered.getOrElse(scanSinceCursor(afterTs, afterSeq))
  }

  /** Durable-log scan fallback: numeric (ts, seq) parse + tuple sort, so
    * ordering never depends on filename zero-padding width. Reads BOTH
    * per-commit files and compacted segments — a segment is opened only
    * when its filename range overlaps the requested cursor, so reads of
    * the recent past never pay for compacted history. Retries once if a
    * file vanishes mid-scan (a concurrent compact() rolled it; the
    * re-list sees the segment), and dedups by cursor in case the same
    * event is momentarily visible in two files. */
  private def scanSinceCursor(afterTs: Long, afterSeq: Long): Seq[((Long, Long), String)] = {
    val cursor = (afterTs, afterSeq)
    def attempt(): Seq[((Long, Long), String)] =
      if (!Files.isDirectory(dir)) Seq.empty
      else graft.core.Fs.list(dir).iterator.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("commit-")) {
          val c = CommitLog.parseCursor(n)
          if (CommitLog.cursorLt(cursor, c))
            Iterator((c, new String(Files.readAllBytes(p), UTF_8).trim))
          else Iterator.empty
        } else if (n.startsWith("segment-")) {
          val (_, last) = CommitLog.parseSegmentRange(n)
          if (CommitLog.cursorLt(cursor, last))
            new String(Files.readAllBytes(p), UTF_8).split("\n").iterator
              .filter(_.nonEmpty)
              .map(l => (CommitLog.lineCursor(l), l))
              .filter { case (c, _) => CommitLog.cursorLt(cursor, c) }
          else Iterator.empty
        } else Iterator.empty
      }.toSeq.sortBy(_._1).distinctBy(_._1)
    var tries = 0
    while (true) {
      try return attempt()
      catch {
        case e: java.nio.file.NoSuchFileException =>
          tries += 1; if (tries > 3) throw e
      }
    }
    Nil // unreachable
  }

  /** The newest event's (ts, seq), or (0, -1) on an empty log — the
    * "subscribe from now" starting cursor. Scans the durable log (not
    * the buffer) so it also sees commits from OTHER processes sharing
    * the directory; called once per SSE connection, not per poll. */
  def latestCursor: (Long, Long) = scanLatestCursor()

  private def scanLatestCursor(): (Long, Long) = {
    dirScans.incrementAndGet()
    if (!Files.isDirectory(dir)) (0L, -1L)
    else {
      val cursors = graft.core.Fs.list(dir).iterator
        .map(_.getFileName.toString).flatMap { n =>
          if (n.startsWith("commit-")) Iterator(CommitLog.parseCursor(n))
          else if (n.startsWith("segment-"))
            Iterator(CommitLog.parseSegmentRange(n)._2)
          else Iterator.empty
        }.toSeq
      if (cursors.isEmpty) (0L, -1L) else cursors.max
    }
  }
}

object CommitLog {
  /** Tail-buffer capacity: bounds SSE-poll memory at ~a few hundred KB
    * while covering any realistic poll gap (50 ms ticks vs human-scale
    * commit rates). */
  val DefaultTailCapacity: Int = 4096

  /** Don't bother rolling fewer files than this — compaction exists to
    * bound directory growth, not to churn small logs. */
  val DefaultCompactMinFiles: Int = 64

  private[streaming] def parseCursor(name: String): (Long, Long) = {
    val parts = name.stripPrefix("commit-").stripSuffix(".json").split("-")
    (parts(0).toLong, parts(1).toLong)
  }

  /** segment-<firstTs>-<firstSeq>-<lastTs>-<lastSeq>.json → range */
  private[streaming] def parseSegmentRange(name: String): ((Long, Long), (Long, Long)) = {
    val p = name.stripPrefix("segment-").stripSuffix(".json").split("-")
    ((p(0).toLong, p(1).toLong), (p(2).toLong, p(3).toLong))
  }

  /** (ts, seq) of one stored event line — segment reads re-derive each
    * line's cursor from the event body itself. */
  private[streaming] def lineCursor(line: String): (Long, Long) = {
    val o = graft.codec.JsonCodec.decodeString(line).asInstanceOf[graft.core.PoObj]
    val ts = o.fields("ts") match { case graft.core.PoInt(v) => v; case _ => 0L }
    val seq = o.fields("seq") match { case graft.core.PoInt(v) => v; case _ => 0L }
    (ts, seq)
  }

  private[streaming] def cursorLt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  val schema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("source", StringType),
    StructField("author", StringType), StructField("name", StringType),
    StructField("version", LongType), StructField("ts", LongType),
    StructField("seq", LongType)))
}
