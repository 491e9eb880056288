package graft.lens

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.jobsOf
import graft.core._
import graft.store.{DataPath, Store}

/** Incremental maintenance + change-feed cascade (SURVEY §2.6 steps 3/8;
  * reference lens.js:134-190, update-events.js:7-14, lens.js:351-367).
  * Runs in local mode, so a static counter observes executor-side map
  * invocations. */
object CountingTagFn extends MapFn {
  val calls = new AtomicInteger(0)
  def map(ctx: MapContext): Unit = {
    calls.incrementAndGet()
    ctx.data match {
      case o: PoObj => o.fields.get("tags") match {
        case Some(PoArr(tags)) => tags.foreach {
          case PoStr(t) => ctx.output(t, PoSet(PoStr(ctx.path.recordID)))
          case _ => ()
        }
        case _ => ()
      }
      case _ => ()
    }
  }
}

/** [[CountingTagFn]] with a 25 ms map call: long enough that a full
  * build's cache write is still mapping when its commit leg fails. */
object SlowCountingTagFn extends MapFn {
  val calls = new AtomicInteger(0)
  def map(ctx: MapContext): Unit = {
    calls.incrementAndGet()
    Thread.sleep(25)
    ctx.data match {
      case o: PoObj => o.fields.get("tags") match {
        case Some(PoArr(tags)) => tags.foreach {
          case PoStr(t) => ctx.output(t, PoSet(PoStr(ctx.path.recordID)))
          case _ => ()
        }
        case _ => ()
      }
      case _ => ()
    }
  }
}

class IncrementalLensSpec extends AnyFunSuite {

  private def freshStore(): Store =
    new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-inc").toString)

  private def doc(tags: String*): PoValue =
    PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))

  private def setOf(v: PoValue): Set[String] =
    v.asInstanceOf[PoSet].items.collect { case PoStr(s) => s }.toSet

  test("incremental build maps only fresh records; deletions drop cached outputs") {
    val store = freshStore()
    val d = store.dataset("a", "inc").create()
    d.write("r1", doc("cat"))
    d.write("r2", doc("cat", "dog"))
    d.write("r3", doc("dog"))
    val lens = new Lens(store, "a", "inc-lens",
      Seq(DataPath("datasets", "a", "inc")), CountingTagFn).create()

    CountingTagFn.calls.set(0)
    lens.build()
    assert(CountingTagFn.calls.get == 3) // first build maps everything
    assert(setOf(lens.output.read("cat").get) == Set("r1", "r2"))

    // change one record: only it re-maps
    d.write("r2", doc("dog"))
    CountingTagFn.calls.set(0)
    lens.build()
    assert(CountingTagFn.calls.get == 1, "only the fresh record re-maps")
    assert(setOf(lens.output.read("cat").get) == Set("r1"))
    assert(setOf(lens.output.read("dog").get) == Set("r2", "r3"))

    // add a record: only it maps
    d.write("r4", doc("cat"))
    CountingTagFn.calls.set(0)
    lens.build()
    assert(CountingTagFn.calls.get == 1)
    assert(setOf(lens.output.read("cat").get) == Set("r1", "r4"))

    // delete a record: nothing re-maps, its contributions drop
    d.delete("r3")
    CountingTagFn.calls.set(0)
    lens.build()
    assert(CountingTagFn.calls.get == 0, "deletion requires no re-map")
    assert(setOf(lens.output.read("dog").get) == Set("r2"))

    // output id that no longer exists disappears entirely
    d.delete("r2")
    lens.build()
    assert(lens.output.read("dog").isEmpty)
  }

  test("settled rebuild is a ZERO-JOB no-op via the input-versions fast path (r16)") {
    val store = freshStore()
    val d = store.dataset("a", "docs").create()
    d.write("r1", doc("cat"))
    val lens = new Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()
    lens.build()
    val v = lens.output.meta.version

    // 1. nothing committed since the build: the manifest matches and
    //    the rebuild returns WITHOUT scheduling any Spark job (the
    //    q159 at-least-once storm / settled-cascade-wave shape)
    val (settled, settledJobs) = jobsOf(lens.build())
    assert(settled == v)
    assert(settledJobs.isEmpty, s"settled rebuild scheduled ${settledJobs.size} Spark job(s)")

    // 2. an identical rewrite bumps the COLLECTION version but not the
    //    record version: the fast path misses (collection moved), the
    //    gate proves the no-op once and ADVANCES the manifest…
    d.write("r1", doc("cat"))
    val (gated, gateJobs) = jobsOf(lens.build())
    assert(gated == v)
    assert(gateJobs.nonEmpty, "the gate path must run after a collection-version bump")

    // …so the NEXT rebuild is zero-job again
    val (again, againJobs) = jobsOf(lens.build())
    assert(again == v)
    assert(againJobs.isEmpty, s"post-gate rebuild scheduled ${againJobs.size} Spark job(s)")

    // 3. a REAL change still rebuilds through the full pipeline
    CountingTagFn.calls.set(0)
    d.write("r2", doc("dog"))
    assert(lens.build() > v)
    assert(CountingTagFn.calls.get == 1, "only the fresh record maps")
    assert(setOf(lens.output.read("dog").get) == Set("r2"))
  }

  test("partitioned compute cache: incremental build rewrites only touched pbuckets, hardlink-carries the rest (r17)") {
    val spark = SparkTestBase.spark
    spark.conf.set("graft.lens.cachePartitions", "4")
    try {
      val store = freshStore()
      val d = store.dataset("a", "cow").create()
      // enough records that (with xxhash64 path hashing over 4 buckets)
      // at least one bucket holds no updated record
      (1 to 24).foreach(i => d.write(s"r$i", doc(s"t${i % 5}", "common")))
      val lens = new Lens(store, "a", "cow-lens",
        Seq(DataPath("datasets", "a", "cow")), CountingTagFn).create()
      lens.build()

      // the live cache generation, as the cache manifest names it
      def cache = CacheManifest.read(lens.cacheDir).get.dir(lens.cacheDir)
      val bucketDirs = graft.core.Fs.list(cache)
        .filter(_.getFileName.toString.startsWith("pbucket=")).sortBy(_.toString)
      assert(bucketDirs.size >= 2, s"expected a partitioned cache, got $bucketDirs")

      // inode of every parquet file per bucket before the incremental build
      def inodes(): Map[String, Set[Long]] =
        graft.core.Fs.list(cache)
          .filter(_.getFileName.toString.startsWith("pbucket=")).map { dir =>
            dir.getFileName.toString -> graft.core.Fs.list(dir)
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => Files.getAttribute(f, "unix:ino").asInstanceOf[Long]).toSet
          }.toMap
      val before = inodes()

      // update ONE record: only its path's bucket may be rewritten
      d.write("r7", doc("t9"))
      CountingTagFn.calls.set(0)
      lens.build()
      assert(CountingTagFn.calls.get == 1, "only the fresh record re-maps")
      val after = inodes()
      val changedBuckets = after.keySet.filter(k => before.get(k) != after.get(k))
      assert(changedBuckets.size == 1,
        s"exactly one pbucket dir may change, got $changedBuckets")
      val carried = after.keySet - changedBuckets.head
      carried.foreach { k =>
        assert(before(k) == after(k),
          s"untouched bucket $k must carry by hardlink (same inodes)")
      }

      // semantics unchanged: the index equals a from-scratch rebuild
      // (r7's update dropped its old "t2" and "common" contributions)
      assert(setOf(lens.output.read("t9").get) == Set("r7"))
      assert(setOf(lens.output.read("common").get) ==
        (1 to 24).filter(_ != 7).map(i => s"r$i").toSet)
      assert(lens.output.read("t2").map(setOf).get ==
        (1 to 24).filter(i => i % 5 == 2 && i != 7).map(i => s"r$i").toSet)

      // deletion: cached contributions drop through the partitioned path
      d.delete("r3")
      CountingTagFn.calls.set(0)
      lens.build()
      assert(CountingTagFn.calls.get == 0, "deletion requires no re-map")
      assert(setOf(lens.output.read("common").get) ==
        (1 to 24).filterNot(Set(3, 7)).map(i => s"r$i").toSet)
    } finally spark.conf.unset("graft.lens.cachePartitions")
  }

  test("a commit leg that throws drains the overlapped cache write; the live cache stays the last good one") {
    val store = freshStore()
    val d = store.dataset("a", "drain").create()
    d.writeEntries((1 to 16).map(i => graft.store.WriteEntry(s"r$i", Some(doc(s"t$i", "all")))),
      graft.store.WriteMode.Merge)
    val lens = new Lens(store, "a", "drain-lens",
      Seq(DataPath("datasets", "a", "drain")), SlowCountingTagFn).create()
    lens.build()
    // the manifest and the files of the live generation it names
    def cacheState(): Map[String, String] = {
      val manifest = CacheManifest.file(lens.cacheDir)
      val live = CacheManifest.read(lens.cacheDir).get.dir(lens.cacheDir)
      graft.core.Fs.list(live).map(f => f.getFileName.toString -> Files.size(f).toString).toMap +
        (manifest.getFileName.toString -> Files.readString(manifest))
    }
    val lastGood = cacheState()
    def busyWriters(): Seq[String] =
      Thread.getAllStackTraces.asScala.collect {
        case (t, st) if t.getName == "graft-lens-cache-write" &&
            st.exists(_.getClassName.startsWith("graft.lens.LensBuild")) =>
          st.take(8).mkString(" < ")
      }.toSeq

    d.write("r17", doc("t17"))
    d.write("r3", doc("t3b"))
    // the output collection's manifest goes missing: the reduce+commit
    // leg throws at its first read of it, while the cache write (which
    // maps every record of the full build) is still running
    val meta = store.dir(lens.path).resolve("meta.json")
    val aside = meta.resolveSibling("meta.json.aside")
    Files.move(meta, aside)
    Seq[(String, () => Long)]("full" -> (() => lens.buildFull()),
      "incremental" -> (() => lens.build())).foreach { case (shape, b) =>
      intercept[java.nio.file.NoSuchFileException](b())
      assert(busyWriters().isEmpty,
        s"$shape: a cache-write thread outlived the failed build: ${busyWriters()}")
      assert(SparkTestBase.spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        s"$shape: Spark jobs still running after the failed build returned")
      assert(cacheState() == lastGood, s"$shape: the live cache must stay the last good one")
    }
    Files.move(aside, meta)

    SlowCountingTagFn.calls.set(0)
    lens.build()
    assert(SlowCountingTagFn.calls.get == 2, "the retry maps each fresh record exactly once")
    assert(setOf(lens.output.read("t17").get) == Set("r17"))
    assert(setOf(lens.output.read("t3b").get) == Set("r3"))
    assert(lens.output.read("t3").isEmpty)
    assert(setOf(lens.output.read("all").get) == (1 to 16).filter(_ != 3).map(i => s"r$i").toSet)
  }

  test("cached logs survive incremental rebuilds of other records") {
    val store = freshStore()
    val d = store.dataset("a", "logs").create()
    val fn = new MapFn {
      def map(ctx: MapContext): Unit = {
        ctx.log(s"saw ${ctx.path.recordID}")
        ctx.output("k", PoInt(1))
      }
    }
    d.write("r1", PoInt(1))
    val lens = new Lens(store, "a", "log-lens",
      Seq(DataPath("datasets", "a", "logs")), fn).create()
    lens.build()
    d.write("r2", PoInt(2))
    lens.build()
    val paths = lens.logs.collect().map(_.getAs[String]("path")).toSet
    assert(paths == Set("/datasets/a:logs/records/r1", "/datasets/a:logs/records/r2"),
      "r1's cached log must survive the incremental build that mapped only r2")
  }

  test("LensHub cascades: dataset commit -> lens -> lens-on-lens") {
    val store = freshStore()
    val hub = new LensHub(store)
    val d = store.dataset("a", "base").create()

    val tagLens = hub.register(new Lens(store, "a", "l1",
      Seq(DataPath("datasets", "a", "base")), CountingTagFn).create())
    val countFn = new MapFn {
      def map(ctx: MapContext): Unit = ctx.output("n", PoInt(1))
    }
    val countLens = hub.register(new Lens(store, "a", "l2",
      Seq(DataPath("lenses", "a", "l1")), countFn).create())

    d.write("x", doc("cat", "dog")) // commit triggers the cascade
    assert(setOf(tagLens.output.read("cat").get) == Set("x"))
    assert(countLens.output.read("n").get == PoInt(2)) // cat + dog

    d.write("y", doc("cat"))
    assert(setOf(tagLens.output.read("cat").get) == Set("x", "y"))
    assert(countLens.output.read("n").get == PoInt(2)) // still 2 ids

    d.write("z", doc("mango"))
    assert(countLens.output.read("n").get == PoInt(3))
  }

  test("a failed build in a serial wave releases the claims of never-run siblings") {
    val store = freshStore()
    val hub = new LensHub(store)
    val d = store.dataset("a", "fbase").create()
    val fn = new MapFn { def map(ctx: MapContext): Unit = ctx.output("n", PoInt(1)) }
    // broken registers FIRST (LinkedHashMap preserves order): its build
    // throws (missing second input collection), aborting the wave
    // before the healthy sibling runs
    hub.register(new Lens(store, "a", "fl-broken",
      Seq(DataPath("datasets", "a", "fbase"),
        DataPath("datasets", "a", "does-not-exist")), fn).create())
    val healthy = hub.register(new Lens(store, "a", "fl-healthy",
      Seq(DataPath("datasets", "a", "fbase")), fn).create())

    intercept[Exception](d.write("r1", PoInt(1))) // wave aborts on broken
    // heal the broken lens, then commit again: the healthy sibling was
    // claimed-but-never-run in wave 1 — its claim MUST have been
    // released, or this wave would silently skip it forever
    store.dataset("a", "does-not-exist").create()
    d.write("r2", PoInt(2))
    // both records map (wave 1 never built healthy), reduce sums to 2
    assert(healthy.output.read("n").get == PoInt(2),
      "sibling lens must still rebuild after an earlier wave failed")
  }

  test("parallel cascade: independent lenses of one wave rebuild concurrently") {
    val store = freshStore()
    val hub = new LensHub(store, parallelCascade = true)
    val d = store.dataset("a", "pbase").create()
    CascadeProbe.reset()
    val la = hub.register(new Lens(store, "a", "pl1",
      Seq(DataPath("datasets", "a", "pbase")), new CascadeProbeFn("A")).create())
    val lb = hub.register(new Lens(store, "a", "pl2",
      Seq(DataPath("datasets", "a", "pbase")), new CascadeProbeFn("B")).create())

    d.write("x", PoInt(1)) // one commit → one wave of two independent builds
    assert(!CascadeProbe.sawTimeout.get,
      "both builds' map stages must be in flight at once — a serial " +
        "cascade leaves the first map waiting on the rendezvous until timeout")
    assert(la.output.read("A").get == PoInt(1))
    assert(lb.output.read("B").get == PoInt(1))

    // serial hub (default) still settles the same outputs
    val store2 = freshStore()
    val hub2 = new LensHub(store2)
    val d2 = store2.dataset("a", "sbase").create()
    val fn = new MapFn { def map(ctx: MapContext): Unit = ctx.output("n", PoInt(1)) }
    val s1 = hub2.register(new Lens(store2, "a", "sl1",
      Seq(DataPath("datasets", "a", "sbase")), fn).create())
    d2.write("x", PoInt(1))
    assert(s1.output.read("n").get == PoInt(1))
  }

  test("diamond: a commit landing while the sink builds re-runs it instead of dropping the event") {
    // dataset → B1, B2 (parallel wave) → sink reading BOTH. The probe
    // forces the exact window: the sink's first build starts after
    // B1's commit and BLOCKS mid-map until B2 has committed — so B2's
    // commit event arrives while the sink is claimed. Without the
    // hub's pending re-run the event is dropped and the sink stays
    // permanently stale on B2 (the diamond under-build); with it, the
    // claim holder re-runs and maps exactly B2's record.
    val store = freshStore()
    DiamondProbe.reset()
    // the commit counter registers BEFORE the hub: onCommit listeners
    // run synchronously in registration order, and the hub's listener
    // only returns after the whole downstream cascade settles — a
    // counter registered after it would observe B1's commit only once
    // the sink build it is supposed to unblock had already timed out
    val midPaths = Set(
      DataPath("lenses", "a", "dia-b1").collectionPath,
      DataPath("lenses", "a", "dia-b2").collectionPath)
    val midCommits = new AtomicInteger(0)
    store.onCommit { (p, _) =>
      if (midPaths(p.collectionPath) && midCommits.incrementAndGet() == 2)
        DiamondProbe.secondCommitted.countDown()
    }
    val hub = new LensHub(store, parallelCascade = true)
    val d = store.dataset("a", "diabase").create()
    hub.register(new Lens(store, "a", "dia-b1",
      Seq(DataPath("datasets", "a", "diabase")),
      new DiamondMidFn("b1", gated = false)).create())
    hub.register(new Lens(store, "a", "dia-b2",
      Seq(DataPath("datasets", "a", "diabase")),
      new DiamondMidFn("b2", gated = true)).create())
    val sink = hub.register(new Lens(store, "a", "dia-sink",
      Seq(DataPath("lenses", "a", "dia-b1"), DataPath("lenses", "a", "dia-b2")),
      new DiamondSinkFn).create())
    d.write("x", PoInt(1)) // settles the whole diamond before returning
    assert(!DiamondProbe.timedOut.get,
      "probe deadlocked — the forced interleaving did not occur")
    assert(sink.output.read("dia-b1/m").contains(PoStr("b1:x")),
      "sink must hold the first mid lens's record")
    assert(sink.output.read("dia-b2/m").contains(PoStr("b2:x")),
      "sink must hold the SECOND mid lens's record — its commit landed " +
        "while the sink was building and must not be dropped")
  }

  test("concurrent builds of ONE lens from two store instances: one maps, one no-ops") {
    // The two-maintainer topology: separate Store instances (in real
    // deployments, separate processes) race a build of the same lens.
    // LensBuild.build holds the output collection's writer lock for the
    // whole pipeline, so the loser enters only after the winner's cache
    // publish — its freshness gate then sees every input current and
    // no-ops. Unserialized, both would overwrite the same next cache
    // generation dir mid-job. Each record maps exactly once, ever.
    val root = SparkTestBase.tempDir("graft-inc-xproc").toString
    val s1 = new Store(SparkTestBase.spark, root)
    val s2 = new Store(SparkTestBase.spark, root)
    val ds = s1.dataset("alice", "docs").create()
    ds.write("a", doc("x"))
    ds.write("b", doc("x", "y"))
    CountingTagFn.calls.set(0)
    val in = Seq(DataPath("datasets", "alice", "docs"))
    val l1 = new Lens(s1, "alice", "xidx", in, CountingTagFn).create()
    val l2 = new Lens(s2, "alice", "xidx", in, CountingTagFn)
    val start = new java.util.concurrent.CountDownLatch(1)
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(l1, l2).map { l =>
      val t = new Thread(() =>
        try { start.await(); versions.add(l.build()); () }
        catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"build failed: ${failures.peek()}")
    assert(CountingTagFn.calls.get == 2,
      "each input record must map exactly once across BOTH builds — the loser no-ops")
    assert(versions.toArray.map(_.asInstanceOf[Long]).toSeq == Seq(1L, 1L),
      "both builds must report the same committed version")
    assert(setOf(l2.output.read("x").get) == Set("a", "b"))
    assert(setOf(l2.output.read("y").get) == Set("b"))
  }
}

/** Rendezvous across the two concurrently-built lenses: each map call
  * arrives at the latch and waits for the OTHER build's map call. Under
  * a serial cascade the first map can only time out (the second build
  * has not started); under a parallel cascade both arrive and both
  * proceed. Timeout keeps the failure mode a clean assertion, never a
  * hang. Static state works because specs run Spark in local mode. */
object CascadeProbe {
  @volatile var latch = new java.util.concurrent.CountDownLatch(2)
  val sawTimeout = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    latch = new java.util.concurrent.CountDownLatch(2)
    sawTimeout.set(false)
  }
}

final class CascadeProbeFn(key: String) extends MapFn {
  def map(ctx: MapContext): Unit = {
    CascadeProbe.latch.countDown()
    if (!CascadeProbe.latch.await(20, java.util.concurrent.TimeUnit.SECONDS))
      CascadeProbe.sawTimeout.set(true)
    ctx.output(key, PoInt(1))
  }
}

/** Diamond-race rendezvous (see the diamond test): B2's map waits for
  * the sink's FIRST map call (proof the sink build is in flight), and
  * the sink's map waits for the second mid-lens commit (so that commit
  * provably lands inside the sink's build window). Timeouts keep every
  * failure a clean assertion. Static state: specs run local-mode. */
object DiamondProbe {
  @volatile var b2Gate = new java.util.concurrent.CountDownLatch(1)
  @volatile var secondCommitted = new java.util.concurrent.CountDownLatch(1)
  val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    b2Gate = new java.util.concurrent.CountDownLatch(1)
    secondCommitted = new java.util.concurrent.CountDownLatch(1)
    timedOut.set(false)
  }
}

final class DiamondMidFn(key: String, gated: Boolean) extends MapFn {
  def map(ctx: MapContext): Unit = {
    if (gated && !DiamondProbe.b2Gate.await(20, java.util.concurrent.TimeUnit.SECONDS))
      DiamondProbe.timedOut.set(true)
    ctx.output("m", PoStr(s"$key:${ctx.path.recordID}"))
  }
}

final class DiamondSinkFn extends MapFn {
  def map(ctx: MapContext): Unit = {
    DiamondProbe.b2Gate.countDown()
    if (!DiamondProbe.secondCommitted.await(20, java.util.concurrent.TimeUnit.SECONDS))
      DiamondProbe.timedOut.set(true)
    ctx.data match {
      case s: PoStr => ctx.output(s"${ctx.path.name}/${ctx.path.recordID}", s)
      case _ => ()
    }
  }
}
