package graft.lens

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.store.{DataPath, Store, WriteEntry, WriteMode}

/** Commutative Scala map for the regime spec: set-union and sum outputs
  * per tag, a log line and a thrown error (after its outputs) on
  * request. Records the thread of every call, so a spec can tell the
  * driver-sized regime (calls on the building thread) from the Spark
  * one (calls on executor task threads). */
object RegimeTagFn extends CommutativeMapFn {
  val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def map(ctx: MapContext): Unit = {
    threads.add(Thread.currentThread().getName)
    ctx.data match {
      case o: PoObj =>
        o.fields.get("tags") match {
          case Some(PoArr(ts)) => ts.foreach {
            case PoStr(t) =>
              ctx.output(s"t:$t", PoSet(PoStr(ctx.path.recordID)))
              ctx.output(s"n:$t", PoInt(1))
            case _ => ()
          }
          case _ => ()
        }
        if (o.fields.get("log").contains(PoBool(true))) ctx.log("saw", ctx.path.recordID)
        if (o.fields.get("boom").contains(PoBool(true)))
          throw new IllegalStateException(s"boom ${ctx.path.recordID}")
      case _ => ()
    }
  }
}

/** The driver-sized and Spark regimes of an incremental lens build
  * (LensBuild.build) are two code paths for one semantics. On random
  * deltas — inserts, updates, deletes and identical rewrites, over one
  * or two inputs — a lens built incrementally in the driver-sized regime
  * must equal, after every delta:
  *  - a full rebuild of the same lens: (id, hash, value) and its logs;
  *  - the same lens built incrementally with the Spark regime forced:
  *    rows including versions, and logs;
  *  - the same lens built in the driver-sized regime with its driver
  *    reduce bound at 0 retained rows, so the changed ids reduce as a
  *    Spark stage: rows including versions, and logs;
  *  - its own previous output wherever an id's hash did not move: the
  *    hash gate keeps those versions.
  * Covered: a commutative Scala map and an order-sensitive sandboxed JS
  * map (array concat, last-wins object fields, multi-emit, console logs,
  * throws), a plain and a partitioned (`pbucket`) compute cache, and an
  * unbucketed and a bucketed store. */
class LensRegimeSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  private val jsCode =
    """for (const t of data.tags) {
      |  output(t, [path.recordID])
      |  output('last', { by: path.recordID, n: data.tags.length })
      |}
      |if (data.log) console.log('saw', path.recordID, data.tags.length)
      |if (data.boom) throw new TypeError('boom ' + path.recordID)
      |""".stripMargin
  private def jsFn: MapFn =
    JsMapFn.compile(jsCode).fold(e => throw new IllegalStateException(e.message), identity)

  private final case class Config(name: String, fn: () => MapFn, sandboxed: Boolean,
                                  pbuckets: Int, buckets: Option[Int], inputs: Int)

  private val configs = Seq(
    Config("scala, plain cache, unbucketed, one input", () => RegimeTagFn, false, 1, None, 1),
    Config("js sandboxed, plain cache, bucketed, two inputs", () => jsFn, true, 1, Some(4), 2),
    Config("scala, partitioned cache, bucketed, two inputs", () => RegimeTagFn, false, 4, Some(4), 2),
    Config("js, partitioned cache, unbucketed, one input", () => jsFn, false, 4, None, 1))

  private val vocab = Vector("cat", "dog", "emu", "fox", "gnu", "hen")

  private def randomDoc(rnd: Random): PoValue =
    PoObj(
      "tags" -> PoArr(Vector.fill(rnd.nextInt(4))(PoStr(vocab(rnd.nextInt(vocab.size))))),
      "log" -> PoBool(rnd.nextInt(5) == 0),
      "boom" -> PoBool(rnd.nextInt(7) == 0))

  /** One random delta per input: 1-4 inserts, updates, deletes or
    * identical rewrites, committed as one merge. */
  private def randomDelta(rnd: Random, store: Store, names: Seq[String],
                          live: Map[String, scala.collection.mutable.Map[String, PoValue]],
                          nextId: () => String): Unit =
    names.foreach { n =>
      val docs = live(n)
      val batch = scala.collection.mutable.LinkedHashMap[String, Option[PoValue]]()
      (1 to 1 + rnd.nextInt(4)).foreach { _ =>
        val ids = docs.keys.toVector.sorted
        rnd.nextInt(10) match {
          case k if k < 3 || ids.isEmpty => batch(nextId()) = Some(randomDoc(rnd))
          case k if k < 7 => batch(ids(rnd.nextInt(ids.size))) = Some(randomDoc(rnd))
          case 7 => batch(ids(rnd.nextInt(ids.size))) = None
          case _ => val id = ids(rnd.nextInt(ids.size)); batch(id) = Some(docs(id))
        }
      }
      batch.foreach {
        case (id, Some(v)) => docs(id) = v
        case (id, None) => docs.remove(id)
      }
      store.dataset("a", n).writeEntries(
        batch.map { case (id, v) => WriteEntry(id, v) }.toSeq, WriteMode.Merge)
    }

  private final case class Out(version: Long, hash: String, value: PoValue, bytes: Seq[Byte])

  private def outputOf(l: Lens): Map[String, Out] =
    l.output.records.collect().map(r =>
      r.id -> Out(r.version, r.hash, Cbor.decode(r.value), r.value.toSeq)).toMap

  private def logsOf(l: Lens): Seq[String] =
    Lens.logsOf(l.store, l.author, l.name).collect().map(_.toString).toSeq.sorted

  /** (id, hash, value): bytes for an order-sensitive map; decoded
    * values for a commutative one, whose Spark reduce may order a set's
    * members differently (the hash is canonical either way). */
  private def content(o: Map[String, Out], ordered: Boolean): Map[String, (String, Any)] =
    o.map { case (id, x) => id -> (x.hash, if (ordered) x.bytes else x.value) }

  /** Runs `body` and asserts it left no RDD persisted that was not
    * before: a build releases what it pins, checkpoints included. */
  private def releasesStorage[A](body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the build left RDDs ${left.mkString(",")} persisted")
    r
  }

  private def withCachePartitions[A](n: Int)(body: => A): A = {
    spark.conf.set("graft.lens.cachePartitions", n.toString)
    try body finally spark.conf.unset("graft.lens.cachePartitions")
  }

  configs.zipWithIndex.foreach { case (cfg, ci) =>
    test(s"driver-sized regime equals full rebuild and Spark regime on random deltas: ${cfg.name}") {
      withCachePartitions(cfg.pbuckets) {
        val rnd = new Random(7919L * (ci + 1))
        val store = new Store(spark,
          SparkTestBase.tempDir("graft-regime").toString, cfg.buckets)
        val names = (1 to cfg.inputs).map(i => s"in$i")
        val live = names.map(n => n -> scala.collection.mutable.Map[String, PoValue]()).toMap
        var counter = 0
        val nextId = () => { counter += 1; s"r$counter" }
        names.foreach { n =>
          store.dataset("a", n).create()
          // the same ids under every input: distinct paths, one ordinal each
          val init = (1 to 10).map(i => s"r$i" -> randomDoc(rnd))
          init.foreach { case (id, v) => live(n)(id) = v }
          store.dataset("a", n).writeEntries(
            init.map { case (id, v) => WriteEntry(id, Some(v)) }, WriteMode.Merge)
        }
        counter = 10
        val ordered = !cfg.fn().isInstanceOf[CommutativeMapFn]
        def lens(name: String): Lens = {
          val l = new Lens(store, "a", name, names.map(DataPath("datasets", "a", _)), cfg.fn())
          (if (cfg.sandboxed) l.withSandbox(10000L) else l).create()
        }
        val driver = lens("driver")
        val sparkRegime = lens("spark")
        val hybrid = lens("hybrid")
        val full = lens("full")
        Seq(driver, sparkRegime, hybrid, full).foreach(_.build())

        (1 to 4).foreach { round =>
          val before = outputOf(driver)
          randomDelta(rnd, store, names, live, nextId)

          RegimeTagFn.threads.clear()
          val me = Thread.currentThread().getName
          val vd = releasesStorage(driver.build())
          if (!ordered)
            assert(RegimeTagFn.threads.toArray.forall(_ == me),
              "a small delta must map on the building thread (driver-sized regime)")
          RegimeTagFn.threads.clear()
          val vs = LensBuild.build(sparkRegime, incremental = true, driverCap = 0)
          if (!ordered)
            assert(RegimeTagFn.threads.toArray.forall(_ != me),
              "driverCap = 0 must map on executor task threads (Spark regime)")
          val vh = LensBuild.build(hybrid, incremental = true, Store.MaxCommitInList, driverRows = 0)
          full.buildFull()

          val d = outputOf(driver)
          val s = outputOf(sparkRegime)
          val h = outputOf(hybrid)
          val f = outputOf(full)
          val ctx = s"${cfg.name}, round $round"
          assert(content(d, ordered) == content(f, ordered), s"$ctx: driver-sized vs full rebuild")
          assert(logsOf(driver) == logsOf(full), s"$ctx: logs vs full rebuild")
          assert(vd == vs, s"$ctx: both incremental regimes commit the same version")
          assert(d.map { case (id, x) => id -> x.version } == s.map { case (id, x) => id -> x.version },
            s"$ctx: versions vs Spark regime")
          assert(content(d, ordered) == content(s, ordered), s"$ctx: driver-sized vs Spark regime")
          assert(logsOf(driver) == logsOf(sparkRegime), s"$ctx: logs vs Spark regime")
          assert(vh == vd, s"$ctx: Spark-reduced driver-sized build commits the same version")
          assert(h.map { case (id, x) => id -> x.version } == d.map { case (id, x) => id -> x.version },
            s"$ctx: versions, Spark-reduced driver-sized build")
          assert(content(h, ordered) == content(d, ordered),
            s"$ctx: Spark-reduced vs driver-reduced driver-sized build")
          assert(logsOf(hybrid) == logsOf(driver), s"$ctx: logs, Spark-reduced driver-sized build")
          d.foreach { case (id, x) =>
            before.get(id).filter(_.hash == x.hash).foreach(prev =>
              assert(x.version == prev.version, s"$ctx: unmoved id $id kept its version"))
          }
        }
      }
    }
  }

  test("collectAtMost collects up to its bound and refuses beyond it") {
    import spark.implicits._
    val ds = spark.createDataset(1 to 100) // a local scan: no exchange
    assert(LensBuild.collectAtMost(ds, 200).map(_.sorted) == Some(1 to 100))
    assert(LensBuild.collectAtMost(ds, 40).isEmpty)
    assert(LensBuild.collectAtMost(ds.filter(_ > 1000), 0) == Some(Seq.empty))
  }

  test("a hot id past the driver reduce bound reduces as a Spark stage and equals a full rebuild") {
    val store = new Store(spark, SparkTestBase.tempDir("graft-regime-hot").toString)
    val ds = store.dataset("a", "hot").create()
    // every record feeds t:cat and n:cat: their retained contributions
    // grow with the collection
    def doc(i: Int): PoValue = PoObj("tags" -> PoArr(Vector(PoStr("cat"), PoStr(s"own$i"))))
    ds.writeEntries((1 to 30).map(i => WriteEntry(s"r$i", Some(doc(i)))), WriteMode.Merge)
    val in = Seq(DataPath("datasets", "a", "hot"))
    val inc = new Lens(store, "a", "inc", in, RegimeTagFn).create()
    val full = new Lens(store, "a", "full", in, RegimeTagFn).create()
    inc.build()
    val me = Thread.currentThread().getName
    Seq(
      () => ds.write("r31", doc(31)),
      () => ds.write("r2", PoObj("tags" -> PoArr(Vector(PoStr("dog"))))),
      () => ds.delete("r3")
    ).foreach { commit =>
      val before = outputOf(inc)
      commit()
      RegimeTagFn.threads.clear()
      releasesStorage(LensBuild.build(inc, incremental = true, Store.MaxCommitInList, driverRows = 1))
      assert(RegimeTagFn.threads.toArray.forall(_ == me), "the map still runs on the driver")
      full.buildFull()
      val got = outputOf(inc)
      assert(content(got, ordered = false) == content(outputOf(full), ordered = false))
      assert(logsOf(inc) == logsOf(full))
      got.foreach { case (id, x) =>
        before.get(id).filter(_.hash == x.hash).foreach(prev =>
          assert(x.version == prev.version, s"unmoved id $id kept its version"))
      }
    }
    assert(outputOf(inc)("n:cat").value == PoInt(29))
  }

  test("a delta one past Store.MaxCommitInList takes the Spark regime and equals a full rebuild") {
    val store = new Store(spark, SparkTestBase.tempDir("graft-regime-cap").toString)
    val ds = store.dataset("a", "big").create()
    val rnd = new Random(104729L)
    ds.writeEntries((1 to 40).map(i => WriteEntry(s"r$i", Some(randomDoc(rnd)))), WriteMode.Merge)
    val in = Seq(DataPath("datasets", "a", "big"))
    val inc = new Lens(store, "a", "inc", in, RegimeTagFn).create()
    val full = new Lens(store, "a", "full", in, RegimeTagFn).create()
    inc.build()
    // 30 updates (a new `gen` field: never an identical rewrite), 10
    // deletes and inserts up to MaxCommitInList + 1 changed paths
    val cap = Store.MaxCommitInList
    def regen(v: PoValue): PoValue = v match {
      case PoObj(f) => PoObj(f.updated("gen", PoInt(2)))
      case other => other
    }
    ds.writeEntries(
      (1 to 30).map(i => WriteEntry(s"r$i", Some(regen(randomDoc(rnd))))) ++
        (31 to 40).map(i => WriteEntry(s"r$i", None)) ++
        (41 to cap + 1).map(i => WriteEntry(s"r$i", Some(randomDoc(rnd)))),
      WriteMode.Merge)
    RegimeTagFn.threads.clear()
    releasesStorage(inc.build())
    val me = Thread.currentThread().getName
    assert(RegimeTagFn.threads.size == cap + 1 - 10, "each fresh record maps once")
    assert(RegimeTagFn.threads.toArray.forall(_ != me), "over the cap the map runs on executors")
    full.buildFull()
    assert(content(outputOf(inc), ordered = false) == content(outputOf(full), ordered = false))
    assert(logsOf(inc) == logsOf(full))
  }
}
