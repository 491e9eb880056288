package graft.lens

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.store.{DataPath, Store, WriteEntry, WriteMode}

/** The tag-inverted-index map of the reference's golden lens test
  * (test/test-models-lens.js:31-37): one Set-valued output per tag, an
  * optional console log, an optional thrown error. */
object TagIndexFn extends MapFn {
  def map(ctx: MapContext): Unit = {
    val obj = ctx.data.asInstanceOf[PoObj]
    obj.fields.get("tags").foreach {
      case PoArr(tags) => tags.foreach {
        case PoStr(tag) => ctx.output(tag, PoSet(PoStr(ctx.path.recordID)))
        case _ => ()
      }
      case _ => ()
    }
    obj.fields.get("log").foreach { case PoStr(msg) => ctx.log(msg); case _ => () }
    obj.fields.get("error").foreach {
      case PoStr(msg) => throw new RuntimeException(msg)
      case _ => ()
    }
  }
}

/** FIXTURES.md F1/F2 — the lens build pipeline end-to-end against the
  * reference's golden expectations. */
class LensSpec extends AnyFunSuite {

  private def freshStore(): Store =
    new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-lens").toString)

  private def tagDataset(store: Store, extra: Map[String, (String, String)] = Map.empty): Unit = {
    val d = store.dataset("system", "test-dataset").create()
    def doc(id: String, tags: Seq[String]): PoValue = {
      var o = PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))
      extra.get(id).foreach { case (k, v) => o = PoObj(o.fields.updated(k, PoStr(v))) }
      o
    }
    d.writeEntries(Seq(
      WriteEntry("abc", Some(doc("abc", Seq("cat", "dog")))),
      WriteEntry("def", Some(doc("def", Seq("dog", "mango")))),
      WriteEntry("ghi", Some(doc("ghi", Seq("dog", "cat"))))), WriteMode.Merge)
  }

  private def setOf(v: PoValue): Set[String] =
    v.asInstanceOf[PoSet].items.collect { case PoStr(s) => s }.toSet

  test("golden inverted index: {cat:[abc,ghi], dog:[abc,def,ghi], mango:[def]} (F1)") {
    val store = freshStore()
    tagDataset(store)
    val lens = new Lens(store, "system", "tag-index",
      Seq(DataPath("datasets", "system", "test-dataset")), TagIndexFn).create()
    val v = lens.build()
    assert(v == 1)
    val out = lens.output
    assert(out.list() == Seq("cat", "dog", "mango"))
    assert(setOf(out.read("cat").get) == Set("abc", "ghi"))
    assert(setOf(out.read("dog").get) == Set("abc", "def", "ghi"))
    assert(setOf(out.read("mango").get) == Set("def"))
  }

  test("log + error capture per input; errors do not abort the build (F1)") {
    val store = freshStore()
    tagDataset(store, Map(
      "def" -> ("log" -> "log test"),
      "ghi" -> ("error" -> "error test")))
    val lens = new Lens(store, "system", "tag-index2",
      Seq(DataPath("datasets", "system", "test-dataset")), TagIndexFn).create()
    lens.build()

    // ghi threw AFTER emitting its tags — outputs before the throw count
    assert(setOf(lens.output.read("cat").get) == Set("abc", "ghi"))
    assert(setOf(lens.output.read("dog").get) == Set("abc", "def", "ghi"))

    val logRows = lens.logs.collect().map(r =>
      (r.getAs[String]("path"), r.getAs[String]("kind"),
       r.getAs[String]("logKind"), Option(r.getAs[Seq[String]]("logArgs")),
       r.getAs[String]("errType"), r.getAs[String]("errMsg"))).toSeq
    val defPath = "/datasets/system:test-dataset/records/def"
    val ghiPath = "/datasets/system:test-dataset/records/ghi"
    val abcPath = "/datasets/system:test-dataset/records/abc"
    assert(logRows.count(_._1 == abcPath) == 0)
    val defRows = logRows.filter(_._1 == defPath)
    assert(defRows.map(r => (r._2, r._3, r._4)) == Seq(("log", "log", Some(Seq("log test")))))
    val ghiRows = logRows.filter(_._1 == ghiPath)
    assert(ghiRows.map(r => (r._2, r._6)) == Seq(("err", "error test")))
  }

  test("rejections: lenient config = reference-worker compatibility; strict default stays loud (ADVICE r15)") {
    val store = freshStore()
    val d = store.dataset("a", "docs").create()
    d.write("r1", PoObj("x" -> PoStr("v")))
    // unhandled rejection AFTER a successful output
    val code = "output('got', path.recordID); Promise.reject(new Error('boom'))"
    def configure(name: String, extra: Map[String, PoValue]): Lens = {
      store.collection(DataPath("lenses", "a", name)).create()
      Files.write(store.dir(DataPath("lenses", "a", name)).resolve("lens.json"),
        graft.codec.JsonCodec.encode(PoObj(PoObj(
          "memo" -> PoStr(""), "mapType" -> PoStr("javascript"),
          "code" -> PoStr(code), "timeoutMs" -> PoInt(10000),
          "inputs" -> PoArr(Vector(PoStr("/datasets/a:docs")))).fields ++ extra)))
      Lens.fromConfig(store, "a", name).getOrElse(fail(s"fromConfig($name) failed"))
    }

    // STRICT (default): the unhandled rejection IS the map call's
    // ERROR — an `err` row in the error stream (outputs emitted before
    // the failure still count: the engine's errors-as-data contract,
    // same as a mid-map throw)
    val strict = configure("strict", Map.empty)
    strict.build()
    val strictRows = strict.logs.collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[String]("errMsg"))).toSeq
    assert(strictRows.exists { case (k, m) => k == "err" && m == "boom" },
      s"expected the rejection as the map error, got $strictRows")

    // LENIENT: outputs kept, rejection diagnosed on the error LOG
    // stream (the reference worker's V8 warn-only behavior)
    val lenient = configure("lenient", Map("rejections" -> PoStr("lenient")))
    lenient.build()
    assert(lenient.output.read("got").contains(PoStr("r1")),
      "lenient mode must keep outputs")
    val lenientRows = lenient.logs.collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[String]("logKind"),
        Option(r.getAs[scala.collection.Seq[String]]("logArgs"))
          .getOrElse(scala.collection.Seq.empty[String]))).toSeq
    assert(!lenientRows.exists(_._1 == "err"),
      s"lenient mode must not record a map ERROR, got $lenientRows")
    assert(lenientRows.exists { case (k, lk, args) =>
      k == "log" && lk == "error" && args.exists(_.contains("boom")) },
      s"expected the rejection on the error log stream, got $lenientRows")
  }

  test("map emits duplicate ids pre-reduce; reduce folds them in emit order (F2 + lattice)") {
    val store = freshStore()
    val d = store.dataset("a", "nums").create()
    d.write("r1", PoObj("v" -> PoStr("yehaw")))
    val fn = new MapFn {
      def map(ctx: MapContext): Unit = {
        ctx.output("a", PoInt(1))
        ctx.output("b", PoInt(2))
        val v = ctx.data.asInstanceOf[PoObj].fields("v")
        ctx.output("c", v); ctx.output("c", v); ctx.output("c", v)
        ctx.output("n", PoInt(10)); ctx.output("n", PoInt(32))
      }
    }
    // pre-reduce flatMap semantics pinned at the MapRunner level
    val res = MapRunner.run(fn, MapPath("/datasets/a:nums/records/r1",
      "datasets", "a", "nums", "r1"), PoObj("v" -> PoStr("yehaw")))
    assert(res.outputs.map(_._1) == Vector("a", "b", "c", "c", "c", "n", "n"))

    // post-reduce: last-wins for strings, sum for numbers
    val lens = new Lens(store, "a", "nums-lens",
      Seq(DataPath("datasets", "a", "nums")), fn).create()
    lens.build()
    assert(lens.output.read("a").get == PoInt(1))
    assert(lens.output.read("c").get == PoStr("yehaw"))
    assert(lens.output.read("n").get == PoInt(42))
  }

  test("multi-input lens: values merge across inputs in input-list order") {
    val store = freshStore()
    val d1 = store.dataset("a", "left").create()
    val d2 = store.dataset("a", "right").create()
    d1.write("x", PoObj("tags" -> PoArr(Vector(PoStr("t")))))
    d2.write("y", PoObj("tags" -> PoArr(Vector(PoStr("t")))))
    val lens = new Lens(store, "a", "both",
      Seq(DataPath("datasets", "a", "left"), DataPath("datasets", "a", "right")),
      TagIndexFn).create()
    lens.build()
    assert(setOf(lens.output.read("t").get) == Set("x", "y"))
  }

  test("duplicate input collections dedup by record path (lens.js:127-132)") {
    val store = freshStore()
    val d = store.dataset("a", "dup").create()
    d.write("x", PoObj("tags" -> PoArr(Vector(PoStr("t")))))
    val lens = new Lens(store, "a", "dedup-lens",
      Seq(DataPath("datasets", "a", "dup"), DataPath("datasets", "a", "dup")),
      TagIndexFn).create()
    lens.build()
    // if dedup failed, the Set would still be {x} — use a summing fn to tell
    val sumFn = new MapFn {
      def map(ctx: MapContext): Unit = ctx.output("count", PoInt(1))
    }
    val lens2 = new Lens(store, "a", "dedup-lens2",
      Seq(DataPath("datasets", "a", "dup"), DataPath("datasets", "a", "dup")),
      sumFn).create()
    lens2.build()
    assert(lens2.output.read("count").get == PoInt(1))
  }

  test("rebuild is hash-gated and no-op when nothing changed") {
    val store = freshStore()
    tagDataset(store)
    val lens = new Lens(store, "system", "tag-index3",
      Seq(DataPath("datasets", "system", "test-dataset")), TagIndexFn).create()
    lens.build()
    assert(lens.output.readRow("cat").get.version == 1)
    // nothing changed upstream: incremental build commits nothing
    assert(lens.build() == 1)
    assert(lens.output.meta.version == 1)
    // a forced full rebuild still keeps unchanged record versions
    lens.buildFull()
    assert(lens.output.meta.version == 2)
    assert(lens.output.readRow("cat").get.version == 1)
    // now change one input record: only affected outputs bump
    store.dataset("system", "test-dataset")
      .write("def", PoObj("tags" -> PoArr(Vector(PoStr("dog")))))
    lens.build()
    assert(lens.output.readRow("cat").get.version == 1)     // unaffected
    assert(lens.output.list() == Seq("cat", "dog"))          // mango dropped
  }

  test("CommutativeMapFn partial-agg path produces identical results to the ordered fold") {
    val store = freshStore()
    tagDataset(store)
    object CommTagFn extends MapFn with CommutativeMapFn {
      def map(ctx: MapContext): Unit = TagIndexFn.map(ctx)
    }
    val ordered = new Lens(store, "system", "ord-lens",
      Seq(DataPath("datasets", "system", "test-dataset")), TagIndexFn).create()
    val partial = new Lens(store, "system", "comm-lens",
      Seq(DataPath("datasets", "system", "test-dataset")), CommTagFn).create()
    ordered.build(); partial.build()
    val a = ordered.output.records.collect().map(r => r.id -> setOf(Cbor.decode(r.value))).toMap
    val b = partial.output.records.collect().map(r => r.id -> setOf(Cbor.decode(r.value))).toMap
    assert(a == b)
    assert(b("dog") == Set("abc", "def", "ghi"))
    // hashes agree too: canonical encoding is insertion-order independent
    val ha = ordered.output.records.collect().map(r => r.id -> r.hash).toMap
    val hb = partial.output.records.collect().map(r => r.id -> r.hash).toMap
    assert(ha == hb)
  }

  test("map-call timeout is captured as an error; prior outputs survive (lensTimeout)") {
    val store = freshStore()
    val d = store.dataset("a", "slow").create()
    d.write("r1", PoInt(1))
    val slowFn = new MapFn {
      def map(ctx: MapContext): Unit = {
        ctx.output("early", PoInt(1))
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 200L * 1000000L) () // burn 200ms
        ctx.output("late", PoInt(1)) // deadline check trips here
      }
    }
    val lens = new Lens(store, "a", "slow-lens",
      Seq(DataPath("datasets", "a", "slow")), slowFn).withTimeout(50L).create()
    lens.build()
    assert(lens.output.list() == Seq("early"), "outputs before the timeout survive")
    val errs = lens.logs.filter(org.apache.spark.sql.functions.col("kind") === "err").collect()
    assert(errs.length == 1)
    assert(errs.head.getAs[String]("errType") == "MapTimeoutException")
    // without a timeout the same map completes
    val lens2 = new Lens(store, "a", "slow-lens2",
      Seq(DataPath("datasets", "a", "slow")), slowFn).create()
    lens2.build()
    assert(lens2.output.list() == Seq("early", "late"))
  }

  test("sandbox preempts compute-only runaways and allocation bombs (isolate caps)") {
    val store = freshStore()
    val d = store.dataset("a", "hostile").create()
    d.write("spin", PoStr("spin"))
    d.write("alloc", PoStr("alloc"))
    d.write("ok", PoStr("ok"))
    val hostileFn = new MapFn {
      def map(ctx: MapContext): Unit = ctx.data match {
        case PoStr("spin") =>
          ctx.output("never", PoInt(1))
          // no emit, no deadline check inside: the cooperative budget
          // can't stop this — only preemption can. Bounded at 2 s (10×
          // the budget) so the abandoned worker eventually exits.
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < 2000000000L) ()
        case PoStr("alloc") =>
          // 128 MB of allocation (4× the cap) with no checkpoint, then
          // a clean return: only the allocation watchdog can flag this
          val hog = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          for (_ <- 1 to 128) hog += new Array[Byte](1 << 20)
          ctx.output("hogged", PoInt(hog.length.toLong))
        case _ => ctx.output("fine", PoInt(1))
      }
    }
    val lens = new Lens(store, "a", "hostile-lens",
      Seq(DataPath("datasets", "a", "hostile")), hostileFn)
      .withSandbox(ms = 200L, memCap = 32L * 1024 * 1024).create()
    lens.build() // must terminate: preemption, not cooperation
    // the well-behaved record built; both hostile calls were killed
    assert(lens.output.list() == Seq("fine"))
    val errs = lens.logs.filter(org.apache.spark.sql.functions.col("kind") === "err")
      .collect().map(r => r.getAs[String]("path") -> r.getAs[String]("errType")).toMap
    assert(errs("/datasets/a:hostile/records/spin") == "MapTimeoutException")
    assert(errs("/datasets/a:hostile/records/alloc") == "MapMemoryException")
    // isolate-kill semantics: the preempted call's partial outputs are lost
    assert(!lens.output.list().contains("never"))
  }

  test("lens output feeds another lens (views compose)") {
    val store = freshStore()
    tagDataset(store)
    val first = new Lens(store, "system", "tags1",
      Seq(DataPath("datasets", "system", "test-dataset")), TagIndexFn).create()
    first.build()
    val countFn = new MapFn {
      def map(ctx: MapContext): Unit =
        ctx.output("total-tags", PoInt(1))
    }
    val second = new Lens(store, "system", "tagcount",
      Seq(DataPath("lenses", "system", "tags1")), countFn).create()
    second.build()
    assert(second.output.read("total-tags").get == PoInt(3))
  }
}
