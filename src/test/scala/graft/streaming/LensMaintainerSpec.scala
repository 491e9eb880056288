package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.lens.{CountingTagFn, Lens, MapContext, MapFn}
import graft.store.{DataPath, Store}

/** Commit-log-driven lens maintenance — the multi-process form of the
  * LensHub cascade: a Structured Streaming query over the durable log
  * triggers version-gated incremental builds. */
class LensMaintainerSpec extends AnyFunSuite {

  private def fixture() = {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-lm").toString)
    val log = new CommitLog(store).install()
    (store, log)
  }

  private def doc(tags: String*): PoValue =
    PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))

  private def setOf(v: PoValue): Set[String] =
    v.asInstanceOf[PoSet].items.collect { case PoStr(s) => s }.toSet

  private def ck(): String =
    SparkTestBase.tempDir("graft-lm-ck").toString

  test("runOnce drains the log, builds incrementally, and no-ops when settled") {
    val (store, log) = fixture()
    val d = store.dataset("a", "docs").create()
    val lens = new Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()
    val m = new LensMaintainer(log, Seq(lens), ck())

    d.write("r1", doc("cat"))
    d.write("r2", doc("cat", "dog"))
    CountingTagFn.calls.set(0)
    m.runOnce()
    assert(CountingTagFn.calls.get == 2, "first drain maps both records")
    assert(setOf(lens.output.read("cat").get) == Set("r1", "r2"))

    // touch one record: the next drain re-maps ONLY it (the same
    // version gate the in-process cascade uses)
    d.write("r2", doc("dog"))
    CountingTagFn.calls.set(0)
    m.runOnce()
    assert(CountingTagFn.calls.get == 1, "incremental drain re-maps only the fresh record")
    assert(setOf(lens.output.read("cat").get) == Set("r1"))
    assert(setOf(lens.output.read("dog").get) == Set("r2"))

    // settled log: the drain sees no new offsets (or only already-built
    // versions) — output version must not move
    val v = lens.output.meta.version
    CountingTagFn.calls.set(0)
    m.runOnce()
    assert(CountingTagFn.calls.get == 0)
    assert(lens.output.meta.version == v, "settled drain must not commit")
  }

  test("restart resumes from the stream checkpoint, not from scratch") {
    val (store, log) = fixture()
    val d = store.dataset("a", "docs").create()
    val lens = new Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()
    val ckDir = ck()

    d.write("r1", doc("cat"))
    new LensMaintainer(log, Seq(lens), ckDir).runOnce()

    // a NEW maintainer on the same checkpoint: consumed offsets stay
    // consumed; a fresh commit still gets picked up and built
    d.write("r2", doc("dog"))
    CountingTagFn.calls.set(0)
    new LensMaintainer(log, Seq(lens), ckDir).runOnce()
    assert(CountingTagFn.calls.get == 1)
    assert(setOf(lens.output.read("dog").get) == Set("r2"))
  }

  test("events on unrelated collections trigger no build") {
    val (store, log) = fixture()
    store.dataset("a", "docs").create().write("r1", doc("cat"))
    val other = store.dataset("a", "other").create()
    val lens = new Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()
    val m = new LensMaintainer(log, Seq(lens), ck())
    m.runOnce()

    other.write("x", doc("noise"))
    val v = lens.output.meta.version
    CountingTagFn.calls.set(0)
    m.runOnce()
    assert(CountingTagFn.calls.get == 0)
    assert(lens.output.meta.version == v)
  }

  test("lens-on-lens DAG settles through the log, one drain per level") {
    val (store, log) = fixture()
    val d = store.dataset("a", "docs").create()
    val a = new Lens(store, "a", "level1",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()
    // level-2 lens: re-keys level1's posting sets by their size
    object SizeFn extends MapFn {
      def map(ctx: MapContext): Unit = ctx.data match {
        case s: PoSet =>
          ctx.output(s"n${s.items.size}", PoSet(PoStr(ctx.path.recordID)))
        case _ => ()
      }
    }
    val b = new Lens(store, "a", "level2",
      Seq(DataPath("lenses", "a", "level1")), SizeFn).create()
    val m = new LensMaintainer(log, Seq(a, b), ck())

    d.write("r1", doc("cat"))
    d.write("r2", doc("cat"))
    m.runOnce() // level1 builds; its commit lands after the offset snapshot
    m.runOnce() // level2 sees level1's commit
    assert(setOf(b.output.read("n2").get) == Set("cat"))
  }

  test("compaction re-presenting events is absorbed by the version gate") {
    val (store, log) = fixture()
    val d = store.dataset("a", "docs").create()
    val lens = new Lens(store, "a", "tags",
      Seq(DataPath("datasets", "a", "docs")), CountingTagFn).create()

    d.write("r1", doc("cat"))
    new LensMaintainer(log, Seq(lens), ck()).runOnce()
    val v = lens.output.meta.version

    // roll the per-commit files into a segment: the NEW segment file
    // re-presents already-consumed events to any file-source query that
    // starts from scratch (a fresh checkpoint = the worst case)
    assert(log.compact(maxAgeMs = 0L, minFiles = 1) > 0, "something must compact")
    CountingTagFn.calls.set(0)
    new LensMaintainer(log, Seq(lens), ck()).runOnce()
    assert(CountingTagFn.calls.get == 0, "replayed events must not re-map")
    assert(lens.output.meta.version == v, "replayed events must not commit")
  }

  test("fromStore discovers persisted JS/DSL lens configs and maintains them") {
    val (store, log) = fixture()
    val d = store.dataset("a", "docs").create()
    d.write("r1", doc("cat"))
    d.write("r2", doc("cat", "dog"))

    // configured by "another process": only lens.json survives — the
    // maintainer reconstructs the fn from {mapType, code}
    graft.lens.JsMapFn.compile(
      """for (const tag of (data.tags || [])) output(tag, new Set([path.recordID]))"""
    ).toOption.map(fn => new Lens(store, "a", "jstags",
      Seq(DataPath("datasets", "a", "docs")), fn,
      memo = "from the ingest process").create())
      .getOrElse(fail("compile failed"))

    // a broken config must not take down the healthy lens: hand-write
    // a lens.json whose code no longer parses
    store.collection(DataPath("lenses", "a", "broken")).create()
    Files.write(store.dir(DataPath("lenses", "a", "broken")).resolve("lens.json"),
      graft.codec.JsonCodec.encode(PoObj(
        "memo" -> PoStr(""), "mapType" -> PoStr("javascript"),
        "code" -> PoStr("yield 5"),
        "inputs" -> PoArr(Vector(PoStr("/datasets/a:docs"))))))

    val (runnable, skipped) = LensMaintainer.storedLenses(store)
    assert(runnable.map(_.path.collectionPath) == Seq("/lenses/a:jstags"))
    assert(skipped == Seq("/lenses/a:broken"))

    LensMaintainer.fromStore(store, log, ck()).runOnce()
    val jstags = store.collection(DataPath("lenses", "a", "jstags"))
    assert(setOf(jstags.read("cat").get) == Set("r1", "r2"))
    assert(setOf(jstags.read("dog").get) == Set("r2"))
  }

  test("a lens reading its own output is rejected at construction") {
    val (store, log) = fixture()
    val self = new Lens(store, "a", "loop",
      Seq(DataPath("lenses", "a", "loop")), CountingTagFn).create()
    val e = intercept[IllegalArgumentException] {
      new LensMaintainer(log, Seq(self), ck())
    }
    assert(e.getMessage.contains("reads its own output"))
  }
}
