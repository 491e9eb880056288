package loadbench

import java.nio.file.Path

import scala.collection.mutable

import graft.core._
import graft.lens.{Lens, LensHub}
import graft.queries.LensTokenIndex
import graft.store.{Store, WriteEntry, WriteMode}

/** `trickle_cascade`. Set-up: one bulk commit of the corpus into a
  * fresh unbucketed store, full builds of the sandboxed JS lenses `tok`
  * (sync token index) and `cnt` (cascade over `tok`), both registered
  * on a [[LensHub]]. Measured: one
  * writer commits 1–3 records per tick through `Collection.writeEntries`
  * (the cascade runs inside the commit), then reads back the touched
  * `tok` and `cnt` keys and checks them. */
object Trickle {
  val Docs = 400
  /** Unmeasured ticks between set-up and measurement: the incremental
    * build paths are cold after the full builds of set-up. */
  val WarmTicks = 1
  /** Fewest measured ticks: a tick takes 4–6 s, so a 10 s run would
    * otherwise report a median of two. */
  val MinTicks = 3
  /** Ticks of the traced probe on a store whose workload has none. */
  val ProbeTicks = 2

  final class State(val root: Path, val store: Store, val tok: Lens, val cnt: Lens,
                    val model: Model, val gen: Corpus.Gen, val alive: mutable.ArrayBuffer[String],
                    var nextId: Long) {
    /** commit events seen by the listener registered before the hub */
    val events = mutable.ArrayBuffer[(String, Long)]()
    store.onCommit((p, _) => events.synchronized { events += ((p.name, System.currentTimeMillis())) })
    val hub = new LensHub(store)
    hub.register(tok); hub.register(cnt)
  }

  final case class Tick(ms: Double, start: Long, end: Long, events: Seq[(String, Long)], userBytes: Long)

  final case class Setup(st: State, seconds: Double, ingestS: Double, buildS: Map[String, Double])

  def setup(ctx: Ctx): Setup = {
    val t0 = System.nanoTime()
    val (gen, docs) = Corpus.generate(ctx.seed, Docs)
    val root = ctx.freshRoot("trickle")
    val store = new Store(ctx.spark, root.toString)
    val ds = store.collection(Bench.DocsPath).create()
    val tok = Bench.lens(store, "tok", Bench.DocsPath, LensTokenIndex.JsTokenCode, ctx.traced).create()
    val cnt = Bench.lens(store, "cnt", Bench.TokPath, Bench.CntCode, ctx.traced).create()
    val t1 = System.nanoTime()
    ctx.windows.time("bulk_commit")(Bench.bulkCommit(ctx.spark, ds, docs))
    val t2 = System.nanoTime()
    val model = Model.of(docs)
    val builds = Seq("tok" -> tok, "cnt" -> cnt).map { case (n, l) => n -> Bench.fullBuild(ctx, l) }.toMap
    ctx.fresh.addAndGet(Docs.toLong + model.postings.size)
    val st = new State(root, store, tok, cnt, model, gen,
      mutable.ArrayBuffer.from(docs.map(_._1)), Docs.toLong)
    val s = (System.nanoTime() - t0) / 1e9
    ctx.check(Bench.checkTok(tok.output, model))
    ctx.check(Bench.checkCnt(cnt.output, model))
    Setup(st, s, (t2 - t1) / 1e9, builds)
  }

  /** One tick: commit, cascade, read back, check. */
  def tick(ctx: Ctx, st: State): Option[Tick] = {
    val m = st.model
    val entries = mutable.LinkedHashMap[String, Option[PoValue]]()
    (1 to 1 + st.gen.nextInt(3)).foreach { _ =>
      val r = st.gen.nextDouble()
      if (r < 0.6) {
        val id = st.alive(st.gen.nextInt(st.alive.size))
        entries(id) = Some(st.gen.doc(id.toLong))
      } else if (r < 0.85 || st.alive.size < 2) {
        val id = st.nextId.toString; st.nextId += 1
        entries(id) = Some(st.gen.doc(id.toLong))
      } else entries(st.alive(st.gen.nextInt(st.alive.size))) = None
    }
    def tokensOf(v: PoValue): Seq[String] = Corpus.textOf(v).toSeq.flatMap(Corpus.tokens)
    val touched = (entries.keys.flatMap(m.docs.get).flatMap(tokensOf) ++
      entries.values.flatten.flatMap(tokensOf)).toSeq.distinct.sorted
    val postingsBefore = touched.map(t => t -> m.tokValue(t)).toMap

    st.events.synchronized(st.events.clear())
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    ctx.guarded("tick") {
      st.store.collection(Bench.DocsPath)
        .writeEntries(entries.map { case (id, v) => WriteEntry(id, v) }.toSeq, WriteMode.Merge)
      entries.foreach {
        case (id, Some(v)) =>
          if (!m.docs.contains(id)) st.alive += id
          m.put(id, v)
        case (id, None) =>
          m.remove(id)
          val i = st.alive.indexOf(id)
          if (i >= 0) { st.alive(i) = st.alive.last; st.alive.remove(st.alive.size - 1) }
      }
      val buckets = touched.map(_.take(1)).distinct
      val tokRows = st.tok.output.readRows(touched).map(r => r.id -> Cbor.decode(r.value)).toMap
      val cntRows = st.cnt.output.readRows(buckets).map(r => r.id -> Cbor.decode(r.value)).toMap
      val t1 = System.nanoTime()
      val bad = touched.filter(t => tokRows.get(t).flatMap(Bench.longsOf) != m.tokValue(t)) ++
        buckets.filter(b => cntRows.get(b).flatMap(Bench.cntOf) != m.cntValue(b))
      ctx.check(if (bad.isEmpty) None else Some(s"tick: ${bad.size} stale keys (${bad.take(3).mkString(",")})"))
      t1
    }.map { t1 =>
      val freshDocs = entries.count(_._2.isDefined)
      val freshTokens = touched.count(t => m.tokValue(t).isDefined && m.tokValue(t) != postingsBefore(t))
      ctx.fresh.addAndGet(freshDocs + freshTokens)
      Tick((t1 - t0) / 1e6, wallStart, System.currentTimeMillis(),
        st.events.synchronized(st.events.toSeq),
        entries.values.flatten.map(v => Cbor.encode(v).length.toLong).sum)
    }
  }

  /** Ticks for at least `seconds` and at least `n` attempts, each
    * followed (traced only) by one redelivered `build()` of `tok`, which
    * must find nothing to do; returns the ticks that succeeded, the
    * no-op build times and the seconds spent ticking. */
  def ticks(ctx: Ctx, st: State, n: Int, seconds: Double): (Seq[Tick], Seq[Double], Double) = {
    val out = mutable.ArrayBuffer[Tick]()
    val noops = mutable.ArrayBuffer[Double]()
    var measured = 0L
    var attempts = 0
    while (measured < seconds * 1e9 || attempts < n) {
      val s = System.nanoTime()
      attempts += 1
      tick(ctx, st).foreach { t => out += t; ctx.windows.add("tick", t.start, t.end) }
      measured += System.nanoTime() - s
      if (ctx.traced) {
        val n0 = System.nanoTime()
        ctx.windows.time("noop_build")(st.tok.build())
        noops += (System.nanoTime() - n0) / 1e6
      }
    }
    (out.toSeq, noops.toSeq, measured / 1e9)
  }

  /** lens.tick_*, lens.noop_*, store.commit_* from traced ticks. */
  def tickLayers(ctx: Ctx, ticks: Seq[Tick], noops: Seq[Double], layers: mutable.Map[String, Double]): Unit = {
    ctx.census.drain()
    def at(t: Tick, name: String): Option[Long] = t.events.find(_._1 == name).map(_._2)
    def med(f: Tick => Option[Double]): Double = Bench.median(ticks.flatMap(f(_)))
    layers("store.commit_ms") = med(t => at(t, "docs").map(e => (e - t.start).toDouble))
    layers("store.commit_jobs") = med(t => at(t, "docs").map(e => ctx.census.statsBetween(t.start, e).jobs.toDouble))
    layers("lens.tick_build_ms.tok") = med(t => for (a <- at(t, "docs"); b <- at(t, "tok")) yield (b - a).toDouble)
    layers("lens.tick_build_ms.cnt") = med(t => for (a <- at(t, "tok"); b <- at(t, "cnt")) yield (b - a).toDouble)
    val per = ticks.map(t => ctx.census.statsBetween(t.start, t.end))
    layers("lens.tick_jobs") = Bench.mean(per.map(_.jobs.toDouble))
    layers("lens.tick_stages") = Bench.mean(per.map(_.stages.toDouble))
    layers("lens.tick_tasks") = Bench.mean(per.map(_.tasks.toDouble))
    layers("lens.tick_gap_ms") = med(t => Some(ctx.census.gapMs(t.start, t.end).toDouble))
    layers("lens.noop_build_ms") = Bench.median(noops)
    layers("lens.noop_jobs") = ctx.windows.stats(ctx.census, "noop_build").jobs.toDouble / math.max(1, noops.size)
  }

  def run(ctx: Ctx): Outcome = {
    val setups = (1 to Bench.SetupReps).map { i =>
      val s = setup(ctx)
      System.err.println(f"loadbench: set-up $i: ${s.seconds}%.2f s (bulk commit ${s.ingestS}%.2f s, builds " +
        s.buildS.map { case (n, t) => f"$n $t%.2f s" }.mkString(", ") + ")")
      if (i < Bench.SetupReps) Bench.rmTree(s.st.root)
      s
    }
    val st = setups.last.st
    (1 to WarmTicks).foreach(_ => tick(ctx, st))

    val gc0 = Jvm.gcMs
    val (ticks, noops, measured) = this.ticks(ctx, st, MinTicks, ctx.seconds)
    val gcMs = Jvm.gcMs - gc0
    val heap = Jvm.heapLiveMb
    val lat = ticks.map(_.ms)
    System.err.println("loadbench: ticks (ms): " + lat.map(x => f"$x%.0f").mkString(" "))
    val e2e = Map(
      "setup_s" -> Bench.median(setups.map(_.seconds)),
      "build_docs_per_s" -> Docs / setups.map(_.buildS.values.sum).min,
      "op_p50_ms" -> Bench.quantile(lat, 0.5),
      "op_p75_ms" -> Bench.quantile(lat, 0.75),
      "ops_per_s" -> ticks.size / measured,
      "space_amp" -> Bench.bytesUnder(st.root) / st.model.liveUserBytes.toDouble,
      "heap_live_mb" -> heap)

    val layers = Layers.empty
    if (ctx.traced) {
      tickLayers(ctx, ticks, noops, layers)
      layers("store.write_amp") =
        ctx.windows.stats(ctx.census, "tick").outputBytes / math.max(1.0, ticks.map(_.userBytes).sum.toDouble)
      Layers.setups(ctx, layers, setups.map(s => (s.ingestS, s.buildS)))
      Layers.store(layers, st.store, Seq("tok", "cnt"))
      layers("lens.full_build_s.score") = Bench.scoreProbe(ctx, st.store, st.model)
      Layers.js(ctx, layers)
      Serve.probe(ctx, st.root, st.store, st.tok, st.model, layers)
      Layers.common(ctx, layers, st.model.docs.toSeq, gcMs)
    }
    Bench.rmTree(st.root)
    Outcome(e2e, layers.toMap)
  }
}
