package loadbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.codec.Codec
import graft.core._
import graft.store.Store

/** Per-layer metric names and the helpers that fill them. Every
  * workload reports every name: a traced pass ends with a probe of the
  * layers its workload does not exercise. */
object Layers {
  val Formats: Seq[String] = Seq("json", "cbor", "msgpack", "yaml", "xml")
  /** Calls whose Spark work is reported as spark.<call>.* (a no-op
    * build runs no job: see lens.noop_jobs) */
  val Calls: Seq[String] = Seq("bulk_commit", "full_build", "tick", "point_read", "http")

  val names: Seq[String] =
    Seq("store.bulk_commit_s", "store.commit_ms", "store.commit_jobs", "store.point_read_ms",
      "store.snapshot_files", "store.write_amp",
      "lens.full_build_s.tok", "lens.full_build_s.score", "lens.full_build_s.cnt",
      "lens.full_build_jobs", "lens.tick_build_ms.tok", "lens.tick_build_ms.cnt",
      "lens.tick_jobs", "lens.tick_stages", "lens.tick_tasks", "lens.tick_gap_ms",
      "lens.noop_build_ms", "lens.noop_jobs", "lens.cache_bytes",
      "js.map_ms", "js.map_calls", "js.map_calls_per_fresh_record", "js.map_errors",
      "core.cbor_decode_ms", "core.cbor_encode_ms", "core.reduce_merge_ms") ++
      Formats.flatMap(f => Seq(s"codec.encode_us.$f", s"codec.decode_us.$f")) ++
      Formats.map(f => s"api.get_ms.$f") ++
      Seq("api.get_lens_ms", "api.meta_ms", "api.changes_ms", "api.put_ms", "api.self_ms",
        "api.non2xx", "streaming.poll_events") ++
      Calls.flatMap(c => Seq(s"spark.$c.exec_ms", s"spark.$c.gc_ms", s"spark.$c.shuffle_bytes")) ++
      Seq("jvm.gc_ms", "trace.extra_jobs", "trace.reduce_strategy_kept")

  /** A fresh map holding every per-layer name at 0. */
  def empty: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.from(names.map(_ -> 0.0))

  /** store.bulk_commit_s, lens.full_build_s.*, lens.full_build_jobs
    * from the set-up repetitions: (bulk commit s, build s by lens). */
  def setups(ctx: Ctx, out: mutable.Map[String, Double], reps: Seq[(Double, Map[String, Double])]): Unit = {
    ctx.census.drain()
    out("store.bulk_commit_s") = Bench.median(reps.map(_._1))
    reps.flatMap(_._2.keys).distinct.foreach(n =>
      out(s"lens.full_build_s.$n") = Bench.median(reps.flatMap(_._2.get(n))))
    out("lens.full_build_jobs") =
      ctx.windows.stats(ctx.census, "full_build").jobs.toDouble / math.max(1, ctx.windows.of("full_build").size)
  }

  /** store.snapshot_files of the dataset and lens.cache_bytes of `lenses`. */
  def store(out: mutable.Map[String, Double], store: Store, lenses: Seq[String]): Unit = {
    val root = Paths.get(store.root)
    val v = store.collection(Bench.DocsPath).meta.version
    out("store.snapshot_files") = Bench.countFiles(Bench.snapshotDir(root, Bench.DocsPath, v), ".parquet").toDouble
    out("lens.cache_bytes") = lenses.map(n =>
      Bench.bytesUnder(root.resolve("lenses").resolve(Bench.Author).resolve(n).resolve("cache"))).sum.toDouble
  }

  /** js.*: the map work of every build so far in this pass, against
    * the records those builds were expected to map. */
  def js(ctx: Ctx, out: mutable.Map[String, Double]): Unit = {
    out("js.map_ms") = Bench.ms(MapCounters.nanos.sum())
    out("js.map_calls") = MapCounters.calls.sum().toDouble
    out("js.map_calls_per_fresh_record") = MapCounters.calls.sum().toDouble / math.max(1L, ctx.fresh.get)
    out("js.map_errors") = MapCounters.errors.sum().toDouble
  }

  /** jvm.gc_ms, core.*, codec.* and spark.* of a traced pass. */
  def common(ctx: Ctx, out: mutable.Map[String, Double], docs: Seq[(String, PoValue)], gcMs: Long): Unit = {
    ctx.census.drain()
    out("jvm.gc_ms") = gcMs.toDouble
    core(out, docs)
    codecs(out, docs.take(200).map(_._2))
    spark(out, ctx)
  }

  /** core.*: CBOR decode / encode of the workload's own documents and
    * the merge-reduce of their token postings, in ms per pass. */
  def core(out: mutable.Map[String, Double], docs: Seq[(String, PoValue)]): Unit = {
    val bytes = docs.map { case (_, v) => Cbor.encode(v) }
    def timed(f: => Unit): Double =
      Bench.median((1 to 5).map { _ => val t0 = System.nanoTime(); f; Bench.ms(System.nanoTime() - t0) })
    out("core.cbor_decode_ms") = timed(bytes.foreach(Cbor.decode))
    out("core.cbor_encode_ms") = timed(docs.foreach { case (_, v) => Cbor.encode(v) })
    val emits = docs.flatMap { case (id, v) =>
      Corpus.textOf(v).toSeq.flatMap(t => Corpus.tokens(t).distinct.map(_ -> PoSet(PoInt(id.toLong))))
    }
    out("core.reduce_merge_ms") = timed {
      val acc = mutable.HashMap[String, PoValue]()
      emits.foreach { case (t, s) => acc(t) = acc.get(t).fold(s: PoValue)(Reduce.merge(_, s)) }
    }
  }

  /** codec.*: µs per document to encode / decode with each format. */
  def codecs(out: mutable.Map[String, Double], docs: Seq[PoValue]): Unit =
    Formats.foreach { f =>
      val c = Codec.byExtension(f).get
      val enc = docs.map(c.encode)
      out(s"codec.encode_us.$f") = Bench.microsPerItem(docs.size, 5)(docs.foreach(c.encode))
      out(s"codec.decode_us.$f") = Bench.microsPerItem(docs.size, 5)(enc.foreach(c.decode))
    }

  /** spark.<call>.*: Spark work inside every window named `call`. */
  def spark(out: mutable.Map[String, Double], ctx: Ctx): Unit =
    Calls.foreach { c =>
      val s = ctx.windows.stats(ctx.census, c)
      out(s"spark.$c.exec_ms") = s.execMs.toDouble
      out(s"spark.$c.gc_ms") = s.gcMs.toDouble
      out(s"spark.$c.shuffle_bytes") = s.shuffleBytes.toDouble
    }
}
