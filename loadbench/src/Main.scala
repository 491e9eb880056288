package loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.lens.{CommutativeMapFn, Lens, MapFn}
import graft.queries.LensTokenIndex
import graft.store.Store

/** Benchmark process: runs one workload and writes one JSON result.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * `--trace 0` runs the workload once, untraced, and reports the
  * end-to-end metrics. `--trace 1` runs it untraced and then traced in
  * the same process, and reports the per-layer metrics plus, for every
  * end-to-end metric, the traced value minus the untraced one
  * (`overhead.<metric>`). */
object Main {
  /** End-to-end metrics and their units; every workload reports each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_docs_per_s" -> "docs/s",
    "op_p50_ms" -> "ms", "op_p75_ms" -> "ms", "ops_per_s" -> "ops/s",
    "space_amp" -> "ratio", "heap_live_mb" -> "MiB")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "trickle_cascade" -> Trickle.run, "serve_mix" -> Serve.run)

  def layerUnit(name: String): String = name match {
    case n if n.startsWith("overhead.") => EndToEnd.toMap.getOrElse(n.stripPrefix("overhead."), "ratio")
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.contains("_ms") => "ms"
    case n if n.contains("_us.") => "us"
    case n if n.endsWith("_s") || n.contains("_s.") => "s"
    case n if n.endsWith("write_amp") || n.endsWith("per_fresh_record") || n.endsWith("poll_events") => "ratio"
    case _ => "count"
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.getOrElse(opts.getOrElse("workload", ""),
      throw new IllegalArgumentException(s"--workload must be one of ${Workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)

    val problems = mutable.ArrayBuffer[String]()
    Corpus.selfTest(seed, 500).foreach(problems += _)

    val spark = GraftSession.build()
    try {
      val base = new Ctx(spark, work, seed, seconds, traced = false)
      val untraced = workload(base)
      MapCounters.reset()
      val ctxs = mutable.ArrayBuffer(base)
      val metrics: Seq[(String, Double, String)] =
        if (!trace) EndToEnd.map { case (n, u) => (n, untraced.e2e(n), u) }
        else {
          EndToEnd.foreach { case (n, u) => System.err.println(f"loadbench: untraced $n%-31s ${untraced.e2e(n)}%16.4f $u") }
          val t = new Ctx(spark, work, seed, seconds, traced = true)
          ctxs += t
          spark.sparkContext.addSparkListener(t.census)
          val traced = workload(t)
          val audit = traceAudit(t)
          spark.sparkContext.removeSparkListener(t.census)
          val layers = traced.layers ++ audit ++
            EndToEnd.map { case (n, _) => s"overhead.$n" -> (traced.e2e(n) - untraced.e2e(n)) }
          layers.toSeq.map { case (n, v) => (n, v, layerUnit(n)) }
        }
      val attempted = ctxs.map(_.attempted.get).sum
      val failed = ctxs.map(_.failed.get).sum
      ctxs.foreach(c => problems ++= c.problemList)
      metrics.filter(m => m._2.isNaN || m._2.isInfinite).foreach(m => problems += s"metric ${m._1} is ${m._2}")
      problems.foreach(p => System.err.println(s"loadbench: FAIL $p"))
      metrics.foreach { case (n, v, u) => System.err.println(f"loadbench: $n%-40s $v%16.4f $u") }

      val body = metrics.map { case (n, v, u) =>
        val x = if (v.isNaN || v.isInfinite) 0.0 else v
        s""""$n": {"value": ${BigDecimal(x).toString}, "unit": "$u"}"""
      }.mkString("{", ", ", "}")
      val correct = problems.isEmpty && failed == 0
      val json = s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": $body}"""
      Files.write(Paths.get(opts("out")), json.getBytes(UTF_8))
    } finally spark.stop()
  }

  /** Shows that tracing adds no Spark job and keeps the reduce strategy:
    * the same full build runs with the plain and with the timed map
    * function (once for the commutative Scala token map, once for the JS
    * one), and the job counts and reduce kinds must match. The first
    * build of a store runs one job fewer than later ones, so a plain
    * build goes first and is not compared. The builds run with the
    * cache-write overlap off: overlapped, the two legs of a build race
    * and its job count varies by one from run to run. */
  def traceAudit(ctx: Ctx): Map[String, Double] = {
    val overlap = "graft.lens.overlapCacheWrite"
    val before = ctx.spark.conf.getOption(overlap)
    ctx.spark.conf.set(overlap, "false")
    try audit(ctx)
    finally before.fold(ctx.spark.conf.unset(overlap))(ctx.spark.conf.set(overlap, _))
  }

  private def audit(ctx: Ctx): Map[String, Double] = {
    val root = ctx.freshRoot("audit")
    val store = new Store(ctx.spark, root.toString)
    val (_, docs) = Corpus.generate(ctx.seed, 100)
    Bench.bulkCommit(ctx.spark, store.collection(Bench.DocsPath).create(), docs)
    def jobsOf(name: String, fn: MapFn): Long = {
      val l = new Lens(store, Bench.Author, name, Seq(Bench.DocsPath), fn).create()
      ctx.windows.time(name)(l.buildFull())
      ctx.census.drain()
      ctx.windows.stats(ctx.census, name).jobs
    }
    jobsOf("audit-first", LensTokenIndex.TokenFn)
    val fns = Seq(LensTokenIndex.TokenFn, Bench.js(LensTokenIndex.JsTokenCode))
    val extraJobs = fns.zipWithIndex.map { case (fn, i) =>
      jobsOf(s"audit-timed$i", TimedMapFn.wrap(fn)) - jobsOf(s"audit-plain$i", fn)
    }.sum
    val kept = fns.forall(fn =>
      fn.isInstanceOf[CommutativeMapFn] == TimedMapFn.wrap(fn).isInstanceOf[CommutativeMapFn])
    Bench.rmTree(root)
    ctx.check(if (extraJobs == 0) None else Some(s"tracing changed the job count of a full build by $extraJobs"))
    ctx.check(if (kept) None else Some("tracing changed the reduce strategy"))
    Map("trace.extra_jobs" -> extraJobs.toDouble, "trace.reduce_strategy_kept" -> (if (kept) 1.0 else 0.0))
  }
}
