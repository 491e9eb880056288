package loadbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.lens.{JsMapFn, Lens, MapFn}
import graft.queries.AsyncLensQuery
import graft.store.{Collection, DataPath, Store, WriteMode}

/** What one pass of a workload measured. `e2e` holds the end-to-end
  * metrics, `layers` the per-layer ones (filled only when traced). */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double])

/** State shared by the workloads of one benchmark process. */
final class Ctx(val spark: SparkSession, val workDir: Path, val seed: Long,
                val seconds: Int, val traced: Boolean) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** records the lens builds of this pass were expected to map */
  val fresh = new AtomicLong
  private val problems = mutable.ArrayBuffer[String]()

  val census = new JobCensus
  val windows = new Windows

  /** Record one checked operation; `problem` = None when it was correct. */
  def check(problem: Option[String]): Boolean = {
    attempted.incrementAndGet()
    problem.foreach { p =>
      failed.incrementAndGet()
      problems.synchronized { if (problems.size < 20) problems += p }
    }
    problem.isEmpty
  }
  def guarded[A](what: String)(f: => A): Option[A] =
    try Some(f) catch {
      case e: Throwable =>
        check(Some(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")); None
    }
  def problemList: Seq[String] = problems.synchronized(problems.toSeq)

  private val roots = new AtomicLong
  def freshRoot(tag: String): Path = {
    val p = workDir.resolve(s"$tag-${roots.incrementAndGet()}")
    Bench.rmTree(p)
    p
  }
}

object Bench {
  val Author = "bench"
  val DocsPath: DataPath = DataPath("datasets", Author, "docs")
  val TokPath: DataPath = DataPath("lenses", Author, "tok")
  /** Per-call budget of the sandboxed lenses: generous, so that a slow
    * box never turns a map call into a captured timeout. */
  val SandboxMs = 10000L
  val SetupReps = 3

  /** The cascade lens over `tok`: one {tokens, postings} contribution
    * per token under its first character; the reduce sums them. */
  val CntCode = "output(path.recordID.slice(0, 1), { tokens: 1, postings: data.size })"

  def js(code: String): MapFn = JsMapFn.compile(code).fold(
    e => throw new IllegalStateException(s"${e.errType}: ${e.message}"), identity)

  /** A sandboxed JS lens; traced passes wrap the map in [[TimedMapFn]]. */
  def lens(store: Store, name: String, input: DataPath, code: String, traced: Boolean): Lens = {
    val fn = if (traced) TimedMapFn.wrap(js(code)) else js(code)
    new Lens(store, Author, name, Seq(input), fn).withSandbox(SandboxMs)
  }

  /** Full build of `l`, in seconds, inside a `full_build` window. */
  def fullBuild(ctx: Ctx, l: Lens): Double = {
    val t0 = System.nanoTime()
    ctx.windows.time("full_build")(l.buildFull())
    (System.nanoTime() - t0) / 1e9
  }

  /** Traced probe of the async map: a full build of `score` (the
    * `AsyncLensQuery.JsAsyncCode` shape) over the store's documents,
    * checked against the model; returns its seconds. */
  def scoreProbe(ctx: Ctx, store: Store, model: Model): Double = {
    val score = lens(store, "score", DocsPath, AsyncLensQuery.JsAsyncCode, ctx.traced).create()
    val s = fullBuild(ctx, score)
    ctx.fresh.addAndGet(model.docs.size)
    ctx.check(checkScore(score.output, model))
    s
  }

  /** Bulk commit of the whole corpus through `writeEntriesDF`. */
  def bulkCommit(spark: SparkSession, coll: Collection, docs: Seq[(String, PoValue)]): Long = {
    import spark.implicits._
    val rows = docs.map { case (id, v) => (id, Cbor.encode(v), false) }
    coll.writeEntriesDF(rows.toDF("id", "value", "tombstone"), WriteMode.Overwrite)
  }

  // ---- output checks against the model ------------------------------

  def longsOf(v: PoValue): Option[Set[Long]] = v match {
    case s: PoSet => Some(s.items.collect { case PoInt(i) => i }.toSet)
    case _ => None
  }

  def cntOf(v: PoValue): Option[(Long, Long)] = v match {
    case PoObj(f) => (f.get("tokens"), f.get("postings")) match {
      case (Some(PoInt(t)), Some(PoInt(p))) => Some((t, p))
      case _ => None
    }
    case _ => None
  }

  /** Compare a whole lens output with the model; None when equal. */
  def diffOutput(name: String, rows: Seq[(String, PoValue)],
                 expected: Map[String, PoValue => Boolean]): Option[String] = {
    val got = rows.toMap
    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    val wrong = expected.iterator.filter { case (k, ok) => got.get(k).exists(v => !ok(v)) }.map(_._1).take(3).toSeq
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
    else Some(s"$name: ${missing.size} missing (${missing.take(3).mkString(",")}), " +
      s"${extra.size} extra (${extra.take(3).mkString(",")}), wrong ${wrong.mkString(",")}")
  }

  def readAll(c: Collection): Seq[(String, PoValue)] =
    c.records.collect().toSeq.map(r => (r.id, Cbor.decode(r.value)))

  def checkTok(c: Collection, m: Model): Option[String] =
    diffOutput("tok", readAll(c), m.postings.iterator.map { case (t, s) =>
      val want = s.toSet
      t -> ((v: PoValue) => longsOf(v).contains(want))
    }.toMap)

  def checkCnt(c: Collection, m: Model): Option[String] =
    diffOutput("cnt", readAll(c), m.cntAll.map { case (b, want) =>
      b -> ((v: PoValue) => cntOf(v).contains(want))
    })

  def checkScore(c: Collection, m: Model): Option[String] =
    diffOutput("score", readAll(c), m.docs.keysIterator.flatMap(id => m.scoreValue(id).map(id -> _)).map {
      case (id, want) => id -> ((v: PoValue) => v == PoStr(want))
    }.toMap)

  // ---- sizes on disk -------------------------------------------------

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).count()
      finally s.close()
    }

  def rmTree(p: Path): Unit = if (Files.exists(p)) graft.core.Fs.rmTree(p)

  /** Directory of a collection's current snapshot. */
  def snapshotDir(root: Path, p: DataPath, version: Long): Path =
    root.resolve(p.source).resolve(p.author).resolve(p.name).resolve(s"v$version")

  // ---- statistics ----------------------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ms(ns: Long): Double = ns / 1e6

  /** Median-of-passes timing of `f` over `reps` passes, µs per item. */
  def microsPerItem(items: Int, reps: Int)(f: => Unit): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / items
    })
}
