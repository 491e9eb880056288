package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.store.{DataPath, WriteMode}

/** q150: a USER-JAVASCRIPT lens whose map is built on ASYNC/AWAIT +
  * PROMISES — the round-14 interpreter surface exercised end-to-end
  * through the real engine path (ingest → lens build → materialized
  * output) under the DuckDB oracle. The reference runs lens code on
  * full V8 (library/workers/javascript-lens-worker.js:100-145) and
  * AWAITS the map apply (worker:131), so a user lens may legally go
  * async; this engine's contract is the deterministic version: the
  * microtask queue drains to quiescence after the map body returns,
  * THEN outputs are collected.
  *
  * What the map exercises at corpus scale (semantics pinned by
  * JsAsyncSpec + the 10k-probe asyncgen.js V8 sweep; this query pins
  * the ENGINE integration — budget sharing through suspensions,
  * worker reaping, drain-before-collect, PoBridge from reactions):
  *  - an async helper with a real `await` suspension per token;
  *  - `Promise.allSettled` over a mapped array of in-flight promises
  *    (fulfillments summed, rejections counted — tokens longer than
  *    12 chars throw);
  *  - the ENTIRE output emitted from a `.then` reaction AFTER the map
  *    body has returned — an engine that collected outputs before
  *    draining would emit zero rows and break the row count.
  *
  * Tokenization matches q9/q49/q149 (`lower` + split `[^a-z0-9]+`);
  * the per-doc working set is the FIRST 40 DISTINCT tokens in
  * first-occurrence order (`new Set` insertion order), which the
  * oracle re-derives with a min-ordinality group-by. */
object AsyncLensQuery {

  val JsAsyncCode: String =
    """async function score(tok) {
      |  await null
      |  if (tok.length > 12) throw tok
      |  return tok.length
      |}
      |async function process() {
      |  const toks = data.text.toLowerCase().split(/[^a-z0-9]+/).filter(t => t !== '')
      |  const uniq = [...new Set(toks)].slice(0, 40)
      |  const results = await Promise.allSettled(uniq.map(t => score(t)))
      |  let sum = 0, rej = 0
      |  for (const r of results) {
      |    if (r.status === 'fulfilled') sum += r.value
      |    else rej += 1
      |  }
      |  return 'n=' + uniq.length + ';sum=' + sum + ';rej=' + rej
      |}
      |if (typeof data.text === 'string') {
      |  process().then(s => output(path.recordID, s))
      |}""".stripMargin

  /** q154: an ASYNC GENERATOR lens (r14 wave 2) — the map streams
    * scored tokens through `async function*` + `for await`, with an
    * EARLY BREAK that drives the async IteratorClose path (the body's
    * `return()` is awaited, its state observable through the
    * ran_to_end flag: natural completion sets it, a break never
    * resumes past the last yield so it stays false). Covers awaited
    * yields, the request protocol, for-await destructuring, and the
    * close-on-break rule at corpus scale; JsAsyncGenSpec + the
    * asyncgen.js sweep pin the semantics. */
  val JsAsyncGenCode: String =
    """let ranToEnd = false
      |async function* scored(toks) {
      |  for (const t of toks) {
      |    const len = await Promise.resolve(t.length)
      |    yield { t, len }
      |  }
      |  ranToEnd = true
      |}
      |async function process() {
      |  const toks = data.text.toLowerCase().split(/[^a-z0-9]+/).filter(t => t !== '')
      |  const uniq = [...new Set(toks)].slice(0, 30)
      |  let n = 0, sum = 0
      |  for await (const { len } of scored(uniq)) {
      |    n += 1
      |    sum += len
      |    if (n >= 25) break
      |  }
      |  return 'n=' + n + ';sum=' + sum + ';ran_to_end=' + ranToEnd
      |}
      |if (typeof data.text === 'string') {
      |  process().then(s => output(path.recordID, s))
      |}""".stripMargin

  /** q156: async-generator `yield*` DELEGATION (r15 — closes VERDICT
    * r14 #1) end-to-end through the engine path. One outer
    * `async function*` threads all three delegation protocols
    * ([[graft.js.Generators.delegateAsync]]):
    *  - `yield* shortToks(..)` — a SYNC generator inner: values ride
    *    the AsyncFromSyncIterator unwrap, and its `return` value comes
    *    back as the yield*'s completion;
    *  - `yield* longToks(..)` — an ASYNC generator inner: per-value
    *    awaited yields forwarded request-by-request, completion value
    *    threaded the same way;
    *  - `yield* [obj, Promise.resolve(obj)]` — a plain iterable inner
    *    whose PROMISE element must be awaited before delivery.
    * The consumer tallies short/long tokens by shape and pins both
    * completion values in the output string, so a delegation that
    * dropped a value, skipped an await, or lost a completion breaks
    * the oracle hash. Semantics pinned by JsAsyncGenSpec d1–d13 +
    * the asyncgen.js V8 sweeps; this query pins the ENGINE
    * integration at corpus scale. */
  val JsAsyncGenDelegationCode: String =
    """function* shortToks(toks) {
      |  for (const t of toks) if (t.length <= 4) yield t
      |  return 'short-done'
      |}
      |async function* longToks(toks) {
      |  for (const t of toks) if (t.length > 4) yield { len: await Promise.resolve(t.length) }
      |  return 'long-done'
      |}
      |async function* combined(toks) {
      |  const a = yield* shortToks(toks)
      |  const b = yield* longToks(toks)
      |  yield* [{ fin: a + '|' + b }, Promise.resolve({ fin: 'tail' })]
      |}
      |async function process() {
      |  const toks = data.text.toLowerCase().split(/[^a-z0-9]+/).filter(t => t !== '')
      |  const uniq = [...new Set(toks)].slice(0, 30)
      |  let ns = 0, ss = 0, nl = 0, sl = 0
      |  const fins = []
      |  for await (const v of combined(uniq)) {
      |    if (typeof v === 'string') { ns += 1; ss += v.length }
      |    else if (typeof v.len === 'number') { nl += 1; sl += v.len }
      |    else fins.push(v.fin)
      |  }
      |  return 'ns=' + ns + ';ss=' + ss + ';nl=' + nl + ';sl=' + sl + ';fin=' + fins.join(',')
      |}
      |if (typeof data.text === 'string') {
      |  process().then(s => output(path.recordID, s))
      |}""".stripMargin

  /** q160: UNIQUE SYMBOLS in lens code (r15 — closes VERDICT r14 #2,
    * the last named subset hole). The map uses a `Symbol('weights')`
    * key to annotate its record object with derived state that can
    * NEVER collide with record data or leak into serialized output —
    * the idiomatic private-annotation pattern symbols exist for. The
    * output string pins the whole observable surface at corpus scale:
    * JSON.stringify HIDING the symbol prop (a leak would inject a key
    * into the JSON and break the hash), the symbol-keyed read-back,
    * Object.getOwnPropertySymbols seeing exactly one own symbol,
    * Object.keys not seeing it, identity (two same-description
    * symbols are distinct keys), and typeof. Semantics pinned by the
    * symgen.js V8 sweep (810/810) + JsConformanceSpec r15 rows. */
  val JsSymbolCode: String =
    """const W = Symbol('weights')
      |const W2 = Symbol('weights')
      |function annotate(rec, toks) {
      |  rec[W] = toks.filter(t => t.length > 3).length
      |  rec[W2] = 'shadow'
      |  rec.n = toks.length
      |  return rec
      |}
      |if (typeof data.text === 'string') {
      |  const toks = data.text.toLowerCase().split(/[^a-z0-9]+/).filter(t => t !== '')
      |  const rec = annotate({ doc: path.recordID }, toks)
      |  const syms = Object.getOwnPropertySymbols(rec)
      |  output(path.recordID, JSON.stringify(rec) + '|' + rec[W] + '|' + rec[W2] +
      |    '|' + syms.length + '|' + (syms[0] === W) + '|' + (W === W2) +
      |    '|' + Object.keys(rec).length + '|' + typeof W)
      |}""".stripMargin

  def run(spark: SparkSession, sfDir: String): DataFrame =
    runWith(spark, sfDir, JsAsyncCode, "async-scores", "asyncq")

  def runDelegation(spark: SparkSession, sfDir: String): DataFrame =
    runWith(spark, sfDir, JsAsyncGenDelegationCode, "asyncdeleg-scores", "adelq")

  def runSymbols(spark: SparkSession, sfDir: String): DataFrame =
    runWith(spark, sfDir, JsSymbolCode, "symbol-scores", "symq")

  def runGen(spark: SparkSession, sfDir: String): DataFrame =
    runWith(spark, sfDir, JsAsyncGenCode, "asyncgen-scores", "agenq")

  private def runWith(spark: SparkSession, sfDir: String, code: String,
                      lensName: String, tag: String): DataFrame = {
    import spark.implicits._
    val store = Fixture.store(spark, sfDir, s"graft-$tag")

    val fn = graft.lens.JsMapFn.compile(code).fold(
      e => throw new IllegalStateException(s"${e.errType}: ${e.message}"),
      identity)

    Fixture.freshDataset(store, "documents")
      .writeEntriesDF(Fixture.entries(Fixture.docs(spark, sfDir)), WriteMode.Overwrite)
    val lens = Fixture.freshLens(store, lensName,
      Seq(DataPath("datasets", "bench", "documents")), fn)
    lens.build()

    lens.output.records.map { r =>
      val out = Cbor.decode(r.value) match {
        case PoStr(s) => s
        case other => other.toString
      }
      (r.id.toLong, out)
    }.toDF("doc_id", "out").orderBy("doc_id")
  }
}
