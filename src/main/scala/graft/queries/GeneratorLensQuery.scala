package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.store.{DataPath, WriteMode}

/** q149: a USER-JAVASCRIPT lens whose map runs on GENERATORS — the
  * round-13 interpreter surface (`function*`/`yield`, generator
  * composition, for-of early exit) exercised end-to-end through the
  * real engine path: ingest → lens build (flatMap → Set-union reduce)
  * → materialized output, under the DuckDB oracle.
  *
  * The map pipes one generator through another (a token stream into a
  * bigram stream — nested suspension, closure state across yields) and
  * CAPS the scan at the first 50 bigrams per document by breaking out
  * of the for-of, which drives the IteratorClose path (the inner
  * generators are closed and their threads reaped) once per record.
  * The reference would run the same code on V8
  * (library/workers/javascript-lens-worker.js:104); gengen.js's 6k
  * V8-differential probes pin the semantics, this query pins the
  * ENGINE integration (budget sharing, per-record thread reaping,
  * PoSet bridging) at corpus scale.
  *
  * Tokenization matches q9/q49 (`lower` + split on `[^a-z0-9]+`) so
  * DuckDB can oracle it exactly; the bigram cap is position ≤ 50 in
  * the oracle's UNNEST ordinality.
  *
  * Scale: each map call starts two generator threads (~0.1 ms) — fixed
  * per-record overhead, scan-proportional overall, no extra shuffle:
  * the build's exchange stays keyed on the bigram vocabulary exactly
  * like q9/q49. A throughput-critical rewrite would hoist the loop
  * into the non-generator q49 form; this query's point is the
  * generator ENGINE surface under the oracle. */
object GeneratorLensQuery {

  val JsBigramCode: String =
    """function* tokens(text) {
      |  for (const tok of text.toLowerCase().split(/[^a-z0-9]+/)) {
      |    if (tok !== '') yield tok
      |  }
      |}
      |function* bigrams(src) {
      |  let prev = null
      |  for (const t of src) {
      |    if (prev !== null) yield prev + ' ' + t
      |    prev = t
      |  }
      |}
      |if (typeof data.text === 'string') {
      |  const seen = new Set()
      |  let count = 0
      |  for (const bg of bigrams(tokens(data.text))) {
      |    if (++count > 50) break
      |    if (!seen.has(bg)) {
      |      seen.add(bg)
      |      output(bg, new Set([Number(path.recordID)]))
      |    }
      |  }
      |}""".stripMargin

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val store = Fixture.store(spark, sfDir, "graft-genq")

    val fn = graft.lens.JsMapFn.compile(JsBigramCode).fold(
      e => throw new IllegalStateException(s"${e.errType}: ${e.message}"),
      identity)

    Fixture.freshDataset(store, "documents")
      .writeEntriesDF(Fixture.entries(Fixture.docs(spark, sfDir)), WriteMode.Overwrite)
    val lens = Fixture.freshLens(store, "bigram-index",
      Seq(DataPath("datasets", "bench", "documents")), fn)
    lens.build()

    lens.output.records.map { r =>
      val ids = Cbor.decode(r.value).asInstanceOf[PoSet].items
        .collect { case PoInt(i) => i }.sorted
      (r.id, ids.length.toLong, ids.mkString(","))
    }.toDF("bigram", "n_docs", "doc_ids").orderBy("bigram")
  }
}
