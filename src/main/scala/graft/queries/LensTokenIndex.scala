package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.lens.{CommutativeMapFn, MapContext, MapFn}
import graft.store.{DataPath, Store, WriteMode}

/** Driver-verified query that exercises the REAL engine path — ingest →
  * lens build (flatMap → ordered merge-reduce over the Set branch of the
  * lattice) → materialized output — not a relational restatement. The
  * result is the reference's own golden shape (an inverted index,
  * test/test-models-lens.js:31-53) over the driver's `documents` table,
  * which DuckDB can oracle with string_split_regex + string_agg.
  */
object LensTokenIndex {

  /** Tokenize: lowercase, split on runs outside [a-z0-9] — chosen because
    * DuckDB's string_split_regex(lower(text), '[^a-z0-9]+') matches it
    * exactly, so the oracle checks the full pipeline. */
  object TokenFn extends MapFn with graft.lens.CommutativeMapFn {
    def map(ctx: MapContext): Unit = {
      val text = ctx.data match {
        case o: PoObj => o.fields.get("text") match {
          case Some(PoStr(t)) => t
          case _ => return
        }
        case _ => return
      }
      val docId = PoInt(ctx.path.recordID.toLong)
      // distinct per doc: the Set union dedups anyway, but emitting each
      // token once per document keeps the shuffle payload minimal
      text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").iterator
        .filter(_.nonEmpty).toArray.distinct
        .foreach(tok => ctx.output(tok, PoSet(docId)))
    }
  }

  /** q49: the SAME inverted index, but the map is USER JAVASCRIPT run by
    * the in-process interpreter ([[graft.lens.JsMapFn]]) — the
    * reference's native lens form (mapType 'javascript'). Tokenization
    * is chosen identical to [[TokenFn]], so q9's DuckDB oracle checks
    * this path too: one oracle, two map runtimes. `new Set([...])`
    * bridges to the engine's PoSet, so the reduce lattice unions doc ids
    * exactly as the Scala lens does. */
  val JsTokenCode: String =
    """if (typeof data.text === 'string') {
      |  const seen = new Set()
      |  for (const tok of data.text.toLowerCase().split(/[^a-z0-9]+/)) {
      |    if (tok !== '' && !seen.has(tok)) {
      |      seen.add(tok)
      |      output(tok, new Set([Number(path.recordID)]))
      |    }
      |  }
      |}""".stripMargin

  def run(spark: SparkSession, sfDir: String): DataFrame =
    runWith(spark, sfDir, "lensq", TokenFn)

  def runJs(spark: SparkSession, sfDir: String): DataFrame =
    runWith(spark, sfDir, "lensjsq",
      graft.lens.JsMapFn.compile(JsTokenCode).fold(
        e => throw new IllegalStateException(s"${e.errType}: ${e.message}"),
        identity))

  private def runWith(spark: SparkSession, sfDir: String, tag: String,
                      fn: MapFn): DataFrame = {
    import spark.implicits._
    // scratch store keyed by scale factor, rebuilt per run
    val root = Paths.get(sys.props("java.io.tmpdir"), s"graft-$tag-${Fixture.sfName(sfDir)}").toString
    val store = new Store(spark, root)

    Fixture.freshDataset(store, "documents")
      .writeEntriesDF(Fixture.entries(Fixture.docs(spark, sfDir)), WriteMode.Overwrite)
    val lens = Fixture.freshLens(store, "token-index",
      Seq(DataPath("datasets", "bench", "documents")), fn)
    lens.build()

    lens.output.records.map { r =>
      val ids = Cbor.decode(r.value).asInstanceOf[PoSet].items
        .collect { case PoInt(i) => i }.sorted
      (r.id, ids.length.toLong, ids.mkString(","))
    }.toDF("token", "n_docs", "doc_ids").orderBy("token")
  }
}
