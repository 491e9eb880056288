package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core._
import graft.lens.{CommutativeMapFn, Lens, MapContext, MapFn}
import graft.store.{DataPath, WriteMode}

/** Incremental lens maintenance under the hard signal (SURVEY §2.6 —
  * version-gated recompute + compute-cache reuse + deletion drop;
  * reference: library/models/lens.js:134-190 inputVersions gate,
  * :163 compute-cache entries).
  *
  * Shape: commit 1 ingests every document and a FULL build maps them
  * all; commit 2 touches three disjoint subsets — updates (text
  * append, record hash changes → fresh), deletions (tombstones →
  * cached contributions must drop), and brand-new records — and the
  * INCREMENTAL build may invoke the map only on updated+new paths.
  * The emitted frame proves both halves at once:
  *  - token/n_docs/doc_ids: the final inverted index — must equal a
  *    from-scratch rebuild over the post-commit-2 corpus (the oracle
  *    computes exactly that relationally);
  *  - version: the hash-gated output version — 1 where the token's
  *    posting set survived commit 2 unchanged (cache carried it), 2
  *    where it changed (oracle: compare build-1 vs build-2 posting
  *    strings);
  *  - n_map_calls: actual executor-side map invocations during the
  *    incremental build, via a LongAccumulator — equals
  *    |updated ∩ alive| + |new| exactly when the engine maps ONLY
  *    changed paths (a full re-map would show the whole corpus count
  *    and break the hash). Accumulators are at-least-once under task
  *    retries; the driver contract runs local-mode where no retries
  *    occur, and on a real cluster the count is diagnostic, not part
  *    of the data path.
  */
object IncrementalLensQuery {

  /** q9's oracle-matched tokenizer (lowercase, split outside [a-z0-9])
    * with an invocation counter — the counter is the proof that the
    * freshness gate, not the tokenizer, decides what re-maps. */
  final class CountingTokenFn(acc: LongAccumulator)
      extends MapFn with CommutativeMapFn {
    def map(ctx: MapContext): Unit = {
      acc.add(1L)
      val text = ctx.data match {
        case o: PoObj => o.fields.get("text") match {
          case Some(PoStr(t)) => t
          case _ => return
        }
        case _ => return
      }
      val docId = PoInt(ctx.path.recordID.toLong)
      text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").iterator
        .filter(_.nonEmpty).toArray.distinct
        .foreach(tok => ctx.output(tok, PoSet(docId)))
    }
  }

  /** q142's map: token-counts every doc, console-logs the count for
    * doc_id % 17 == 3, throws (AFTER emitting — the outputs-kept
    * contract) for doc_id % 31 == 5. Deterministic, so the captured
    * log/error rows are oracle-derivable from the corpus. */
  final class LoggingTokenFn extends MapFn {
    def map(ctx: MapContext): Unit = {
      val id = ctx.path.recordID.toLong
      val text = ctx.data match {
        case o: PoObj => o.fields.get("text") match {
          case Some(PoStr(t)) => t
          case _ => return
        }
        case _ => return
      }
      val n = text.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").count(_.nonEmpty)
      if (id % 17 == 3) ctx.log("len", n.toString)
      ctx.output(s"n$n", PoSet(PoInt(id)))
      if (id % 31 == 5) throw new IllegalStateException(s"bad doc $id")
    }
  }

  /** Per-input log/error capture under the hard signal (§2.4/S13
    * surface; reference: javascript-lens-worker.js:66-73 console
    * capture, :27-49 error capture, served per input by lens.js:87-92
    * — logs are DATA, queryable after the build). One full build of a
    * [[LoggingTokenFn]] lens, then `Lens.logsOf` — the engine serves
    * log rows from the compute-cache spool, so this also pins that the
    * spool retains exactly the current inputs' log/err rows. The
    * oracle re-derives every captured row (including the token count
    * inside the log message and the error message text) from the
    * documents table; a doc that hits BOTH gates (%17==3 and %31==5)
    * must yield both rows — logs emitted before a throw survive. */
  def lensLogs(spark: SparkSession, sfDir: String): DataFrame = {
    val store = Fixture.store(spark, sfDir, "graft-logq")
    Fixture.freshDataset(store, "docs-log").writeEntriesDF(
      Fixture.entries(Parallelism.spread(Fixture.docs(spark, sfDir))), WriteMode.Overwrite)
    Fixture.freshLens(store, "log-lens",
      Seq(DataPath("datasets", "bench", "docs-log")), new LoggingTokenFn).build()

    Lens.logsOf(store, "bench", "log-lens")
      .select(
        substring_index(col("path"), "/", -1).as("id"),
        col("kind"),
        when(col("kind") === "log", concat_ws(" ", col("logArgs")))
          .otherwise(lit(null)).as("log_msg"),
        col("errType").as("err_type"),
        col("errMsg").as("err_msg"))
      .orderBy(col("id").cast("long"), col("kind"))
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // The pid-scoped root keeps a concurrent process's rebuilds from
    // perturbing the exact map-invocation counts. Both collections are
    // dropped up front: dropping the lens output removes its compute
    // cache with it, so build 1 below always maps everything and the
    // invocation count never sees state from a previous run.
    val store = Fixture.store(spark, sfDir, "graft-incq")
    val ds = Fixture.freshDataset(store, "documents-inc")
    // the CBOR encode and the store's hash/link prep are per-row work:
    // spread the ingest frame (see Parallelism)
    val docs = Parallelism.spread(Fixture.docs(spark, sfDir))

    // ---- commit 1: the whole corpus
    ds.writeEntriesDF(Fixture.entries(docs), WriteMode.Overwrite)

    val acc = spark.sparkContext.longAccumulator("graft.q44.mapCalls")
    val lens = Fixture.freshLens(store, "token-index-inc",
      Seq(DataPath("datasets", "bench", "documents-inc")), new CountingTokenFn(acc))
    lens.build() // full: empty cache maps everything → output version 1

    // ---- commit 2 (merge): disjoint touched subsets (deleted, updated, new)
    ds.writeEntriesDF(Fixture.touchedDelta(docs), WriteMode.Merge)

    // ---- incremental build: only updated+new paths may re-map
    acc.reset()
    lens.build()
    val nMapCalls = acc.value

    lens.output.records.map { r =>
      val ids = Cbor.decode(r.value).asInstanceOf[PoSet].items
        .collect { case PoInt(i) => i }.sorted
      (r.id, ids.length.toLong, ids.mkString(","), r.version)
    }.toDF("token", "n_docs", "doc_ids", "version")
      .withColumn("n_map_calls", lit(nMapCalls))
      .orderBy("token")
  }
}
