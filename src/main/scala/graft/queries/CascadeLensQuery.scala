package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.{Cbor, Parallelism, PoSet, PoStr}
import graft.lens.{CommutativeMapFn, MapContext, MapFn}
import graft.store.{DataPath, WriteMode}

/** Lens-on-lens CASCADE under the hard signal (SURVEY §2.6 step 8;
  * reference: library/models/lens.js:351-367 cascading rebuilds,
  * lens.js:66-81 the reverse-edge map — a lens's input can be another
  * lens, so a dataset commit propagates through the whole view DAG).
  *
  * Shape: dataset → lens A (token index, q44's tokenizer) → lens B
  * (first-char bucket → the SET of tokens in that bucket). Commit 1
  * ingests the corpus and both lenses build FULL; commit 2 is q44's
  * exact touched-subset merge (updates %7, tombstones %13==2, five new
  * docs) and both lenses rebuild INCREMENTALLY in dependency order.
  * The emitted frame pins the cascade at every level at once:
  *  - bucket/n_tokens/tokens: lens B's final state — must equal a
  *    from-scratch rebuild over the post-commit-2 corpus (the oracle
  *    computes exactly that relationally);
  *  - version: B's hash-gated output version — 1 where the bucket's
  *    token set survived commit 2 unchanged (B's cache carried it),
  *    2 where it changed (oracle: compare the two corpora's bucketed
  *    token sets);
  *  - n_map_calls_a: A's incremental map invocations = |updated ∩
  *    alive| + |new| documents (the q44 gate proof);
  *  - n_map_calls_b: B's incremental map invocations = the number of
  *    TOKENS whose posting set changed or that are brand-new — i.e.
  *    exactly the records lens A's hash gate version-bumped. A full
  *    re-map at either level puts the corpus/vocabulary size there and
  *    breaks the hash; so does an over-eager B rebuild after a no-op A
  *    commit.
  * Deletion flows through BOTH levels: a doc tombstone drops postings
  * in A; a token that loses its last posting vanishes from A, and B's
  * freshness gate must then drop its cached bucket contribution — a
  * resurrection shows up as a stale token in `tokens`.
  *
  * Accumulator caveat (same as q44): at-least-once under task retries;
  * the driver contract runs local-mode where no retries occur. */
object CascadeLensQuery {

  /** Lens B's map: input records are lens A's (token → posting set);
    * emit (first char of token → {token}). Set-union is commutative →
    * the partial-aggregating reduce path. */
  final class BucketFn(acc: LongAccumulator)
      extends MapFn with CommutativeMapFn {
    def map(ctx: MapContext): Unit = {
      acc.add(1L)
      val token = ctx.path.recordID
      ctx.output(token.substring(0, 1), PoSet(PoStr(token)))
    }
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // pid-scoped scratch, reaped + reused (the q44/q136 discipline);
    // everything is dropped up front so build 1 always starts cold and
    // the invocation counts never see a previous run's caches
    val store = Fixture.store(spark, sfDir, "graft-cascq")
    val ds = Fixture.freshDataset(store, "docs-casc")
    val docs = Parallelism.spread(Fixture.docs(spark, sfDir))

    // ---- commit 1: the whole corpus
    ds.writeEntriesDF(Fixture.entries(docs), WriteMode.Overwrite)

    val accA = spark.sparkContext.longAccumulator("graft.q138.mapCallsA")
    val accB = spark.sparkContext.longAccumulator("graft.q138.mapCallsB")
    val lensA = Fixture.freshLens(store, "tok-casc",
      Seq(DataPath("datasets", "bench", "docs-casc")),
      new IncrementalLensQuery.CountingTokenFn(accA))
    val lensB = Fixture.freshLens(store, "buck-casc",
      Seq(DataPath("lenses", "bench", "tok-casc")), new BucketFn(accB))

    // full builds, dependency order (the LensHub cascade runs exactly
    // this ordering off the change feed; the fixture calls it directly
    // so the accumulators attribute cleanly to one build each)
    lensA.build()
    lensB.build()

    // ---- commit 2 (merge): q44's exact touched subsets
    ds.writeEntriesDF(Fixture.touchedDelta(docs), WriteMode.Merge)

    // ---- incremental cascade: A then B, each counting its map calls
    accA.reset(); accB.reset()
    lensA.build()
    lensB.build()
    val (nA, nB) = (accA.value, accB.value)

    lensB.output.records.map { r =>
      val toks = Cbor.decode(r.value).asInstanceOf[PoSet].items
        .collect { case PoStr(t) => t }.sorted
      (r.id, toks.length.toLong, toks.mkString(","), r.version)
    }.toDF("bucket", "n_tokens", "tokens", "version")
      .withColumn("n_map_calls_a", lit(nA))
      .withColumn("n_map_calls_b", lit(nB))
      .orderBy(col("bucket"))
  }
}
