package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.{Cbor, Parallelism, PoInt, PoSet, PoStr}
import graft.lens.{Lens, LensHub, MapContext, MapFn}
import graft.store.{DataPath, WriteMode}

/** 3-level DIAMOND cascade under the hard signal (VERDICT r13 #6;
  * reference: library/models/lens.js:351-367 cascading rebuilds —
  * a lens input can be another lens, so the rebuild graph is a DAG,
  * and a diamond is its smallest non-tree shape).
  *
  * Shape: dataset → lens A (token index) → TWO mid lenses, B1
  * (first-char bucket → token set) and B2 (token-LENGTH bucket →
  * token set), both reading A → sink lens C reading BOTH B1 and B2
  * (per-bucket token counts, output ids prefixed by the source lens
  * name). Unlike q138, the builds are driven by the [[LensHub]] with
  * `parallelCascade = true` — the fixture exercises the hub's wave
  * scheduling itself: A's commit fans out to a concurrent [B1, B2]
  * wave, and EACH of their commits triggers C, so C's rebuild for the
  * first mid-lens commit can be in flight when the second commit
  * lands (the pending re-run path in LensHub.onUpdate — without it,
  * the second event would be dropped and C would stay permanently
  * stale on that input: the diamond under-build).
  *
  * What the emitted frame pins:
  *  - ckey/n_tokens: C's final state = a from-scratch recomputation
  *    over the post-merge corpus (oracle derives it relationally from
  *    BOTH mid-lens shapes);
  *  - changed: whether C's record version moved between the two
  *    settles. C's phase-1 BUILD COUNT is racy by design (1 or 2
  *    builds depending on which mid-lens commits first), so raw
  *    versions are not deterministic — but the hash gate makes
  *    version MOVEMENT exactly "the count changed or the bucket is
  *    new", which is corpus-derivable;
  *  - n_map_calls_a: |updated ∩ alive| + |new| (q44's gate proof);
  *  - n_map_calls_b1 = n_map_calls_b2: the number of tokens whose
  *    posting set changed or is new — A's version-bumped outputs,
  *    counted independently by each mid lens;
  *  - n_map_calls_c: |version-bumped B1 buckets| + |version-bumped B2
  *    buckets|. This is the diamond invariant: each bumped input
  *    record maps EXACTLY ONCE across however many C builds the
  *    commit race produced — an under-build (dropped second commit)
  *    counts low and leaves stale values; an over-build (full re-map
  *    on the second trigger) counts the whole bucket space. Either
  *    breaks the hash.
  *
  * Accumulator caveat (same as q44/q138): at-least-once under task
  * retries; the driver contract runs local-mode where no retries
  * occur. */
object DiamondLensQuery {

  /** B2's map: lens A records (token → posting set) → (token length →
    * {token}). Set-union is commutative → partial-aggregating reduce. */
  final class LenBucketFn(acc: LongAccumulator)
      extends MapFn with graft.lens.CommutativeMapFn {
    def map(ctx: MapContext): Unit = {
      acc.add(1L)
      val token = ctx.path.recordID
      ctx.output(token.length.toString, PoSet(PoStr(token)))
    }
  }

  /** C's map: mid-lens records (bucket → token set) → ("lensName:bucket"
    * → token count). Output ids are disjoint across the two inputs by
    * the name prefix, so the diamond join is observable per source. */
  final class SinkFn(acc: LongAccumulator) extends MapFn {
    def map(ctx: MapContext): Unit = {
      acc.add(1L)
      val n = ctx.data match {
        case s: PoSet => s.items.size.toLong
        case _ => 0L
      }
      ctx.output(s"${ctx.path.name}:${ctx.path.recordID}", PoInt(n))
    }
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val store = Fixture.store(spark, sfDir, "graft-diaq")

    // drop everything BEFORE the hub exists: drops must not trigger a
    // cascade, and build 1 must start cold so the invocation counts
    // never see a previous run's caches
    Seq("tok-dia", "chr-dia", "len-dia", "sink-dia").foreach { n =>
      val c = store.collection(DataPath("lenses", "bench", n))
      if (c.exists) c.drop()
    }
    val ds = Fixture.freshDataset(store, "docs-dia")

    val hub = new LensHub(store, parallelCascade = true)
    val accA = spark.sparkContext.longAccumulator("graft.q153.mapCallsA")
    val accB1 = spark.sparkContext.longAccumulator("graft.q153.mapCallsB1")
    val accB2 = spark.sparkContext.longAccumulator("graft.q153.mapCallsB2")
    val accC = spark.sparkContext.longAccumulator("graft.q153.mapCallsC")
    hub.register(new Lens(store, "bench", "tok-dia",
      Seq(DataPath("datasets", "bench", "docs-dia")),
      new IncrementalLensQuery.CountingTokenFn(accA)).create())
    hub.register(new Lens(store, "bench", "chr-dia",
      Seq(DataPath("lenses", "bench", "tok-dia")),
      new CascadeLensQuery.BucketFn(accB1)).create())
    hub.register(new Lens(store, "bench", "len-dia",
      Seq(DataPath("lenses", "bench", "tok-dia")),
      new LenBucketFn(accB2)).create())
    val sink = hub.register(new Lens(store, "bench", "sink-dia",
      Seq(DataPath("lenses", "bench", "chr-dia"),
        DataPath("lenses", "bench", "len-dia")),
      new SinkFn(accC)).create())

    val docs = Parallelism.spread(Fixture.docs(spark, sfDir))

    // ---- commit 1: the whole corpus — the hub settles the full DAG
    // synchronously before writeEntriesDF returns
    ds.writeEntriesDF(Fixture.entries(docs), WriteMode.Overwrite)

    // phase-1 snapshot of C's versions (driver map: ~60 bucket rows) —
    // the deterministic reference point `changed` is measured against
    val v1 = sink.output.records
      .map(r => (r.id, r.version)).collect().toMap

    // ---- commit 2 (merge): q44's exact touched subsets; the hub
    // re-settles the diamond incrementally
    accA.reset(); accB1.reset(); accB2.reset(); accC.reset()
    ds.writeEntriesDF(Fixture.touchedDelta(docs), WriteMode.Merge)

    val (nA, nB1, nB2, nC) = (accA.value, accB1.value, accB2.value, accC.value)
    sink.output.records.map { r =>
      val n = Cbor.decode(r.value) match {
        case PoInt(i) => i
        case _ => 0L
      }
      val changed = v1.get(r.id) match {
        case Some(v) => r.version > v
        case None => true
      }
      (r.id, n, changed)
    }.toDF("ckey", "n_tokens", "changed")
      .withColumn("n_map_calls_a", lit(nA))
      .withColumn("n_map_calls_b1", lit(nB1))
      .withColumn("n_map_calls_b2", lit(nB2))
      .withColumn("n_map_calls_c", lit(nC))
      .orderBy(col("ckey"))
  }
}
