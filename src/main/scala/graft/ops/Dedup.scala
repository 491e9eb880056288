package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

import graft.core.Parallelism

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: nothing here ever materializes the O(n²) pair space.
  * Exact dedup is one hash-groupBy shuffle. Near-dedup is
  * minhash → banded LSH bucket join (pairs only form inside a bucket,
  * and bucket membership requires a full band match) → exact-Jaccard
  * verification of the candidate pairs. At 1000 executors each stage is
  * an ordinary shuffle keyed by hash/bucket — no skew beyond bucket
  * hotspots, which the band hash distributes.
  */
object Dedup {

  /** Exact dedup groups by content fingerprint: one row per distinct
    * fingerprint with the group size and the survivor (min id). A plain
    * hash-groupBy: one shuffle, map-side partial aggregation. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", prefixLen: Int = 100): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol), prefixLen).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** CONFUSABLE-SKELETON dedup (r15): exact dedup over
    * [[Normalize.confusableSkeleton]] — catches the classic evasion of
    * swapping Latin letters for Cyrillic/Greek/fullwidth lookalikes or
    * threading zero-width characters through words, which defeats
    * byte-exact dedup while rendering pixel-identically. Same plan
    * shape as [[exactGroups]] (skeletonization is scan-stage string
    * expressions; ONE partial-agg shuffle on the 32-byte fingerprint);
    * `n_raw` counts the distinct RAW fingerprints each skeleton group
    * absorbed — >1 means the skeleton actually merged byte-distinct
    * variants. */
  def skeletonGroups(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", prefixLen: Int = 100): DataFrame = {
    val skel = Normalize.confusableSkeleton(col(textCol))
    val skFp = sha2(substring(regexp_replace(skel, "[^a-z0-9]+", " "), 1, prefixLen), 256)
    docs.groupBy(skFp.as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"),
        countDistinct(TextOps.fingerprint(col(textCol), prefixLen)).as("n_raw"))
  }

  /** INCREMENTAL dedup against a prior corpus snapshot — the recrawl
    * shape: a fresh batch keeps only documents that are (a) the min-id
    * representative of their fingerprint within the batch AND (b)
    * absent from the prior snapshot's fingerprint set. Real pipelines
    * run this every crawl increment; without it each batch re-admits
    * everything the corpus already holds.
    *
    * Scale shape: the prior side reduces to DISTINCT fingerprints
    * before anything joins (one partial-agg shuffle over the snapshot,
    * carrying 32-byte keys only — never documents); the batch
    * aggregates per fingerprint (min id, count) in the same pass that
    * computes novelty, then a LEFT ANTI join keyed on the fingerprint
    * drops known content. Both shuffles are hash-partitioned on the
    * fingerprint — at 100 TB the anti-join is the standard sorted/
    * shuffled hash anti-join, and nothing document-sized crosses the
    * wire twice. Output: (doc_id, fp, n_batch_dups) — the survivor,
    * its key, and how many batch copies it represents. */
  def dedupAgainstSnapshot(fresh: DataFrame, prior: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           prefixLen: Int = 100): DataFrame = {
    val freshFp = fresh.select(col(idCol),
      TextOps.fingerprint(col(textCol), prefixLen).as("fp"))
    val priorFp = prior
      .select(TextOps.fingerprint(col(textCol), prefixLen).as("fp"))
      .distinct()
    freshFp
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_batch_dups"))
      .join(priorFp, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"), col("n_batch_dups"))
  }

  // ------------------------------------------------------------ minhash

  /** 2^61-1 (Mersenne prime) — modulus for the affine permutations. */
  val NumPerms = 64
  // 32 bands × 2 rows: the banding S-curve threshold (1/b)^(1/r) ≈ 0.18
  // sits WELL BELOW the J ≥ 1/2 verify threshold. The previous 16×4
  // config put the S-curve threshold at (1/16)^(1/4) = 0.50 — exactly at
  // the verify boundary, i.e. ~50% candidate-miss for pairs near J=0.5
  // (caught by the sf0.1 oracle: 3 of 256 true pairs missed). Miss
  // probability now: (1-J²)^32 = 1.0e-4 at J=0.5, 5e-24 at J=0.9. The
  // extra candidates from the lower threshold are filtered by the exact
  // verify; on low-similarity corpora the volume stays near-linear.
  val Bands = 32
  val RowsPerBand: Int = NumPerms / Bands

  /** Fixed, seeded per-permutation salts — determinism is part of the
    * operator contract (same corpus → same signatures on any cluster). */
  private val seeds: Array[Long] = {
    val rng = new java.util.Random(42)
    Array.fill(NumPerms)(rng.nextLong())
  }

  /** MurmurHash3's 64-bit finalizer (public-domain avalanche constants):
    * every input bit affects every output bit. This is the load-bearing
    * choice for min-wise independence: the previous affine family
    * `(a·x + b) mod (2^61-1)` with a,b < 2^31 over a 32-bit x does NOT
    * wrap the modulus for small x, so h ≈ a·x and the ORDER of elements
    * was correlated across all 64 "permutations" — the smallest-x
    * shingle won the min under most seeds, collapsing the effective
    * number of independent permutations. Found at sf0.1: three J≈0.96
    * pairs agreed on only 14-35/64 permutations (expected 61) and were
    * missed entirely. */
  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33; k
  }

  /** Minhash signatures from distinct shingle sets: (id, sig ARRAY<LONG>).
    * Tight executor loop: per doc, hash each shingle once, then 64
    * seeded avalanche mixes. */
  def minhashSignatures(shingleDf: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = shingleDf.sparkSession
    import spark.implicits._
    val ss = seeds
    shingleDf.select(col(idCol).cast("long"), col("sh"))
      .as[(Long, Seq[String])]
      .map { case (id, sh) =>
        val sig = Array.fill(NumPerms)(Long.MaxValue)
        sh.foreach { s =>
          val x = fmix64(MurmurHash3.stringHash(s).toLong & 0xffffffffL)
          var i = 0
          while (i < NumPerms) {
            val h = fmix64(x ^ ss(i))
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        (id, sig.toSeq)
      }
      .toDF(idCol, "sig")
  }

  /** Bucket-size cap for LSH candidate generation ([[lshCandidatePairs]],
    * [[cosineNearDupPairs]]). A bucket of B ids yields O(B²) candidate
    * pairs and (in the minhash path) a collect_list row of B ids — on a
    * real crawl corpus, boilerplate-heavy near-identical template pages
    * form exactly such hot buckets, and at 100 TB a single hot template
    * would otherwise produce an unbounded straggler-or-OOM stage.
    * Buckets over the cap are DROPPED from candidate generation (the
    * standard LSH practice): upstream exact dedup already removes
    * identical documents, and downstream cluster formation
    * ([[dupClusters]]) recovers any pair lost here via transitivity —
    * each member of a hot template family collides with near neighbors
    * in its OTHER (band, table) buckets, which stay under the cap unless
    * the family is a single giant clique, in which case the pairs are
    * redundant for clustering anyway. 500² = 250k pairs per bucket is
    * the worst-case bounded cost. */
  val DefaultMaxBucketSize: Int = 500

  /** Banded LSH candidate pairs: docs sharing ANY full band collide into
    * a bucket; pairs are generated within buckets only (never all-pairs).
    * Returns distinct (a_id, b_id) with a_id < b_id.
    *
    * Buckets larger than `maxBucketSize` are dropped BEFORE the
    * collect_list materializes (see [[DefaultMaxBucketSize]] for the
    * recall argument) — the per-bucket size is computed by a window
    * count over the same (band, bkey) key, so the following aggregation
    * reuses the exchange and no unbounded row ever forms; the window
    * buffer itself streams/spills per partition. Pass `stats` to
    * observe `dropped_buckets` (count of over-cap buckets) and
    * `max_bucket` (largest bucket seen) on the first action that runs
    * the frame — the log-style counter for a lazy plan. */
  def lshCandidatePairs(sigDf: DataFrame, idCol: String = "doc_id",
                        maxBucketSize: Int = DefaultMaxBucketSize,
                        stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val spark = sigDf.sparkSession
    import spark.implicits._
    val bandsN = Bands
    val rows = RowsPerBand
    val banded = sigDf.select(col(idCol).cast("long"), col("sig"))
      .as[(Long, Seq[Long])]
      .flatMap { case (id, sig) =>
        (0 until bandsN).iterator.map { b =>
          val key = MurmurHash3.orderedHash(sig.slice(b * rows, (b + 1) * rows), b)
          (b, key, id)
        }
      }
      .toDF("band", "bkey", idCol)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bkey"))
    // explicit (band, bkey) partitioning, see Parallelism: the window,
    // bucket aggregation and pair explosion all reuse it
    val sized = Parallelism.byKeys(banded, col("band"), col("bkey"))
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col(idCol))))
    // Default-on drop visibility (CapStats WARNs if the cap fires);
    // the caller's Observation stacks on top when provided.
    val warned = CapStats.watch(sized, "lshCandidatePairs",
      sum(when(col("bsz") > maxBucketSize && col("rn") === 1, 1L).otherwise(0L)),
      max(col("bsz")))
    val watched = stats.fold(warned)(obs => warned.observe(obs,
      sum(when(col("bsz") > maxBucketSize && col("rn") === 1, 1L)
        .otherwise(0L)).as("dropped_buckets"),
      max(col("bsz")).as("max_bucket")))
    Parallelism.byKeys(watched
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
      .groupBy(col("band"), col("bkey"))
      .agg(collect_list(col(idCol)).as("ids"))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p").getField("_1").as("a_id"), col("p").getField("_2").as("b_id")),
      col("a_id"), col("b_id"))
      .distinct()
  }

  /** all unordered pairs of an id array, as struct(_1 < _2) — column
    * expression so the bucket expansion stays in codegen */
  private def pairsOf(ids: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), b =>
        struct(a.as("_1"), b.as("_2")))))
  }

  /** Near-duplicate pairs with EXACT n-gram-Jaccard verification of the
    * LSH candidates: J(a,b) >= threshNum/threshDen, compared in integer
    * arithmetic (no float boundary). Default 1/2. With 32 bands × 2 rows
    * the probability of missing a pair at the J=0.5 decision boundary is
    * 1.0e-4 (see Bands) — the LSH is a candidate filter, correctness
    * comes from the exact check. */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", nGram: Int = 3,
                   threshNum: Int = 1, threshDen: Int = 2,
                   maxBucketSize: Int = DefaultMaxBucketSize,
                   stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // persist: the shingle frame feeds the signature derivation AND
    // both sides of the exact-verify join — three consumers, and
    // shingling (tokenize + n-gram assembly over every document) is
    // the most expensive narrow stage in the operator. CALLER
    // CONTRACT (same as cosineNearDupPairs): the returned frame is
    // lazy over this persist, so there is no safe unpersist point
    // inside the operator; the entry lives until LRU eviction — a
    // long-lived session invoking this repeatedly should materialize
    // (e.g. localCheckpoint) and drop the result between calls.
    val sh = TextOps.shingles(docs, idCol, textCol, nGram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = minhashSignatures(sh, idCol)
    val cand = lshCandidatePairs(sig, idCol, maxBucketSize, stats)
    val shA = sh.select(col(idCol).as("a_id"), col("sh").as("sh_a"))
    val shB = sh.select(col(idCol).as("b_id"), col("sh").as("sh_b"))
    cand.join(shA, "a_id").join(shB, "b_id")
      .withColumn("ilen", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("ulen", size(array_distinct(concat(col("sh_a"), col("sh_b")))))
      .filter(col("ulen") > 0) // two shingle-less docs are not dups
      .filter(col("ilen") * threshDen >= col("ulen") * threshNum)
      .select(col("a_id"), col("b_id"))
  }

  /** Directional n-gram CONTAINMENT pairs: emit (a, b) when
    * |sh(a) ∩ sh(b)| / |sh(a)| >= threshNum/threshDen — i.e. document
    * `a`'s shingle set is (nearly) a subset of `b`'s. The metric
    * resemblance-dedup misses: a short doc quoted inside a long one has
    * tiny Jaccard but containment ≈ 1 (Broder 1997 distinguishes the
    * two on purpose). This is the quote/boilerplate/subset detector —
    * keep the superset doc, drop the embedded copy.
    *
    * Candidates come from the PREFIX-FILTERED gram index (the
    * AllPairs/PPJoin containment form, same theorem as
    * [[editNearDupPairs]]): if C(a→b) >= τ then fewer than (1−τ)·|a|
    * of a's grams are missing from b, so ANY ⌊(1−τ)·|a|⌋+1 of a's
    * grams must hit b — index only a's ⌊(1−τ)·|a|⌋+1 RAREST sub-cap
    * grams (global df asc order) as probes against the full sub-cap
    * posting lists. Lossless by the theorem; at τ=9/10 the probe side
    * shrinks ~8×. Grams travel as xxhash64 LONGS through the whole
    * candidate stage (a collision only adds a candidate the exact
    * verify kills — strings never shuffle); `maxGramDf` bounds posting
    * lists with the same over-cap-drop + CapStats/observe discipline
    * as [[lshCandidatePairs]]. A contained pair escapes only if every
    * shared gram is over-cap — the stop-gram case the WARN surfaces.
    * Verification is exact integer arithmetic on the full shingle
    * arrays (no float boundary), so a candidate never false-positives.
    *
    * `nGram` is the BLOCKING-ENTROPY knob, not just a similarity
    * parameter: prefix filtering assumes rare grams exist and are
    * weakly correlated across documents. On low-entropy text (tiny
    * vocabulary, templated boilerplate) 3-gram dfs are flat and the
    * "rarest" prefixes collide, inflating candidates ~df_prefix×df per
    * gram even under the cap; at 5+ word grams (what production dedup
    * shingles actually use) dfs collapse to near-duplicate-cluster
    * size and candidates ≈ true pairs. Measured on the synthetic
    * corpus at sf1.0: n=3 degenerate, n=5 healthy.
    *
    * Output: (a_id, b_id, n_shared, n_a) with a_id != b_id, both
    * directions possible; callers threshold downstream joins on the
    * integers. Shingle-less docs never pair.
    *
    * EAGER: the returned frame is checkpointed at call time (so the
    * working persists can release before returning) — localCheckpoint
    * by default (single-JVM-safe); pass `reliable = true` with a
    * configured checkpoint dir on multi-executor clusters, where
    * localCheckpoint blocks die with a decommissioned executor. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", nGram: Int = 3,
                       threshNum: Int = 9, threshDen: Int = 10,
                       maxGramDf: Int = DefaultMaxBucketSize,
                       stats: Option[org.apache.spark.sql.Observation] = None,
                       reliable: Boolean = false): DataFrame = {
    require(threshNum >= 1 && threshDen >= threshNum,
      s"containment threshold must be in (0,1]: $threshNum/$threshDen")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = TextOps.shingles(docs, idCol, textCol, nGram).persist(lvl)
    // n_a rides the explode row — no per-id count window needed
    val ex = sh.select(col(idCol).cast("long").as("id"),
      size(col("sh")).as("n_a"), explode(col("sh")).as("g"))
      .select(col("id"), col("n_a"), xxhash64(col("g")).as("gh"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("gh"))
    // explicit gram partitioning, as in lshCandidatePairs
    val sized = Parallelism.byKeys(ex, col("gh"))
      .withColumn("dfq", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("id"))))
    val warned = CapStats.watch(sized, "containmentPairs",
      sum(when(col("dfq") > maxGramDf && col("rn") === 1, 1L).otherwise(0L)),
      max(col("dfq")))
    val watched = stats.fold(warned)(obs => warned.observe(obs,
      sum(when(col("dfq") > maxGramDf && col("rn") === 1, 1L)
        .otherwise(0L)).as("dropped_grams"),
      max(col("dfq")).as("max_gram_df")))
    // the sub-cap index is read twice (probe + build) — persist it
    val kept = watched.filter(col("dfq") > 1 && col("dfq") <= maxGramDf)
      .select(col("id"), col("n_a"), col("dfq"), col("gh"))
      .persist(lvl)
    // probe side: the ⌊(1−τ)·n_a⌋+1 rarest sub-cap grams per doc
    val pw = Window.partitionBy(col("id")).orderBy(col("dfq").asc, col("gh").asc)
    val probe = kept
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <=
        expr(s"(n_a * ${threshDen - threshNum}) DIV $threshDen") + 1)
      .select(col("id").as("a_id"), col("gh"))
    val cand = Parallelism.byKeys(probe
      .join(kept.select(col("id").as("b_id"), col("gh")), "gh")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id")), col("a_id"), col("b_id"))
      .distinct()
    val shA = sh.select(col(idCol).as("a_id"), col("sh").as("sh_a"))
    val shB = sh.select(col(idCol).as("b_id"), col("sh").as("sh_b"))
    val result = cand.join(shA, "a_id").join(shB, "b_id")
      .withColumn("n_shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .filter(col("n_a") > 0 &&
        col("n_shared") * threshDen >= col("n_a") * threshNum)
      .select(col("a_id"), col("b_id"), col("n_shared"), col("n_a"))
    // Checkpoint-then-unpersist (the Graph.hits discipline, r11
    // advice): the result is a small pairs frame, so materializing it
    // EAGERLY — note this op therefore executes at call time, not
    // lazily — lets BOTH working persists release before returning;
    // without this a long-lived session accumulates a shingle + gram-
    // index cache entry per call until LRU eviction. localCheckpoint
    // blocks are lost on executor decommission, so on a multi-executor
    // cluster pass `reliable = true` (+ setCheckpointDir) for durable
    // blocks, exactly as Graph.pageRank/hits. Either way the blocks
    // are reclaimed by the ContextCleaner once the caller drops the
    // frame.
    val out = if (reliable) result.checkpoint() else result.localCheckpoint()
    sh.unpersist(blocking = false)
    kept.unpersist(blocking = false)
    out
  }

  /** Sorted-neighborhood (SNM, Hernández & Stolfo 1995) candidate
    * pairs — the fourth blocking family in this file, complementing
    * MinHash-LSH ([[nearDupPairs]]), rare-prefix ([[containmentPairs]])
    * and positional q-gram ([[editNearDupPairs]]) blocking: sort the
    * corpus by a domain key and pair every record with its `window`
    * successors in sort order. The classic choice when the clustering
    * signal lives in a sort-friendly key (normalized prefixes, names,
    * addresses) — near-dups land adjacent and candidate volume is
    * EXACTLY n·window, immune to hot-bucket blowup by construction.
    *
    * The total order is (key, id) — deterministic, so membership is
    * reproducible and oracle-checkable. Distributed shape: ONE range
    * repartition + in-partition sort (Spark's sort machinery, no
    * single-partition window), a zipWithIndex rank pass (count-per-
    * partition + offset, the standard distributed row-number), then
    * the neighbor join as an EQUI-join on rank+k with k exploded from
    * 1..window — never a range self-join. Emits candidates only;
    * callers verify with their domain predicate (levenshtein, exact
    * compare) — SNM is a blocker, not a matcher.
    *
    * Output: (a_id, b_id, gap) with gap ∈ [1, window] the sort-order
    * distance; a precedes b in (key, id) order. Null keys drop. */
  def sortedNeighborPairs(docs: DataFrame,
                          keyCol: org.apache.spark.sql.Column,
                          window: Int = 3,
                          idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = docs
      .select(col(idCol).cast("long").as("id"), keyCol.cast("string").as("k"))
      .filter(col("k").isNotNull)
      .repartitionByRange(col("k"), col("id"))
      .sortWithinPartitions(col("k"), col("id"))
    val ranked = sorted.as[(Long, String)].rdd.zipWithIndex()
      .map { case ((id, _), rn) => (id, rn) }
      .toDF("id", "rn")
    val a = ranked
      .withColumn("gap", explode(lit((1 to window).toArray)))
      .select(col("id").as("a_id"), (col("rn") + col("gap")).as("rn"),
        col("gap").cast("long").as("gap"))
    a.join(ranked.withColumnRenamed("id", "b_id"), "rn")
      .select(col("a_id"), col("b_id"), col("gap"))
  }

  /** Edit-distance near-duplicate pairs via q-gram prefix filtering —
    * the string-similarity-join family (AllPairs / ED-Join): all pairs
    * with levenshtein(a, b) <= `maxDist`, for SHORT keys (titles, URLs,
    * normalized prefixes — levenshtein is O(len²) per verified pair, so
    * the caller passes a bounded `strCol`, not whole documents).
    *
    * Never all-pairs. The count filter: an edit destroys at most `q`
    * positional q-grams, so ed <= d pairs share >= |grams| - q·d
    * POSITIONAL grams aligned within ±d; with len >= q·(d+1) every
    * qualifying pair shares at least one. The positional prefix filter
    * sharpens it (ED-Join): order every string's positional gram list
    * by one GLOBAL total order (gram frequency asc, gram asc, pos asc
    * — rare first) and keep only the first q·d+1; the prefix theorem
    * makes prefix-vs-prefix candidate generation LOSSLESS, and the ±d
    * position constraint — banded at width d+1 into the join key, probe
    * fanned to the 3 covering bands — keeps buckets small even when
    * rare grams correlate (the low-entropy-alphabet case where the
    * position-blind form degenerates; measured 14× on the sf0.1
    * 64-char-prefix workload). Strings shorter than q·(d+1) are
    * outside the operator's domain and filtered (scaladoc'd envelope,
    * mirrored by any oracle).
    *
    * Plan shape at 100 TB: gram frequencies are vocabulary-bounded
    * (<= charset^q rows) and broadcast; the per-doc prefix selection is
    * one window over the exploded grams keyed by id (linear in corpus
    * grams); candidate pairs form only inside a (gram, band) bucket,
    * with the same over-cap-drop + CapStats/observe discipline as
    * [[lshCandidatePairs]] (here a fired cap does lose recall — there
    * is no band redundancy — which is why the WARN matters and the cap
    * is a parameter); verification joins the two bounded string columns
    * back by id and applies codegen'd THRESHOLD `levenshtein` (the
    * O(len·d) DP band, not O(len²)). Output: (a_id, b_id, dist),
    * a_id < b_id. */
  def editNearDupPairs(docs: DataFrame, strCol: org.apache.spark.sql.Column,
                       idCol: String = "doc_id",
                       maxDist: Int = 2, q: Int = 3,
                       maxBucketSize: Int = DefaultMaxBucketSize,
                       stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(maxDist >= 1 && q >= 2, "editNearDupPairs needs maxDist >= 1, q >= 2")
    val p = q * maxDist + 1
    // persist: feeds the gram explode AND both verify-join sides.
    // CALLER CONTRACT (as cosineNearDupPairs): the returned frame is
    // lazy over this persist — no safe in-op unpersist; LRU reclaims.
    val strs = docs
      .select(col(idCol).cast("long").as("__id"), strCol.as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) >= q * (maxDist + 1))
      .select(col("__id"), col("__s"), length(col("__s")).as("__len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // POSITIONAL q-grams (ED-Join, Xiao et al. 2008): ed <= d shifts an
    // aligned gram by at most d positions, so a qualifying pair must
    // share a prefix gram with |pos_a - pos_b| <= d. Banding positions
    // at width d+1 makes that an equi-join key: matching grams are in
    // the same or adjacent bands, so the probe side fans out to 3 bands
    // and the index keeps one — buckets shrink ~len/(3(d+1))× vs the
    // position-blind form (measured 2.9M -> ~0.2M candidates on the
    // sf0.1 64-char-prefix workload).
    val gramRows = strs.select(col("__id"), col("__len"),
      posexplode(transform(
        sequence(lit(0), col("__len") - q),
        i => col("__s").substr(i + 1, lit(q)))).as(Seq("__pos", "g")))
    val gramDf = gramRows.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    import org.apache.spark.sql.expressions.Window
    val wId = Window.partitionBy(col("__id"))
      .orderBy(col("gdf"), col("g"), col("__pos"))
    val pref = gramRows.join(broadcast(gramDf), "g")
      .withColumn("rn", row_number().over(wId)).filter(col("rn") <= p)
      .select(col("g"), col("__id"), col("__len"), col("__pos"),
        (col("__pos").cast("long") / (maxDist + 1)).cast("long").as("__band"))
    val wG = Window.partitionBy(col("g"), col("__band"))
    val sized = pref
      .withColumn("bsz", count(lit(1)).over(wG))
      .withColumn("prn", row_number().over(wG.orderBy(col("__id"))))
    val warned = CapStats.watch(sized, "editNearDupPairs",
      sum(when(col("bsz") > maxBucketSize && col("prn") === 1, 1L).otherwise(0L)),
      max(col("bsz")))
    val watched = stats.fold(warned)(obs => warned.observe(obs,
      sum(when(col("bsz") > maxBucketSize && col("prn") === 1, 1L)
        .otherwise(0L)).as("dropped_buckets"),
      max(col("bsz")).as("max_bucket")))
    val build = watched.filter(col("bsz") <= maxBucketSize)
      .select(col("g"), col("__band"),
        col("__id").as("b_id"), col("__len").as("lb"), col("__pos").as("pb"))
    val probe = pref.select(col("g"),
        explode(array(col("__band") - 1, col("__band"), col("__band") + 1))
          .as("__band"),
        col("__id").as("a_id"), col("__len").as("la"), col("__pos").as("pa"))
    // NOT spread (r18): unlike the other candidate generators, the
    // positional-gram join emits each qualifying pair many times (p
    // prefix grams × 3 probe bands), so the map-side partial dedup the
    // plain distinct() keeps is worth more than parallelizing its final
    // aggregation — the Parallelism.byKeys variant measured 8.1 → 11.3 s
    // at sf1.0 (shuffling every duplicate occurrence), plain wins.
    val cand = probe.join(build, Seq("g", "__band"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("pa") - col("pb")) <= maxDist &&
        abs(col("la") - col("lb")) <= maxDist)
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(strs.select(col("__id").as("a_id"), col("__s").as("__sa")), "a_id")
      .join(strs.select(col("__id").as("b_id"), col("__s").as("__sb")), "b_id")
      // threshold form computes only the 2d+1 DP band and bails early
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Benchmark decontamination — the eval-set-overlap step of a
    * training-data pipeline: flag corpus documents sharing ANY word
    * n-gram with a benchmark/eval document, so test data never leaks
    * into training. One semi-join of exploded distinct shingles,
    * shuffle keyed on the shingle — never a doc×doc product, and the
    * (usually tiny) benchmark side aggregates to distinct grams first
    * so AQE can broadcast it. Returns the distinct contaminated ids. */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      n: Int = 8): DataFrame = {
    val c = TextOps.shingles(corpus, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("g"))
    val b = TextOps.shingles(benchmark, idCol, textCol, n)
      .select(explode(col("sh")).as("g")).distinct()
    c.join(b, Seq("g"), "left_semi").select(col(idCol)).distinct()
  }

  /** Contamination PROVENANCE pairs — the attribution form of
    * [[contaminatedIds]]/[[contaminationScores]]: WHICH eval document
    * does each contaminated corpus document overlap, and by how many
    * distinct word `n`-grams. The report a decontamination audit
    * actually files ("doc X shares 14 8-grams with eval item Y"), and
    * the input to per-benchmark leakage accounting — the binary flag
    * and the per-doc score both erase the eval side.
    *
    * Scale shape: both sides explode to distinct (doc, gram) rows and
    * join keyed on the gram — never doc×eval; the benchmark side is
    * eval-sized, so per-gram fan-out is bounded by the eval set and
    * AQE broadcasts it. One partial-agg count per surviving pair.
    * All-integer output.
    *
    * Output: (corpus_id, eval_id, n_shared) for pairs sharing >= 1
    * gram. A corpus that still CONTAINS the eval docs pairs them with
    * themselves (n_shared = their gram count) — pass a disjoint
    * corpus side when the audit doesn't want those rows. */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 8): DataFrame = {
    val c = TextOps.shingles(corpus, idCol, textCol, n)
      .select(col(idCol).cast("long").as("corpus_id"), explode(col("sh")).as("g"))
    val b = TextOps.shingles(benchmark, idCol, textCol, n)
      .select(col(idCol).cast("long").as("eval_id"), explode(col("sh")).as("g"))
    c.join(b, "g")
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** Contamination OVERLAP SCORES — the ranked complement of the binary
    * [[contaminatedIds]] membership: per corpus document, how many of
    * its distinct word `n`-grams also appear in the benchmark. A
    * curation pipeline thresholds or ranks on the fraction
    * (n_hit / n_grams) instead of dropping on a single shared gram;
    * the output stays all-integer (n_grams, n_hit) so the decision
    * threshold compares exactly on any engine (`n_hit * 100 > n_grams
    * * p` — the q41 float-free discipline). Documents with no n-grams
    * at all (fewer than `n` tokens) produce no row: they have nothing
    * to score, and their disposition belongs to the length-based
    * quality gate upstream.
    *
    * Scale shape: identical to [[contaminatedIds]] — one exploded
    * distinct-shingle frame, the (tiny) benchmark aggregated to
    * distinct grams first so AQE can broadcast it, one semi-join keyed
    * on the gram, one per-doc count; plus one narrow per-doc size
    * projection and a final small join to restore zero-hit docs. Never
    * doc×doc. */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          n: Int = 8): DataFrame = {
    val grams = TextOps.shingles(corpus, idCol, textCol, n)
    val base = grams.select(col(idCol), size(col("sh")).cast("long").as("n_grams"))
      .filter(col("n_grams") > 0)
    val ex = grams.select(col(idCol), explode(col("sh")).as("g"))
    val bench = TextOps.shingles(benchmark, idCol, textCol, n)
      .select(explode(col("sh")).as("g")).distinct()
    val hits = ex.join(bench, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    base.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** Connected-component clustering of near-duplicate pairs — the
    * survivor-selection step of a dedup pipeline: pair lists say WHO
    * matches whom; a pipeline needs CLUSTERS (keep one id per
    * component, drop the rest). HYBRID loop, adaptive to component
    * shape:
    *  - Phase 1 — bounded min-label propagation (label(v) ← min over
    *    neighbors; one shuffle join + one agg per round): the cheap
    *    loop, converging in rounds = component diameter. Near-dup
    *    families are dense blobs (diameter 2-4), so virtually every
    *    real corpus finishes here, at the cheapest possible per-round
    *    shape (measured: an unconditional star loop costs ~2× at
    *    sf0.1 for zero benefit on blob inputs).
    *  - Phase 2 — if still moving after [[MinLabelMaxRounds]], the
    *    components are chain-shaped and O(diameter) is the 100 TB
    *    failure mode (template-DRIFT chains A~B~C~… from paragraph/
    *    span dedup on evolving boilerplate: a 10k chain = 10k
    *    sequential Spark jobs). Escalate to alternating large-star/
    *    small-star contraction (Kiveris et al., "Connected Components
    *    in MapReduce and Beyond", SoCC'14 — the GraphFrames
    *    algorithm): each round rewires edges toward local minima,
    *    contracting path distance geometrically → O(log d) rounds;
    *    log₂ of a 10k chain is 14.
    * Lineage is truncated between rounds in both phases so the plan
    * never grows with iterations. Two checkpoint modes:
    *  - `checkpointDir = None` (default): `localCheckpoint` — round
    *    blocks live on executors; fastest, right for single-JVM runs,
    *    but an executor loss mid-convergence is NOT recoverable (the
    *    blocks are gone and so is the lineage to rebuild them).
    *  - `checkpointDir = Some(dir)`: reliable `Dataset.checkpoint()` —
    *    an executor loss mid-convergence recomputes from the checkpoint
    *    files; the per-round cost is one write+read of the (small)
    *    label frame. THE mode for a 1000-executor deployment, where
    *    losing an executor over a multi-round job is routine. `dir`
    *    (an HDFS/object-store path on a real cluster) is applied via
    *    `sc.setCheckpointDir` ONLY if the context has none yet —
    *    Spark keeps one checkpoint directory per context and the
    *    application owns that setting (the MLlib convention); a
    *    context that already has one keeps it and is checkpointed to.
    * Output: one row per node appearing in any pair — (idCol,
    * cluster_id = min id in its component). Deterministic, and
    * identical in both checkpoint modes (the mode changes only WHERE
    * round state is stored, never its content — OpsSpec pins this). */
  def dupClusters(pairs: DataFrame, aCol: String = "a_id",
                  bCol: String = "b_id", idCol: String = "doc_id",
                  checkpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // Spark has ONE checkpoint directory per context (MLlib's model:
    // the application owns the setting). `checkpointDir` is honored
    // only when none is set yet; an already-configured context keeps
    // its directory and this call checkpoints there. Deliberately NO
    // set-then-restore: restoring would yank the directory out from
    // under a concurrent checkpointed caller mid-loop, and
    // getCheckpointDir returns the UUID-suffixed internal path, so a
    // "restore" would nest a fresh level on every call.
    if (checkpointDir.isDefined && sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(checkpointDir.get)
    dupClustersWithRounds(pairs, aCol, bCol, idCol, checkpointDir.isDefined)._1
  }

  /** Escalation bound for the cheap phase: near-dup families are dense
    * blobs (diameter 2-4), so virtually every real component converges
    * within these min-label rounds; anything still moving after them is
    * chain-shaped and switches to the O(log d) star contraction.
    * Measured at sf0.1: the hybrid keeps q38 at the min-label loop's
    * cost (~2.4 s) where an unconditional star loop paid ~4.5 s, while
    * the planted 1000-chain still converges in ≤ 9 star rounds. */
  private val MinLabelMaxRounds = 5

  /** [[dupClusters]] plus the number of rounds the loop ran
    * (convergence-detection round included; min-label + star rounds
    * combined) — the observable the O(log d) claim is pinned on in
    * OpsSpec's planted-chain fixture. */
  private[graft] def dupClustersWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      idCol: String, reliable: Boolean): (DataFrame, Int) = {
    // one knob for every round materialization below
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()

    // ---- phase 1: bounded min-label propagation ----
    // label(v) ← min(label(v), labels of v's neighbors); one shuffle
    // join + one aggregation per round, rounds = component diameter.
    // The CHEAP loop — right for the dense-blob components similarity
    // thresholds actually produce — but a non-starter for long chains,
    // so it is BOUNDED: converge within MinLabelMaxRounds or hand the
    // edge set to the star phase below.
    // materialize the PAIR INPUT once before symmetrizing: both union
    // branches read `pairs`, and without this the candidate GENERATOR
    // upstream (LSH bucket join + exact verify — the expensive part of
    // q38/q61/q73) would execute twice (measured ~1.5 s at sf0.1 on
    // the semdedup composition)
    val p0 = ckpt(pairs
      .select(col(aCol).cast("long").as("pa"), col(bCol).cast("long").as("pb")))
    val edgesSym = ckpt(p0
      .select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(p0.select(col("pb").as("src"), col("pa").as("dst")))
      .distinct())
    var labels = ckpt(edgesSym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < MinLabelMaxRounds) {
      val viaNeighbor = edgesSym
        .join(labels.select(col("node").as("dst"), col("label").as("nl")), "dst")
        .select(col("src").as("node"), col("nl").as("label"))
      // carry each node's OWN label through the same aggregation
      // (Long.MaxValue on neighbor rows never wins the min), so
      // convergence is a filter on the materialized round — no extra
      // join-the-previous-round job per iteration
      val round = ckpt(labels.withColumn("own", col("label"))
        .unionByName(viaNeighbor.withColumn("own", lit(Long.MaxValue)))
        .groupBy("node").agg(min(col("label")).as("label"), min(col("own")).as("own")))
      // labels only ever decrease, so fixpoint = no row got smaller.
      // NOTE on state lifetime: localCheckpoint blocks are reclaimed by
      // the ContextCleaner once the previous round's Dataset reference
      // drops (the `labels` reassignment) — peak retention is a couple
      // of rounds, not the whole history; reliable-checkpoint files are
      // reaped the same way (cleanCheckpoints to reap eagerly).
      converged = round.filter(col("label") < col("own")).isEmpty
      labels = round.select(col("node"), col("label"))
      rounds += 1
    }
    if (converged) {
      // edgesSym keeps self-loop rows, so `labels` already covers every
      // node of the original pairs — no node-set join needed here
      return (labels.select(col("node").as(idCol),
        col("label").as("cluster_id")), rounds)
    }

    // ---- phase 2: alternating large-star/small-star contraction ----
    // Still moving after the bound → chain-shaped components (template
    // drift). Restart from the edge set with the O(log d) loop; the
    // phase-1 rounds are sunk cost, bounded by the constant above.
    // Node set (from the checkpointed symmetric edges — keeps self-pair
    // nodes, which the canonical orientation below drops as loops) for
    // the final label join; canonical edge set: (u, v) with u > v. Both
    // star steps emit canonical edges, so orientation is an invariant
    // of the loop, never re-normalized.
    val nodes = edgesSym.select(col("src").as("node")).distinct()
    var edges = ckpt(edgesSym.filter(col("src") > col("dst"))
      .select(col("src").as("u"), col("dst").as("v")))

    // Large-star: for each node s, m = min(Γ(s) ∪ {s}); rewire every
    // STRICTLY LARGER neighbor d onto m. Output (d, m) is canonical by
    // construction (d > s ≥ m). Connectivity-preserving (Kiveris
    // Lemma 1); path distance to the minimum contracts geometrically.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("s"), col("v").as("d"))
        .unionByName(e.select(col("v").as("s"), col("u").as("d")))
      val mn = sym.groupBy("s").agg(min(col("d")).as("mn"))
      sym.join(mn, "s")
        .filter(col("d") > col("s"))
        .select(col("d").as("u"), least(col("mn"), col("s")).as("v"))
        .distinct()
    }
    // Small-star: for each node u, star its SMALLER neighbors (and u
    // itself) onto their min m. Emits (x, m) for every smaller
    // neighbor x ≠ m plus the root edge (u, m); all canonical (x > m,
    // u > m). Works on the canonical orientation directly — "smaller
    // neighbors of u" is exactly the v-side of u's canonical edges.
    def smallStar(e: DataFrame): DataFrame = {
      val mn = e.groupBy("u").agg(min(col("v")).as("m"))
      val moved = e.join(mn, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.unionByName(mn.select(col("u"), col("m").as("v"))).distinct()
    }
    // Fixpoint = the edge SET is unchanged by a large+small round
    // (then it is a star forest: every edge points node → component
    // min). Set equality is checked by (count, XOR of row hashes) over
    // the distinct edge frame — the GraphFrames convergence check; XOR
    // (not sum) so ANSI overflow can't bite, order-independent, and a
    // false fixpoint needs a 64-bit hash-XOR collision on a distinct
    // set (~2⁻⁶⁴/round). One extra single-stage agg per round, scanning
    // the just-checkpointed frame.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x")).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(edges)
    converged = prev._1 == 0L
    while (!converged) {
      edges = ckpt(smallStar(largeStar(edges)))
      val cur = checksum(edges)
      converged = cur == prev
      prev = cur
      rounds += 1
    }
    // At fixpoint each non-min node u carries exactly the edge
    // (u, componentMin); min over v is belt-and-braces, not load-
    // bearing. Component minima and self-pair-only nodes have no
    // u-side edge → label themselves via the left join.
    val mapping = edges.groupBy(col("u").as("node")).agg(min(col("v")).as("label"))
    val starLabels = nodes.join(mapping, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("label"), col("node")).as("cluster_id"))
    (starLabels, rounds)
  }

  /** Quality-based SURVIVOR SELECTION over near-dup clusters — the
    * policy step after [[dupClusters]]: real pipelines keep the
    * highest-quality member of each duplicate family (longest, best
    * quality score), not the arbitrary min-id. Survivor = (score DESC,
    * id ASC) first — a total order, so the choice is deterministic and
    * engine-independent; scores should be integers (token counts,
    * quality ranks) per the float-free oracle discipline.
    *
    * Output: (cluster_id, survivor_id, survivor_score, n_members).
    *
    * Scale shape: one join of the cluster frame to the quality frame
    * keyed on the id, then ONE aggregation with map-side partial
    * `max(struct(score, -id))` — no window, no per-cluster sort; a
    * million-member cluster costs its reducer one running max. */
  def clusterSurvivors(clusters: DataFrame, quality: DataFrame,
                       idCol: String = "doc_id",
                       clusterCol: String = "cluster_id",
                       scoreCol: String = "score"): DataFrame =
    clusters.join(quality, idCol)
      .groupBy(col(clusterCol))
      .agg(
        count(lit(1)).cast("long").as("n_members"),
        // lexicographic struct max: highest score, then LOWEST id (the
        // negation flips the tie-break inside one commutative max)
        max(struct(col(scoreCol).cast("long").as("s"),
          (-col(idCol).cast("long")).as("negid"))).as("m"))
      .select(col(clusterCol),
        (-col("m.negid")).as("survivor_id"),
        col("m.s").as("survivor_score"),
        col("n_members"))

  /** Embedding-cosine near-duplicate pairs: multi-table hyperplane
    * signatures generate candidates (collision in ANY of the L k-bit
    * tables — see Ann.multiSignatures for the recall math; a single
    * table's all-bits-equal requirement misses ~57% of genuine cos≈0.95
    * near-dups), exact cosine verifies. Never all-pairs; same shape as
    * the minhash path but over the embedding column. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
                         dim: Int, tables: Int = 8, bitsPerTable: Int = 8,
                         idCol: String = "vec_id",
                         embCol: String = "embedding",
                         maxBucketSize: Int = DefaultMaxBucketSize,
                         stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // persist: the signature frame feeds BOTH sides of the candidate
    // self-join — without it the L×k dot products per vector run twice
    // (the two join sides canonicalize differently, so exchange reuse
    // does not apply). Corpus-scale note: sig is (id, tbl, bucket) —
    // 3 narrow ints × tables per vector, far smaller than the
    // embeddings themselves; MEMORY_AND_DISK spills cleanly. Left
    // persisted for the query's lifetime (the operator returns a lazy
    // frame, so there is no safe unpersist point inside it); Spark's
    // LRU eviction reclaims it.
    val sig = Ann.multiSignatures(embeddings, dim, tables, bitsPerTable, idCol, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Bucket-size cap (see DefaultMaxBucketSize): a hot (tbl, bucket)
    // cell of B vectors would yield B² rows from the self-join below.
    // The per-cell size frame is one count-agg over the persisted sig
    // (one tiny row per occupied cell — AQE broadcasts it back), and
    // over-cap cells are dropped from BOTH join sides before any pair
    // forms. `stats` observes dropped_buckets / max_bucket.
    val cellSizes = sig.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
    val warnedSizes = CapStats.watch(cellSizes, "cosineNearDupPairs",
      sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)), max(col("bsz")))
    val watchedSizes = stats.fold(warnedSizes)(obs => warnedSizes.observe(obs,
      sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)).as("dropped_buckets"),
      max(col("bsz")).as("max_bucket")))
    val okCells = watchedSizes
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
      .select(col("tbl"), col("bucket"))
    val sigOk = sig.join(okCells, Seq("tbl", "bucket"), "left_semi")
    val a = sigOk.select(col(idCol).as("a_id"), col("tbl"), col("bucket"))
    val b = sigOk.select(col(idCol).as("b_id"), col("tbl"), col("bucket"))
    val cand = Parallelism.byKeys(a.join(b, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")), col("a_id"), col("b_id")).distinct()
    val e = embeddings
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>").as("emb"))
    cand
      .join(e.select(col(idCol).cast("long").as("a_id"), col("emb").as("emb_a")), "a_id")
      .join(e.select(col(idCol).cast("long").as("b_id"), col("emb").as("emb_b")), "b_id")
      .withColumn("cos", Ann.cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** SEMANTIC decontamination: corpus rows whose embedding is
    * near-identical (cosine ≥ threshold) to ANY eval-set embedding —
    * the paraphrase-robust complement of [[contaminatedIds]]: n-gram
    * overlap catches verbatim eval leakage, this catches reworded
    * copies that embed to the same point. Candidates come from
    * any-table signature collision (the [[cosineNearDupPairs]] recall
    * math), exact cosine verifies; returns DISTINCT corpus ids.
    *
    * Scale shape: the eval side is small by definition (a benchmark,
    * not a corpus), so its signatures AND its embeddings broadcast —
    * the corpus is touched by exactly one narrow signature pass and
    * one broadcast-join verify; no corpus-side self-join exists at
    * all. "Small by definition" is ENFORCED, not assumed: the eval set
    * is bounded-counted against `maxBroadcastEval` (the
    * Ann.guardQueryCount discipline — at most cap+1 rows scanned) and
    * an oversize eval set is rejected with a pointer to the scale
    * alternative instead of a driver OOM. */
  def semanticContaminatedIds(corpus: DataFrame, evalSet: DataFrame,
                              threshold: Double, dim: Int,
                              tables: Int = 8, bitsPerTable: Int = 8,
                              idCol: String = "vec_id",
                              embCol: String = "embedding",
                              maxBroadcastEval: Long = Ann.MaxBroadcastQueries): DataFrame = {
    Ann.guardQueryCount(evalSet, "semanticContaminatedIds", maxBroadcastEval)
    val sigC = Ann.multiSignatures(corpus, dim, tables, bitsPerTable, idCol, embCol)
    val sigE = Ann.multiSignatures(evalSet, dim, tables, bitsPerTable, idCol, embCol)
      .select(col(idCol).as("eval_id"), col("tbl"), col("bucket"))
    val cand = Parallelism.byKeys(sigC.join(broadcast(sigE), Seq("tbl", "bucket"))
      .select(col(idCol), col("eval_id")), col(idCol), col("eval_id")).distinct()
    val ce = corpus.select(col(idCol).cast("long"),
      col(embCol).cast("array<double>").as("emb_c"))
    val ee = evalSet.select(col(idCol).cast("long").as("eval_id"),
      col(embCol).cast("array<double>").as("emb_e"))
    cand
      .join(ce, idCol)
      .join(broadcast(ee), "eval_id")
      .filter(Ann.cosine(col("emb_c"), col("emb_e")) >= threshold)
      .select(col(idCol)).distinct()
  }

  /** The default in-engine token hash: xxhash64, the cheapest codegen'd
    * 64-bit hash Spark has. */
  val xxTokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    t => xxhash64(t)

  /** Portable 60-bit token hash — first 15 hex chars of sha256, a
    * computation DuckDB spells identically
    * (('0x' || substr(sha256(t),1,15))::BIGINT), so simhash values can
    * be verified bit-for-bit across engines. ~10× the cost of xxhash64;
    * use the default for production pipelines. */
  val portableTokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    t => conv(substring(sha2(t, 256), 1, 15), 16, 10).cast("long")

  /** SimHash per document: sign-aggregated bit votes over token hashes;
    * near-dups have small Hamming distance. `tokenHash`/`nBits` pick the
    * hash (default xxhash64 × 64 bits; portableTokenHash × 60 for
    * cross-engine verification).
    *
    * Shape: explode → hash ONCE per token → nBits conditional sums with
    * map-side partial aggregation → bit assembly. The hash sits in its
    * own projection below the aggregate, so it is evaluated exactly once
    * per token regardless of nBits (an array-aggregate formulation
    * re-evaluates the hash per bit — 60× the work for a sha-based hash);
    * shuffle volume is one 60-counter row per doc per mapper, and giant
    * documents spread their tokens across partitions instead of hashing
    * inside one row. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxTokenHash,
              nBits: Int = 64): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col(idCol), tokenHash(col("t")).as("h"))
    val votes = (0 until nBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"v$b")
    }
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sim = (0 until nBits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    // left join keeps token-less docs (simhash 0, the empty vote)
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(sim, lit(0L)).as("simhash"))
  }

  // -------------------------------------------- substring-level dedup

  /** SUBSTRING-level duplication: maximal runs of word `n`-grams that
    * also occur in at least one OTHER document — the exact-substring
    * dedup class (boilerplate headers, license blocks, templated spans
    * repeated across a corpus), a different axis from whole-document
    * dedup (exactGroups/minhash/simhash: "is this doc a copy" vs "which
    * SPANS of this doc are copied"). Returns one row per maximal span:
    * (doc_id, start_pos 1-based, span_tokens).
    *
    * Reduction: a span of length L ≥ n is emitted iff every n-gram
    * start inside it is corpus-duplicated; maximal spans = islands of
    * consecutive duplicated gram positions (pos − row_number() is
    * constant within an island). This is the standard fast
    * approximation of suffix-array substring dedup: each CONSTITUENT
    * n-gram provably occurs elsewhere, the full concatenated span may
    * not occur contiguously elsewhere — n is the precision knob.
    *
    * Scale shape (100 TB): positions explode to |tokens| rows, but the
    * shuffle key is a 64-bit `xxhash64` of the gram, never the gram
    * string (shuffle width 8 bytes vs ~8 words; a hash collision could
    * only mark a unique gram duplicated, P < |grams|²/2^65 — the q13
    * 4e-8-class argument). Gram counting is one map-side-combined
    * aggregation; duplicated-set membership is one hash join (broadcast
    * if small, shuffle otherwise — left to AQE); island merging is one
    * per-document window. Nothing is ever all-pairs.
    *
    * `pos` is deliberately NOT persisted despite its two consumers
    * (count agg + membership join): it is an |tokens|-row exploded
    * frame, so caching it at corpus scale writes ~the corpus to local
    * disk — recomputing the narrow tokenize/gram/hash projection on
    * the second pass is the cheaper side of that trade (the opposite
    * call from the small signature/shingle frames persisted in
    * nearDupPairs/cosineNearDupPairs). */
  /** Corpus-wide PARAGRAPH dedup — the granularity real web-curation
    * pipelines dedup at between whole documents ([[exactGroups]]) and
    * copied spans ([[duplicateSpans]]): boilerplate paragraphs (cookie
    * banners, newsletter pitches, license headers) repeat across
    * thousands of pages whose documents are otherwise distinct. Every
    * occurrence of a repeated paragraph EXCEPT the globally first —
    * ordered by (doc_id, position), so membership is deterministic and
    * engine-independent — is dropped; each document keeps its surviving
    * paragraphs in original order.
    *
    * Returns (doc_id, n_paras, n_kept, kept_md5): counts plus the md5
    * of the re-joined surviving text ("\n\n"-separated) — the compact
    * shape the driver-contract hash check wants; a pipeline stage that
    * needs the text itself re-joins from the ranked frame (same two
    * lines, skip the md5). A document whose EVERY paragraph was a
    * seen-elsewhere duplicate keeps zero paragraphs (n_kept = 0,
    * kept_md5 = md5 of "") — dropping it is the downstream quality
    * gate's decision, not this operator's. A document with NO
    * non-blank paragraphs at all produces no output row (it has
    * nothing to dedup; its disposition belongs to the quality gate
    * upstream of this operator).
    *
    * Scale shape: explode to one row per paragraph, md5 the paragraph
    * (32-byte shuffle key, portable to any SQL engine), ONE window
    * shuffle on the hash for first-occurrence ranking (groups are tiny:
    * occurrence counts per paragraph), one per-doc aggregation to
    * reassemble. Never all-pairs, nothing driver-side. */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     sepPattern: String = "\\n{2,}"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = docs
      .select(col(idCol).cast("long").as(idCol),
        posexplode(split(col(textCol), sepPattern)).as(Seq("idx", "para")))
      .filter(trim(col("para")) =!= "")
    val ranked = paras
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("para"))).orderBy(col(idCol), col("idx"))))
    ranked
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
        md5(concat_ws("\n\n",
          transform(
            array_sort(collect_list(when(col("rk") === 1,
              struct(col("idx"), col("para"))))),
            s => s.getField("para")))).as("kept_md5"))
      .select(col(idCol), col("n_paras"), col("n_kept"), col("kept_md5"))
  }

  /** Maximal duplicated CHARACTER substrings between document pairs —
    * the exact-substring dedup of Lee et al. 2021 ("Deduplicating
    * Training Data", the published standard: drop/clip copied spans of
    * >= `minLen` characters), distributed without the paper's corpus
    * suffix array. [[duplicateSpans]] answers "which word-gram spans of
    * each doc are copied SOMEWHERE"; this answers the stronger pairwise
    * question — which exact character ranges does doc `a` share with
    * doc `b` — the form span-clipping and provenance audits need.
    *
    * Shape (never all-pairs, suffix-array-free):
    *  1. every char position contributes its `k`-gram hash (stride 1 —
    *     a shared substring of length m >= k therefore tiles m−k+1
    *     consecutive matching grams; codegen'd transform+explode,
    *     computed once and persisted for its three consumers);
    *  2. gram occurrence counts gate the index: df in [2, maxGramDf]
    *     (unique grams can't witness a duplicate; over-cap "stop
    *     grams" — boilerplate, whitespace runs — would contribute
    *     df² join rows; drops observable via CapStats/`stats`, same
    *     discipline as [[lshCandidatePairs]]);
    *  3. the (gram, a<b) equi-join keys candidate occurrence pairs by
    *     DIAGONAL (pa − pb): consecutive positions on one diagonal are
    *     one shared substring, so a pos−row_number window per
    *     (a, b, diag) merges them into islands — the q47 gaps-and-
    *     islands arithmetic, per PAIR instead of per doc. Window
    *     partitions are bounded by min(|a|,|b|) positions.
    *  4. CHARACTER-EXACT verify + extension on the candidate-bounded
    *     island set: the island substring must compare equal (kills
    *     xxhash64 collisions), then the span extends left/right by
    *     direct char comparison — healing the holes the df cap punched
    *     (a capped-out gram inside a real span splits its island; the
    *     extension walks through the hole and `distinct` re-unifies
    *     the pieces). Extension scans are O(extension length) per
    *     island on the already-tiny verified set.
    *
    * With stride-1 tiling, a surviving island extended char-exact IS
    * the maximal common substring around its anchor: any longer match
    * would present another matching char, which the extension would
    * have consumed. A true span escapes only if EVERY one of its grams
    * is over-cap (the stop-gram case the WARN surfaces) or its pair
    * was capped out — the same envelope as every blocker in this file.
    *
    * Output: (a_id, b_id, a_start, b_start, span_len), 0-based starts,
    * spans >= minLen, a_id < b_id, one row per maximal span (pairs may
    * share several distinct spans on different diagonals). */
  def dupSubstringPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", minLen: Int = 50,
                        k: Int = 32, maxGramDf: Int = DefaultMaxBucketSize,
                        stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(k >= 8, s"char gram width k must be >= 8: $k")
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k): shorter spans have no gram witness")
    import org.apache.spark.sql.expressions.Window
    val d0 = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .filter(col("t").isNotNull && length(col("t")) >= k)
    // the stride-1 gram explode (|text| substr+hash per doc) is the
    // expensive narrow stage: see Parallelism
    val d = Parallelism.spread(d0)
    val grams = transform(sequence(lit(0), length(col("t")) - k),
      i => struct(i.as("p"), xxhash64(col("t").substr(i + lit(1), lit(k))).as("gh")))
    val pos = d.select(col("id"), explode(grams).as("pg"))
      .select(col("id"), col("pg.p").as("p"), col("pg.gh").as("gh"))
    // gram sizes via partial-aggregated groupBy, NOT a window: the
    // window form would sort the full occurrence frame inside the
    // exchange just to tag one row per gram for the drop count; the
    // size table carries one row per DISTINCT gram (map-side combined)
    // and the cap metrics live naturally on it (the cosineNearDupPairs
    // cellSizes shape).
    val sizes = pos.groupBy(col("gh")).agg(count(lit(1)).as("dfq"))
    val warnedSizes = CapStats.watch(sizes, "dupSubstringPairs",
      sum(when(col("dfq") > maxGramDf, 1L).otherwise(0L)), max(col("dfq")))
    val watchedSizes = stats.fold(warnedSizes)(obs => warnedSizes.observe(obs,
      sum(when(col("dfq") > maxGramDf, 1L).otherwise(0L)).as("dropped_grams"),
      max(col("dfq")).as("max_gram_df")))
    val okGrams = watchedSizes
      .filter(col("dfq") >= 2 && col("dfq") <= maxGramDf)
      .select(col("gh"))
    // persist: BOTH sides of the candidate equi-join read `kept`, and
    // without the cache each side re-runs the stride-1 explode (the
    // expensive narrow stage) end to end. Persisting `kept` — the
    // POST-cap occurrence set, a small fraction of the raw positions
    // on natural text (most grams are df=1) — caches the least data
    // that still bounds the explode to the two passes the size table
    // and the probe genuinely need. (Persisting the full `pos` frame
    // was measured SLOWER at sf0.1: materializing 2.4M cached rows
    // costs more than recomputing the codegen'd explode.) CALLER
    // CONTRACT (as cosineNearDupPairs): the returned pairs frame is
    // lazy over this persist — no safe in-op unpersist point; LRU
    // eviction reclaims it.
    val kept = pos.join(okGrams, Seq("gh"), "left_semi")
      .select(col("id"), col("p"), col("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = kept.select(col("id").as("a_id"), col("p").as("pa"), col("gh"))
      .join(kept.select(col("id").as("b_id"), col("p").as("pb"), col("gh")), "gh")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("pa"), (col("pa") - col("pb")).as("diag"))
    val wd = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
      .orderBy(col("pa"))
    // explicit (pair, diagonal) partitioning, see Parallelism: the
    // island window, the island aggregation (grouping keys ⊇ the
    // partition keys, so it reuses the exchange) and the char-exact
    // verify + extension scans downstream all read it
    val islands = Parallelism.byKeys(cand, col("a_id"), col("b_id"), col("diag"))
      .withColumn("grp", col("pa") - row_number().over(wd))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a0"), (count(lit(1)) + lit(k - 1)).as("ilen"))
      .select(col("a_id"), col("b_id"), col("a0"),
        (col("a0") - col("diag")).as("b0"), col("ilen"))
    val withText = islands
      .join(d.select(col("id").as("a_id"), col("t").as("ta")), "a_id")
      .join(d.select(col("id").as("b_id"), col("t").as("tb")), "b_id")
      // char-exact island verify: a hash collision may fabricate an
      // island; the substring compare kills it before any extension
      .filter(col("ta").substr(col("a0") + lit(1), col("ilen")) ===
        col("tb").substr(col("b0") + lit(1), col("ilen")))
    // first mismatch offset over [1, m], else m — the codegen'd LCP
    // scan both extensions share (array_min of the mismatch set)
    import org.apache.spark.sql.Column
    def lcp(m: Column, chA: Column => Column, chB: Column => Column): Column =
      when(m <= 0, lit(0)).otherwise(
        coalesce(array_min(filter(sequence(lit(1), m),
          j => chA(j) =!= chB(j))), m + lit(1)) - lit(1))
    val extended = withText
      .withColumn("el", lcp(least(col("a0"), col("b0")),
        j => col("ta").substr(col("a0") - j + lit(1), lit(1)),
        j => col("tb").substr(col("b0") - j + lit(1), lit(1))))
      .withColumn("er", lcp(
        least(length(col("ta")) - col("a0") - col("ilen"),
          length(col("tb")) - col("b0") - col("ilen")),
        j => col("ta").substr(col("a0") + col("ilen") + j, lit(1)),
        j => col("tb").substr(col("b0") + col("ilen") + j, lit(1))))
    extended
      .select(col("a_id"), col("b_id"),
        (col("a0") - col("el")).cast("long").as("a_start"),
        (col("b0") - col("el")).cast("long").as("b_start"),
        (col("ilen") + col("el") + col("er")).cast("long").as("span_len"))
      .filter(col("span_len") >= minLen)
      .distinct()
  }

  def duplicateSpans(docs: DataFrame, n: Int = 8, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = size(col("toks")) - lit(n - 1)
    val grams = when(cnt <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), cnt),
        i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + lit(k))): _*)))
    val pos = docs
      .select(col(idCol).cast("long").as(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idCol), posexplode(grams).as(Seq("pos0", "gram")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), xxhash64(col("gram")).as("gh"))
    val dup = pos.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gh"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    pos.join(dup, "gh")
      .select(col(idCol), col("pos"))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        (count(lit(1)) + lit(n - 1)).cast("long").as("span_tokens"))
      .select(col(idCol), col("start_pos"), col("span_tokens"))
  }
}
