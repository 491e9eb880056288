package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Parallelism

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * and scans the corpus once — correct baseline at any corpus size, cost
  * linear in |corpus|×|queries|. The LSH path buckets both sides by
  * random-hyperplane signature so each query only scores its bucket —
  * the 1000-executor path when |queries| is large. All arithmetic is
  * column expressions (codegen), sums run left-to-right in DOUBLE so
  * results are reproducible bit-for-bit across engines.
  */
object Ann {

  import org.apache.spark.sql.GraftSqlShim.{column => toCol, expression => toExpr}
  import graft.expressions.{CosineSimExpr, DotProductExpr}

  /** Native codegen'd single-pass dot product (VectorExpressions) —
    * identical left-to-right DOUBLE semantics to the composable
    * `aggregate(zip_with(...))` spelling, ~an order of magnitude less
    * per-row overhead and no per-row allocation. */
  def dot(a: Column, b: Column): Column = toCol(DotProductExpr(toExpr(a), toExpr(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** One-pass cosine (dot + both norms in a single traversal), same IEEE
    * result as dot/(norm*norm) because each accumulator sums
    * independently left-to-right. */
  def cosine(a: Column, b: Column): Column = toCol(CosineSimExpr(toExpr(a), toExpr(b)))

  /** Cap on the broadcast query side of the brute-force paths. At 64-dim
    * double embeddings one row is ~0.5 KB, so 100k queries ≈ 50 MB — at
    * the edge of a sane broadcast (driver assembles it, every executor
    * holds a copy). Above this, brute force is the wrong operator by
    * construction, not just a tuning problem: the guard names the scale
    * paths instead of letting a 10M-query caller OOM the driver. */
  val MaxBroadcastQueries: Long = 100000L

  // ------------------------------------------------- parameter sizing
  //
  // The LSH defaults (nBits = 8, tables × bitsPerTable = 8 × 8) are
  // sized for the sf0.1 corpus (~6k vectors → ~24 per 256-cell bucket).
  // They do NOT scale implicitly: bucket occupancy is corpusSize / 2^bits
  // per table, so at 10^9 vectors an 8-bit table holds ~4M vectors per
  // bucket and every "bucketed" stage degenerates toward all-pairs.
  // The scaling rule is bits ≈ log2(corpusSize / targetBucketSize) —
  // raise `nBits`/`bitsPerTable` with the corpus, keeping candidate
  // volume (bucketSize² × tables × nBuckets) linear-ish in the corpus.

  /** Intended per-bucket occupancy the defaults are sized for: ~2^5-2^6
    * vectors makes the within-bucket exact verify trivially cheap while
    * keeping collision recall high. */
  val TargetBucketSize: Long = 64L

  /** bits ≈ log2(corpusSize / targetBucketSize), clamped to [4, 30] —
    * the sizing rule for `nBits` ([[signatures]], [[lshTopK]]) and
    * `bitsPerTable` ([[multiSignatures]], Dedup.cosineNearDupPairs):
    * e.g. 10^6 vectors → 14 bits, 10^9 → 24 bits. */
  def recommendedBits(corpusSize: Long,
                      targetBucketSize: Long = TargetBucketSize): Int = {
    require(corpusSize > 0 && targetBucketSize > 0)
    val ratio = math.max(1.0, corpusSize.toDouble / targetBucketSize)
    math.min(30, math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Soft capacity guard: when the caller KNOWS the corpus size (a
    * count it already has — the guard never spends a job to find out),
    * warn if the configured bit width leaves expected bucket occupancy
    * more than 8× the target — the point where "bucketed, never
    * all-pairs" starts to ring hollow. Returns the warning (also
    * logged) so callers/specs can assert on it; None = adequately
    * bucketed. Deliberately a warning, not a require: occupancy is an
    * efficiency cliff, not a correctness cliff (exact verify still
    * filters), and a require here would break exploratory small-cluster
    * runs that merely over-provisioned bits. */
  def warnIfUnderBucketed(corpusSize: Long, nBits: Int, op: String,
                          targetBucketSize: Long = TargetBucketSize): Option[String] = {
    val buckets = 1L << math.min(nBits, 62)
    val expected = corpusSize.toDouble / buckets
    if (expected > 8.0 * targetBucketSize) {
      val msg = s"$op: ~${expected.toLong} vectors per $nBits-bit bucket " +
        s"(corpus $corpusSize) — candidate generation degenerates toward " +
        s"all-pairs. Raise bits to ~${recommendedBits(corpusSize, targetBucketSize)} " +
        s"(rule: bits = log2(corpus/targetBucket), target $targetBucketSize)."
      log.warn(msg)
      Some(msg)
    } else None
  }

  /** Bounded existence-count: scans at most `cap + 1` rows of `df`, so
    * guarding a 10M-row query set never pays a full count. Shared with
    * Dedup.semanticContaminatedIds, whose eval side broadcasts under the
    * same "small by definition" assumption this guard enforces. */
  private[graft] def guardQueryCount(df: DataFrame, op: String, cap: Long): Unit = {
    val n = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
    require(n <= cap,
      s"$op broadcasts the query set, and it has >$cap rows: a broadcast " +
        s"this size risks driver/executor OOM. Use Ann.lshTopK or " +
        s"Ivf.search for large query sets, or raise maxBroadcastQueries " +
        s"deliberately if your cluster can hold it.")
  }

  /** Exact top-k by inner product: (query_id, rank, neighbor_id).
    * `queries` must be small enough to broadcast (it is hinted, and
    * guarded: >maxBroadcastQueries rows is rejected with a pointer to
    * the lshTopK/Ivf scale paths rather than an OOM). */
  def topKByDot(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", embCol: String = "embedding",
                maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame = {
    guardQueryCount(queries, "topKByDot", maxBroadcastQueries)
    val e = corpus.select(col(idCol), col(embCol).cast("array<double>").as("emb"))
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).cast("array<double>").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    e.join(broadcast(q), col(idCol) =!= col("query_id"))
      .withColumn("score", dot(col("emb"), col("qemb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"))
  }

  /** Exact top-k by cosine — same shape, normalized scores, same
    * broadcast guard. */
  def topKByCosine(corpus: DataFrame, queries: DataFrame, k: Int,
                   idCol: String = "vec_id", embCol: String = "embedding",
                   maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame = {
    guardQueryCount(queries, "topKByCosine", maxBroadcastQueries)
    val e = corpus.select(col(idCol), col(embCol).cast("array<double>").as("emb"))
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).cast("array<double>").as("qemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    e.join(broadcast(q), col(idCol) =!= col("query_id"))
      .withColumn("score", cosine(col("emb"), col("qemb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"), col("score"))
  }

  // --------------------------------------------------- LSH-bucketed ANN

  /** Fixed, seeded random hyperplanes (dim × nBits), deterministic.
    * Exposed within graft so the DuckDB oracle can embed the exact same
    * planes as literal DOUBLE[] arrays and replicate the signature →
    * multi-probe bucket join → cosine rank end to end. */
  private[graft] def hyperplanes(dim: Int, nBits: Int): Array[Array[Double]] = {
    val rng = new java.util.Random(1234)
    Array.fill(nBits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit signature of each embedding under `nBits` hyperplanes —
    * cosine-similar vectors agree on most bits (random hyperplane LSH).
    * Multi-probe: each vector lands in its own bucket; queries probe
    * their bucket plus all 1-bit-flip neighbors, trading recall for a
    * (nBits+1)× candidate fan-out instead of a full scan. */
  def signatures(df: DataFrame, dim: Int, nBits: Int = 8,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val planes = hyperplanes(dim, nBits)
    df.select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .map { case (id, emb) =>
        var sigBits = 0
        var b = 0
        while (b < planes.length) {
          var s = 0.0
          val p = planes(b)
          var i = 0
          while (i < p.length && i < emb.length) { s += p(i) * emb(i); i += 1 }
          if (s >= 0) sigBits |= (1 << b)
          b += 1
        }
        (id, sigBits)
      }
      .toDF(idCol, "bucket")
  }

  /** Multi-table sign signatures: `tables` independent k-bit buckets per
    * vector, one output row per (id, table). A pair is a candidate if it
    * collides in ANY table, so candidate recall at angle θ is
    * 1-(1-p^k)^L with p = 1-θ/π — at cos 0.95 (θ≈18°), k=8, L=8 that is
    * ~0.99, where a SINGLE 8-bit table catches only ~0.43 (the
    * all-bits-equal requirement is the minhash S-curve lesson in
    * hyperplane form). Plane b of table t is hyperplanes(dim, L·k)[t·k+b]
    * with weight 2^b — the exact layout the q24 oracle replicates. */
  def multiSignatures(df: DataFrame, dim: Int, tables: Int = 8,
                      bitsPerTable: Int = 8, idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val planes = hyperplanes(dim, tables * bitsPerTable)
    // the L×k dot-product map is CPU-dense: see Parallelism
    Parallelism.spread(df.select(col(idCol).cast("long"), col(embCol).cast("array<double>")))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, emb) =>
        (0 until tables).iterator.map { t =>
          var bits = 0
          var b = 0
          while (b < bitsPerTable) {
            val p = planes(t * bitsPerTable + b)
            var s = 0.0
            var i = 0
            while (i < p.length && i < emb.length) { s += p(i) * emb(i); i += 1 }
            if (s >= 0) bits |= (1 << b)
            b += 1
          }
          (id, t, bits)
        }
      }
      .toDF(idCol, "tbl", "bucket")
  }

  /** Approximate top-k: bucket join on the signature with multi-probe
    * (all buckets within Hamming distance `probeRadius` of the query's
    * signature), exact scoring within the candidate set. Returns
    * (query_id, rank, neighbor_id, score≈cosine).
    *
    * Recall/cost knob: scanned fraction ≈ Σ C(nBits,r)/2^nBits over
    * r ≤ probeRadius, boosted by signature correlation for genuinely
    * close vectors. On clustered embeddings the boost is large; on
    * uniformly random data recall approaches the scan fraction (no
    * locality exists to exploit — inherent to ANN, not an LSH defect).
    *
    * SIZE `nBits` WITH THE CORPUS (see [[recommendedBits]]): the
    * default 8 is right for ~10^4 vectors; pass `corpusSizeHint` (a
    * count the caller already has — never computed here) to get the
    * [[warnIfUnderBucketed]] soft guard when bits lag the corpus. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 8, probeRadius: Int = 2, idCol: String = "vec_id",
              embCol: String = "embedding",
              corpusSizeHint: Option[Long] = None): DataFrame = {
    corpusSizeHint.foreach(n => warnIfUnderBucketed(n, nBits, "Ann.lshTopK"))
    val sigE = signatures(corpus, dim, nBits, idCol, embCol)
    val e = corpus.select(col(idCol), col(embCol).cast("array<double>").as("emb"))
      .join(sigE, idCol)
    val sigQ = signatures(queries, dim, nBits, idCol, embCol)
      .select(col(idCol).as("query_id"), col("bucket").as("qbucket"))
    val masks: Seq[Int] = (0 until (1 << nBits))
      .filter(m => Integer.bitCount(m) <= probeRadius)
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).cast("array<double>").as("qemb"))
      .join(sigQ, "query_id")
      .withColumn("bucket", explode(array(
        masks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
      .drop("qbucket")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    e.join(q, Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("score", cosine(col("emb"), col("qemb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"), col("score"))
  }

  /** ANN index-quality evaluation: recall@k of [[lshTopK]] against the
    * exact [[topKByCosine]] baseline, per query — the "measure, don't
    * guess" harness for sizing `nBits`/`probeRadius` before a corpus
    * migration (recall is THE acceptance metric for an approximate
    * index; shipping one unmeasured is how silent retrieval decay
    * happens). Both sides share the query set, the metric, and the
    * (score DESC, id) total order, so the comparison is exact — and
    * every recall value is one small-integer division (n_hits /
    * n_exact), bit-identical on any engine.
    *
    * Scale shape: the exact side is the broadcast-guarded baseline
    * (deliberately bounded — recall evaluation runs on a query SAMPLE,
    * not the corpus; the guard throws past `MaxBroadcastQueries`);
    * the approximate side is the production bucket-probe path under
    * test; the intersection is a (query, neighbor)-keyed semi-join of
    * two k·|queries|-bounded frames.
    *
    * Output: (query_id, n_exact, n_hits, recall), one row per query
    * with a non-empty exact top-k. */
  def recallAtK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nBits: Int = 8, probeRadius: Int = 2,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    val exact = topKByCosine(corpus, queries, k, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"))
    val approx = lshTopK(corpus, queries, k, dim, nBits, probeRadius,
        idCol, embCol)
      .select(col("query_id"), col("neighbor_id"))
    val base = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    base.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        col("n_exact").cast("long").as("n_exact"),
        coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_exact").cast("double"))
  }

  /** Corpus-wide k-NEAREST-NEIGHBOR GRAPH — every vector's top-k
    * most-similar neighbors among vectors it shares ANY signature-table
    * bucket with. The neighbor graph is the workhorse structure behind
    * semantic clustering, SemDeDup-style pruning, and hard-negative
    * mining; unlike [[lshTopK]] (few queries, broadcast side) EVERY row
    * is a query, so the only admissible shape is a bucketed self-join —
    * never query-broadcast, never all-pairs.
    *
    * Scale bounds, both inherited from the near-dup family:
    *  - multi-table signatures ([[multiSignatures]]: `tables` ×
    *    `bitsPerTable` hyperplane bits; any-table collision is a
    *    candidate) keep per-bucket populations uniform — size
    *    `bitsPerTable` with the corpus per [[recommendedBits]];
    *  - buckets over `maxBucketSize` are dropped from candidate
    *    generation BEFORE the self-join (the
    *    [[graft.ops.Dedup.DefaultMaxBucketSize]] recall argument: hot
    *    templates collide in their other tables), so no bucket ever
    *    contributes more than `maxBucketSize`² candidate rows.
    *
    * The per-node top-k is a `row_number <= k` window over
    * (cosine DESC, neighbor ASC) — a total order, engine-exact since
    * the cosine expression is the bit-stable [[cosine]] — which
    * compiles to WindowGroupLimit: map-side top-k per node, so a
    * high-degree node ships k rows per partition, not its full
    * candidate set.
    *
    * Output: (idCol, rank, neighbor_id, cos); nodes with no under-cap
    * collisions are absent (they have no measured neighbors). */
  def knnGraph(embeddings: DataFrame, k: Int, dim: Int, tables: Int = 8,
               bitsPerTable: Int = 8, idCol: String = "vec_id",
               embCol: String = "embedding",
               maxBucketSize: Int = graft.ops.Dedup.DefaultMaxBucketSize,
               stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val cand = cappedSelfCandidates(embeddings, dim, tables, bitsPerTable,
      idCol, embCol, maxBucketSize, stats)
    scoreTopK(cand, embeddings, k, idCol, embCol)
  }

  /** BITEXT-STYLE MARGIN SCORING (Artetxe & Schwenk 2019's ratio
    * margin) — the parallel-corpus mining criterion: an edge (x, y)
    * scores `margin = 2·cos(x,y) / (avgK(x) + avgK(y))` where avgK is
    * the mean cosine of a node's k nearest neighbors. Margin > 1 means
    * the pair is closer than each side's typical neighborhood — the
    * signal that separates true translations/paraphrases from
    * hubness-inflated cosines that plain thresholds can't.
    *
    * Determinism across engines (this query family hash-compares raw
    * doubles): avgK folds the k cosines in RANK order with explicit
    * left-associated additions zero-padded to k — the oracle writes
    * the same `(((c1+c2)+c3)+…)` chain, so both engines execute the
    * identical double-op sequence (adding literal 0.0 for missing
    * ranks is exact). cos(x,y) is bit-equal to cos(y,x) (elementwise
    * products and the norm multiply commute exactly), so undirected
    * canonicalization via least/greatest + distinct is safe.
    *
    * Scale shape: one [[knnGraph]] pass (capped-bucket candidates,
    * per-node WindowGroupLimit) persisted once and consumed twice
    * (edges + averages); the margin join is two id-keyed shuffle joins
    * against the k·n edge set — never touches raw embeddings again.
    * Output: (a_id, b_id, cos, margin), margin ≥ `minMargin`. */
  def marginScores(embeddings: DataFrame, k: Int, dim: Int,
                   minMargin: Double = 1.05,
                   tables: Int = 8, bitsPerTable: Int = 8,
                   idCol: String = "vec_id", embCol: String = "embedding",
                   maxBucketSize: Int = graft.ops.Dedup.DefaultMaxBucketSize,
                   stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // persist: consumed twice (edges + averages); the returned frame
    // is lazy over it — CALLER CONTRACT as cosineNearDupPairs: no safe
    // in-op unpersist point, LRU eviction reclaims the entry.
    val knn = knnGraph(embeddings, k, dim, tables, bitsPerTable, idCol,
        embCol, maxBucketSize, stats)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sorted = array_sort(col("ns")) // struct(rank, cos): rank is unique per node
    def el(i: Int): Column = // try_: ANSI element_at throws past the end
      coalesce(try_element_at(sorted, lit(i)).getField("c"), lit(0.0))
    val avgs = knn.groupBy(col(idCol))
      .agg(collect_list(struct(col("rank").cast("long").as("r"),
        col("cos").as("c"))).as("ns"))
      .select(col(idCol),
        ((1 to k).map(el).reduce(_ + _) /
          size(col("ns")).cast("double")).as("avg_knn"))
    val edges = knn.select(
        least(col(idCol), col("neighbor_id")).as("a_id"),
        greatest(col(idCol), col("neighbor_id")).as("b_id"),
        col("cos"))
      .distinct()
    edges
      .join(avgs.select(col(idCol).as("a_id"), col("avg_knn").as("avg_a")), "a_id")
      .join(avgs.select(col(idCol).as("b_id"), col("avg_knn").as("avg_b")), "b_id")
      .withColumn("margin", lit(2.0) * col("cos") / (col("avg_a") + col("avg_b")))
      .filter(col("margin") >= minMargin)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
  }

  /** HARD-NEGATIVE MINING for contrastive training — for every vector,
    * its top-k most-similar neighbors in a DIFFERENT cluster: close
    * enough to be informative, labeled different so they are negatives.
    * `clusters` is any (idCol, cluster_id) assignment — IVF cells,
    * near-dup components, source labels. The cluster filter runs on the
    * CANDIDATE pairs, before scoring and before the top-k window, so
    * negatives rank among negatives only (a same-cluster twin can never
    * crowd the k slots). Same candidate machinery and scale bounds as
    * [[knnGraph]]; the two cluster joins are id-keyed shuffle joins
    * (the assignment frame is corpus-sized — no broadcast assumption).
    * Output: (idCol, rank, neighbor_id, cos). */
  def hardNegatives(embeddings: DataFrame, clusters: DataFrame, k: Int,
                    dim: Int, tables: Int = 8, bitsPerTable: Int = 8,
                    idCol: String = "vec_id", embCol: String = "embedding",
                    clusterCol: String = "cluster_id",
                    maxBucketSize: Int = graft.ops.Dedup.DefaultMaxBucketSize,
                    stats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val cand = cappedSelfCandidates(embeddings, dim, tables, bitsPerTable,
      idCol, embCol, maxBucketSize, stats)
    val cl = clusters.select(col(idCol).cast("long"), col(clusterCol))
    val filt = cand
      .join(cl.select(col(idCol).as("src"), col(clusterCol).as("__cl_s")), "src")
      .join(cl.select(col(idCol).as("dst"), col(clusterCol).as("__cl_d")), "dst")
      .filter(col("__cl_s") =!= col("__cl_d"))
      .select(col("src"), col("dst"))
    scoreTopK(filt, embeddings, k, idCol, embCol)
  }

  /** Shared candidate stage of [[knnGraph]]/[[hardNegatives]]: distinct
    * DIRECTED pairs of ids sharing any under-cap signature cell. */
  private def cappedSelfCandidates(embeddings: DataFrame, dim: Int,
                                   tables: Int, bitsPerTable: Int,
                                   idCol: String, embCol: String,
                                   maxBucketSize: Int,
                                   stats: Option[org.apache.spark.sql.Observation]): DataFrame = {
    // persist: the signature frame feeds the cell-size agg AND both
    // self-join sides (same lifetime reasoning as cosineNearDupPairs)
    val sig = multiSignatures(embeddings, dim, tables, bitsPerTable, idCol, embCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cellSizes = sig.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
    val warned = graft.ops.CapStats.watch(cellSizes, "cappedSelfCandidates",
      sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)), max(col("bsz")))
    val watched = stats.fold(warned)(obs => warned.observe(obs,
      sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)).as("dropped_buckets"),
      max(col("bsz")).as("max_bucket")))
    val okCells = watched
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
      .select(col("tbl"), col("bucket"))
    val sigOk = sig.join(okCells, Seq("tbl", "bucket"), "left_semi")
    sigOk.select(col(idCol).as("src"), col("tbl"), col("bucket"))
      .join(sigOk.select(col(idCol).as("dst"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  /** Shared scoring+ranking tail: exact bit-stable cosine on candidate
    * pairs, per-src (cos DESC, dst ASC) row_number ≤ k — compiles to
    * WindowGroupLimit (map-side top-k per node). */
  private def scoreTopK(cand: DataFrame, embeddings: DataFrame, k: Int,
                        idCol: String, embCol: String): DataFrame = {
    val e = embeddings
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>").as("emb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    cand
      .join(e.select(col(idCol).cast("long").as("src"), col("emb").as("emb_s")), "src")
      .join(e.select(col(idCol).cast("long").as("dst"), col("emb").as("emb_d")), "dst")
      .withColumn("cos", cosine(col("emb_s"), col("emb_d")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src").as(idCol), col("rank"),
        col("dst").as("neighbor_id"), col("cos"))
  }
}
