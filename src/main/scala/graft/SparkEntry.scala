package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is written twice: once in the DataFrame API (here) and once
  * as ANSI SQL for the DuckDB oracle (`oracleSql`). Column names are kept
  * identical on both sides (the driver sorts columns by name before
  * hashing). All floating-point aggregations run as DECIMAL with a fixed
  * scale on BOTH sides so the result is exact and engine-order
  * independent — summing doubles in a different order would otherwise
  * produce hash mismatches at the last ulp. The decimal is then
  * final-cast to DOUBLE on BOTH sides: Spark and DuckDB widen decimal
  * sums to different precisions (DECIMAL(28,2) vs DECIMAL(38,2)), and the
  * driver's hash is type-sensitive even at equal values, while an
  * identical decimal converts to a bit-identical double.
  */
object SparkEntry {

  /** Cast to a decimal type matching DuckDB's DECIMAL(p,s) semantics. */
  private def dec(c: Column, p: Int = 28, s: Int = 4): Column =
    c.cast(DecimalType(p, s))

  /** Order-exact decimal sum, emitted as a bit-stable double. */
  private def dsum(c: Column): Column = sum(c).cast("double")

  /** Where q18 persists its trained centroids for the oracle to read.
    * Process-scoped path: the oracle SQL that references it is emitted
    * by the same Verify process, so both sides agree by construction
    * (and nothing outside /root/repo is written) — and concurrent
    * Bench/Verify processes never race on one directory.
    * Sf-scoped too (ADVICE r15): the write election is per sf dir, so
    * one process verifying several scale factors keeps each sf's
    * persisted oracle input durable instead of last-write-wins. */
  private[graft] def ivfCentroidsPath(sfDir: String) =
    s"/root/repo/target/verify-oracle/ivf_centroids-${ProcessHandle.current().pid()}" +
      s"-${java.nio.file.Paths.get(sfDir).getFileName}"

  /** The sf dir q18 last trained on — the path the NEXT oracle dump
    * reads (Verify's dump-follows-runs contract, same as PqQuery). */
  @volatile private var ivfLastSfDir: String = ""

  /** sf dirs whose q18 centroids this process already persisted: the
    * write is a side job for the ORACLE, not part of the query — it runs
    * once per (process, sf dir) so Bench's timed runs after warmup stay
    * read-only (training is deterministic, the rewrite would be
    * byte-identical anyway). One path per process: if one process ran
    * q18 over several sf dirs, the LAST write would win — fine for the
    * driver contract (Verify/Bench are single-dir by
    * construction), noted for anyone scripting beyond it. */
  /** sf dir → the in-flight/completed centroid write. A map of futures
    * (not a claim set): the winner writes, LOSERS WAIT on the winner's
    * future — a concurrent q18 must not proceed to search before the
    * oracle input is durable, and a winner's failure removes the entry
    * so any later call retries the write. */
  private val ivfCentroidsWrites =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[Void]]()

  /** Reap ivf_centroids-<pid> dirs left by dead processes — the shared
    * pid-scoped-scratch hygiene (Fs.reapStalePidDirs scaladoc). */
  private def reapStaleCentroidDirs(): Unit =
    graft.core.Fs.reapStalePidDirs(
      java.nio.file.Paths.get(ivfCentroidsPath("x")).getParent, "ivf_centroids-")

  /** q95's ranked merge fixture — hierarchical ((th,e) consumes rank
    * 0's output) and free of same-token pairs: the oracle replays each
    * merge as TWO global `replace`s (the second catches occurrences
    * the first skipped via a shared boundary space), which is exact
    * for a≠b pairs but under-merges long same-char runs; (a,a) merges
    * are exercised in BpeBloomSpec instead. */
  private val bpeFixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"))

  /** The q95 oracle's merge replay: space-joined tokens, each merge
    * unrolled to two nested replaces in rank order. */
  private def bpeOracleReplay(col: String): String =
    bpeFixtureMerges.foldLeft(col) { case (acc, (a, b)) =>
      s"replace(replace($acc, ' $a $b ', ' $a$b '), ' $a $b ', ' $a$b ')"
    }

  /** Exact same cosine as Ann.cosine, spelled in DuckDB: products and
    * the left-to-right sum are bit-identical across engines (q12 proved
    * list_dot_product matches the Spark fold), and sqrt/div are IEEE. */
  private def duckCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** q14's oracle replicates the LSH pipeline end to end in SQL: the
    * hyperplanes are the fixed seed-1234 constant (Ann.hyperplanes), so
    * they are embedded as literal DOUBLE[] arrays; signature bits,
    * multi-probe XOR fan-out (Hamming ≤ 2) and cosine ranking follow the
    * exact Scala op order, making the whole query deterministic. */
  /** The seed-1234 hyperplanes as a literal SQL VALUES list, plus the
    * signature CTE both LSH oracles share: bucket = sum of bit weights
    * where the plane·emb dot is >= 0 (bit order and op order match
    * Ann.signatures exactly). */
  /** q123's oracle: per-source entropy pieces with the same fixLog2
    * CTE recurrence as [[dsirOracle]], applied twice — to every
    * (source, token) count and to each source's total. */
  private lazy val entropyOracle: String = {
    def steps(tag: String, keys: String) = (1 to 8).map { i =>
      s"""$tag$i AS (
         |  SELECT $keys,
         |    CASE WHEN ((m*m) >> 17) >= 262144 THEN ((m*m) >> 18)
         |         ELSE ((m*m) >> 17) END AS m,
         |    f*2 + CASE WHEN ((m*m) >> 17) >= 262144 THEN 1 ELSE 0 END AS f
         |  FROM $tag${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                       x -> x <> '')) AS token
       |  FROM documents),
       |c AS (SELECT source, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       |it0 AS (
       |  SELECT source, token, c, (length(bin(c)) - 1)::BIGINT AS e,
       |    (c * 131072) >> (length(bin(c)) - 1) AS m, 0::BIGINT AS f
       |  FROM c),
       |${steps("it", "source, token, c, e")},
       |lg AS (SELECT source, c, e*256 + f AS l FROM it8),
       |g AS (
       |  SELECT source, sum(c)::BIGINT AS n_tokens,
       |    count(*)::BIGINT AS n_distinct, sum(c*l)::BIGINT AS sum_c_log2c
       |  FROM lg GROUP BY 1),
       |jt0 AS (
       |  SELECT source, n_tokens, n_distinct, sum_c_log2c,
       |    (length(bin(n_tokens)) - 1)::BIGINT AS e,
       |    (n_tokens * 131072) >> (length(bin(n_tokens)) - 1) AS m, 0::BIGINT AS f
       |  FROM g),
       |${steps("jt", "source, n_tokens, n_distinct, sum_c_log2c, e")}
       |SELECT source, n_tokens, n_distinct, sum_c_log2c,
       |  (n_tokens * (e*256 + f))::BIGINT AS n_log2n
       |FROM jt8 ORDER BY source""".stripMargin
  }

  /** q100's oracle: the exact fixed-point DSIR pipeline. The 8-step
    * integer log2-by-squaring recurrence (Importance.fixLog2) is
    * generated once as a CTE chain and applied to all four weight
    * terms via a sign column, so the SQL is the literal replay of the
    * Spark integer arithmetic — bit-equal by construction. */
  private lazy val dsirOracle: String = {
    // it_{i+1}: m' = (m*m)>>17, minus one more shift when it crossed 2;
    // f' = 2f + carry — identical to the fixLog2 foldLeft step
    val steps = (1 to 8).map { i =>
      s"""it$i AS (
         |  SELECT bucket, s, e,
         |    CASE WHEN ((m*m) >> 17) >= 262144 THEN ((m*m) >> 18)
         |         ELSE ((m*m) >> 17) END AS m,
         |    f*2 + CASE WHEN ((m*m) >> 17) >= 262144 THEN 1 ELSE 0 END AS f
         |  FROM it${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |g_raw AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(toks)-1, 0)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS g
       |  FROM t0),
       |b_raw AS (
       |  SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket,
       |    count(*)::BIGINT AS cr
       |  FROM g_raw GROUP BY 1),
       |b_tgt AS (
       |  SELECT ('0x' || substr(md5(gr.g), 1, 15))::BIGINT % 4096 AS bucket,
       |    count(*)::BIGINT AS ct
       |  FROM g_raw gr JOIN documents d ON gr.doc_id = d.doc_id
       |  WHERE d.lang = 'en' GROUP BY 1),
       |spine AS (SELECT range::BIGINT AS bucket FROM range(4096)),
       |counts AS (
       |  SELECT sp.bucket, coalesce(t.ct, 0) AS ct, coalesce(r.cr, 0) AS cr
       |  FROM spine sp LEFT JOIN b_tgt t USING (bucket)
       |  LEFT JOIN b_raw r USING (bucket)),
       |tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM counts),
       |terms AS (
       |  SELECT bucket, ct + 1 AS x, 1::BIGINT AS s FROM counts
       |  UNION ALL SELECT bucket, (SELECT nt FROM tot) + 4096, -1 FROM counts
       |  UNION ALL SELECT bucket, cr + 1, -1 FROM counts
       |  UNION ALL SELECT bucket, (SELECT nr FROM tot) + 4096, 1 FROM counts),
       |it0 AS (
       |  SELECT bucket, s, (length(bin(x)) - 1)::BIGINT AS e,
       |    (x * 131072) >> (length(bin(x)) - 1) AS m, 0::BIGINT AS f
       |  FROM terms),
       |$steps,
       |w AS (SELECT bucket, sum(s * (e*256 + f))::BIGINT AS w FROM it8 GROUP BY bucket),
       |db AS (
       |  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket
       |  FROM g_raw),
       |sc AS (
       |  SELECT db.doc_id, sum(w.w)::BIGINT AS score, count(*)::BIGINT AS n_bigrams
       |  FROM db JOIN w USING (bucket) GROUP BY db.doc_id)
       |SELECT d.doc_id, coalesce(sc.score, 0)::BIGINT AS score,
       |  coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q78's oracle: the q75 winnowing selection with the gram hash
    * replaced by a bit-exact DuckDB replay of Spark's XXH64 — the
    * production (100 TB-default) fingerprint path, previously the one
    * `queries` entry the oracle never checked (VERDICT r13 #1).
    *
    * XXH64 on a 10-byte input (5 UTF-16BE chars, seed 42) is pure
    * 64-bit lane arithmetic: one 8-byte round, two tail bytes, the
    * avalanche. DuckDB BIGINT traps overflow, so every step runs in
    * HUGEINT with an explicit mod-2^64 reduction; 64×64→64 multiplies
    * split the CONSTANT multiplier into 32-bit halves so no
    * intermediate exceeds ~2^65 (the fix_log2 generated-CTE
    * discipline, one CTE per lane op). The signed BIGINT conversion
    * happens BEFORE the sliding-window min, because the Scala
    * selection (TextOps.selectWinnowed) compares Long values SIGNED —
    * a full-range hash ordered unsigned would select different
    * positions. Verified value-exact against
    * XXH64.hashUnsafeBytes(utf16be, seed=42) on ASCII and non-ASCII
    * grams (OpsSpec pins the same five values). */
  private lazy val winnowingXxOracle: String = {
    val M = BigInt(2).pow(64).toString
    val P1 = BigInt("9E3779B185EBCA87", 16)
    val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16)
    val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    val h0 = (BigInt(42) + P5 + 10) % BigInt(2).pow(64) // seed + PRIME5 + length
    // (a * b) mod 2^64 with a a column in [0, 2^64) and b a constant:
    // split b into 32-bit halves; largest intermediate ≈ 2^65 « 2^127
    def mul64(a: String, b: BigInt): String = {
      val lo = b & BigInt("ffffffff", 16)
      val hi = b >> 32
      s"((($a) % 4294967296) * $lo + (((($a) % 4294967296) * $hi + (($a) // 4294967296) * $lo) % 4294967296) * 4294967296) % $M"
    }
    def rotl(a: String, r: Int): String =
      s"((($a) * ${BigInt(2).pow(r)}) % $M + ($a) // ${BigInt(2).pow(64 - r)})"
    s"""WITH g AS (
       |  SELECT doc_id, i AS pos, substring(text, i, 5) AS gram
       |  FROM documents,
       |       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i)),
       |cp AS (
       |  SELECT doc_id, pos,
       |    unicode(substring(gram,1,1))::HUGEINT AS c0, unicode(substring(gram,2,1))::HUGEINT AS c1,
       |    unicode(substring(gram,3,1))::HUGEINT AS c2, unicode(substring(gram,4,1))::HUGEINT AS c3,
       |    unicode(substring(gram,5,1))::HUGEINT AS c4
       |  FROM g),
       |w AS ( -- first 8 UTF-16BE bytes as a little-endian 64-bit word + 2 tail bytes
       |  SELECT doc_id, pos,
       |    (c0 // 256) + (c0 % 256)*256 + (c1 // 256)*65536 + (c1 % 256)*16777216
       |    + (c2 // 256)*4294967296 + (c2 % 256)*1099511627776
       |    + (c3 // 256)*281474976710656 + (c3 % 256)*72057594037927936 AS k1,
       |    (c4 // 256) AS b8, (c4 % 256) AS b9
       |  FROM cp),
       |s1 AS (SELECT doc_id, pos, b8, b9, ${mul64("k1", P2)} AS k1 FROM w),
       |s2 AS (SELECT doc_id, pos, b8, b9, ${rotl("k1", 31)} AS k1 FROM s1),
       |s3 AS (SELECT doc_id, pos, b8, b9, ${mul64("k1", P1)} AS k1 FROM s2),
       |s4 AS (SELECT doc_id, pos, b8, b9, xor($h0::HUGEINT, k1) AS h FROM s3),
       |s5 AS (SELECT doc_id, pos, b8, b9, (${mul64(rotl("h", 27), P1)} + $P4) % $M AS h FROM s4),
       |s6 AS (SELECT doc_id, pos, b9, xor(h, (b8 * $P5) % $M) AS h FROM s5),
       |s7 AS (SELECT doc_id, pos, b9, ${mul64(rotl("h", 11), P1)} AS h FROM s6),
       |s8 AS (SELECT doc_id, pos, xor(h, (b9 * $P5) % $M) AS h FROM s7),
       |s9 AS (SELECT doc_id, pos, ${mul64(rotl("h", 11), P1)} AS h FROM s8),
       |f1 AS (SELECT doc_id, pos, xor(h, h // 8589934592) AS h FROM s9),
       |f2 AS (SELECT doc_id, pos, ${mul64("h", P2)} AS h FROM f1),
       |f3 AS (SELECT doc_id, pos, xor(h, h // 536870912) AS h FROM f2),
       |f4 AS (SELECT doc_id, pos, ${mul64("h", P3)} AS h FROM f3),
       |f5 AS (SELECT doc_id, pos, xor(h, h // 4294967296) AS h FROM f4),
       |xs AS ( -- SIGNED Long, matching the Scala selection's compare order
       |  SELECT doc_id, pos,
       |    (CASE WHEN h >= 9223372036854775808 THEN h - $M ELSE h END)::BIGINT AS h
       |  FROM f5),
       |sel AS (
       |  SELECT doc_id, pos,
       |    min({'h': h, 'np': -pos})
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM xs),
       |fps AS (
       |  SELECT DISTINCT doc_id, m.h AS fp, -m.np AS pos
       |  FROM sel WHERE pos <= ng - 3)
       |SELECT doc_id, count(*)::BIGINT AS n_fps,
       |  bit_xor(fp)::BIGINT AS xor_fps,
       |  CAST(min(pos) AS BIGINT) AS first_pos
       |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private lazy val planesCte: String = {
    val planes = graft.ops.Ann.hyperplanes(64, 8)
    val planeRows = planes.zipWithIndex
      .map { case (p, b) => s"(${1 << b}, [${p.mkString(",")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""planes(w, plane) AS (VALUES
       |$planeRows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sig AS (
       |  SELECT e.vec_id,
       |    CAST(sum(CASE WHEN list_dot_product(p.plane, e.emb) >= 0 THEN p.w ELSE 0 END) AS INT) AS bucket
       |  FROM e CROSS JOIN planes p GROUP BY e.vec_id)""".stripMargin
  }

  /** q24's multi-table signature CTE: 64 seed-1234 planes laid out as 8
    * tables × 8 bits — plane b of table t is planes[t*8+b] with weight
    * 2^b, exactly Ann.multiSignatures' layout (and the first 8 planes
    * coincide with planesCte's, both being the same seeded stream). */
  private lazy val planes64Cte: String = {
    val planes = graft.ops.Ann.hyperplanes(64, 64)
    val planeRows = planes.zipWithIndex
      .map { case (p, b) => s"(${b / 8}, ${1 << (b % 8)}, [${p.mkString(",")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""planes64(tbl, w, plane) AS (VALUES
       |$planeRows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sig64 AS (
       |  SELECT e.vec_id, p.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(p.plane, e.emb) >= 0 THEN p.w ELSE 0 END) AS INT) AS bucket
       |  FROM e CROSS JOIN planes64 p GROUP BY e.vec_id, p.tbl)""".stripMargin
  }

  private lazy val lshOracle: String = {
    val masks = (0 until 256).filter(m => Integer.bitCount(m) <= 2).mkString(",")
    s"""WITH $planesCte,
       |probes AS (
       |  SELECT s.vec_id AS query_id, xor(s.bucket, m.m) AS bucket
       |  FROM sig s CROSS JOIN (SELECT unnest([$masks]) AS m) m
       |  WHERE s.vec_id < 5),
       |cand AS (
       |  SELECT p.query_id, s.vec_id FROM probes p JOIN sig s USING (bucket)
       |  WHERE s.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY c.query_id ORDER BY
       |      ${duckCosine("n.emb", "q.emb")} DESC, c.vec_id) AS rn
       |  FROM cand c JOIN e n ON n.vec_id = c.vec_id JOIN e q ON q.vec_id = c.query_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id
       |FROM scored WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q18's oracle reads the centroids q18 just persisted and re-derives
    * nearest-cell assignment (squared L2, ties → lowest cell, exactly
    * Ivf.Model.nearestCell) + nprobe=4 probe set + cosine ranking.
    * A `def` (ADVICE r16): it interpolates the volatile ivfLastSfDir,
    * and a lazy val would freeze the first sf dir evaluated for the
    * JVM's lifetime — defeating the sf-scoping if oracleSql is ever
    * consulted for a second sf in one process (PqQuery.oracleSql is
    * likewise a def). */
  private def ivfOracle: String =
    s"""WITH cent AS (
       |  SELECT cell, CAST(centroid AS DOUBLE[]) AS cen
       |  FROM read_parquet('${ivfCentroidsPath(ivfLastSfDir)}/*.parquet')),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |dist AS (
       |  SELECT vec_id, cell, list_dot_product(d, d) AS dsq
       |  FROM (SELECT e.vec_id, c.cell,
       |          list_transform(generate_series(1, len(c.cen)), i -> e.emb[i] - c.cen[i]) AS d
       |        FROM e CROSS JOIN cent c)),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cell) AS rn
       |    FROM dist) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dsq, cell) AS rn
       |    FROM dist WHERE vec_id < 5) WHERE rn <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY c.query_id ORDER BY
       |      ${duckCosine("n.emb", "q.emb")} DESC, c.vec_id) AS rn
       |  FROM cand c JOIN e n ON n.vec_id = c.vec_id JOIN e q ON q.vec_id = c.query_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id
       |FROM scored WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Aggregation over a scan (SURVEY §2.8 aggregation; reduce-sum
    //      lattice semantics expressed relationally) ----
    // Cost note (r3 verdict "q1 drifted up 3 rounds"; probe numbers in
    // SCALING.md, "Retired probes") — the same group-by with double
    // sums runs ~0.26 s, with these decimal sums ~1.0 s at sf0.1.
    // Spark's sum widens the buffer to DECIMAL(28,*), past the 18-digit
    // compact-long representation, so every update is a BigDecimal op. That cost is the price of the
    // bit-exact cross-engine oracle AND the right call at scale: a
    // scaled-long (or narrow-decimal) sum is 4× faster here but
    // overflows at ~1e16 scaled units — i.e. exactly at the 100 TB fact
    // table this engine targets. The cross-round drift is machine noise
    // around that constant; the plan (pruned scan → partial→final hash
    // agg) is unchanged and optimal.
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(dec(col("l_quantity"), 18, 2)).as("sum_qty"),
          dsum(dec(col("l_extendedprice"), 18, 2)).as("sum_base_price"),
          dsum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 28, 6)).as("sum_disc_price"),
          (sum(dec(col("l_quantity"), 18, 2)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- Multi-way join + group + top-k (shuffle join; small dims are
    //      broadcast automatically by AQE) ----
    "q2_revenue_by_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 28, 6)).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // ---- Broadcast join against a small dimension ----
    "q3_brand_volume" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = broadcast(t(s, dir, "part"))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(dec(col("l_quantity"), 18, 2)).as("sum_qty"),
             count(lit(1)).as("n_lines"))
        .orderBy(col("p_brand"))
    }),

    // ---- Left-semi join (EXISTS) — SURVEY §2.8 semi/anti ----
    "q4_orders_with_big_lines" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey"))
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- Left-anti join (NOT EXISTS) — GC/retain-set pattern ----
    "q5_customers_without_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- Window function: top-3 orders per customer ----
    "q6_top_orders_per_customer" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      // The selective filter comes textually before the window: it only
      // references the partition key, so it does not change row_number
      // semantics and cuts 99% of the windowed data by construction
      // rather than relying on a pushdown rule.
      o.filter(col("o_custkey") % 100 === 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
                dec(col("o_totalprice"), 18, 2).cast("double").as("total_price"),
                col("rn").cast("long").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- Union-distinct (SURVEY §2.8 union; lens multi-input dedup) ----
    "q7_active_nations" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
      c.union(su).distinct().orderBy(col("nationkey"))
    }),

    // ---- The ENGINE path: ingest → lens build (flatMap + ordered
    //      Set-union reduce) → materialized inverted index (SURVEY §2.6;
    //      the reference's golden query shape) ----
    "q9_lens_token_index" -> ((s, dir) => graft.queries.LensTokenIndex.run(s, dir)),

    // ---- Time-bucketed aggregation over the events table ----
    "q8_events_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
             dsum(dec(col("value"), 18, 4)).as("sum_value"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- Rollup (hierarchical subtotals) over lineitem ----
    "q19_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
             dsum(dec(col("l_quantity"), 18, 2)).as("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- Intersect / except set operators over nation keys ----
    "q20_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
      c.intersect(su).orderBy(col("nationkey"))
    }),
    "q21_except" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      val big = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .select(col("s_nationkey").cast("int").as("nationkey"))
      c.except(big).orderBy(col("nationkey"))
    }),

    // ---- LLM-pipeline operators over documents/embeddings ----

    // Exact dedup: content-fingerprint hash-groupBy (one shuffle,
    // map-side combine — the 100 TB shape).
    "q10_dedup_exact" -> ((s, dir) =>
      graft.ops.Dedup.exactGroups(t(s, dir, "documents")).orderBy(col("fp"))),

    // Confusable-skeleton dedup (r15): Cyrillic/fullwidth/zero-width
    // evasion variants injected deterministically; the skeleton must
    // fold every variant back into its original's group (n_raw pins
    // the absorbed byte-distinct variants). Scan-stage translates,
    // one fingerprint shuffle — the exact-dedup shape.
    "q161_confusable_dedup" -> ((s, dir) =>
      graft.queries.ConfusableQuery.run(s, dir)),

    // Multi-pattern BLOCKLIST matching via Aho–Corasick (r14): the
    // phrase list derives deterministically from the corpus (every
    // 97th doc's chars 10..21), the automaton rides the closure, one
    // scan-stage pass reports every occurrence INCLUDING overlaps —
    // the oracle counts positions, so a missed suffix/overlap match
    // breaks the hash. The collect is the phrase FIXTURE (blocklist-
    // sized: ~5 at sf0.01), never corpus data.
    "q155_blocklist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val phrases = docs.filter(col("doc_id") % 97 === 3)
        .select(substring(col("text"), 10, 12).as("p"))
        .filter(length(col("p")) === 12)
        .distinct().orderBy(col("p"))
        .collect().map(_.getString(0)).toSeq
      graft.ops.AhoCorasick.blocklistMatches(docs, phrases)
        .orderBy(col("doc_id"), col("phrase"))
    }),

    // Winnowing (MOSS) fingerprints aggregated per document: the
    // span-matching scheme with the ≥ w+k-1 shared-substring coverage
    // guarantee. Aggregated (count + xor + min-pos fp) so the oracle
    // pins every selected fingerprint without a million-row result.
    "q75_winnowing" -> ((s, dir) => {
      graft.ops.TextOps.winnowingFingerprints(t(s, dir, "documents"), k = 5, w = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          expr("bit_xor(fp)").as("xor_fps"),
          min(col("pos")).cast("long").as("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing MATCH PAIRS (full MOSS copy detection): pairs sharing
    // ≥ 50 selected fingerprints — the synthetic corpus shares phrase
    // vocabulary heavily, so low thresholds match template noise (95k
    // pairs at ≥3); 50 isolates the genuinely copied documents (13
    // pairs at sf0.01). Postings over 200 drop before any pair forms
    // (the lshCandidatePairs cap discipline, default-on WARN).
    "q76_span_matches" -> ((s, dir) =>
      graft.ops.TextOps.winnowingMatchPairs(t(s, dir, "documents"),
          k = 5, w = 4, minShared = 50, maxPostings = 200)
        .orderBy(col("a_id"), col("b_id"))),

    // Winnowing with the PRODUCTION gram hash (VERDICT r8 #1/#4): the
    // identical selection pipeline as q75 but hashing grams with
    // Spark's XXH64 instead of a per-position SHA-256 digest — the
    // 100 TB default. Oracled bit-exactly since r14: XXH64 on a
    // 10-byte gram is pure 64-bit lane arithmetic, replayed in DuckDB
    // as a generated HUGEINT CTE chain (winnowingXxOracle) — so the
    // production-default path is hash-checked like its q75 twin, and
    // its BENCH line still documents the sha→xx throughput gap.
    "q78_winnowing_fast" -> ((s, dir) => {
      graft.ops.TextOps.winnowingFingerprints(t(s, dir, "documents"),
          k = 5, w = 4, gramHash = "xx64")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          expr("bit_xor(fp)").as("xor_fps"),
          min(col("pos")).cast("long").as("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // Chunk-level dedup (the composition chunkDocs exists for):
    // boilerplate chunks shared ACROSS documents — per doc, how many
    // of its chunks also appear in another doc, and the total
    // cross-doc family count. Chunk-granular dedup catches repeated
    // headers/footers/templates that doc-level fingerprints miss. One
    // chunk fan-out + one md5-keyed window + one per-doc agg.
    "q84_chunk_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = graft.ops.TextOps.chunkDocs(t(s, dir, "documents"),
        chunkChars = 100, strideChars = 100)
      val fam = chunks.withColumn("n_docs_sharing",
        size(collect_set(col("doc_id")).over(Window.partitionBy(col("chunk_md5")))))
      fam.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_sharing") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
        .filter(col("n_shared_chunks") > 0)
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval top-k — the query side of q62's inverted index:
    // a fixed 4-term query ranked over the corpus with rational-idf
    // BM25 (k1=1.2, b=0.75). Every double op is IEEE +,*,/ and the
    // per-doc sum folds term weights in token order (the q83 fold
    // discipline), so the oracle reproduces scores bit-for-bit.
    "q86_bm25_topk" -> ((s, dir) =>
      graft.ops.Retrieval.bm25TopK(t(s, dir, "documents"),
          Seq("filter", "join", "spark", "vector"), topK = 20)
        .orderBy(col("score").desc, col("doc_id"))),

    // Crawl-frontier politeness scheduling (Mercator-style per-host
    // queues): each doc contributes one deterministic URL (the q51
    // fixture's example{0..6}.com family) with priority doc_id%13;
    // slot = rank within the URL's registered domain, so fetching in
    // (slot, domain) order interleaves domains instead of hammering
    // the currently-best one. The oracle derives the domain from the
    // fixture arithmetic (the q66 style) and replays the window.
    "q87_frontier" -> ((s, dir) => {
      val url = concat(lit("https://sub"), (col("doc_id") % 5).cast("string"),
        lit(".example"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"), col("doc_id").cast("string"))
      graft.ops.UrlOps.frontierSchedule(
          t(s, dir, "documents").select(col("doc_id"), url.as("url"),
            (col("doc_id") % 13).cast("long").as("priority")),
          col("url"), col("priority"))
        .orderBy(col("slot"), col("domain"), col("url"))
    }),

    // BPE tokenizer-training pair statistics: corpus → word-frequency
    // table → adjacent character pairs weighted by word count → top
    // 50 merge candidates. The whole computation after one corpus
    // scan is vocabulary-bounded (see TextOps.bpePairCounts).
    "q88_bpe_pairs" -> ((s, dir) =>
      graft.ops.TextOps.bpePairCounts(t(s, dir, "documents"), topK = 50)
        .orderBy(col("rank"))),

    // KMV distinct-cardinality sketch over document texts: k=64
    // smallest 60-bit portable hashes → (k-1)·2^60/h_k estimate, one
    // TakeOrdered and no corpus shuffle. withExact appends the true
    // distinct count so the estimate's error is visible in the output
    // (sf0.01: 500 distinct texts exercises the estimate branch;
    // sf0.001's 50 < k exercises the exact branch).
    "q89_kmv_distinct" -> ((s, dir) =>
      graft.ops.Sketch.kmvDistinct(t(s, dir, "documents"), col("text"),
        k = 64, withExact = true)),

    // k-anonymity gate on quasi-identifiers (lang, source, 100-char
    // size band): keep rows whose QI tuple is shared by >= 3 docs —
    // one count-only window exchange (at sf0.01 the gate genuinely
    // bites: 172 kept / 328 suppressed).
    "q90_k_anonymity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          floor(col("n_chars") / lit(100)).cast("long").as("len_band"))
      graft.ops.Pii.kAnonymityGate(d, Seq("lang", "source", "len_band"), k = 3)
        .select(col("doc_id"), col("lang"), col("source"), col("len_band"),
          col("group_size").cast("long").as("group_size"))
        .orderBy(col("doc_id"))
    }),

    // Per-group KMV cardinality (distinct texts per language) through
    // the custom KMinDistinct TypedImperativeAggregate — k-bounded
    // buffers map-side, ONE shuffle of <= k longs per group. k=128
    // exercises both branches at sf0.01: en has 218 distinct texts
    // (estimate), the other four languages < 128 (exact).
    "q91_kmv_by_lang" -> ((s, dir) =>
      graft.ops.Sketch.kmvDistinctBy(t(s, dir, "documents"), Seq("lang"),
          col("text"), k = 128)
        .orderBy(col("lang"))),

    // Robots-exclusion gate over the q87 URL fixture: per-domain rule
    // sets with nested prefixes (longest match decides), an
    // equal-length allow/disallow tie on example3.com (allow wins),
    // a blanket '/' disallow on example4.com, RFC 9309 wildcard rules
    // on example5.com ('*' span + trailing-'$' anchor, longest raw
    // pattern wins), and a rule-less domain (example6.com -> allowed,
    // NULL matched_prefix).
    "q92_robots_gate" -> ((s, dir) => {
      val url = concat(lit("https://sub"), (col("doc_id") % 5).cast("string"),
        lit(".example"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"), col("doc_id").cast("string"))
      val rules = s.createDataFrame(Seq(
        ("example0.com", "/p", false), ("example0.com", "/p1", true),
        ("example0.com", "/p12", false),
        ("example1.com", "/p", true), ("example1.com", "/p2", false),
        ("example2.com", "/p", false), ("example2.com", "/p4", true),
        ("example2.com", "/p44", false),
        ("example3.com", "/p7", true), ("example3.com", "/p7", false),
        ("example4.com", "/", false),
        ("example5.com", "/p*9$", false), ("example5.com", "/p1*2", false),
        ("example5.com", "/p", true)))
        .toDF("domain", "prefix", "allow")
      graft.ops.UrlOps.robotsGate(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")),
          rules, col("url"))
        .orderBy(col("id"))
    }),

    // l-diversity gate: same QI banding as q90 but coarser (lang x
    // size band), sensitive attribute = source; keep rows whose QI
    // group spans >= 3 distinct sources. Exercises the homogeneity
    // case k-anonymity misses.
    "q93_l_diversity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          floor(col("n_chars") / lit(100)).cast("long").as("len_band"))
      graft.ops.Pii.lDiversityGate(d, Seq("lang", "len_band"), "source", l = 3)
        .select(col("doc_id"), col("lang"), col("source"), col("len_band"),
          col("distinct_sensitive").cast("long").as("distinct_sensitive"))
        .orderBy(col("doc_id"))
    }),

    // PageRank (4 iterations, d=0.85) over a deterministic doc-link
    // graph (each doc i links to (2i+1)%N and (3i+7)%N — includes one
    // self-loop and in-degrees 0..3, so the teleport-only branch and
    // the variable-length fold both execute). exactFold pins the
    // per-node contribution sum to src order for the oracle.
    "q94_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cnt = docs.agg(count(lit(1)).as("cnt"))
      val withCnt = docs.select(col("doc_id")).crossJoin(broadcast(cnt))
      val edges = withCnt.select(col("doc_id").as("src"),
          ((col("doc_id") * 2 + 1) % col("cnt")).as("dst"))
        .unionByName(withCnt.select(col("doc_id").as("src"),
          ((col("doc_id") * 3 + 7) % col("cnt")).as("dst")))
      graft.ops.Graph.pageRank(docs.select(col("doc_id").as("id")), edges,
          iterations = 4, damping = 0.85, exactFold = true)
        .orderBy(col("id"))
    }),

    // BPE tokenization under a learned merge table (the apply side of
    // q88's training statistic): per-doc word/token counts with an
    // 8-merge fixture exercising hierarchical merges (t,h)->(th,e).
    // The expensive loop runs once per DISTINCT word; the oracle
    // replays each merge as two global string replaces in rank order
    // (see bpeEncodeWord's equivalence scaladoc).
    "q95_bpe_encode" -> ((s, dir) =>
      graft.ops.TextOps.bpeTokenCounts(t(s, dir, "documents"), bpeFixtureMerges)
        .orderBy(col("doc_id"))),

    // BPE tokenizer TRAINING (r15): learn 8 merges from the corpus —
    // driver-side loop, vocabulary-bounded executor counting, 1-row
    // collect per selection; output = the learned table + the
    // per-merge vocabulary-token trajectory (pins every intermediate
    // segmentation). Oracle = the unrolled gaps-and-islands replay.
    "q158_bpe_train" -> ((s, dir) =>
      graft.queries.BpeTrainQuery.run(s, dir)),

    // Kneser–Ney bigram low-probability gate (r15): properly-smoothed
    // LM quality signal with the d=3/4, τ=1/100 test cross-multiplied
    // into all-integer comparisons — exact on any engine. Model tables
    // are bigram-vocab-bounded; scoring joins key on v/w.
    "q162_kn_gate" -> ((s, dir) =>
      graft.ops.TextOps.knLowProbGate(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Per-language BPE tokenizer fertility (tokens per word): the
    // multilingual budget statistic, on the q95 merge fixture —
    // integer sums, one IEEE division per group.
    "q133_bpe_fertility" -> ((s, dir) =>
      graft.ops.TextOps.bpeFertility(t(s, dir, "documents"), bpeFixtureMerges)
        .orderBy(col("lang"))),

    // Contamination provenance: which eval doc (doc_id % 7 == 3) does
    // each remaining corpus doc overlap, and by how many distinct
    // 8-grams — the attribution report behind q43's binary flag.
    "q134_contamination_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.contaminationPairs(
          docs.filter(col("doc_id") % 7 =!= 3),
          docs.filter(col("doc_id") % 7 === 3))
        .orderBy(col("corpus_id"), col("eval_id"))
    }),

    // Fill-in-the-middle transform (Bavarian et al. 2022 PSM layout):
    // deterministic integer pivots, pure scan-stage projection; the
    // md5 over <PRE>prefix<SUF>suffix<MID>middle pins every boundary.
    "q140_fim_split" -> ((s, dir) =>
      graft.ops.TextOps.fimSplit(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Vocabulary coverage curve: minimal most-frequent-first vocab
    // size covering 50/90/95/99% of token occurrences — cumulative
    // sum as a parallel prefix sum, never a single-reducer window.
    "q141_vocab_coverage" -> ((s, dir) =>
      graft.ops.TextOps.vocabCoverage(t(s, dir, "documents"))),

    // Bloom-prefiltered decontamination: drop every doc whose text
    // appears in a reference set (texts of doc_id%10==3 — shared dup
    // texts mean MORE than those 50 rows drop). Bloom negatives pass
    // with zero exchange; positives verify through an exact anti-join,
    // so the oracle is plain NOT EXISTS.
    "q96_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 10 === 3).select(col("text"))
      graft.ops.BloomJoin.bloomAntiJoin(docs, ref, col("text"), col("text"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Content-defined chunking (FastCDC family): boundaries where the
    // 60-bit md5-prefix hash of the 8-gram ≡ 0 mod 256 — edit-shift
    // resilient chunk alignment for dedup-against-prior pipelines.
    // Unbounded mode (the oracle-replayable rule); min/max guards are
    // spec-pinned (stateful scan, not SQL-expressible).
    "q97_cdc_chunks" -> ((s, dir) =>
      graft.ops.TextOps.cdcChunks(t(s, dir, "documents"), k = 8, divisor = 256)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Bucketed-layout co-located join: lineitem and orders are written
    // once bucketed on the order key (8 buckets, pid-scoped tables
    // under target/spark-warehouse), then the revenue-per-priority
    // join+agg runs WITHOUT shuffling either side — the persisted
    // pre-shuffle that pays for itself on every later join at 100 TB.
    // Values equal the plain join's (layout never changes results),
    // which is what the oracle checks; LayoutBucketSpec pins the
    // zero-Exchange plan property.
    "q98_bucketed_join" -> ((s, dir) => {
      val pid = ProcessHandle.current().pid()
      val li = graft.ops.Layout.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_extendedprice"), col("l_discount")),
        s"q98_li_$pid", "l_orderkey", buckets = 8, sortCols = Seq("l_orderkey"))
      val o = graft.ops.Layout.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        s"q98_o_$pid", "o_orderkey", buckets = 8, sortCols = Seq("o_orderkey"))
      li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          dsum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 28, 6))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    // Exact corpus heavy hitters, two bounded passes: every token
    // holding > 1/200 of all token occurrences, with its EXACT count.
    // Pass 1 is the custom MisraGries TypedImperativeAggregate (k=400
    // counters map-side, one 1-row result — never a vocabulary-sized
    // exchange); pass 2 exact-counts only the <= k candidates behind a
    // codegen'd InSet. The MG superset guarantee + the exact integer
    // threshold make the output identical to the oracle's full
    // GROUP BY / HAVING answer (30 tokens at sf0.01).
    "q99_heavy_tokens" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      graft.ops.Sketch.heavyHitters(toks, col("token"), denom = 200)
        .select(col("item").as("token"), col("cnt"))
        .orderBy(desc("cnt"), col("token"))
    }),

    // DSIR importance scores (Xie et al. 2023) in exact fixed point:
    // hashed-bigram bucket counts for target (lang='en') vs raw (all
    // docs), per-bucket weight = difference of four fixLog2 integer
    // terms (floor(2^8·log2) by squaring — no float log anywhere), doc
    // score = Σ bucket weights over bigram occurrences. Weight table is
    // 4096 rows broadcast; counts partial-aggregate to bucket-bounded
    // rows; the oracle replays the identical integer recurrence.
    "q100_dsir_scores" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Importance.importanceScores(
          docs, docs.filter(col("lang") === "en"), "doc_id", "text",
          buckets = 4096)
        .orderBy(col("doc_id"))
    }),

    // t-closeness gate: same privacy family as q90/q93, catching the
    // skew leak both miss — keep rows whose QI group's source
    // distribution sits within EMD 1/16 of the corpus baseline. The
    // decision is pure integer cross-multiplication (DECIMAL(38,0)
    // products of counts); only the audit emd column divides, once,
    // as IEEE doubles. At sf0.01 the gate bites: 8/15 groups, 364/500
    // rows survive.
    "q101_t_closeness" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          floor(col("n_chars") / lit(200)).cast("long").as("len_band"))
      graft.ops.Pii.tClosenessGate(d, Seq("lang", "len_band"), "source",
          tNum = 1, tDen = 16)
        .select(col("doc_id"), col("lang"), col("source"), col("len_band"),
          col("group_n").cast("long").as("group_n"), col("emd"))
        .orderBy(col("doc_id"))
    }),

    // Hybrid retrieval via Reciprocal Rank Fusion: the q86 BM25 list
    // and a q12-style embedding top-20 (query = vec 0) fused by
    // rrf = Σ 1/(60+rank) — rank positions only, so the incomparable
    // score scales never need calibration. Every term is one IEEE
    // division of small ints folded in list-name order: bit-exact on
    // both engines. All post-retriever work is candidate-set sized.
    "q102_rrf_hybrid" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.ops.Retrieval.bm25TopK(docs,
          Seq("filter", "join", "spark", "vector"), topK = 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val sem = graft.ops.Ann.topKByDot(emb, emb.filter(col("vec_id") === 0), 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq("ann" -> sem, "bm25" -> lex), "doc_id",
          topK = 20)
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    // Per-group exact heavy hitters: tokens holding > 1% of each
    // language's token occurrences, exact counts. Pass 1 aggregates
    // k=200 MG counters per language; pass 2 probes the corpus against
    // the exploded candidate hashes via a broadcast join (corpus never
    // shuffles) and exact-counts the groups×k-bounded survivors.
    "q103_heavy_by_lang" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      graft.ops.Sketch.heavyHittersBy(toks, Seq("lang"), col("token"),
          denom = 100)
        .select(col("lang"), col("item").as("token"), col("cnt"),
          col("group_n").cast("long").as("group_n"))
        .orderBy(col("lang"), desc("cnt"), col("token"))
    }),

    // Edit-distance near-dup pairs on the normalized 64-char document
    // prefix (title-key shape): q-gram prefix filtering makes the
    // candidate set lossless, levenshtein verifies. The oracle pays
    // the length-banded all-pairs product the prefix filter avoids.
    // Keys are the operator's documented domain — HIGH-entropy short
    // strings (titles/URLs/ids), here 32-hex md5 keys with planted
    // near-dup triples: every 20th group of 3 consecutive docs shares
    // a group key, each member substituting 'z' at a distinct position
    // (pairwise dist exactly 2); everyone else gets a unique key. The
    // earlier 64-char word-soup-prefix fixture measured the DEGENERATE
    // regime (a ~15-char alphabet saturates any fixed q-gram space, so
    // posting lists grow with the corpus and candidates go quadratic —
    // 4.2x linear at the decade); the spec keeps that regime covered
    // at unit scale, the decade measures the designed one. q=6 over
    // hex: 16^6 gram space, dfs ~ cluster-sized.
    "q104_edit_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val grp = expr("doc_id DIV 3")
      val planted = grp % 20 === 0
      val pos = (col("doc_id") % 3) * 7 + 1
      val base = md5(concat(lit("g"), grp.cast("string")))
      val key = when(planted,
          concat(base.substr(lit(1), pos - 1), lit("z"),
            base.substr(pos + 1, lit(32) - pos)))
        .otherwise(md5(concat(lit("u"), col("doc_id").cast("string"))))
      graft.ops.Dedup.editNearDupPairs(
          docs.withColumn("key", key), col("key"), q = 6)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Source-pair vocabulary overlap matrix: per-source KMV sketches
    // (k=256 — every pairwise union fits below k at this SF, so the
    // whole matrix is in the operator's EXACT branch and the oracle is
    // plain COUNT DISTINCT set algebra over the same hash60 values).
    "q105_overlap_matrix" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      graft.ops.Sketch.overlapMatrix(toks, "source", col("token"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Exact phrase search over positional postings: docs containing
    // "table key" as CONSECUTIVE tokens, with match count and first
    // 0-based token position. Postings prune to the phrase vocabulary
    // inside the scan stage (the BM25 discipline, plus adjacency).
    "q106_phrase_search" -> ((s, dir) =>
      graft.ops.TextOps.phraseSearch(t(s, dir, "documents"), "table key")
        .orderBy(col("doc_id"))),

    // Dataset profile (SUMMARIZE-shape audit) of the documents table,
    // exact mode for the oracle; the 100 TB default swaps the exact
    // multi-distinct Expand for HLL++ (see Profile scaladoc).
    "q107_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"), exact = true)
        .orderBy(col("column"))),

    // Hilbert-curve layout keys over the same (user, hour) dims as
    // q80's Z-order: per 1024-key file bucket, the x/y bounding box —
    // the data-skipping envelope a 2-D range scan would prune against.
    // Native codegen'd hilbert_index; oracle = unrolled per-level CTEs.
    "q108_hilbert_layout" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("x", pmod(col("user_id"), lit(256L)).cast("long"))
        .withColumn("y",
          pmod(floor(unix_micros(col("ts")).cast("double") / 3.6e9).cast("long"),
            lit(256L)).cast("long"))
      ev.withColumn("hkey",
          graft.ops.Layout.hilbertKey(col("x"), col("y"), bits = 8))
        .withColumn("bucket", shiftright(col("hkey"), 10))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_events"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          min(col("hkey")).as("min_hkey"), max(col("hkey")).as("max_hkey"))
        .orderBy(col("bucket"))
    }),

    // Collocation mining: top-50 bigrams by independence lift
    // (n_ab·N/(n_a·n_b) — PMI ordering without the log, so the only
    // float op is an engine-identical IEEE division), min count 3.
    "q109_collocations" -> ((s, dir) =>
      graft.ops.TextOps.collocations(t(s, dir, "documents"),
        minCount = 3, topK = 50)),

    // Deterministic 90/5/5 split assignment: per (split, lang), count
    // + id-sum (the q33 exact-membership trick). The assignment is a
    // zero-shuffle projection; the aggregation is the checkable view.
    "q110_split_assign" -> ((s, dir) =>
      graft.ops.Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
          Seq(("train", 90), ("val", 5), ("test", 5)))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("split"), col("lang"))),

    // CDC apply (snapshotDiff's inverse): a three-batch change stream
    // with overlapping keys (edit, delete, rewrite — seq-ordered)
    // compacts to latest-per-key and merges into the snapshot. Text
    // reported as md5 so the payload check is exact but narrow.
    "q111_cdc_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def ch(cond: Column, seq: Int, op: String, text: Column) =
        docs.filter(cond).select(col("doc_id"), lit(seq).as("seq"),
          lit(op).as("op"), text.as("text"), col("lang"), col("source"),
          length(text).cast("long").as("n_chars"))
      val changes =
        ch(col("doc_id") % 7 === 1, 1, "upsert", concat(col("text"), lit(" v2-edit")))
          .unionByName(ch(col("doc_id") % 11 === 3, 2, "delete", lit(null).cast("string")))
          .unionByName(ch(col("doc_id") % 13 === 5, 3, "upsert",
            concat(lit("rewritten "), col("lang"))))
      graft.ops.Diff.applyChanges(docs, changes, "doc_id", seqCol = Some("seq"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // HITS hubs & authorities (2 iterations) over the same deterministic
    // doc-link graph as q94 — max-normalized (order-independent, so
    // bit-exact without a second fold), exactFold pins the neighborhood
    // sums to neighbor order for the oracle.
    "q112_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cnt = docs.agg(count(lit(1)).as("cnt"))
      val withCnt = docs.select(col("doc_id")).crossJoin(broadcast(cnt))
      val edges = withCnt.select(col("doc_id").as("src"),
          ((col("doc_id") * 2 + 1) % col("cnt")).as("dst"))
        .unionByName(withCnt.select(col("doc_id").as("src"),
          ((col("doc_id") * 3 + 7) % col("cnt")).as("dst")))
      graft.ops.Graph.hits(docs.select(col("doc_id").as("id")), edges,
          iterations = 2, exactFold = true)
        .orderBy(col("id"))
    }),

    // C4-style line cleaning (Raffel et al. §2.2) on a deterministic
    // lined fixture: every 5 words become a '.'-terminated line; docs
    // %3==0 punctuate their ragged tail too (exercising the minWords
    // rule independently of terminal punctuation); docs %13==0 carry a
    // '{' marker and drop whole. 'slow' stands in for C4's
    // 'javascript' banned line word on this vocabulary.
    "q113_c4_line_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lined = regexp_replace(col("text"),
        "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1.\n")
      val tailDot = when(col("doc_id") % 3 === 0, concat(lined, lit(".")))
        .otherwise(lined)
      val marked = when(col("doc_id") % 13 === 0, concat(tailDot, lit(" {")))
        .otherwise(tailDot)
      graft.ops.TextOps.c4LineClean(
          docs.withColumn("text", marked),
          minWords = 3, bannedLineWords = Seq("slow"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level duplicate-line removal (the C4 repeated-span rule at
    // line granularity) on the same 5-word lined fixture — the corpus's
    // shared dup texts guarantee cross-doc repeats; any line occurring
    // more than once corpus-wide is removed from every doc.
    "q114_dedup_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lined = regexp_replace(col("text"),
        "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1.\n")
      graft.ops.TextOps.dedupLines(docs.withColumn("text", lined))
        .orderBy(col("doc_id"))
    }),

    // Synchronous label propagation (3 iterations, min-label ties) on a
    // blocky fixture: each doc links to its block-of-10 center, blocks
    // chained weakly by one center-to-predecessor edge — LPA should
    // collapse each star onto its center label while the weak chain
    // exercises the tie-break.
    "q115_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id"))
      val stars = ids.select(col("doc_id").as("src"),
        (col("doc_id") - col("doc_id") % 10).as("dst"))
      val chain = ids.filter(col("doc_id") % 10 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
      graft.ops.Graph.labelPropagation(
          docs.select(col("doc_id").as("id")),
          stars.unionByName(chain), iterations = 3)
        .orderBy(col("id"))
    }),

    // Containment pairs (Broder's other similarity): corpus plus
    // synthetic 20-token "quote" docs (+1e6 ids) that embed verbatim in
    // their %17==2 sources — containment 1.0 where Jaccard is ~0.35,
    // exactly the case resemblance dedup misses. Integer 9/10 check on
    // full shingle sets; candidates from the rare-prefix filter at
    // n=5 word grams — the real-pipeline shingle width, and the
    // blocking-entropy knob: this corpus's tiny vocabulary makes
    // 3-gram dfs flat/correlated (prefix filtering degenerates), while
    // 5-gram dfs collapse to dup-cluster size.
    "q116_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
        x => length(x) > 0)
      val quotes = docs.filter(col("doc_id") % 17 === 2)
        .select((col("doc_id") + 1000000).as("doc_id"),
          array_join(slice(toks, 1, 20), " ").as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(quotes)
      graft.ops.Dedup.containmentPairs(corpus, nGram = 5,
          threshNum = 9, threshDen = 10)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Bounded-state quantile estimation: per-lang text-length
    // quartiles from the deterministic bottom-64-by-hash row sample —
    // WindowGroupLimit ships 64 rows per group per partition, and the
    // sample membership (hence the estimate) is a pure function of the
    // data, exactly replayable by the oracle.
    "q125_sample_quantiles" -> ((s, dir) =>
      graft.ops.Sketch.sampleQuantiles(
          t(s, dir, "documents").withColumn("len", length(col("text"))),
          "lang", col("len"), "doc_id", k = 64)
        .orderBy(col("lang"))),

    // Mixed-language detection: docs %3==0 get a 200-char German
    // stopword tail appended, so their later 200-char windows flip the
    // per-window LID — flagged with the sorted distinct guess set.
    "q124_mixed_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mixed = when(col("doc_id") % 3 === 0,
          concat(col("text"), repeat(lit(" der die das und ist"), 10)))
        .otherwise(col("text"))
      graft.ops.TextOps.mixedLanguageDocs(docs.withColumn("text", mixed))
        .orderBy(col("doc_id"))
    }),

    // Sorted-neighborhood blocking (Hernández & Stolfo): every doc
    // paired with its 3 successors in (normalized-40-char-prefix, id)
    // order — candidate volume exactly n·3 by construction, the
    // hot-bucket-immune member of the blocking family.
    "q122_snm_pairs" -> ((s, dir) =>
      graft.ops.Dedup.sortedNeighborPairs(t(s, dir, "documents"),
          graft.ops.TextOps.normalizedPrefix(col("text"), 40), window = 3)
        .orderBy(col("a_id"), col("b_id"), col("gap"))),

    // Per-source token entropy in exact fixed point: the corpus
    // datasheet's vocabulary-concentration statistic, every column an
    // exact integer under the native fix_log2 (floor(2^8 log2 x)).
    "q123_source_entropy" -> ((s, dir) =>
      graft.ops.TextOps.tokenEntropy(t(s, dir, "documents"))
        .orderBy(col("source"))),

    // Luhn-validated card detection: every doc carries a synthetic
    // 16-digit candidate (dashed 4x4 for %5 docs), check digit =
    // doc_id%10 so ~10% validate; %7 docs add a 15-digit near-miss the
    // \b-bounded pattern must NOT match. All-integer checksum.
    "q121_card_luhn" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = lpad(((col("doc_id") * 37137137L + 11) % 1000000000000000L)
        .cast("string"), 15, "0")
      val card16 = concat(base, (col("doc_id") % 10).cast("string"))
      val dashed = concat_ws("-", substring(card16, 1, 4),
        substring(card16, 5, 4), substring(card16, 9, 4),
        substring(card16, 13, 4))
      val cardStr = when(col("doc_id") % 5 === 0, dashed).otherwise(card16)
      val txt = concat(col("text"), lit(" card "), cardStr,
        when(col("doc_id") % 7 === 0, lit(" id 123456789012345"))
          .otherwise(lit("")), lit(" end"))
      graft.ops.Pii.cardStats(docs.withColumn("text", txt))
        .orderBy(col("doc_id"))
    }),

    // Proximity search (NEAR/12, unordered): docs where 'table',
    // 'scan' and 'fast' co-occur within 12 tokens, ranked by the exact
    // minimal span from the one-pass running-max sweep.
    "q120_proximity" -> ((s, dir) =>
      graft.ops.TextOps.proximitySearch(t(s, dir, "documents"),
          Seq("table", "scan", "fast"), maxSpan = 12)
        .orderBy(col("doc_id"))),

    // Personalized PageRank (TrustRank): teleport confined to the
    // %23==5 seed set on the q94 link fixture — rank flows outward
    // from seeds, non-seed sinks hold only propagated mass. 3
    // iterations, exactFold for the oracle.
    "q119_trustrank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cnt = docs.agg(count(lit(1)).as("cnt"))
      val withCnt = docs.select(col("doc_id")).crossJoin(broadcast(cnt))
      val edges = withCnt.select(col("doc_id").as("src"),
          ((col("doc_id") * 2 + 1) % col("cnt")).as("dst"))
        .unionByName(withCnt.select(col("doc_id").as("src"),
          ((col("doc_id") * 3 + 7) % col("cnt")).as("dst")))
      graft.ops.Graph.personalizedPageRank(
          docs.select(col("doc_id").as("id")), edges,
          docs.filter(col("doc_id") % 23 === 5).select(col("doc_id").as("id")),
          iterations = 3, damping = 0.85, exactFold = true)
        .orderBy(col("id"))
    }),

    // Multi-epoch mixture: budgets straddle the source sizes (800 /
    // 3000 / 5200 against ~2k-token sources), so all three regimes
    // execute — pure prefix, 1 epoch + fraction, 2 epochs + fraction.
    // repeat_count is emitted, never exploded.
    "q118_epoch_mixture" -> ((s, dir) => {
      val budgets = (0 until 10).map(i => s"src$i" -> (800L + 2200L * (i % 3))).toMap
      graft.ops.Mixing.epochMixture(
          t(s, dir, "documents"), budgets,
          tokensCol = graft.ops.TextOps.tokenCount(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("repeat_count")).cast("long").as("sum_repeats"),
          sum(col("repeat_count") * col("plan_tokens")).cast("long").as("planned_tokens"))
        .orderBy(col("source"))
    }),

    // Token-distribution drift between snapshot halves (even vs odd
    // doc_ids): top-50 tokens by the exact integer imbalance
    // |a·B − b·A| — the |a/A − b/B| ranking with no float anywhere.
    "q117_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextOps.tokenDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), k = 50)
    }),

    // Bitext-style margin scoring (Artetxe & Schwenk ratio margin):
    // edges of the capped kNN graph scored by 2·cos/(avgK(a)+avgK(b))
    // — the hubness-robust parallel-pair criterion. avgK folds the k
    // cosines in rank order with explicit zero-padded additions so the
    // oracle's double arithmetic is bit-identical.
    "q83_margin_pairs" -> ((s, dir) =>
      graft.ops.Ann.marginScores(t(s, dir, "embeddings"), k = 5, dim = 64)
        .orderBy(col("a_id"), col("b_id"))),

    // Full Gopher repetition-signal family (Rae et al. table A1):
    // per-doc integer numerators/denominator for the top-{2,3,4}-gram
    // and dup-{5,10}-gram character-fraction rules — one zero-shuffle
    // typed pass; every doc's exact signals under the hash gate.
    "q82_gopher_repetition" -> ((s, dir) =>
      graft.ops.TextOps.gopherRepetitionSignals(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // Snapshot diff (CDC between corpus versions): prior is derived
    // deterministically from the current snapshot so all three change
    // classes exist — doc_id%7==0 rows are absent from prior (added),
    // %5==0 of the rest carry a text mutation (changed), and a shifted
    // +1e6 key block exists only in prior (removed). Only (key, hash)
    // cross the full-outer shuffle; md5 here for the oracle, xxhash64
    // in production.
    "q79_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val hash = md5(concat_ws("\u0001",
        col("text"), col("lang"), col("source")).cast("binary"))
      val prior = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      graft.ops.Diff.snapshotDiff(d, prior, "doc_id", hash)
        .orderBy(col("doc_id"))
    }),

    // Z-order layout audit: Morton-interleave (user bucket × hour
    // bucket) at 8 bits each, then aggregate per zkey range — the
    // per-bucket min/max tightness in BOTH dims at once is the
    // data-skipping property the layout exists for (a single-column
    // sort only bounds its leading column). The interleave is a sum of
    // codegen'd shift/mask terms; the oracle carries the identical
    // term list via Layout.zOrderSql.
    "q80_zorder_layout" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("x", pmod(col("user_id"), lit(256L)).cast("long"))
        .withColumn("y",
          pmod(floor(unix_micros(col("ts")).cast("double") / 3.6e9).cast("long"),
            lit(256L)).cast("long"))
      ev.withColumn("zkey",
          graft.ops.Layout.zOrderKey(Seq(col("x"), col("y")), bits = 8))
        .withColumn("bucket", shiftright(col("zkey"), 10))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_events"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          min(col("zkey")).as("min_zkey"), max(col("zkey")).as("max_zkey"))
        .orderBy(col("bucket"))
    }),

    // Sliding-window doc chunking (long-doc training prep): 200-char
    // chunks at 150-char stride, every char covered, partial tail
    // kept. Pure codegen'd map fan-out — sequence/explode/substring —
    // zero shuffles before the final sort; chunk_md5 pins content.
    "q81_doc_chunks" -> ((s, dir) =>
      graft.ops.TextOps.chunkDocs(t(s, dir, "documents"),
          chunkChars = 200, strideChars = 150)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Stream-stream interval join, batch-equivalence pin (VERDICT r8
    // #8): the EXACT conversionJoin operator run on batch inputs —
    // Catalyst's EliminateEventTimeWatermark strips the watermark when
    // the child is non-streaming, so the join predicate under the hard
    // signal is the very one the streaming plan executes. Timestamps
    // emitted as epoch micros (the parquet precision) so the interval
    // boundary cannot be flipped by ns-vs-us truncation in the oracle.
    "q77_conversion_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventAnalytics.conversionJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("amount").cast("double").as("amount"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Incremental (recrawl) dedup: docs with doc_id % 3 == 0 play the
    // prior snapshot, the rest the fresh batch. The prior side reduces
    // to distinct fingerprints before the anti-join; batch-internal
    // dups collapse to their min-id representative in the same pass.
    "q74_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.dedupAgainstSnapshot(
          d.filter(col("doc_id") % 3 =!= 0),
          d.filter(col("doc_id") % 3 === 0))
        .orderBy(col("doc_id"))
    }),

    // Text analysis: per-language token/char statistics, all codegen'd
    // built-ins, tokenization chosen to be DuckDB-expressible.
    "q11_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(graft.ops.TextOps.tokenCount(col("text"))).cast("long").as("sum_tokens"),
             sum(col("n_chars")).cast("long").as("sum_chars"))
        .withColumn("avg_tokens",
          col("sum_tokens").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("lang"))
    }),

    // Similarity search baseline: exact top-10 by inner product for the
    // first 5 vectors; broadcast queries, one corpus scan, sums run
    // left-to-right in DOUBLE (bit-identical to the DuckDB oracle).
    "q12_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Ann.topKByDot(e, e.filter(col("vec_id") < 5), 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN recall@k: the q14 LSH index evaluated against the exact
    // cosine baseline on the same query set — per-query n_hits /
    // n_exact, each recall one small-integer division. The oracle
    // replays BOTH sides (the q14 plane CTE + an all-pairs exact rank)
    // and intersects them relationally.
    "q132_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Ann.recallAtK(e, e.filter(col("vec_id") < 5), k = 10, dim = 64)
        .orderBy(col("query_id"))
    }),

    // Near-dedup: minhash → banded LSH candidates → EXACT shingle-Jaccard
    // verify (integer comparison, J >= 1/2) — never all-pairs. The oracle
    // computes all-pairs exact Jaccard; equality holds because the exact
    // check filters candidates and the LSH miss probability at the
    // planted J>=0.9 is ~4e-8.
    "q13_near_dup_pairs" -> ((s, dir) =>
      graft.ops.Dedup.nearDupPairs(t(s, dir, "documents"))
        .orderBy(col("a_id"), col("b_id"))),

    // Benchmark decontamination: corpus docs sharing any word 8-gram
    // with the benchmark subset (doc_id % 7 == 3) — exploded-shingle
    // semi-join, never doc×doc. Emits exact contaminated membership.
    "q43_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.contaminatedIds(
          d.filter(col("doc_id") % 7 =!= 3),
          d.filter(col("doc_id") % 7 === 3), n = 8)
        .orderBy(col("doc_id"))
    }),

    // Contamination overlap SCORES (the ranked complement of q43's
    // binary membership): distinct 8-grams per corpus doc + how many
    // appear in the benchmark subset — all-integer, so a fraction
    // threshold compares exactly on any engine.
    "q59_contamination_scores" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.contaminationScores(
          d.filter(col("doc_id") % 7 =!= 3),
          d.filter(col("doc_id") % 7 === 3), n = 8)
        .orderBy(col("doc_id"))
    }),

    // Vocabulary construction (tokenizer-training prestep): top-100
    // corpus tokens by total occurrences with document frequencies,
    // ranked by the deterministic (occurrences DESC, token ASC) total
    // order. TakeOrderedAndProject, never a global sort.
    "q60_vocab_topk" -> ((s, dir) =>
      graft.ops.TextOps.vocabTopK(t(s, dir, "documents"), k = 100)),

    // Container-metadata triage (multimodal, no decode): deterministic
    // MP4/Matroska fixtures built executor-side by an independent
    // spec-layout writer, parsed back through the production
    // ContainerMeta box/EBML walk. Every field is an integer function
    // of doc_id the oracle re-derives — a wrong box offset, fixed-point
    // shift, or missed track breaks the hash.
    "q45_container_meta" -> ((s, dir) =>
      graft.queries.MultimodalQueries.containerMeta(s, dir)),

    // Keyframe byte-range planning (the step between q45's header
    // triage and frame decode): stss/stsz/stsc/stco tables as integer
    // functions of doc_id, resolved through the production sample→chunk
    // arithmetic; the oracle re-derives offsets with generate_series
    // over the same formulas.
    "q56_keyframe_index" -> ((s, dir) =>
      graft.queries.MultimodalQueries.keyframeIndex(s, dir)),

    // Compressed-audio frame-header triage (r15): MP3 / ADTS-AAC
    // sync-word walk with version/layer/bitrate/sample-rate tables,
    // ID3v2 syncsafe skip, junk-tolerant confirmed sync, CBR duration
    // estimate — the decide-what-to-decode pass for the audio family
    // with no pure-JDK decoder (q45's box/EBML walk, audio edition).
    "q157_audio_headers" -> ((s, dir) =>
      graft.queries.MultimodalQueries.audioHeaders(s, dir)),

    // Incremental lens maintenance under the hard signal (§2.6):
    // commit → full build → second commit updating/deleting/adding
    // subsets → INCREMENTAL build. Emits the final inverted index, the
    // hash-gated output versions (1 = posting set survived unchanged,
    // 2 = changed), and the actual map-invocation count of the
    // incremental build — which equals |updated|+|new| only if the
    // freshness gate re-maps changed paths and nothing else.
    "q44_incremental_lens" -> ((s, dir) =>
      graft.queries.IncrementalLensQuery.run(s, dir)),

    // Multi-process lens maintenance over the durable commit log
    // (r15): writer instance ingests, a maintainer instance drains
    // the log (full build, |corpus| map calls), the writer touches
    // doc_id % 13 == 2 (incremental drain, |subset| calls), then a
    // FRESH maintainer re-consumes the whole log — the at-least-once
    // storm — and the version gate absorbs it (0 calls, version
    // unmoved). Exact counters + the final index under the oracle.
    "q159_lens_maintainer" -> ((s, dir) =>
      graft.queries.MaintainerQuery.run(s, dir)),

    // Near-dup CLUSTER formation (survivor selection): connected
    // components over the q13 pair set via iterative min-label
    // propagation; cluster_id = min doc_id per component. The oracle
    // re-derives the exact pairs (q13's all-pairs Jaccard) and the
    // components with a recursive CTE.
    // SPARK_GRAFT_CHECKPOINT_DIR switches the convergence loop to
    // reliable Dataset.checkpoint() — unset (the default) it stays on
    // localCheckpoint. The multi-JVM CI check sets it so the
    // 1000-executor recovery path runs end-to-end, not just in spec.
    "q38_dup_clusters" -> ((s, dir) =>
      graft.ops.Dedup.dupClusters(
          graft.ops.Dedup.nearDupPairs(t(s, dir, "documents")),
          checkpointDir = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
        .orderBy(col("doc_id"))),

    // Survivor selection over near-dup clusters (the policy step after
    // q38): keep the highest-quality member per duplicate family —
    // (token count DESC, doc_id ASC), a deterministic total order. One
    // join + one partial-aggregating max(struct), no per-cluster sort.
    "q61_cluster_survivors" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = graft.ops.Dedup.dupClusters(graft.ops.Dedup.nearDupPairs(d))
      val quality = d.select(col("doc_id").cast("long"),
        graft.ops.TextOps.tokenCount(col("text")).cast("long").as("score"))
      graft.ops.Dedup.clusterSurvivors(clusters, quality)
        .orderBy(col("cluster_id"))
    }),

    // Inverted-index construction (retrieval side): token → df-banded,
    // tf-ranked, capped posting lists. The df band [3, 40] cuts hapax
    // noise AND stopword mega-postings before any list forms; the
    // posting cap (8, by tf DESC / id ASC) compiles to WindowGroupLimit
    // so a hot token ships 8 rows per map partition. postings is
    // window-rank ordered (array_sort over (rank, id) structs), never
    // collect_list arrival order.
    "q62_inverted_index" -> ((s, dir) =>
      graft.ops.TextOps.invertedIndex(t(s, dir, "documents"),
          minDf = 3, maxDf = 40, maxPostings = 8)
        .orderBy(col("token"))),

    // Reference-LM coverage gate (the integer-exact shape of CCNet
    // perplexity filtering): bigram model trained on the doc_id%5==0
    // slice (occurrence count >= 2), every other doc scored by how many
    // of its bigram occurrences the model knows; keep = coverage >= 3/5
    // compared in integer arithmetic.
    "q63_lm_hit_rate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextOps.lmHitRate(
          d.filter(col("doc_id") % 5 =!= 0),
          d.filter(col("doc_id") % 5 === 0),
          minCount = 2, keepNum = 3, keepDen = 5)
        .orderBy(col("doc_id"))
    }),

    // Temperature-scaled mixture (τ=2): per-source budgets derived as
    // totalBudget·floor(sqrt(tokens_s))/Σw — sqrt is IEEE-exact on both
    // engines, everything after it is integer arithmetic. Same
    // hash-order greedy-prefix admission as q48; sum_ids pins exact
    // membership, min(budget) pins the derived budget itself.
    "q64_temperature_mixture" -> ((s, dir) =>
      graft.ops.Mixing.temperatureMixture(
          t(s, dir, "documents"), totalBudget = 120000L,
          tokensCol = graft.ops.TextOps.tokenCount(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).cast("long").as("sum_tokens"),
          sum(col("doc_id")).cast("long").as("sum_ids"),
          min(col("__budget")).as("budget"))
        .orderBy(col("source"))),

    // Corpus-wide k-NN GRAPH (semantic clustering / SemDeDup prestep):
    // every vector's top-5 neighbors among any-table signature
    // collisions, capped buckets (the near-dup family bound), exact
    // bit-stable cosine, WindowGroupLimit top-k per node. The oracle
    // replicates the 64-plane bucketing AND the 500-cap, so the
    // candidate graph itself is pinned, not just the ranking.
    "q65_knn_graph" -> ((s, dir) =>
      graft.ops.Ann.knnGraph(t(s, dir, "embeddings"), k = 5, dim = 64)
        .orderBy(col("vec_id"), col("rank"))),

    // Hard-negative mining (contrastive-training prestep): top-5
    // most-similar neighbors in a DIFFERENT cluster, where the cluster
    // assignment is the table-0 signature bucket (deterministic and
    // oracle-replicable — the operator takes ANY (id, cluster) frame:
    // IVF cells, dup components, source labels). The cluster filter
    // runs on candidates BEFORE the top-k, so same-cluster twins can
    // never crowd the negative slots.
    "q67_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val clusters = graft.ops.Ann.multiSignatures(e, dim = 64)
        .filter(col("tbl") === 0)
        .select(col("vec_id"), col("bucket").as("cluster_id"))
      graft.ops.Ann.hardNegatives(e, clusters, k = 5, dim = 64)
        .orderBy(col("vec_id"), col("rank"))
    }),

    // Canonical-URL dedup (crawl-frontier recrawl suppression): a
    // deterministic URL zoo as a function of doc_id — scheme/host case,
    // default :443 vs explicit :8080, www., tracking params, fragments,
    // trailing slashes — canonicalized by the production regex pipeline
    // and grouped. The oracle derives each doc's expected canonical
    // form INDEPENDENTLY from the construction arithmetic (the
    // multimodal-fixture pattern), so a wrong strip order or missed
    // separator repair breaks the hash.
    "q66_canonical_url" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(
        lit("HTTPS://WWW.Site"), (id % 7).cast("string"), lit(".COM"),
        when(id % 3 === 0, ":443").when(id % 3 === 1, ":8080").otherwise(""),
        lit("/Article/"), (id % 13).cast("string"),
        when(id % 2 === 0,
          concat(lit("/?utm_source=feed&utm_campaign=x&ref="), (id % 4).cast("string")))
          .otherwise(lit("/")),
        when(id % 5 === 0, "#sec").otherwise(""))
      graft.ops.UrlOps.canonicalUrlGroups(
          t(s, dir, "documents").withColumn("url", url), col("url"))
        .orderBy(col("canonical_url"))
    }),

    // Quality-quantile gate: keep the top 3/10 of each source by doc
    // length — rank-based (exact kept-count per group), one
    // partition-by-source exchange, rank + group count in a single
    // WindowExec pass. All-integer.
    "q68_quality_quantile" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextOps.keepTopFraction(d, length(col("text")),
          keepNum = 3, keepDen = 10)
        .orderBy(col("source"), col("rank"))
    }),

    // Count-based LM prep (the canonical MapReduce workload): corpus
    // bigram counts, minCount-pruned, top-3 continuations per prefix
    // token by (count DESC, gram ASC). Map-side-combined gram counts;
    // the per-prefix top-k compiles to WindowGroupLimit.
    "q69_ngram_lm" -> ((s, dir) =>
      graft.ops.TextOps.ngramLm(t(s, dir, "documents"),
          n = 2, minCount = 2, k = 3)
        .orderBy(col("prefix"), col("rank"))),

    // Encoding-anomaly (mojibake) detection: markers planted as integer
    // functions of doc_id (the q45/q66 fixture pattern) — U+FFFD
    // replacement chars, UTF-8-as-Latin-1 lead chars (Ã©, â€™), a C0
    // control byte — then counted by the production codegen'd
    // projection; the oracle re-counts the same constructed strings
    // with RE2. A wrong char class or miscount breaks the hash.
    "q70_encoding_anomalies" -> ((s, dir) => {
      val id = col("doc_id")
      val marked = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(id % 11 === 0, lit(" cafÃ© itâ€™s")).otherwise(lit("")),
          when(id % 13 === 0, lit(" ��")).otherwise(lit("")),
          when(id % 17 === 0, lit(" \u0001end")).otherwise(lit(""))))
      graft.ops.TextOps.encodingAnomalies(marked).orderBy(col("doc_id"))
    }),

    // Quality-score features aggregated per source (LLM text analysis):
    // per-row double features are bit-identical across engines (same op
    // order), then decimal-cast before the sum so aggregation order
    // can't shift the result.
    "q17_text_quality" -> ((s, dir) => {
      val q = graft.ops.TextOps.qualityFeatures(col("text")).as("q")
      t(s, dir, "documents")
        .select(col("source"), q)
        .select(col("source"),
          col("q.punct_ratio").cast(DecimalType(18, 9)).as("pr"),
          col("q.digit_ratio").cast(DecimalType(18, 9)).as("dr"),
          col("q.mean_word_len").cast(DecimalType(18, 9)).as("mwl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("pr")).cast("double") / count(lit(1))).as("avg_punct_ratio"),
          (sum(col("dr")).cast("double") / count(lit(1))).as("avg_digit_ratio"),
          (sum(col("mwl")).cast("double") / count(lit(1))).as("avg_word_len"))
        .orderBy(col("source"))
    }),

    // Repetition-based quality filtering (the Gopher repeated-n-gram
    // rule family): per-source totals of bigram occurrences, duplicated
    // occurrences, and docs flagged at dup-fraction > 0.2 — the
    // threshold compares in INTEGER arithmetic (nd*5 > ng), so there is
    // no float boundary anywhere.
    "q41_repetition_quality" -> ((s, dir) => {
      // three-step: tokens materialized FIRST (the q25 CSE lesson — an
      // inline tokens() would re-split per n-gram), then the stats
      // struct, then its fields
      t(s, dir, "documents")
        .select(col("source"), graft.ops.TextOps.tokens(col("text")).as("toks"))
        .select(col("source"), graft.ops.TextOps.repetitionStats(col("toks")).as("r"))
        .select(col("source"), col("r.n_grams").as("ng"), col("r.n_dup").as("nd"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nd") * 5 > col("ng"), 1L).otherwise(0L)).as("n_flagged"),
          sum(col("ng")).cast("long").as("sum_grams"),
          sum(col("nd")).cast("long").as("sum_dup"))
        .orderBy(col("source"))
    }),

    // Token-budget sequence packing (training-batch formation): greedy
    // contiguous bins of ≤512 tokens per source shard, one parallel
    // window per shard, integer bin assignment.
    "q42_token_packing" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Packing.packByBudget(
          d.select(col("source"), col("doc_id"), col("text")),
          budget = 512L, shardCol = "source", orderCol = "doc_id",
          tokensCol = graft.ops.TextOps.tokenCount(col("text")))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("bin_tokens"))
        .orderBy(col("source"), col("bin"))
    }),

    // PII detection + redaction (the pre-training scrub stage):
    // deterministic PII fixtures — two emails, an E.164 phone, a
    // dotted-quad IP, all integer functions of doc_id — are appended to
    // every document IN THE QUERY (both engines build the identical
    // augmented text), then counted and globally redacted through the
    // production Pii rules. Emitting md5(redacted) makes the check
    // total: one unredacted occurrence, wrong sentinel, or non-global
    // replace breaks the hash. The fixture column is materialized in
    // its own projection first (the q25 CSE lesson) so the concat runs
    // once, not once per regex scan.
    "q46_pii_redaction" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or user"), col("doc_id").cast("string"),
        lit("@backup.example.org call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          graft.ops.Pii.stats(col("aug")).as("p"),
          md5(graft.ops.Pii.redact(col("aug"))).as("redact_md5"))
        .select(col("doc_id"),
          col("p.n_emails").cast("long").as("n_emails"),
          col("p.n_phones").cast("long").as("n_phones"),
          col("p.n_ips").cast("long").as("n_ips"),
          col("redact_md5"))
        .orderBy(col("doc_id"))
    }),

    // Substring-LEVEL dedup (exact-substring class): maximal runs of
    // word 8-grams occurring in ≥2 documents — which SPANS are copied,
    // not which docs. Hash-keyed gram count + membership join + one
    // per-doc island window; the oracle replicates gram → dup-set →
    // island arithmetic with string grams (the operator's xxhash64
    // shuffle key is exact absent a 64-bit collision, P≈|grams|²/2^65).
    "q47_dup_spans" -> ((s, dir) =>
      graft.ops.Dedup.duplicateSpans(t(s, dir, "documents"), n = 8)
        .orderBy(col("doc_id"), col("start_pos"))),

    // Exact-substring dedup, pairwise (Lee et al. 2021 class): maximal
    // duplicated CHARACTER spans >= 50 between doc pairs — stride-1
    // char-32-gram islands per (a, b, diagonal), char-exact verify,
    // char-exact extension across cap holes. The oracle replicates the
    // whole pipeline with string grams (the q47 hash-exactness
    // argument) including the extension scans.
    "q129_dup_substrings" -> ((s, dir) =>
      graft.ops.Dedup.dupSubstringPairs(t(s, dir, "documents"))
        .orderBy(col("a_id"), col("b_id"), col("a_start"), col("b_start"))),

    // Count-min sketch frequency estimates: the CMS grid as a partial-
    // aggregated groupBy (≤ depth·width rows cross any exchange), probe
    // estimates as the min over depth cells. Portable sha-prefix row
    // hashes → the oracle rebuilds the grid bit-for-bit; estimates are
    // integers (est >= true count, over only by collisions — width
    // 1024 against a ~20k vocabulary makes collisions REAL here, and
    // both engines agree on every collided cell).
    "q130_cms_freq" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(
        explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      val probes = docs.filter(col("doc_id") % 101 === 0)
        .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
        .distinct()
      graft.ops.Sketch.cmsFrequency(toks, col("token"), probes, "token",
          depth = 4, width = 1024)
        .orderBy(col("key"))
    }),

    // Hashed-feature linear quality score (fastText/CCNet class):
    // uni+bigram features, bucket-indexed integer milli-weights,
    // integer fold in feature order, ONE final IEEE division — all
    // inside the scan stage (zero shuffles in the op). The sha256
    // feature fold is the most CPU-dense map in the suite: its input is
    // spread (see graft.core.Parallelism).
    "q131_quality_score" -> ((s, dir) =>
      graft.ops.TextOps.hashedQualityScore(
          graft.core.Parallelism.spread(t(s, dir, "documents")))
        .orderBy(col("doc_id"))),

    // Corpus mixture construction (data mixing): per-source TOKEN
    // budgets (src0..src9, budget 1500 + 500·(i mod 3); the other ten
    // sources are absent from the spec and dropped), docs admitted as a
    // greedy prefix in portable content-hash order while cumulative
    // tokens fit. sum_ids pins exact membership (the q33 trick).
    "q48_token_mixture" -> ((s, dir) => {
      val budgets = (0 until 10).map(i => s"src$i" -> (1500L + 500L * (i % 3))).toMap
      graft.ops.Mixing.tokenBudgetMixture(
          t(s, dir, "documents"),
          budgets, tokensCol = graft.ops.TextOps.tokenCount(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).cast("long").as("sum_tokens"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("source"))
    }),

    // ---- The engine path with USER JAVASCRIPT as the map runtime:
    //      the same golden inverted index as q9, but the tokenizer is a
    //      JS lens body executed by graft.js.Interp (mapType
    //      'javascript' — the reference's native lens form). Same
    //      oracle as q9: one SQL statement checks both map runtimes. ----
    "q49_js_lens_token_index" -> ((s, dir) =>
      graft.queries.LensTokenIndex.runJs(s, dir)),

    // Unicode + whitespace normalization (the pre-dedup scrub): docs
    // with doc_id%3==0 get a deterministic dirty suffix — a BEL control
    // BETWEEN a base letter and its combining acute (so composition
    // only happens if controls strip FIRST), a combining ring, tabs and
    // double spaces. clean() = stripControls → NFC → collapseWhitespace;
    // md5(cleaned) makes the check total (one uncomposed char, one
    // surviving control, or a wrong rule order breaks the hash).
    "q50_normalize_clean" -> ((s, dir) => {
      val dirty = concat(col("text"),
        lit(" cafe\u0007\u0301\tA\u030A  fin"))
      val aug = when(col("doc_id") % 3 === 0, dirty).otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          graft.ops.Normalize.clean(col("aug")).as("cleaned"),
          col("aug"))
        .select(col("doc_id"),
          when(col("cleaned") =!= col("aug"), 1L).otherwise(0L).as("changed"),
          length(col("cleaned")).cast("long").as("clean_len"),
          md5(col("cleaned")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // URL → registered-domain corpus stats (domain-level curation):
    // every doc gets two deterministic URLs (7 example*.com and 3
    // assets*.net registered domains across the corpus); extraction,
    // host and domain parsing all run the production UrlOps regexes —
    // which the oracle executes VERBATIM (the Pii dialect rule).
    "q51_url_domains" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" see https://sub"), (col("doc_id") % 5).cast("string"),
        lit(".example"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"), col("doc_id").cast("string"),
        lit(" and http://cdn.assets"), (col("doc_id") % 3).cast("string"),
        lit(".net/x"), (col("doc_id") % 11).cast("string"))
      graft.ops.UrlOps.domainStats(
          t(s, dir, "documents").select(col("doc_id"), aug.as("aug")),
          col("aug"))
        .select(col("domain"), col("n_urls").cast("long").as("n_urls"),
          col("n_docs").cast("long").as("n_docs"))
        .orderBy(col("domain"))
    }),

    // HTML main-content extraction through the PRODUCTION markup
    // engine (S13 HtmlCodec.parse + §2.7 Markup.select/text at corpus
    // scale): each doc is wrapped in a full page — title, nav with
    // doc_id%4+1 links, <main> holding the text, footer — and the
    // extractor must recover the EXACT original text (md5-checked),
    // the link count, and the title, proving parse→select→text
    // round-trips byte-exactly while boilerplate is dropped.
    "q52_html_extract" -> ((s, dir) => {
      val navLinks = concat_ws("", transform(
        sequence(lit(0), (col("doc_id") % 4).cast("int")),
        i => concat(lit("<a href=\"/l"), i.cast("string"), lit("\">nav "),
          i.cast("string"), lit("</a>"))))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><nav>"), navLinks,
        lit("</nav><main id=\"main\"><p>"), col("text"),
        lit("</p></main><footer>boilerplate footer</footer></body></html>"))
      graft.ops.HtmlExtract.mainContent(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          idCol = "doc_id", htmlCol = "html")
        .select(col("doc_id"), md5(col("main_text")).as("main_md5"),
          col("n_links").cast("long").as("n_links"), col("title"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF keyword extraction with the FLOAT-FREE salience rank
    // (tf DESC, df ASC, token ASC — df ASC is idf DESC, so no log on
    // any engine): top-3 tokens ≥4 chars per document.
    "q53_keywords" -> ((s, dir) =>
      graft.ops.TextOps.topKeywords(
          t(s, dir, "documents"), idCol = "doc_id", textCol = col("text"),
          k = 3, minTokenLen = 4)
        .orderBy(col("doc_id"), col("rank"))),

    // Deterministic global training-order shuffle: content-hash
    // (shard, pos) addresses — the same portable sha256-prefix hash as
    // q33, so the oracle re-derives every address and the check pins
    // the full permutation, not just membership.
    "q54_corpus_shuffle" -> ((s, dir) =>
      graft.ops.Sampling.corpusShuffle(
          t(s, dir, "documents").select(col("doc_id")),
          idCol = "doc_id", shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))),

    // Corpus length statistics with EXACT percentiles (Spark's
    // sort-based `percentile` aggregate, not approx_percentile): at
    // quarter fractions over integer lengths the linear interpolation
    // is exact double arithmetic, so the hash matches quantile_cont.
    "q40_corpus_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), length(col("text")).as("len"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("len")).cast("long").as("len_min"),
          expr("percentile(len, 0.25)").as("len_p25"),
          expr("percentile(len, 0.5)").as("len_med"),
          expr("percentile(len, 0.75)").as("len_p75"),
          max(col("len")).cast("long").as("len_max"))
        .orderBy(col("source"))
    }),

    // ?at= incremental export through two real store commits — checks
    // hash-gated version arithmetic + the stub projection (S9/F2).
    "q15_at_export" -> ((s, dir) => graft.queries.StoreQueries.atExport(s, dir)),

    // Natural-order sort of digit-run ids against a relational oracle.
    "q16_natural_order" -> ((s, dir) => graft.queries.StoreQueries.naturalOrder(s, dir)),

    // The same two-commit version-arithmetic check through the
    // copy-on-write BUCKETED snapshot layout — only touched id-buckets
    // rewrite per commit; the oracle (identical to q15's) proves the
    // carried-forward buckets keep exact versions and data.
    "q22_at_export_bucketed" -> ((s, dir) =>
      graft.queries.StoreQueries.atExport(s, dir, buckets = Some(8))),

    // S3 point lookup: the q15 two-commit fixture, then per-id readRow
    // (pushed-predicate scan) for doc_id % 101 == 7 — versions AND
    // current values re-derived relationally by the oracle.
    "q126_point_lookup" -> ((s, dir) =>
      graft.queries.StoreQueries.pointLookup(s, dir)),

    // S6 meta-VFS: the /meta/system:system virtual collection read
    // through ReadPath over a catalog built from the documents table
    // (a dataset per lang, a lens per source), decoded and exploded —
    // the oracle re-derives the expected catalog listing.
    "q127_meta_vfs" -> ((s, dir) =>
      graft.queries.StoreQueries.metaVfsListing(s, dir)),

    // W9 cid:→hash:// rewrite at ingest: executor-side deep rewrite of
    // cid: references through the uploaded-files map, committed, read
    // back; the oracle recomputes the same sha256 URLs (q35 style).
    "q128_cid_rewrite" -> ((s, dir) =>
      graft.queries.StoreQueries.cidRewrite(s, dir)),

    // S10+S8 zip round trip: corpus → zip export (records/<id>.json) →
    // unzip → per-extension codec import into a second collection →
    // records. The oracle is the original table.
    "q135_zip_roundtrip" -> ((s, dir) =>
      graft.queries.StoreQueries.zipRoundTrip(s, dir)),

    // F1 recordID-filtered lens: input path addresses ONE record; the
    // map-invocation accumulator (= 1) rides every row as proof the
    // freshness scan filtered before the map.
    "q136_record_filter_lens" -> ((s, dir) =>
      graft.queries.StoreQueries.recordFilteredLens(s, dir)),

    // §2.4/S13 lens log+error capture as data: console logs and thrown
    // errors from the map are queryable per input after the build;
    // message content (incl. the token count) oracle-derived.
    "q142_lens_logs" -> ((s, dir) =>
      graft.queries.IncrementalLensQuery.lensLogs(s, dir)),

    // S12 change feed: one merge commit per lang, compaction, then the
    // durable log's batch view — event set + version numbering derived
    // from the corpus by the oracle.
    "q143_change_feed" -> ((s, dir) =>
      graft.queries.StoreQueries.changeFeedView(s, dir)),

    // S11 raw serving + W4 single writes over real HTTP: per-request
    // PUTs of string-rooted records, raw GETs must return the text
    // byte-for-byte with text/plain.
    "q146_raw_serving" -> ((s, dir) =>
      graft.queries.StoreQueries.rawServing(s, dir)),

    // W6 drop collection: per-lang datasets with committed data, the
    // first half dropped; liveness + catalog listing re-derived.
    "q148_drop_collection" -> ((s, dir) =>
      graft.queries.StoreQueries.dropCollections(s, dir)),

    // S13 codec matrix: the q135 round trip for yaml/cbor/msgpack/xml,
    // each over its quarter of the corpus — real-text round-trip
    // fidelity per codec under the hash.
    "q147_codec_matrix" -> ((s, dir) =>
      graft.queries.StoreQueries.codecMatrix(s, dir)),

    // §2.4 generator lens (r13): user-JS map built on function*/yield
    // — nested generator composition + for-of early exit per record —
    // through the full ingest → build → Set-union reduce path.
    "q149_generator_lens" -> ((s, dir) =>
      graft.queries.GeneratorLensQuery.run(s, dir)),

    // §2.4 async lens (r14): user-JS map built on async/await +
    // Promise.allSettled, with the ENTIRE output emitted from a .then
    // reaction after the body returns — pins drain-before-collect,
    // budget sharing through suspensions and worker reaping at corpus
    // scale (semantics pinned by JsAsyncSpec + the asyncgen.js sweep).
    "q150_async_lens" -> ((s, dir) =>
      graft.queries.AsyncLensQuery.run(s, dir)),

    // §2.4 async-GENERATOR lens (r14 wave 2): async function* +
    // for await with an early break driving the awaited
    // IteratorClose — the ran_to_end flag pins close-vs-completion.
    "q154_async_gen_lens" -> ((s, dir) =>
      graft.queries.AsyncLensQuery.runGen(s, dir)),

    // §2.4 async-generator yield* DELEGATION lens (r15): one outer
    // async function* threading all three protocols — sync-generator
    // inner (AsyncFromSyncIterator unwrap + completion value),
    // async-generator inner (request-by-request forwarding), and a
    // plain iterable with an awaited promise element.
    "q156_async_yield_star" -> ((s, dir) =>
      graft.queries.AsyncLensQuery.runDelegation(s, dir)),

    // §2.4 UNIQUE-SYMBOL lens (r15): symbol-keyed private annotation —
    // JSON hiding, getOwnPropertySymbols, identity, enumeration split
    // all pinned in the output string per document.
    "q160_symbol_lens" -> ((s, dir) =>
      graft.queries.AsyncLensQuery.runSymbols(s, dir)),

    // §3.3 ephemeral run-once lens: loan-pattern frame stream decodes
    // to q9's index; `dropped` pins the finally-delete contract.
    "q144_ephemeral_lens" -> ((s, dir) =>
      graft.queries.StoreQueries.ephemeralLens(s, dir)),

    // S4 readPath polymorphic LIST scan: dataset + explicit record
    // path + lens in one call; the record path duplicates its row
    // (readPath concatenates — dedup is the lens input rule).
    "q145_readpath_union" -> ((s, dir) =>
      graft.queries.StoreQueries.readPathUnion(s, dir)),

    // W5 tombstone delete: q15's fixture + a third merge commit
    // tombstoning doc_id % 9 == 4 — deleted ids absent, survivor
    // versions untouched, collection version bumped to 3.
    "q137_tombstone_delete" -> ((s, dir) =>
      graft.queries.StoreQueries.tombstoneExport(s, dir)),

    // W3 overwrite: three overwrite commits — full corpus, a third
    // dropped + a tenth rewritten, full corpus reinstated. Pins
    // drop-on-unmentioned, hash-gated version carry-over THROUGH a
    // full-collection rewrite, and reinstate-after-drop stamping the
    // new version (no old hash to match).
    "q152_overwrite" -> ((s, dir) =>
      graft.queries.StoreQueries.overwriteExport(s, dir)),

    // §2.6 lens-on-lens cascade: dataset → token-index lens → bucket
    // lens; incremental rebuild after q44's merge, with exact map-
    // invocation counts pinned at BOTH levels.
    "q138_lens_cascade" -> ((s, dir) =>
      graft.queries.CascadeLensQuery.run(s, dir)),

    // §2.6 DIAMOND cascade through the LensHub's parallel waves:
    // dataset → token lens → two mid bucket lenses → one sink reading
    // both. Pins that racing mid-lens commits neither under-build
    // (dropped event → stale sink) nor over-build (full re-map) the
    // sink: exact map-invocation counts at all four lenses.
    "q153_diamond_cascade" -> ((s, dir) =>
      graft.queries.DiamondLensQuery.run(s, dir)),

    // §2.5 reduce-lattice breadth: date-max, bigint-sum, recursive
    // map-merge, array-concat, recursive object-merge and mixed-type
    // last-wins — EVERY lattice branch — through the full distributed
    // ordered fold.
    "q139_reduce_lattice" -> ((s, dir) =>
      graft.queries.ReduceLatticeQuery.run(s, dir)),

    // REAL PCM audio decode (multimodal) under the hard signal:
    // deterministic integer-arithmetic WAVs generated executor-side,
    // decoded through javax.sound.sampled via Multimodal.audioFeatures,
    // per-window RMS loudness — exactly reproducible cross-engine (see
    // MultimodalQueries.audioDecode for the exactness argument).
    "q36_audio_decode" -> ((s, dir) =>
      graft.queries.MultimodalQueries.audioDecode(s, dir)),

    // REAL image decode (multimodal) under the hard signal: the same
    // construction as q36 over javax.imageio — deterministic PNGs,
    // production decode path, integer-exact luminance fingerprint.
    "q37_image_decode" -> ((s, dir) =>
      graft.queries.MultimodalQueries.imageDecode(s, dir)),

    // REAL MJPEG video-frame decode: keyframe byte-range planner (q56)
    // selects sync samples, javax.imageio (q37) decodes each sliced
    // JPEG, the q85 aHash fingerprints it — uniform 0/255 8×8 blocks
    // make every decoded hash bit equal the pattern bit despite the
    // lossy codec (DC-only blocks, 60+ units of threshold margin).
    "q151_mjpeg_frames" -> ((s, dir) =>
      graft.queries.MultimodalQueries.mjpegFrameHashes(s, dir)),

    // Perceptual-hash (aHash) image near-dup pairs over REAL decoded
    // pixels: planted near-duplicate families (pattern keyed by
    // doc_id % 29, one perturbed column), 16-bit band candidates —
    // never all-pairs — exact Hamming verify. Every hash bit is
    // integer arithmetic, so the oracle re-derives the full pipeline
    // from the fixture formula.
    "q85_image_phash" -> ((s, dir) =>
      graft.queries.MultimodalQueries.imagePHashPairs(s, dir)),

    // Distributed attachment GC (W8): content-addressed blob fixture +
    // one real commit, then gc() — executor-listed inventory, left-anti
    // join against exploded links, executor-side deletes. Emits the
    // post-GC filesystem inventory + deleted count, so over- AND
    // under-deletion both break the hash.
    "q35_attachment_gc" -> ((s, dir) =>
      graft.queries.StoreQueries.attachmentGc(s, dir)),

    // Approximate ANN under a HARD oracle: the hyperplanes are a fixed
    // seeded constant, so the DuckDB oracle embeds them as literal
    // DOUBLE[] arrays and replicates signature → multi-probe bucket join
    // → cosine rank exactly (deterministic end to end). Recall vs brute
    // force is additionally pinned in OpsSpec.
    "q14_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Ann.lshTopK(e, e.filter(col("vec_id") < 5), 10, dim = 64)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN: deterministic k-means coarse quantizer, nprobe cell scan.
    // The trained centroids are persisted next to the query output so the
    // oracle re-derives nearest-cell assignment + nprobe search
    // relationally from the exact same model (hard hash check).
    "q18_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      ivfLastSfDir = dir
      val model = graft.ops.Ivf.train(e, k = 16, iters = 3)
      // one writer, everyone waits: putIfAbsent elects the writer (two
      // concurrent overwrite jobs would share the _temporary staging
      // dir and could fail or corrupt each other), and the loser JOINS
      // the winner's future so no q18 returns before the oracle input
      // is durable; a failed write removes the entry (retry-able) and
      // propagates to both sides
      val fut = new java.util.concurrent.CompletableFuture[Void]()
      val prior = ivfCentroidsWrites.putIfAbsent(dir, fut)
      if (prior == null) {
        try {
          reapStaleCentroidDirs()
          graft.ops.Ivf.centroidsDF(s, model).coalesce(1)
            .write.mode("overwrite").parquet(ivfCentroidsPath(dir))
          fut.complete(null)
        } catch {
          case e: Throwable =>
            ivfCentroidsWrites.remove(dir, fut)
            fut.completeExceptionally(e)
            throw e
        }
      } else prior.join()
      graft.ops.Ivf.search(e, e.filter(col("vec_id") < 5), model, k = 10, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ANN (r15): 4×16 codebooks via the IVF Lloyd
    // per subspace, corpus encoded to 4 integer codes/vector, ADC
    // top-10 for the first five vectors — neighbor codes ride along as
    // integer witnesses of the encode step. Codebooks persist for the
    // oracle (the q18 contract).
    "q163_pq_ann" -> ((s, dir) =>
      graft.queries.PqQuery.run(s, dir)),

    // SimHash document fingerprints with the portable sha256-prefix
    // token hash (60 bits), so DuckDB reproduces every fingerprint
    // bit-for-bit — the hard-signal version of the SimHash operator.
    "q23_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.simhash(d,
          tokenHash = graft.ops.Dedup.portableTokenHash, nBits = 60)
        .orderBy(col("doc_id"))
    }),

    // Embedding-cosine near-duplicate pairs: sign-bucket join candidates
    // (never all-pairs) + exact cosine verify. Oracle replicates the
    // literal hyperplanes, bucket equality and the cosine op order.
    "q24_cosine_dup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Dedup.cosineNearDupPairs(e, threshold = 0.3, dim = 64)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // SemDeDup end-to-end (the composition the pieces exist for):
    // embedding-cosine near-dup pairs (q24's capped LSH machinery) →
    // connected components (q38's hybrid loop) → quality survivors
    // (q61's partial-agg pick, quality = token count of the id-aligned
    // document). One query proving the semantic-dedup pipeline
    // composes declaratively; the oracle chains the q24 signature CTE,
    // the component CTE, and the survivor window stage for stage.
    "q73_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pairs = graft.ops.Dedup.cosineNearDupPairs(e, threshold = 0.3, dim = 64)
      val clusters = graft.ops.Dedup.dupClusters(pairs, idCol = "vec_id")
      val quality = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("vec_id"),
        graft.ops.TextOps.tokenCount(col("text")).cast("long").as("score"))
      graft.ops.Dedup.clusterSurvivors(clusters, quality, idCol = "vec_id")
        .orderBy(col("cluster_id"))
    }),

    // Semantic decontamination: eval set = vec_id % 97 == 0, corpus =
    // the rest; corpus rows embedding-close (any-table signature
    // collision + exact cosine >= 0.3) to any eval row are flagged.
    // The oracle replicates the same signature bucketing, so the
    // approximate candidate set itself is pinned, not just the verify.
    "q58_semantic_decontaminate" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Dedup.semanticContaminatedIds(
          e.filter(col("vec_id") % 97 =!= 0),
          e.filter(col("vec_id") % 97 === 0),
          threshold = 0.3, dim = 64)
        .orderBy(col("vec_id"))
    }),

    // Language-ID confusion matrix: the stopword-hit heuristic guess
    // against the table's labeled lang. Pure codegen'd column
    // expressions; the oracle replicates hit counting and the
    // argmax-with-lexicographic-tie-break exactly.
    "q25_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // two-step: materialize the one-pass score struct behind an alias,
      // then argmax over its FIELDS — the fold runs once per row, not
      // once per field reference (TextOps.langScores scaladoc).
      d.select(col("lang"), graft.ops.TextOps.langScores(col("text")).as("sc"))
        .select(col("lang"), graft.ops.TextOps.guessFromScores(col("sc")).as("guess"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("guess"))
    }),

    // Rolling-hash document fingerprint (TextOps.docFingerprint) checked
    // by CONTRACT, not by value (xxhash64 has no DuckDB twin): per doc,
    // (a) the fingerprint must be invariant to punctuation/whitespace
    // mangling and (b) sensitive to token order. The oracle states the
    // same two predicates on the normalized token STRING — the engine
    // agrees iff fp(x)=fp(y) <=> norm(x)=norm(y) on this data, i.e. the
    // fingerprint is exactly the normalized-stream equivalence.
    "q26_fingerprint" -> ((s, dir) => {
      import graft.ops.TextOps
      val d = t(s, dir, "documents")
      val mangled = regexp_replace(col("text"), "[,\\.;:]", "  --  ")
      val reversedStream = concat_ws(" ", reverse(TextOps.tokens(col("text"))))
      // NULL text propagates NULL (concat_ws would otherwise fold a null
      // token array to "" and fingerprint it), matching the oracle's
      // NULL-comparison semantics
      def nullSafe(c: Column): Column =
        when(col("text").isNull, lit(null).cast("int")).otherwise(c)
      d.select(col("doc_id"),
          nullSafe((TextOps.docFingerprint(col("text")) === TextOps.docFingerprint(mangled))
            .cast("int")).as("punct_invariant"),
          nullSafe((TextOps.docFingerprint(col("text")) === TextOps.docFingerprint(reversedStream))
            .cast("int")).as("order_invariant"))
        .orderBy(col("doc_id"))
    }),

    // Skew-mitigated aggregation: the salted two-stage aggregate must be
    // value-identical to a plain GROUP BY (decimal measures are exact, so
    // salt-split partials recombine losslessly) — the oracle IS the plain
    // GROUP BY. l_returnflag has 3 hot keys over all of lineitem: the
    // canonical funnel-through-3-reducers shape salting exists for.
    "q27_skew_salted" -> ((s, dir) => {
      import graft.ops.Skew
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), dec(col("l_quantity"), 18, 2).as("qty"))
      Skew.saltedAggregate(li, Seq("l_returnflag"), salts = 8,
          Seq(Skew.Measure("qty", "sum", "sum_qty"),
              Skew.Measure("qty", "count", "n_rows"),
              Skew.Measure("qty", "max", "max_qty")))
        .select(col("l_returnflag"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("n_rows"),
          col("max_qty").cast("double").as("max_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Sliding event-time windows IN BATCH — the exact `window()` operator
    // the streaming path (EventAnalytics.windowedStats) runs, so the
    // streaming aggregation semantics get a relational hard signal. Each
    // event lands in size/slide = 2 windows; the oracle replicates that
    // as a two-bucket UNION ALL. Window starts emitted as epoch seconds
    // (whole multiples of 1800 — exact in both engines).
    "q28_sliding_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             dsum(dec(col("value"), 18, 4)).as("sum_value"))
        .select(col("w.start").cast("long").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // BPE-ish pre-tokenizer counts (token-budget estimation): the same
    // lookahead-free GPT-2-style pattern runs under java.util.regex here
    // and RE2 in the oracle; identical leftmost-first alternation makes
    // the counts match exactly.
    "q29_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(graft.ops.TextOps.bpeTokenCount(col("text"))).cast("long")
               .as("sum_bpe_tokens"))
        .orderBy(col("lang"))
    }),

    // As-of join (AsOf.asofJoin): each purchase attributed to the user's
    // latest click at-or-before it. One shuffle on user_id + one ordered
    // window pass — never a range join. Timestamps compared as integral
    // micros on both engines so nanos-vs-micros truncation cannot flip
    // an ordering at the boundary.
    "q30_asof_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), col("event_id").as("click_id"))
      graft.ops.AsOf.asofJoin(purchases, clicks, Seq("user_id"),
          leftTs = "us", rightTs = "us",
          rightPayload = Seq("click_id"), tieCol = "click_id")
        .select(col("event_id"), col("user_id"),
          col("us").as("purchase_us"), col("asof_click_id"))
        .orderBy(col("event_id"))
    }),

    // Batch sessionization (EventAnalytics.sessionizeBatch): 30-min-gap
    // user sessions over the events table — the relational twin of the
    // streaming flatMapGroupsWithState sessionizer, same gap boundary
    // semantics, now under the hard signal.
    "q39_sessionize_batch" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("us"), col("event_id"))
      graft.streaming.EventAnalytics.sessionizeBatch(ev, gapUs = 1800000000L)
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // Session transcript assembly (dialog-sequence prep): q39's session
    // derivation + per-session ordered event-type concatenation —
    // array_sort inside the agg pins the order, collect_list arrival
    // order never escapes.
    "q71_session_transcripts" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      graft.streaming.EventAnalytics.sessionTranscripts(ev, gapUs = 1800000000L)
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // Semi-structured extraction at scale (schema-on-read): the props
    // JSON column's integer field pulled with get_json_object (codegen,
    // no UDF), aggregated per event type — all-integer outputs.
    "q72_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          countDistinct(col("k")).as("distinct_k"))
        .orderBy(col("event_type"))),

    // Banded range join (RangeJoin.followingPairs): events following a
    // signup within 1h by the same user. Two-bucket bin probe + exact
    // range filter — never the per-key cartesian Spark would plan for a
    // raw theta join.
    "q31_range_follow" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", unix_micros(col("ts")))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("us"))
      val others = ev.select(col("user_id"), col("us"), col("event_id").as("eid"))
      graft.ops.RangeJoin.followingPairs(signups, others, Seq("user_id"),
          leftTs = "us", rightTs = "us", windowUs = 3600000000L,
          payload = Seq("eid"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_follow"))
        .orderBy(col("event_id"))
    }),

    // The operators composed as a corpus-curation PIPELINE: quality gate
    // (cheap codegen'd filters first) → language-consistency gate →
    // exact-dedup survivors → per-language doc count + BPE token budget.
    // Every stage decision lands in the two output numbers, so the hash
    // pins the whole chain. (On this synthetic corpus only `en` survives
    // the label-agreement gate — the labeled non-English docs are
    // English-word soup, which the guesser correctly calls `en`.)
    "q32_corpus_curation" -> ((s, dir) => {
      import graft.ops.TextOps
      val d = t(s, dir, "documents")
      val gated = d
        .select(col("doc_id"), col("lang"), col("text"),
          TextOps.qualityFeatures(col("text")).as("q"))
        .filter(col("q.n_tokens") >= 30 && col("q.punct_ratio") <= 0.10)
      // guess must be PROJECTED (single reference) before the filter:
      // filtering on guessFromScores(col("sc")) directly lets predicate
      // pushdown inline the sc alias into the scan-stage Filter 8x —
      // FilterExec has no subexpression elimination (the q25 lesson,
      // round-3 self-review finding)
      val consistent = gated
        .select(col("doc_id"), col("lang"), col("text"),
          TextOps.langScores(col("text")).as("sc"))
        .select(col("doc_id"), col("lang"), col("text"),
          TextOps.guessFromScores(col("sc")).as("guess"))
        .filter(col("guess") === col("lang"))
      val survivors = consistent
        .withColumn("fp", TextOps.fingerprint(col("text")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      survivors.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(TextOps.bpeTokenCount(col("text"))).cast("long").as("bpe_budget"))
        .orderBy(col("lang"))
    }),

    // int8 embedding quantization: floor(x·scale + 0.5) is exact IEEE in
    // both engines (round() half-cases are not), so every quantized code
    // is reproduced bit-for-bit by the oracle; the per-vector stats pin
    // all 64 codes per row.
    "q34_quantize_int8" -> ((s, dir) => {
      graft.ops.Quantize.int8(t(s, dir, "embeddings"))
        .select(col("vec_id"),
          aggregate(col("q8"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q8")).as("q_min"),
          array_max(col("q8")).as("q_max"))
        .orderBy(col("vec_id"))
    }),

    // Deterministic stratified sampling: ≤50 docs per language chosen by
    // portable id-hash order — membership is content-addressed, so the
    // sample survives reruns and repartitions (what df.sample cannot
    // give). sum(doc_id) pins the EXACT membership in the hash check.
    "q33_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(
          t(s, dir, "documents"), stratumCol = "lang", idCol = "doc_id",
          perStratum = 50)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // Paragraph-level corpus dedup: four word-slice paragraphs per doc,
    // with GLOBAL boilerplate planted into slot 2 (doc_id % 4 == 0) and
    // slot 3 (doc_id % 6 == 0) — every occurrence after the globally
    // first (by doc_id, position) must drop, and kept_md5 pins each
    // doc's surviving text byte-for-byte.
    "q57_paragraph_dedup" -> ((s, dir) => {
      val words = split(col("text"), " ")
      def para(start: Int) = array_join(slice(words, start, 15), " ")
      val p1 = para(1)
      val p2 = when(col("doc_id") % 4 === 0,
        lit("subscribe to our newsletter for weekly updates and offers"))
        .otherwise(para(16))
      val p3 = when(col("doc_id") % 6 === 0,
        lit("all rights reserved unauthorized reproduction is prohibited"))
        .otherwise(para(31))
      val p4 = para(46)
      val aug = concat_ws("\n\n", p1, p2, p3, p4)
      graft.ops.Dedup.paragraphDedup(
          t(s, dir, "documents").select(col("doc_id"), aug.as("aug")),
          idCol = "doc_id", textCol = "aug")
        .orderBy(col("doc_id"))
    }),

    // Per-domain document cap (crawl curation): one synthetic URL per
    // doc — a third land on PSL multi-label domains (shopK.co.uk, the
    // case a naive last-two-labels cap collapses into one bucket) —
    // then UrlOps.capPerDomain keeps the 10 hash-first docs per
    // registered domain. WindowGroupLimit map-side top-k is the skew
    // story (see the operator's scaladoc); the portable hash makes the
    // kept SET itself the oracle check, not just counts.
    "q55_domain_cap" -> ((s, dir) => {
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("https://host"), (col("doc_id") % 4).cast("string"),
            lit(".shop"), (col("doc_id") % 5).cast("string"), lit(".co.uk/x")))
        .otherwise(concat(lit("https://sub"), (col("doc_id") % 5).cast("string"),
          lit(".example"), (col("doc_id") % 7).cast("string"),
          lit(".com/p"), col("doc_id").cast("string")))
      graft.ops.UrlOps.capPerDomain(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")),
          col("url"), cap = 10, idCol = "doc_id")
        .select(col("doc_id"),
          graft.ops.UrlOps.registeredDomain(col("url")).as("domain"))
        .orderBy(col("domain"), col("doc_id"))
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_brand_volume" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_orders_with_big_lines" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_customers_without_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders WHERE o_custkey % 100 = 0) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q7_active_nations" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |) ORDER BY nationkey""".stripMargin,
    "q8_events_daily" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q9_lens_token_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''
        |)
        |SELECT tok AS token, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q20_intersect" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q21_except" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |EXCEPT
        |SELECT CAST(s_nationkey AS INT) FROM supplier WHERE s_acctbal > 5000
        |ORDER BY nationkey""".stripMargin,
    "q10_dedup_exact" ->
      """SELECT sha256(substring(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), 1, 100)) AS fp,
        |  count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q161: identical variant injection + identical skeleton translate
    // chain (tables embedded verbatim, generated by ConfusableQuery).
    "q161_confusable_dedup" -> graft.queries.ConfusableQuery.oracleSql,

    // q155: the same corpus-derived phrase list, then every position i
    // where a 12-char window equals a phrase — occurrence counts with
    // overlaps and the first start position, per (doc, phrase).
    "q155_blocklist" ->
      """WITH ph AS (
        |  SELECT DISTINCT substring(text, 10, 12) AS phrase
        |  FROM documents
        |  WHERE doc_id % 97 = 3 AND length(substring(text, 10, 12)) = 12),
        |m AS (
        |  SELECT d.doc_id, ph.phrase, i
        |  FROM documents d,
        |       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 11, 0))) AS i),
        |       ph
        |  WHERE substring(d.text, i, 12) = ph.phrase)
        |SELECT doc_id, phrase, count(*)::BIGINT AS n_matches,
        |  CAST(min(i) AS BIGINT) AS first_pos
        |FROM m GROUP BY 1, 2 ORDER BY doc_id, phrase""".stripMargin,
    // q75: the same gram-hash → rightmost-min window → full-window
    // filter → distinct pipeline in DuckDB; struct min gives the same
    // (hash, -pos) tie-break.
    "q75_winnowing" ->
      """WITH g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(sha256(substring(text, i, 5)), 1, 15))::BIGINT AS h
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i)),
        |sel AS (
        |  SELECT doc_id, pos,
        |    min({'h': h, 'np': -pos})
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, m.h AS fp, -m.np AS pos
        |  FROM sel WHERE pos <= ng - 3)
        |SELECT doc_id, count(*)::BIGINT AS n_fps,
        |  bit_xor(fp)::BIGINT AS xor_fps,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q76: q75's fps CTE + the posting cap + the pair join — shared
    // counts pinned exactly.
    "q76_span_matches" ->
      """WITH g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(sha256(substring(text, i, 5)), 1, 15))::BIGINT AS h
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i)),
        |sel AS (
        |  SELECT doc_id, pos,
        |    min({'h': h, 'np': -pos})
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, m.h AS fp FROM sel WHERE pos <= ng - 3),
        |ok AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS psz FROM fps)
        |  WHERE psz <= 200)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS n_shared
        |FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 50
        |ORDER BY a_id, b_id""".stripMargin,

    // q78: the q75 selection with the gram hash replaced by a
    // generated bit-exact XXH64 replay (see winnowingXxOracle).
    "q78_winnowing_fast" -> winnowingXxOracle,

    // q82: the same tokenizer, the same (count, char-contrib, gram)
    // tie-break via row_number, the same ≥2-count dup sum — five gram
    // sizes, each a count-group + window block.
    "q82_gopher_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN 0
        |         ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT)
        |              + len(toks) - 1 END AS den,
        |    toks FROM tok),
        |g2 AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS g FROM base) GROUP BY 1, 2),
        |g3 AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM base) GROUP BY 1, 2),
        |g4 AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g FROM base) GROUP BY 1, 2),
        |g5 AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS g FROM base) GROUP BY 1, 2),
        |g10 AS (SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 9),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8] || ' ' || toks[i+9])) AS g FROM base) GROUP BY 1, 2),
        |top2 AS (SELECT doc_id, c * len(g) AS num FROM (
        |  SELECT doc_id, c, g, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, c * len(g) DESC, g DESC) AS rn FROM g2) WHERE rn = 1),
        |top3 AS (SELECT doc_id, c * len(g) AS num FROM (
        |  SELECT doc_id, c, g, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, c * len(g) DESC, g DESC) AS rn FROM g3) WHERE rn = 1),
        |top4 AS (SELECT doc_id, c * len(g) AS num FROM (
        |  SELECT doc_id, c, g, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, c * len(g) DESC, g DESC) AS rn FROM g4) WHERE rn = 1),
        |dup5 AS (SELECT doc_id, CAST(sum(c * len(g)) AS BIGINT) AS num
        |  FROM g5 WHERE c >= 2 GROUP BY 1),
        |dup10 AS (SELECT doc_id, CAST(sum(c * len(g)) AS BIGINT) AS num
        |  FROM g10 WHERE c >= 2 GROUP BY 1)
        |SELECT b.doc_id, CAST(b.den AS BIGINT) AS den,
        |  CAST(COALESCE(top2.num, 0) AS BIGINT) AS top2_num,
        |  CAST(COALESCE(top3.num, 0) AS BIGINT) AS top3_num,
        |  CAST(COALESCE(top4.num, 0) AS BIGINT) AS top4_num,
        |  CAST(COALESCE(dup5.num, 0) AS BIGINT) AS dup5_num,
        |  CAST(COALESCE(dup10.num, 0) AS BIGINT) AS dup10_num
        |FROM base b
        |LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
        |LEFT JOIN top4 USING (doc_id) LEFT JOIN dup5 USING (doc_id)
        |LEFT JOIN dup10 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q79: the same derived prior (drop %7, mutate %5, shift %11 keys)
    // and the same chr(1)-joined md5; USING(doc_id) coalesces the key
    // across the full outer join exactly like the Spark side's Seq key.
    "q79_snapshot_diff" ->
      """WITH cur AS (
        |  SELECT doc_id, md5(concat_ws(chr(1), text, lang, source)) AS h
        |  FROM documents),
        |pri AS (
        |  SELECT doc_id,
        |    md5(concat_ws(chr(1),
        |      CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END,
        |      lang, source)) AS h
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(concat_ws(chr(1), text, lang, source))
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id,
        |  CASE WHEN p.h IS NULL THEN 'added'
        |       WHEN c.h IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  c.h AS cur_hash, p.h AS prior_hash
        |FROM cur c FULL OUTER JOIN pri p USING (doc_id)
        |WHERE c.h IS NULL OR p.h IS NULL OR c.h <> p.h
        |ORDER BY doc_id""".stripMargin,

    // q80: identical quantization and the IDENTICAL interleave term
    // list (generated by the same Layout.zOrderSql the scaladoc pins).
    "q80_zorder_layout" ->
      s"""WITH e AS (
         |  SELECT user_id % 256 AS x,
         |    ((epoch_ns(ts) // 1000) // 3600000000) % 256 AS y
         |  FROM events),
         |z AS (
         |  SELECT x, y, ${graft.ops.Layout.zOrderSql(Seq("x", "y"), 8)} AS zkey
         |  FROM e)
         |SELECT zkey >> 10 AS bucket, count(*) AS n_events,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y,
         |  min(zkey) AS min_zkey, max(zkey) AS max_zkey
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    // q81: generate_series over the same closed-form chunk count, same
    // 1-based substring windows, md5 pins every chunk's content.
    "q81_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |c AS (
        |  SELECT doc_id, i AS chunk_idx, i * 150 + 1 AS start_pos,
        |    substring(text, CAST(i * 150 + 1 AS INTEGER), 200) AS chunk
        |  FROM d, LATERAL (SELECT unnest(generate_series(0,
        |    CAST(floor((greatest(n - 200, 0) + 149) / 150) AS BIGINT))) AS i))
        |SELECT doc_id, chunk_idx, CAST(start_pos AS BIGINT) AS start_pos,
        |  CAST(length(chunk) AS BIGINT) AS chunk_chars, md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // q77: the same per-user (0, 1h] interval predicate in micros; the
    // equi-key (user_id) carries the join, the interval is the filter —
    // identical shape to the streaming state-bounding condition.
    "q77_conversion_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_ns(c.ts) // 1000 AS click_us,
        |  epoch_ns(p.ts) // 1000 AS purchase_us,
        |  CAST(p.value AS DOUBLE) AS amount
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND epoch_ns(p.ts) // 1000 > epoch_ns(c.ts) // 1000
        | AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q74_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    sha256(substring(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), 1, 100)) AS fp
        |  FROM documents),
        |fresh AS (
        |  SELECT fp, CAST(min(doc_id) AS BIGINT) AS doc_id,
        |    count(*)::BIGINT AS n_batch_dups
        |  FROM fp WHERE doc_id % 3 <> 0 GROUP BY fp),
        |prior AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0)
        |SELECT doc_id, fp, n_batch_dups
        |FROM fresh WHERE NOT EXISTS (SELECT 1 FROM prior WHERE prior.fp = fresh.fp)
        |ORDER BY doc_id""".stripMargin,

    "q11_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS DOUBLE) / count(*) AS avg_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id
        |FROM (SELECT q.query_id, e.vec_id,
        |        row_number() OVER (PARTITION BY q.query_id
        |          ORDER BY list_dot_product(e.emb, q.qemb) DESC, e.vec_id) AS rn
        |      FROM e JOIN q ON e.vec_id <> q.query_id) t
        |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    "q13_near_dup_pairs" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-2, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |    FROM documents)
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(a.sh || b.sh))
        |  AND len(list_distinct(a.sh || b.sh)) > 0
        |ORDER BY 1, 2""".stripMargin,
    // q43: same shingle idiom at n=8; contaminated = corpus ids whose
    // distinct-gram set intersects the benchmark's gram set.
    "q43_decontaminate" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-7, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |           || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |    FROM documents)),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 7 = 3),
        |corp AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 7 <> 3)
        |SELECT DISTINCT doc_id FROM corp WHERE g IN (SELECT g FROM bench)
        |ORDER BY doc_id""".stripMargin,
    "q59_contamination_scores" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-7, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |           || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |    FROM documents)),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 7 = 3),
        |corp AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 7 <> 3),
        |base AS (SELECT doc_id, len(sh)::BIGINT AS n_grams FROM s
        |         WHERE doc_id % 7 <> 3 AND len(sh) > 0),
        |hits AS (SELECT doc_id, count(*)::BIGINT AS n_hit FROM corp
        |         WHERE g IN (SELECT g FROM bench) GROUP BY doc_id)
        |SELECT base.doc_id, n_grams, coalesce(n_hit, 0)::BIGINT AS n_hit
        |FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
        |ORDER BY base.doc_id""".stripMargin,

    "q60_vocab_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        |  FROM documents),
        |agg AS (
        |  SELECT token, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |         count(*)::BIGINT AS n_occurrences
        |  FROM tok GROUP BY token)
        |SELECT row_number() OVER (ORDER BY n_occurrences DESC, token)::BIGINT AS rank,
        |       token, n_docs, n_occurrences
        |FROM agg ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin,

    // q45: the fixture plants integer header fields as functions of
    // doc_id; the oracle recomputes them relationally. The engine side
    // must recover them by actually parsing the container bytes.
    "q45_container_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'mkv' ELSE 'mp4' END AS container,
        |  CASE WHEN doc_id % 5 = 0 THEN 'matroska' ELSE 'isom' END AS brand,
        |  CASE WHEN doc_id % 5 = 0 THEN 2000 + doc_id % 7000
        |       ELSE 1000 + doc_id % 9000 END AS duration_ms,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 2
        |       ELSE 1 + doc_id % 3 END AS n_tracks,
        |  160 + (doc_id % 8) * 16 AS width,
        |  90 + (doc_id % 8) * 9 AS height
        |FROM (SELECT DISTINCT doc_id FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // q56: the oracle re-derives every keyframe's byte offset from the
    // fixture formulas — chunk = (n-1) DIV spc, offset = stco(chunk) +
    // sizes of the chunk's earlier samples (generate_series over the
    // intra-chunk range; empty when the keyframe opens its chunk).
    "q56_keyframe_index" ->
      """WITH p AS (
        |  SELECT DISTINCT doc_id,
        |    10 + doc_id % 20 AS s,
        |    1 + doc_id % 5 AS g,
        |    1 + doc_id % 3 AS spc
        |  FROM documents),
        |kf AS (
        |  SELECT doc_id, s, g, spc,
        |    1 + u.j * g AS n
        |  FROM p, unnest(generate_series(0, CAST((s - 1) // g AS BIGINT))) AS u(j)),
        |off AS (
        |  SELECT kf.doc_id, kf.n,
        |    4096 + 1000 * ((kf.n - 1) // kf.spc)
        |      + COALESCE((SELECT sum(100 + ((kf.doc_id + m.m) % 50))
        |                  FROM unnest(generate_series(kf.n - ((kf.n - 1) % kf.spc), kf.n - 1)) AS m(m)), 0)
        |      AS kf_off,
        |    100 + ((kf.doc_id + kf.n) % 50) AS kf_sz
        |  FROM kf)
        |SELECT p.doc_id,
        |  CAST(p.s AS BIGINT) AS n_samples,
        |  CAST(1 + (p.s - 1) // p.g AS BIGINT) AS n_keyframes,
        |  CAST(min(off.kf_off) AS BIGINT) AS first_kf_offset,
        |  CAST(max(CASE WHEN off.n = 1 + ((p.s - 1) // p.g) * p.g THEN off.kf_off END) AS BIGINT) AS last_kf_offset,
        |  CAST(sum(off.kf_sz) AS BIGINT) AS kf_bytes
        |FROM p JOIN off ON p.doc_id = off.doc_id
        |GROUP BY p.doc_id, p.s, p.g
        |ORDER BY p.doc_id""".stripMargin,
    // q159: the final inverted index over the post-update corpus
    // (doc_id % 13 == 2 docs carry the appended marker token), the
    // exact per-phase map-call counters, and the storm-absorbed flag
    // as literals — an over-build, under-build, or a commit on
    // re-delivery breaks the hash.
    "q159_lens_maintainer" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 2 THEN text || ' graftdelta' ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM docs2 d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> '')
        |SELECT tok AS token, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
        |  (SELECT count(*) FROM documents) AS full_calls,
        |  (SELECT count(*) FROM documents WHERE doc_id % 13 = 2) AS incr_calls,
        |  CAST(0 AS BIGINT) AS storm_calls,
        |  TRUE AS storm_absorbed
        |FROM toks GROUP BY tok ORDER BY token""".stripMargin,

    // q157: the oracle re-derives every header field from the fixture
    // formulas — the version/layer bitrate tables as list literals,
    // the frame-length arithmetic ((spf//8)·kbps·1000//rate + pad),
    // and the CBR duration floor; the engine must recover them by
    // actually walking the frame headers (incl. ID3v2 skip + junk).
    "q157_audio_headers" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents),
        |mp3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN '1' ELSE '2' END AS version,
        |    CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 3 END AS layer,
        |    CAST(doc_id % 14 AS INT) AS bi,
        |    CAST(doc_id % 3 AS INT) AS si,
        |    (doc_id % 5) % 2 AS pad,
        |    CASE WHEN (doc_id % 7) % 2 = 1 THEN 1 ELSE 2 END AS channels,
        |    4 + doc_id % 12 AS nf
        |  FROM ids WHERE doc_id % 3 <> 0),
        |mp3x AS (
        |  SELECT doc_id, version, layer, pad, channels, nf,
        |    CASE WHEN version = '1' AND layer = 2
        |           THEN [32,48,56,64,80,96,112,128,160,192,224,256,320,384][bi + 1]
        |         WHEN version = '1'
        |           THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320][bi + 1]
        |         ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160][bi + 1] END AS kbps,
        |    CASE WHEN version = '1' THEN [44100,48000,32000][si + 1]
        |         ELSE [22050,24000,16000][si + 1] END AS rate,
        |    CASE WHEN layer = 2 OR version = '1' THEN 1152 ELSE 576 END AS spf
        |  FROM mp3),
        |mp3r AS (
        |  SELECT doc_id, 'mp3' AS codec, version, CAST(layer AS BIGINT) AS layer,
        |    CAST(rate AS BIGINT) AS sample_rate, CAST(channels AS BIGINT) AS channels,
        |    CAST(nf AS BIGINT) AS n_frames,
        |    CAST(nf * ((spf // 8) * kbps * 1000 // rate + pad) AS BIGINT) AS stream_bytes,
        |    CAST(kbps AS BIGINT) AS bitrate_kbps,
        |    CAST(nf * spf * 1000 // rate AS BIGINT) AS duration_ms
        |  FROM mp3x),
        |aac AS (
        |  SELECT doc_id,
        |    [48000,44100,32000,24000,22050,16000][CAST(doc_id % 6 AS INT) + 1] AS rate,
        |    1 + doc_id % 2 AS channels,
        |    107 + doc_id % 200 AS flen,
        |    3 + doc_id % 15 AS nf,
        |    CASE WHEN doc_id % 2 = 0 THEN '4' ELSE '2' END AS version
        |  FROM ids WHERE doc_id % 3 = 0),
        |aacr AS (
        |  SELECT doc_id, 'aac' AS codec, version, CAST(0 AS BIGINT) AS layer,
        |    CAST(rate AS BIGINT) AS sample_rate, CAST(channels AS BIGINT) AS channels,
        |    CAST(nf AS BIGINT) AS n_frames,
        |    CAST(nf * flen AS BIGINT) AS stream_bytes,
        |    CAST((nf * flen * 8 * rate) // (nf * 1024 * 1000) AS BIGINT) AS bitrate_kbps,
        |    CAST(nf * 1024 * 1000 // rate AS BIGINT) AS duration_ms
        |  FROM aac)
        |SELECT * FROM mp3r UNION ALL SELECT * FROM aacr ORDER BY doc_id""".stripMargin,
    // q44: the oracle rebuilds BOTH corpus states from scratch — the
    // pre-commit-2 index (idx1) and the post-commit-2 index (idx2,
    // with the update/delete/new arithmetic replicated relationally) —
    // then derives the hash-gated version by comparing posting strings
    // and the expected map-invocation count from the touched-subset
    // cardinality. The engine's INCREMENTAL result must equal the full
    // rebuild while having mapped only |updated|+|new| paths.
    "q44_incremental_lens" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' graftupdate' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 2
        |  UNION ALL
        |  SELECT 1000000 + i, 'brand new graft doc ' || CAST(i AS VARCHAR)
        |  FROM generate_series(1, 5) AS t(i)
        |),
        |toks1 AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |idx1 AS (
        |  SELECT tok,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |  FROM toks1 GROUP BY 1),
        |toks2 AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM docs2 d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |idx2 AS (
        |  SELECT tok, count(*) AS n_docs,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |  FROM toks2 GROUP BY 1),
        |fresh AS (
        |  SELECT count(*) AS n FROM docs2
        |  WHERE doc_id % 7 = 0 OR doc_id > 1000000)
        |SELECT i2.tok AS token, i2.n_docs, i2.doc_ids,
        |  CAST(CASE WHEN i1.doc_ids = i2.doc_ids THEN 1 ELSE 2 END AS BIGINT) AS version,
        |  (SELECT n FROM fresh) AS n_map_calls
        |FROM idx2 i2 LEFT JOIN idx1 i1 ON i1.tok = i2.tok
        |ORDER BY token""".stripMargin,
    // q46: the oracle builds the IDENTICAL augmented text, then counts
    // and redacts with the same three patterns — DuckDB's RE2 and
    // Spark's java.util.regex agree on them by construction (common
    // subset only: explicit ranges, \b, no lookaround; see Pii
    // scaladoc). 'g' = Spark regexp_replace's always-global semantics.
    "q46_pii_redaction" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@mail.example.com or user' || CAST(doc_id AS VARCHAR)
        |         || '@backup.example.org call +1-555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        |         || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(aug, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
        |  len(regexp_extract_all(aug, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS redact_md5
        |FROM aug
        |ORDER BY doc_id""".stripMargin,
    // q47: string-gram replication of the span arithmetic — 8-grams
    // with positions, grams in ≥2 distinct docs, islands of consecutive
    // positions (pos − row_number() constant), span = run + 7.
    "q47_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |      || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] AS gram
        |  FROM t, unnest(generate_series(1, greatest(len(toks)-7, 0))) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM dp)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
        |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, start_pos""".stripMargin,
    // q129: the full char-gram pipeline with STRING grams (exact; the
    // engine's xxhash64 key matches absent a 64-bit collision, the q47
    // argument), same islands arithmetic, same char-exact verify and
    // left/right extension scans (list_filter/list_min over range =
    // first-mismatch LCP), same distinct-after-extension re-unification.
    "q129_dup_substrings" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 32),
        |pos AS (
        |  SELECT doc_id, i AS p, substr(text, i + 1, 32) AS g
        |  FROM d, unnest(generate_series(0, n - 32)) u(i)),
        |df AS (SELECT g FROM pos GROUP BY g HAVING count(*) BETWEEN 2 AND 500),
        |kept AS (SELECT pos.doc_id, pos.p, pos.g FROM pos JOIN df USING (g)),
        |cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.p AS pa,
        |    a.p - b.p AS diag
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT a_id, b_id, diag, pa,
        |    pa - row_number() OVER (PARTITION BY a_id, b_id, diag ORDER BY pa) AS grp
        |  FROM cand),
        |sp AS (
        |  SELECT a_id, b_id, diag, min(pa) AS a0, count(*) + 31 AS ilen
        |  FROM isl GROUP BY a_id, b_id, diag, grp),
        |tx AS (
        |  SELECT sp.a_id, sp.b_id, sp.a0, sp.a0 - sp.diag AS b0, sp.ilen,
        |    da.text AS ta, db.text AS tb
        |  FROM sp
        |  JOIN d da ON da.doc_id = sp.a_id
        |  JOIN d db ON db.doc_id = sp.b_id),
        |ok AS (
        |  SELECT * FROM tx
        |  WHERE substr(ta, a0 + 1, ilen) = substr(tb, b0 + 1, ilen)),
        |ext AS (
        |  SELECT a_id, b_id, a0, b0, ilen,
        |    coalesce(list_min(list_filter(range(1, least(a0, b0) + 1),
        |      j -> substr(ta, a0 - j + 1, 1) <> substr(tb, b0 - j + 1, 1))),
        |      least(a0, b0) + 1) - 1 AS el,
        |    coalesce(list_min(list_filter(
        |      range(1, least(length(ta) - a0, length(tb) - b0) - ilen + 1),
        |      j -> substr(ta, a0 + ilen + j, 1) <> substr(tb, b0 + ilen + j, 1))),
        |      least(length(ta) - a0, length(tb) - b0) - ilen + 1) - 1 AS er
        |  FROM ok)
        |SELECT DISTINCT a_id, b_id,
        |  CAST(a0 - el AS BIGINT) AS a_start,
        |  CAST(b0 - el AS BIGINT) AS b_start,
        |  CAST(ilen + el + er AS BIGINT) AS span_len
        |FROM ext WHERE ilen + el + er >= 50
        |ORDER BY a_id, b_id, a_start, b_start""".stripMargin,
    // q130: the grid is rebuilt relationally — same i:token sha-prefix
    // cell hash, same per-cell counts, min over depth cells per probe;
    // a probe cell the corpus never touched counts 0.
    "q130_cms_freq" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS k
        |  FROM documents),
        |cells AS (
        |  SELECT i, ('0x' || substr(sha256(i || ':' || k), 1, 15))::BIGINT % 1024 AS b,
        |    count(*) AS c
        |  FROM toks, generate_series(0, 3) g(i)
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT DISTINCT k AS key FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                  x -> x <> '')) AS k
        |    FROM documents WHERE doc_id % 101 = 0)),
        |pc AS (
        |  SELECT key, i,
        |    ('0x' || substr(sha256(i || ':' || key), 1, 15))::BIGINT % 1024 AS b
        |  FROM probes, generate_series(0, 3) g(i))
        |SELECT key, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_count
        |FROM pc LEFT JOIN cells USING (i, b)
        |GROUP BY key ORDER BY key""".stripMargin,
    // q131: same feature list (tokens ++ adjacent bigrams), same
    // bucket→milli-weight expression, integer sum, one double division.
    "q131_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, toks ||
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE []::VARCHAR[] END AS feats
        |  FROM t),
        |s AS (
        |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
        |    CAST(coalesce(list_sum(list_transform(feats,
        |      g -> (('0x' || substr(sha256(g), 1, 15))::BIGINT % 4096) % 2001 - 1000)),
        |      0) AS BIGINT) AS score_num
        |  FROM f)
        |SELECT doc_id, n_feats, score_num,
        |  CASE WHEN n_feats = 0 THEN 0.0
        |       ELSE CAST(score_num AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE)
        |  END AS score
        |FROM s ORDER BY doc_id""".stripMargin,
    // q48: same hash-order window arithmetic relationally — the budget
    // CASE replicates the Scala map, cum runs over ROWS (no ties: the
    // id tie-break makes the order total, but ROWS on both sides keeps
    // the frames identical by construction).
    "q48_token_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS hb
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, tok, hb,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |         THEN 1500 + 500 * (CAST(substr(source, 4) AS INT) % 3) END AS budget
        |  FROM d),
        |c AS (
        |  SELECT doc_id, source, tok, budget,
        |    sum(tok) OVER (PARTITION BY source ORDER BY hb, doc_id
        |                   ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM c WHERE budget IS NOT NULL AND cum <= budget
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q49: identical statement to q9 — the tokenization the JS lens
    // computes record-by-record is the same relational set.
    "q49_js_lens_token_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''
        |)
        |SELECT tok AS token, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,
    // q50: the oracle rebuilds the IDENTICAL augmented text (chr() for
    // the escapes), then applies the SAME three rules in the SAME
    // order — strip controls, nfc_normalize (DuckDB's UAX#15 matches
    // the JDK's), collapse whitespace + trim. Patterns verbatim from
    // Normalize (java/RE2 common subset).
    "q50_normalize_clean" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' cafe' || chr(7) || chr(769) || chr(9)
        |             || 'A' || chr(778) || '  fin'
        |      ELSE text END AS aug
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id, aug,
        |    trim(regexp_replace(
        |      nfc_normalize(regexp_replace(aug,
        |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')),
        |      '[ \t\r\n]+', ' ', 'g')) AS cleaned
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(CASE WHEN cleaned <> aug THEN 1 ELSE 0 END AS BIGINT) AS changed,
        |  CAST(length(cleaned) AS BIGINT) AS clean_len,
        |  md5(cleaned) AS clean_md5
        |FROM cleaned ORDER BY doc_id""".stripMargin,
    // q51: identical augmented text, then the PRODUCTION UrlOps regexes
    // verbatim — including the PSL-driven registered-domain pattern,
    // which is GENERATED from the same public_suffix_list.dat the
    // engine ships (the PSL is data: both engines run the identical
    // compiled alternation, RE2-safe by construction).
    "q51_url_domains" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |    text || ' see https://sub' || CAST(doc_id % 5 AS VARCHAR)
        |         || '.example' || CAST(doc_id % 7 AS VARCHAR)
        |         || '.com/p' || CAST(doc_id AS VARCHAR)
        |         || ' and http://cdn.assets' || CAST(doc_id % 3 AS VARCHAR)
        |         || '.net/x' || CAST(doc_id % 11 AS VARCHAR) AS aug
        |  FROM documents),
        |urls AS (
        |  SELECT doc_id, u.url
        |  FROM aug, unnest(regexp_extract_all(aug,
        |    'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._~/%+=-]*)?')) AS u(url)),
        |doms AS (
        |  SELECT doc_id,
        |    regexp_extract(
        |      regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1),
        |      '${graft.ops.UrlOps.registeredDomainPattern}', 1) AS domain
        |  FROM urls)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM doms GROUP BY 1 ORDER BY 1""".stripMargin,
    // q52: the extractor must recover EXACTLY the original text from
    // the page (md5 equality), count the planted nav links, and parse
    // the title — the oracle knows all three from the construction.
    "q52_html_extract" ->
      """SELECT doc_id, md5(text) AS main_md5,
        |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_links,
        |  'Doc ' || CAST(doc_id AS VARCHAR) AS title
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q53: same tokenization, tf from the exploded stream, df counted
    // over the (doc, token) frame, identical integer-only rank.
    "q53_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, u.token
        |  FROM documents,
        |       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(token)
        |  WHERE length(u.token) >= 4),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |r AS (
        |  SELECT doc_id, token, tf, df,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, df ASC, token ASC) AS rank
        |  FROM tf JOIN dfreq USING (token))
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // q54: the q33 hash construction (sha256-prefix in BIGINT) at two
    // granularities — shard = h % 8, pos = rank by (h % 2^30, id)
    // within the shard; the oracle re-derives the full permutation.
    "q54_corpus_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS hb
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY hb, doc_id) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    // q38: q13's exact pair derivation, then connected components via a
    // recursive CTE (propagate every reachable label, take the min).
    "q38_dup_clusters" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-2, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |    FROM documents)
        |),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(a.sh || b.sh))
        |    AND len(list_distinct(a.sh || b.sh)) > 0),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node)
        |SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // q61: q38's component CTE + integer token-count quality + a
    // (score DESC, doc_id ASC) window pick — the same total order the
    // engine's max(struct(score, -id)) encodes.
    "q61_cluster_survivors" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-2, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |    FROM documents)
        |),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(a.sh || b.sh))
        |    AND len(list_distinct(a.sh || b.sh)) > 0),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
        |clusters AS (
        |  SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY node),
        |q AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS score
        |  FROM documents),
        |r AS (
        |  SELECT c.cluster_id, c.doc_id, q.score,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |                       ORDER BY q.score DESC, c.doc_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members
        |  FROM clusters c JOIN q USING (doc_id))
        |SELECT cluster_id, doc_id AS survivor_id, score AS survivor_score, n_members
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "q17_text_quality" ->
      """WITH f AS (
        |  SELECT source,
        |    CAST(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |         / CAST(greatest(length(text), 1) AS DOUBLE) AS DECIMAL(18,9)) AS pr,
        |    CAST(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |         / CAST(greatest(length(text), 1) AS DOUBLE) AS DECIMAL(18,9)) AS dr,
        |    CAST(CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)
        |         / CAST(greatest(len(toks), 1) AS DOUBLE) AS DECIMAL(18,9)) AS mwl
        |  FROM (SELECT source, text,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |        FROM documents)
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(pr) AS DOUBLE) / count(*) AS avg_punct_ratio,
        |  CAST(sum(dr) AS DOUBLE) / count(*) AS avg_digit_ratio,
        |  CAST(sum(mwl) AS DOUBLE) / count(*) AS avg_word_len
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // q41: same tokenization as q13; generate_series(1, 0) is empty in
    // DuckDB (the short-doc guard Spark needs explicitly); every output
    // is an integer.
    "q41_repetition_quality" ->
      """WITH g AS (
        |  SELECT source,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM (SELECT source,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |        FROM documents)),
        |r AS (
        |  SELECT source, len(grams) AS ng,
        |    len(grams) - len(list_distinct(grams)) AS nd
        |  FROM g)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nd * 5 > ng THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(ng) AS BIGINT) AS sum_grams,
        |  CAST(sum(nd) AS BIGINT) AS sum_dup
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q42: identical running-sum window and integer floor-division bin
    // rule; all arithmetic is integral.
    "q42_token_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT source, tok,
        |    sum(tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - tok) // 512 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    // q40: quantile_cont shares percentile's (n-1)·q linear
    // interpolation; quarter fractions over integer lengths are exact.
    "q40_corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(min(length(text)) AS BIGINT) AS len_min,
        |  CAST(quantile_cont(length(text), 0.25) AS DOUBLE) AS len_p25,
        |  CAST(quantile_cont(length(text), 0.5) AS DOUBLE) AS len_med,
        |  CAST(quantile_cont(length(text), 0.75) AS DOUBLE) AS len_p75,
        |  CAST(max(length(text)) AS BIGINT) AS len_max
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q15_at_export" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(CASE WHEN doc_id % 2 = 1 OR doc_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  CASE WHEN doc_id % 2 = 1 THEN text
        |       WHEN doc_id % 10 = 0 THEN 'MODIFIED: ' || text
        |       ELSE NULL END AS data
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_at_export_bucketed" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(CASE WHEN doc_id % 2 = 1 OR doc_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  CASE WHEN doc_id % 2 = 1 THEN text
        |       WHEN doc_id % 10 = 0 THEN 'MODIFIED: ' || text
        |       ELSE NULL END AS data
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q126: point lookups return the CURRENT value (no ?at= stubbing),
    // so data is the post-commit-2 text; version arithmetic as q15.
    "q126_point_lookup" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(CASE WHEN doc_id % 2 = 1 OR doc_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  CASE WHEN doc_id % 10 = 0 THEN 'MODIFIED: ' || text ELSE text END AS data
        |FROM documents WHERE doc_id % 101 = 7 ORDER BY doc_id""".stripMargin,
    // q127: the catalog the meta-VFS must report — one dataset per
    // distinct lang, one lens per distinct source, author 'bench'.
    "q127_meta_vfs" ->
      """WITH langs AS (SELECT DISTINCT lang FROM documents),
        |srcs AS (SELECT DISTINCT source FROM documents)
        |SELECT 'authors' AS kind, 'bench' AS author, CAST(NULL AS VARCHAR) AS name
        |UNION ALL
        |SELECT 'datasets', 'bench', 'docs-' || lang FROM langs
        |UNION ALL
        |SELECT 'lenses', 'bench', 'lens-' || source FROM srcs
        |ORDER BY kind, author, name""".stripMargin,
    // q135: the round trip must reproduce the source table exactly;
    // a fresh overwrite commit makes every version 1.
    "q135_zip_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(1 AS BIGINT) AS version, text AS data
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q136: the token index of the single addressed record; exactly
    // one map invocation.
    "q136_record_filter_lens" ->
      """WITH toks AS (
        |  SELECT DISTINCT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id = 17)
        |SELECT token, CAST(1 AS BIGINT) AS n_docs, '17' AS doc_ids,
        |  CAST(1 AS BIGINT) AS n_map_calls
        |FROM toks ORDER BY token""".stripMargin,
    // q137: survivors of the %9==4 tombstone commit keep q15's version
    // arithmetic; re-inserted ids (%18==4) come back at v4 with their
    // original text; still-deleted ids (%18==13) are absent; the
    // collection version is the constant 4 (four commits).
    "q137_tombstone_delete" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(CASE WHEN doc_id % 18 = 4 THEN 4
        |       WHEN doc_id % 2 = 1 OR doc_id % 10 = 0 THEN 2
        |       ELSE 1 END AS BIGINT) AS version,
        |  CASE WHEN doc_id % 18 = 4 THEN text
        |       WHEN doc_id % 10 = 0 THEN 'MODIFIED: ' || text
        |       ELSE text END AS data,
        |  CAST(4 AS BIGINT) AS coll_version
        |FROM documents WHERE doc_id % 18 <> 13 ORDER BY doc_id""".stripMargin,
    // q151: keyframe samples and every aHash bit re-derived in integer
    // arithmetic — sync samples at 1 + j·g for j in 0..⌊(s−1)/g⌋, bit k
    // of frame n set iff (doc_id·31 + n·17 + k) % 3 == 0 (the planted
    // block pattern; the JPEG round trip provably preserves it).
    "q151_mjpeg_frames" ->
      """WITH p AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS s, 1 + doc_id % 3 AS g
        |  FROM (SELECT DISTINCT doc_id FROM documents)
        |  WHERE doc_id % 7 = 0),
        |kf AS (
        |  SELECT doc_id, 1 + j * g AS sample
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, (s - 1) // g)) AS j)),
        |bits AS (
        |  SELECT doc_id, sample, k,
        |    CASE WHEN (doc_id * 31 + sample * 17 + k) % 3 = 0 THEN 1 ELSE 0 END AS b
        |  FROM kf, LATERAL (SELECT unnest(generate_series(0, 63)) AS k))
        |SELECT doc_id, CAST(sample AS BIGINT) AS sample,
        |  CAST(sum(CASE WHEN k >= 32 THEN b * (1::BIGINT << (k - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN k < 32 THEN b * (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY 1, 2 ORDER BY doc_id, sample""".stripMargin,

    // q152: the overwrite lifecycle re-derived relationally — the
    // dropped-then-reinstated third stamps v3, rewritten tenth v2,
    // everything else carries v1 through two full rewrites.
    "q152_overwrite" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 3
        |       WHEN doc_id % 10 = 0 THEN 2
        |       ELSE 1 END AS BIGINT) AS version,
        |  CASE WHEN doc_id % 3 <> 1 AND doc_id % 10 = 0 THEN 'MODIFIED: ' || text
        |       ELSE text END AS data,
        |  CAST(3 AS BIGINT) AS coll_version
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q138: lens B's final bucketed token sets over the post-commit-2
    // corpus; version compares the two corpora's bucket sets; the two
    // invocation counts re-derive both freshness gates — A's fresh docs
    // (q44's formula) and A's version-bumped tokens (changed or new
    // posting string).
    "q138_lens_cascade" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' graftupdate' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 2
        |  UNION ALL
        |  SELECT 1000000 + i, 'brand new graft doc ' || CAST(i AS VARCHAR)
        |  FROM generate_series(1, 5) AS t(i)
        |),
        |toks1 AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |idx1 AS (
        |  SELECT tok,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |  FROM toks1 GROUP BY 1),
        |toks2 AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM docs2 d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |idx2 AS (
        |  SELECT tok,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |  FROM toks2 GROUP BY 1),
        |fresh_a AS (
        |  SELECT count(*) AS n FROM docs2
        |  WHERE doc_id % 7 = 0 OR doc_id > 1000000),
        |fresh_b AS (
        |  SELECT count(*) AS n FROM idx2 i2 LEFT JOIN idx1 i1 ON i1.tok = i2.tok
        |  WHERE i1.doc_ids IS NULL OR i1.doc_ids <> i2.doc_ids),
        |b1 AS (
        |  SELECT substr(tok, 1, 1) AS bucket,
        |    string_agg(tok, ',' ORDER BY tok) AS toks
        |  FROM idx1 GROUP BY 1),
        |b2 AS (
        |  SELECT substr(tok, 1, 1) AS bucket, count(*) AS n_tokens,
        |    string_agg(tok, ',' ORDER BY tok) AS toks
        |  FROM idx2 GROUP BY 1)
        |SELECT b2.bucket AS bucket, CAST(b2.n_tokens AS BIGINT) AS n_tokens,
        |  b2.toks AS tokens,
        |  CAST(CASE WHEN b1.toks = b2.toks THEN 1 ELSE 2 END AS BIGINT) AS version,
        |  (SELECT n FROM fresh_a) AS n_map_calls_a,
        |  (SELECT n FROM fresh_b) AS n_map_calls_b
        |FROM b2 LEFT JOIN b1 ON b1.bucket = b2.bucket
        |ORDER BY b2.bucket""".stripMargin,
    // q153: the diamond re-derived relationally — C's final counts
    // over the post-merge corpus through BOTH mid-lens shapes,
    // `changed` from count movement (the hash gate's observable), and
    // all four invocation counts from the bumped sets at each level.
    "q153_diamond_cascade" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' graftupdate' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 2
        |  UNION ALL
        |  SELECT 1000000 + i, 'brand new graft doc ' || CAST(i AS VARCHAR)
        |  FROM generate_series(1, 5) AS t(i)
        |),
        |toks1 AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |idx1 AS (
        |  SELECT tok,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |  FROM toks1 GROUP BY 1),
        |toks2 AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM docs2 d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |idx2 AS (
        |  SELECT tok,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |  FROM toks2 GROUP BY 1),
        |fresh_a AS (
        |  SELECT count(*) AS n FROM docs2
        |  WHERE doc_id % 7 = 0 OR doc_id > 1000000),
        |fresh_mid AS ( -- A's version-bumped tokens: each mid lens re-maps exactly these
        |  SELECT count(*) AS n FROM idx2 i2 LEFT JOIN idx1 i1 ON i1.tok = i2.tok
        |  WHERE i1.doc_ids IS NULL OR i1.doc_ids <> i2.doc_ids),
        |chr1 AS (
        |  SELECT substr(tok, 1, 1) AS bucket,
        |    string_agg(tok, ',' ORDER BY tok) AS toks, count(*) AS n
        |  FROM idx1 GROUP BY 1),
        |chr2 AS (
        |  SELECT substr(tok, 1, 1) AS bucket,
        |    string_agg(tok, ',' ORDER BY tok) AS toks, count(*) AS n
        |  FROM idx2 GROUP BY 1),
        |len1 AS (
        |  SELECT CAST(len(tok) AS VARCHAR) AS bucket,
        |    string_agg(tok, ',' ORDER BY tok) AS toks, count(*) AS n
        |  FROM idx1 GROUP BY 1),
        |len2 AS (
        |  SELECT CAST(len(tok) AS VARCHAR) AS bucket,
        |    string_agg(tok, ',' ORDER BY tok) AS toks, count(*) AS n
        |  FROM idx2 GROUP BY 1),
        |fresh_c AS ( -- version-bumped mid-lens buckets: C's exactly-once map set
        |  SELECT (SELECT count(*) FROM chr2 c2 LEFT JOIN chr1 c1 ON c1.bucket = c2.bucket
        |          WHERE c1.toks IS NULL OR c1.toks <> c2.toks)
        |       + (SELECT count(*) FROM len2 l2 LEFT JOIN len1 l1 ON l1.bucket = l2.bucket
        |          WHERE l1.toks IS NULL OR l1.toks <> l2.toks) AS n),
        |c_rows AS (
        |  SELECT 'chr-dia:' || c2.bucket AS ckey, c2.n AS n_tokens,
        |    (c1.n IS NULL OR c1.n <> c2.n) AS changed
        |  FROM chr2 c2 LEFT JOIN chr1 c1 ON c1.bucket = c2.bucket
        |  UNION ALL
        |  SELECT 'len-dia:' || l2.bucket AS ckey, l2.n AS n_tokens,
        |    (l1.n IS NULL OR l1.n <> l2.n) AS changed
        |  FROM len2 l2 LEFT JOIN len1 l1 ON l1.bucket = l2.bucket)
        |SELECT ckey, CAST(n_tokens AS BIGINT) AS n_tokens, changed,
        |  (SELECT n FROM fresh_a) AS n_map_calls_a,
        |  (SELECT n FROM fresh_mid) AS n_map_calls_b1,
        |  (SELECT n FROM fresh_mid) AS n_map_calls_b2,
        |  (SELECT n FROM fresh_c) AS n_map_calls_c
        |FROM c_rows ORDER BY ckey""".stripMargin,
    // q139: each lattice branch re-derived relationally — date-max by
    // max() over the same non-monotonic epoch formula, bigint-sum in
    // HUGEINT, map-merge as a lang-count group-by rendered sorted,
    // array-concat as a doc_id-ordered string_agg (fold order IS the
    // content), object-merge as n=count;lang-counts through both
    // depths, and mixed last-wins as the max-doc_id member's
    // rendering.
    "q139_reduce_lattice" ->
      """WITH d AS (SELECT doc_id, lang, doc_id % 25 AS g FROM documents),
        |date_o AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) || ':date' AS id,
        |    CAST(max(((doc_id * 37) % 1000003) * 1000) AS VARCHAR) AS out
        |  FROM d GROUP BY g),
        |big_o AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) || ':big' AS id,
        |    CAST(sum(CAST(doc_id AS HUGEINT) * 1000000000000000) AS VARCHAR) AS out
        |  FROM d GROUP BY g),
        |bag_o AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) || ':bag' AS id,
        |    string_agg(lang || ':' || CAST(n AS VARCHAR), ',' ORDER BY lang) AS out
        |  FROM (SELECT g, lang, count(*) AS n FROM d GROUP BY g, lang)
        |  GROUP BY g),
        |arr_o AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) || ':arr' AS id,
        |    string_agg(CAST(doc_id % 10 AS VARCHAR), ',' ORDER BY doc_id) AS out
        |  FROM d GROUP BY g),
        |obj_o AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) || ':obj' AS id,
        |    'n=' || CAST(sum(n) AS VARCHAR) || ';' ||
        |    string_agg(lang || ':' || CAST(n AS VARCHAR), ',' ORDER BY lang) AS out
        |  FROM (SELECT g, lang, count(*) AS n FROM d GROUP BY g, lang)
        |  GROUP BY g),
        |mix_o AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) || ':mixed' AS id,
        |    CASE WHEN (m // 25) % 3 = 0 THEN 's' || CAST(m AS VARCHAR)
        |         WHEN (m // 25) % 3 = 1 THEN
        |           CASE WHEN m % 2 = 0 THEN 'true' ELSE 'false' END
        |         ELSE 'u://' || CAST(m AS VARCHAR) END AS out
        |  FROM (SELECT g, max(doc_id) AS m FROM d GROUP BY g))
        |SELECT id, out FROM (
        |  SELECT * FROM date_o UNION ALL SELECT * FROM big_o
        |  UNION ALL SELECT * FROM bag_o UNION ALL SELECT * FROM arr_o
        |  UNION ALL SELECT * FROM obj_o UNION ALL SELECT * FROM mix_o)
        |ORDER BY id""".stripMargin,
    // q142: the captured rows re-derived from the corpus — log rows
    // carry the same tokenizer's count, err rows the host exception's
    // class simple name + message; a doc hitting both gates yields
    // both rows (logs before a throw survive).
    "q142_lens_logs" ->
      """WITH rows AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id, 'log' AS kind,
        |    'len ' || CAST(len(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS VARCHAR) AS log_msg,
        |    CAST(NULL AS VARCHAR) AS err_type,
        |    CAST(NULL AS VARCHAR) AS err_msg
        |  FROM documents WHERE doc_id % 17 = 3
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'err', CAST(NULL AS VARCHAR),
        |    'IllegalStateException', 'bad doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 31 = 5)
        |SELECT id, kind, log_msg, err_type, err_msg
        |FROM rows ORDER BY CAST(id AS BIGINT), kind""".stripMargin,
    // q143: one event per lang-commit; version numbers the commits in
    // sorted-lang order.
    "q143_change_feed" ->
      """WITH l AS (SELECT DISTINCT lang FROM documents)
        |SELECT 'datasets' AS source, 'bench' AS author,
        |  'docs-cf' AS name,
        |  CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS version
        |FROM l ORDER BY version""".stripMargin,
    // q146: raw serving returns the stored string byte-for-byte with
    // text/plain; each per-request PUT is its OWN commit, so the Nth
    // write (doc_id ascending, first 12 matching ids) stamps record
    // version N.
    "q146_raw_serving" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS version,
        |  text AS body, 'text/plain; charset=utf-8' AS ctype
        |FROM (SELECT doc_id, text FROM documents
        |      WHERE doc_id % 101 = 7 ORDER BY doc_id LIMIT 12)
        |ORDER BY doc_id""".stripMargin,
    // q148: the lexicographically first floor(n/2) langs' collections
    // are dropped; the rest stay live.
    "q148_drop_collection" ->
      """WITH l AS (SELECT DISTINCT lang FROM documents),
        |r AS (SELECT lang, row_number() OVER (ORDER BY lang) AS rn,
        |             count(*) OVER () AS n
        |      FROM l)
        |SELECT lang, rn > n // 2 AS live,
        |  CAST(n - n // 2 AS BIGINT) AS n_live
        |FROM r ORDER BY lang""".stripMargin,
    // q147: each codec's quarter must reproduce its slice of the
    // source table exactly; fresh overwrite commits → version 1.
    "q147_codec_matrix" ->
      """WITH f AS (
        |  SELECT * FROM (VALUES ('yaml', 0), ('cbor', 1),
        |                        ('msgpack', 2), ('xml', 3)) AS t(codec, k))
        |SELECT f.codec, CAST(d.doc_id AS VARCHAR) AS id,
        |  CAST(1 AS BIGINT) AS version, d.text AS data
        |FROM documents d JOIN f ON d.doc_id % 4 = f.k
        |ORDER BY f.codec, d.doc_id""".stripMargin,
    // q149: bigrams over the q9/q49 tokenization, capped at the first
    // 50 bigram POSITIONS per doc (the JS for-of break), then
    // per-bigram distinct doc sets — UNNEST ordinality `i` mirrors the
    // JS count exactly (cap before dedup on both sides).
    "q149_generator_lens" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, i, ts[i] || ' ' || ts[i+1] AS bigram
        |  FROM toks, UNNEST(range(1, len(ts))) AS r(i)),
        |dd AS (SELECT DISTINCT doc_id, bigram FROM bg WHERE i <= 50)
        |SELECT bigram, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |FROM dd GROUP BY bigram ORDER BY bigram""".stripMargin,
    // q150: the first 40 DISTINCT tokens per doc in first-occurrence
    // order (min ordinality — the JS Set insertion order), length sums
    // for ≤ 12-char tokens and a rejection count for longer ones (the
    // map's Promise.allSettled outcome split), rendered as the same
    // "n=..;sum=..;rej=.." string the .then reaction outputs.
    "q150_async_lens" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, ts[i] AS tok, min(i) AS ord
        |  FROM toks, UNNEST(range(1, len(ts) + 1)) AS r(i)
        |  GROUP BY doc_id, ts[i]),
        |sel AS (
        |  SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
        |  FROM occ),
        |agg AS (
        |  SELECT doc_id, count(*) AS n,
        |    sum(CASE WHEN len(tok) <= 12 THEN len(tok) ELSE 0 END) AS s,
        |    sum(CASE WHEN len(tok) > 12 THEN 1 ELSE 0 END) AS rej
        |  FROM sel WHERE rn <= 40 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  'n=' || coalesce(a.n, 0) || ';sum=' || coalesce(a.s, 0)
        |    || ';rej=' || coalesce(a.rej, 0) AS out
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q154: first-occurrence distinct tokens capped at 30, the
    // for-await loop consumes at most 25 (break) — n, length sum over
    // the consumed prefix, and ran_to_end = the generator's loop
    // exhausted (strictly fewer than 25 yields consumed ⇒ no break).
    "q154_async_gen_lens" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, ts[i] AS tok, min(i) AS ord
        |  FROM toks, UNNEST(range(1, len(ts) + 1)) AS r(i)
        |  GROUP BY doc_id, ts[i]),
        |sel AS (
        |  SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
        |  FROM occ),
        |agg AS (
        |  SELECT doc_id,
        |    count(*) FILTER (rn <= 25) AS n,
        |    sum(len(tok)) FILTER (rn <= 25) AS s,
        |    count(*) FILTER (rn <= 30) AS n30
        |  FROM sel GROUP BY doc_id)
        |SELECT d.doc_id,
        |  'n=' || coalesce(a.n, 0) || ';sum=' || coalesce(a.s, 0)
        |    || ';ran_to_end=' || (CASE WHEN coalesce(a.n30, 0) < 25 THEN 'true' ELSE 'false' END) AS out
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q156: first 30 first-occurrence distinct tokens split by length
    // (≤4 short / >4 long) — counts and length sums per class; the
    // fin suffix is the constant completion-value thread
    // (short-done|long-done from the two inner generators, tail from
    // the awaited iterable element).
    "q156_async_yield_star" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, ts[i] AS tok, min(i) AS ord
        |  FROM toks, UNNEST(range(1, len(ts) + 1)) AS r(i)
        |  GROUP BY doc_id, ts[i]),
        |sel AS (
        |  SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
        |  FROM occ),
        |agg AS (
        |  SELECT doc_id,
        |    count(*) FILTER (len(tok) <= 4) AS ns,
        |    sum(len(tok)) FILTER (len(tok) <= 4) AS ss,
        |    count(*) FILTER (len(tok) > 4) AS nl,
        |    sum(len(tok)) FILTER (len(tok) > 4) AS sl
        |  FROM sel WHERE rn <= 30 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  'ns=' || coalesce(a.ns, 0) || ';ss=' || coalesce(a.ss, 0)
        |    || ';nl=' || coalesce(a.nl, 0) || ';sl=' || coalesce(a.sl, 0)
        |    || ';fin=short-done|long-done,tail' AS out
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q162: the identical KN model replayed relationally — bigram/
    // context/continuation count CTEs, the cross-multiplied integer
    // low-probability test, Gopher-style integer flag.
    "q162_kn_gate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, ts[i] AS v, ts[i + 1] AS w
        |  FROM toks, UNNEST(range(1, len(ts))) AS r(i)
        |  WHERE len(ts) >= 2),
        |cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS cvw FROM bi GROUP BY v, w),
        |cv AS (SELECT v, CAST(sum(cvw) AS BIGINT) AS cv,
        |         CAST(count(*) AS BIGINT) AS n1v FROM cvw GROUP BY v),
        |n1w AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM cvw GROUP BY w),
        |nall AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cvw),
        |sc AS (
        |  SELECT b.doc_id,
        |    CASE WHEN (greatest(c.cvw * 4 - 3, 0) * nall.n + x.n1v * y.n1w * 3) * 100
        |              < 1 * 4 * x.cv * nall.n THEN 1 ELSE 0 END AS lowf
        |  FROM bi b JOIN cvw c USING (v, w) JOIN cv x USING (v)
        |       JOIN n1w y USING (w), nall),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |          CAST(sum(lowf) AS BIGINT) AS n_low FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.n_low, 0) AS n_low,
        |  coalesce(a.n_low, 0) * 5 > coalesce(a.n_bigrams, 0) AS flagged
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q160: token counts + the constant symbol-surface suffix — the
    // JSON prefix would gain a key (hash break) if a symbol prop ever
    // leaked into serialization.
    "q160_symbol_lens" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS ts
        |  FROM documents)
        |SELECT doc_id,
        |  '{"doc":"' || doc_id || '","n":' || len(ts) || '}|' ||
        |  len(list_filter(ts, t -> length(t) > 3)) ||
        |  '|shadow|2|true|false|2|symbol' AS out
        |FROM toks ORDER BY doc_id""".stripMargin,
    // q144: the ephemeral lens's record frames ARE the q9 index (one
    // full build over the whole corpus); dropped is constant true.
    "q144_ephemeral_lens" ->
      """WITH toks AS (
        |  SELECT DISTINCT d.doc_id, u.tok
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> '')
        |SELECT tok AS token, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
        |  TRUE AS dropped
        |FROM toks GROUP BY tok ORDER BY token""".stripMargin,
    // q145: dataset rows (once for the whole-collection path, once
    // more for the explicit record path), then the lens's token rows;
    // everything committed once → version 1 throughout.
    "q145_readpath_union" ->
      """WITH sub AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |toks AS (
        |  SELECT DISTINCT u.tok
        |  FROM sub, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |rows AS (
        |  SELECT '/datasets/bench:docs-rp/records/' || CAST(doc_id AS VARCHAR) AS path,
        |    CAST(doc_id AS VARCHAR) AS id FROM sub
        |  UNION ALL
        |  SELECT '/datasets/bench:docs-rp/records/42', '42'
        |  UNION ALL
        |  SELECT '/lenses/bench:rp-lens/records/' || tok, tok FROM toks)
        |SELECT path, id, CAST(1 AS BIGINT) AS version
        |FROM rows ORDER BY path, id""".stripMargin,
    // q140: same integer pivot arithmetic, same PSM layout, md5 over
    // the transformed string; substr/len are codepoint-based in both
    // engines.
    "q140_fim_split" ->
      """WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    len(coalesce(text, '')) AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, text, l,
        |    1 + (doc_id * 7919) % (l - 2) AS p1
        |  FROM d WHERE l >= 16),
        |m AS (
        |  SELECT doc_id, text, l, p1,
        |    1 + (doc_id * 104729) % (l - p1 - 1) AS mid
        |  FROM p)
        |SELECT doc_id, 'fim' AS mode,
        |  CAST(p1 AS BIGINT) AS n_prefix,
        |  CAST(mid AS BIGINT) AS n_middle,
        |  CAST(l - p1 - mid AS BIGINT) AS n_suffix,
        |  md5('<PRE>' || substr(text, 1, p1)
        |    || '<SUF>' || substr(text, p1 + mid + 1, l - p1 - mid)
        |    || '<MID>' || substr(text, p1 + 1, mid)) AS fim_md5
        |FROM m
        |UNION ALL
        |SELECT doc_id, 'plain', CAST(l AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), md5(text)
        |FROM d WHERE l < 16
        |ORDER BY doc_id""".stripMargin,
    // q141: the cumulative sum as a window over (n DESC, token) —
    // single-node DuckDB can afford the serial window the engine
    // replaces with a parallel prefix sum; integer crossing predicate
    // cum*100 >= total*pct on both sides.
    "q141_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM freq),
        |c AS (
        |  SELECT token, n,
        |    sum(n) OVER (ORDER BY n DESC, token) AS cum,
        |    row_number() OVER (ORDER BY n DESC, token) AS rnk
        |  FROM freq),
        |th AS (SELECT * FROM (VALUES (50), (90), (95), (99)) AS t(pct)),
        |x AS (
        |  SELECT th.pct, c.rnk, c.cum, tot.total,
        |    row_number() OVER (PARTITION BY th.pct ORDER BY c.rnk) AS rr
        |  FROM c, tot, th
        |  WHERE c.cum * 100 >= tot.total * th.pct)
        |SELECT CAST(pct AS BIGINT) AS threshold_pct,
        |  CAST(rnk AS BIGINT) AS vocab_size,
        |  CAST(cum AS BIGINT) AS covered_occurrences,
        |  CAST(total AS BIGINT) AS total_occurrences
        |FROM x WHERE rr = 1 ORDER BY threshold_pct""".stripMargin,
    // q128: the rewritten URL is hash://sha256/<hex-of-content>?type=
    // url-encoded mime — DuckDB recomputes the sha256 over the same
    // deterministic blob content (the q35 discipline).
    "q128_cid_rewrite" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 7 = 0)
        |SELECT CAST(doc_id AS VARCHAR) AS id,
        |  'hash://sha256/' || sha256('att-' || CAST(doc_id AS VARCHAR))
        |    || '?type=text%2Fplain' AS url
        |FROM ids ORDER BY doc_id""".stripMargin,
    // q36: the oracle re-derives the PCM samples with the same integer
    // formula (no transcendentals anywhere), squares/sums them — exact
    // in double for these magnitudes in any order — and applies the
    // same sqrt → /100 → FLOAT rounding chain the decoder uses.
    "q36_audio_decode" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents),
        |samples AS (
        |  SELECT ids.doc_id, (s.i // 100) AS window_idx,
        |    (((ids.doc_id * 31 + s.i * 7919) % 65536) - 32768) / 32768.0 AS v
        |  FROM ids, generate_series(0, 799) s(i))
        |SELECT doc_id, window_idx,
        |  CAST(sqrt(sum(v * v) / 100) AS FLOAT) AS rms
        |FROM samples GROUP BY doc_id, window_idx
        |ORDER BY doc_id, window_idx""".stripMargin,
    // q37: pixels re-derived with the same integer channel formulas;
    // per-cell luminance = integer channel sum (exact, any order) over
    // one divide + one float cast, both correctly rounded.
    "q37_image_decode" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 4 = 0),
        |px AS (
        |  SELECT ids.doc_id, (y.y // 8) * 4 + (x.x // 8) AS cell,
        |    ((ids.doc_id * 31 + x.x * 7 + y.y * 13) % 256)
        |    + ((ids.doc_id * 17 + x.x * 11 + y.y * 3) % 256)
        |    + ((ids.doc_id * 23 + x.x * 5 + y.y * 19) % 256) AS s
        |  FROM ids, generate_series(0, 31) x(x), generate_series(0, 15) y(y))
        |SELECT doc_id, CAST(32 AS INT) AS width, CAST(16 AS INT) AS height,
        |  cell, CAST(sum(s) / (64 * 765.0) AS FLOAT) AS lum
        |FROM px GROUP BY doc_id, cell
        |ORDER BY doc_id, cell""".stripMargin,
    // q85: every aHash bit re-derived from the fixture pixel formula
    // (integer cell sums, cellSum·64 > totalSum on equal 4×2 cells),
    // then the same 16-bit band join and bit_count-XOR Hamming. The
    // image-family modulus mm scales with the id count (odd, floor 29
    // — exactly 29 at sf ≤ 0.1) so family density is scale-invariant;
    // see MultimodalQueries.imagePHashPairs.
    "q85_image_phash" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 4 = 0),
        |mm AS (SELECT greatest(29, CASE WHEN (count(*) // 43) % 2 = 0
        |                               THEN count(*) // 43 + 1
        |                               ELSE count(*) // 43 END) AS m FROM ids),
        |px AS (
        |  SELECT ids.doc_id, (y.y // 2) * 8 + (x.x // 4) AS cell,
        |    CASE WHEN x.x = (ids.doc_id // mm.m) % 32
        |         THEN (((ids.doc_id % mm.m) * 31 + x.x * 7 + y.y * 13) % 256 + 128) % 256
        |         ELSE ((ids.doc_id % mm.m) * 31 + x.x * 7 + y.y * 13) % 256 END
        |    + ((ids.doc_id % mm.m) * 17 + x.x * 11 + y.y * 3) % 256
        |    + ((ids.doc_id % mm.m) * 23 + x.x * 5 + y.y * 19) % 256 AS s
        |  FROM ids, mm, generate_series(0, 31) x(x), generate_series(0, 15) y(y)),
        |cells AS (SELECT doc_id, cell, sum(s) AS cs FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(cs) AS ts FROM cells GROUP BY 1),
        |bits AS (SELECT c.doc_id, c.cell,
        |  CASE WHEN c.cs * 64 > t.ts THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
        |  FROM cells c JOIN tot t USING (doc_id)),
        |hashes AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN cell >= 32 THEN b << (cell - 32) ELSE 0 END) AS BIGINT) AS hi,
        |  CAST(sum(CASE WHEN cell < 32 THEN b << cell ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, hi, lo, g.bi,
        |    CASE g.bi WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
        |              WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bv
        |  FROM hashes, generate_series(0, 3) g(bi)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, hamming FROM cand
        |WHERE hamming <= 12 ORDER BY a_id, b_id""".stripMargin,

    // q35: the oracle re-derives both GC sets relationally — DuckDB
    // sha256 over the same deterministic blob contents; survivors are
    // exactly the linked hashes, the deleted count is the orphan count.
    "q35_attachment_gc" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents),
        |linked AS (
        |  SELECT sha256('blob-' || CAST(doc_id AS VARCHAR)) AS hash
        |  FROM ids WHERE doc_id % 3 <> 2)
        |SELECT hash,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ids WHERE doc_id % 5 = 0) AS n_deleted
        |FROM linked ORDER BY hash""".stripMargin,
    "q16_natural_order" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY CASE WHEN doc_id % 3 = 0 THEN 'alpha' ELSE 'beta' END, doc_id)
        |  AS BIGINT) AS rank,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'alpha' ELSE 'beta' END) || doc_id AS id
        |FROM documents ORDER BY rank""".stripMargin,
    "q14_ann_lsh" -> lshOracle,
    "q18_ann_ivf" -> ivfOracle,
    // q163: codes re-derived from the persisted codebooks with the
    // explicit left-associated sums (no aggregate fold-order reliance);
    // ADC = the t0+t1+t2+t3 chain; ties by neighbor id.
    "q163_pq_ann" -> graft.queries.PqQuery.oracleSql,
    // q132: the q14 probe/cand/scored chain as the approx side, an
    // all-pairs exact cosine rank as the baseline, intersected; recall
    // is one small-integer division per query.
    "q132_ann_recall" -> {
      val masks = (0 until 256).filter(m => Integer.bitCount(m) <= 2).mkString(",")
      s"""WITH $planesCte,
         |probes AS (
         |  SELECT s.vec_id AS query_id, xor(s.bucket, m.m) AS bucket
         |  FROM sig s CROSS JOIN (SELECT unnest([$masks]) AS m) m
         |  WHERE s.vec_id < 5),
         |cand AS (
         |  SELECT p.query_id, s.vec_id FROM probes p JOIN sig s USING (bucket)
         |  WHERE s.vec_id <> p.query_id),
         |approx AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT c.query_id, c.vec_id,
         |      row_number() OVER (PARTITION BY c.query_id ORDER BY
         |        ${duckCosine("n.emb", "q.emb")} DESC, c.vec_id) AS rn
         |    FROM cand c JOIN e n ON n.vec_id = c.vec_id
         |    JOIN e q ON q.vec_id = c.query_id) WHERE rn <= 10),
         |ex AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckCosine("n.emb", "q.emb")} DESC, n.vec_id) AS rn
         |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < 5) WHERE rn <= 10),
         |base AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
         |hits AS (
         |  SELECT ex.query_id, count(*) AS n_hits
         |  FROM ex JOIN approx a ON a.query_id = ex.query_id AND a.vec_id = ex.vec_id
         |  GROUP BY 1)
         |SELECT b.query_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(n_hits, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
         |FROM base b LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    // q23: same tokenization as q11; token hash = first 15 hex chars of
    // sha256 (= Dedup.portableTokenHash); per-bit sign votes over 60
    // bits, ties (vote sum 0) leave the bit clear — identical op for op.
    "q23_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
        |      t -> ('0x' || substr(sha256(t), 1, 15))::BIGINT) AS th
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(coalesce(list_sum(list_transform(range(0, 60), b ->
        |    CASE WHEN coalesce(list_sum(list_transform(th,
        |           h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
        |         THEN (1::BIGINT << b) ELSE 0 END)), 0) AS BIGINT) AS simhash
        |FROM toks ORDER BY doc_id""".stripMargin,
    // q25: langScore = total stopword occurrences per language (each
    // token matches at most one stopword, so a single IN-filter count
    // equals the per-word sum); languageGuess's array_max over
    // struct(score, lang) ties to the lexicographically LARGEST lang,
    // reproduced by probing langs in descending order.
    "q25_lang_id" ->
      """WITH toks AS (
        |  SELECT lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sc AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> t IN ('der','die','das','und','ist','ein','eine','zu','mit','nicht'))) AS s_de,
        |    len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        |    len(list_filter(tk, t -> t IN ('el','la','de','y','es','un','una','que','en','los'))) AS s_es,
        |    len(list_filter(tk, t -> t IN ('le','la','de','et','est','un','une','que','les','pour'))) AS s_fr
        |  FROM toks),
        |g AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |         ELSE 'de' END AS guess
        |  FROM sc)
        |SELECT lang, guess, count(*) AS n_docs
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q26: the engine compares xxhash64 fingerprints; the oracle compares
    // the normalized token strings themselves. Equal iff the fingerprint
    // implements exactly normalized-stream equivalence (collision odds at
    // 64 bits over 500 docs ~1e-15, and deterministic per dataset).
    "q26_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ') AS norm,
        |    array_to_string(list_filter(string_split_regex(lower(regexp_replace(text, '[,\.;:]', '  --  ', 'g')), '[^a-z0-9]+'), x -> x <> ''), ' ') AS norm_m,
        |    array_to_string(list_reverse(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')), ' ') AS norm_r
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(norm = norm_m AS INT) AS punct_invariant,
        |  CAST(norm = norm_r AS INT) AS order_invariant
        |FROM n ORDER BY doc_id""".stripMargin,
    // q27: the oracle is the UNSALTED aggregation — the salted two-stage
    // plan must reproduce it exactly.
    "q27_skew_salted" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows,
        |  CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // q28: size/slide = 2 windows per event → two-bucket UNION ALL.
    // epoch_ns keeps the bucketing integral end to end.
    "q28_sliding_window" ->
      """WITH x AS (
        |  SELECT CAST(epoch_ns(ts) // 1800000000000 AS BIGINT) * 1800 AS ws, event_type, value FROM events
        |  UNION ALL
        |  SELECT CAST(epoch_ns(ts) // 1800000000000 AS BIGINT) * 1800 - 1800, event_type, value FROM events)
        |SELECT ws AS window_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q29: same pattern as TextOps.bpePattern, with SQL-doubled quotes.
    "q29_bpe_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\f\r'']+|[ \t\n\f\r]+'))) AS BIGINT) AS sum_bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q30: the same tagged-union + carry-forward window formulation, so
    // ordering (us, tag, id) and the <= / max-tie conventions line up
    // with AsOf.asofJoin exactly.
    // q39: identical lag/flag/running-sum/aggregate chain; the (us,
    // event_id) ordering is total, so both engines assign identical
    // session indices; all outputs are integer arithmetic.
    "q39_sessionize_batch" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM ev),
        |g AS (
        |  SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // q71: q39's session CTE + ordered string_agg — DuckDB's ORDER BY
    // inside the aggregate mirrors the array_sort-inside-agg pinning.
    "q71_session_transcripts" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |f AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM ev),
        |g AS (
        |  SELECT user_id, event_id, event_type, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(us) AS BIGINT) AS start_us,
        |  string_agg(event_type, '>' ORDER BY us, event_id) AS transcript
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // q72: json_extract_string on the same path expression; integer
    // casts on both engines.
    "q72_json_props" ->
      """SELECT event_type,
        |  count(*)::BIGINT AS n_events,
        |  count(k)::BIGINT AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k,
        |  count(DISTINCT k)::BIGINT AS distinct_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q30_asof_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
        |u AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
        |  FROM ev WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT user_id, us, event_id, tag,
        |    last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, tag, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM u)
        |SELECT event_id, user_id, us AS purchase_us, click_id AS asof_click_id
        |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,
    // q32: the q17/q25/q10/q29 oracle fragments chained in one statement,
    // stage for stage with the Spark pipeline.
    "q32_corpus_curation" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk,
        |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
        |    length(text) AS n_chars
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, lang, text, tk FROM f
        |  WHERE len(tk) >= 30
        |    AND CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) <= 0.10),
        |sc AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(tk, t -> t IN ('der','die','das','und','ist','ein','eine','zu','mit','nicht'))) AS s_de,
        |    len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        |    len(list_filter(tk, t -> t IN ('el','la','de','y','es','un','una','que','en','los'))) AS s_es,
        |    len(list_filter(tk, t -> t IN ('le','la','de','et','est','un','une','que','les','pour'))) AS s_fr
        |  FROM gated),
        |lg AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |         ELSE 'de' END AS guess
        |  FROM sc),
        |ok AS (SELECT doc_id, lang, text FROM lg WHERE guess = lang),
        |surv AS (
        |  SELECT lang, text FROM (
        |    SELECT lang, text, row_number() OVER (
        |      PARTITION BY sha256(substring(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), 1, 100))
        |      ORDER BY doc_id) AS rn
        |    FROM ok) WHERE rn = 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\f\r'']+|[ \t\n\f\r]+'))) AS BIGINT) AS bpe_budget
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,
    // q34: identical op order — x * (127.0/maxabs) + 0.5, floor, INT.
    "q34_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e),
        |q AS (SELECT vec_id,
        |        CASE WHEN maxabs = 0 THEN list_transform(emb, x -> 0)
        |             ELSE list_transform(emb,
        |               x -> CAST(floor(x * (127.0 / maxabs) + 0.5) AS INT)) END AS q8
        |      FROM m)
        |SELECT vec_id, CAST(list_sum(q8) AS BIGINT) AS q_sum,
        |  list_min(q8) AS q_min, list_max(q8) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,
    // q33: same 60-bit sha256-prefix hash (q23's portable token hash,
    // applied to the stringified id), same (hash, id) ordering.
    "q33_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS hb
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rn
        |  FROM h)
        |SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM r WHERE rn <= 50 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q57: identical paragraph construction (word slices + planted
    // boilerplate), md5 as the paragraph identity, first occurrence by
    // (doc_id, idx) via the same window rule; kept text re-joined in
    // idx order and md5'd.
    "q57_paragraph_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pl AS (
        |  SELECT doc_id,
        |    [array_to_string(list_slice(ws, 1, 15), ' '),
        |     CASE WHEN doc_id % 4 = 0
        |       THEN 'subscribe to our newsletter for weekly updates and offers'
        |       ELSE array_to_string(list_slice(ws, 16, 30), ' ') END,
        |     CASE WHEN doc_id % 6 = 0
        |       THEN 'all rights reserved unauthorized reproduction is prohibited'
        |       ELSE array_to_string(list_slice(ws, 31, 45), ' ') END,
        |     array_to_string(list_slice(ws, 46, 60), ' ')] AS ps
        |  FROM w),
        |paras AS (
        |  SELECT doc_id, u.i AS idx, ps[u.i] AS para
        |  FROM pl, unnest(generate_series(1, len(ps))) AS u(i)
        |  WHERE trim(ps[u.i]) <> ''),
        |ranked AS (
        |  SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rk
        |  FROM paras)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(CASE WHEN rk = 1 THEN para END, chr(10) || chr(10)
        |    ORDER BY idx), '')) AS kept_md5
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q55: identical URL construction, the PRODUCTION PSL-generated
    // domain pattern, the portable hash order, and the same cap — the
    // kept row SET must match exactly.
    "q55_domain_cap" ->
      s"""WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'https://host' || CAST(doc_id % 4 AS VARCHAR)
        |           || '.shop' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk/x'
        |      ELSE 'https://sub' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example' || CAST(doc_id % 7 AS VARCHAR)
        |           || '.com/p' || CAST(doc_id AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    regexp_extract(
        |      regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1),
        |      '${graft.ops.UrlOps.registeredDomainPattern}', 1) AS domain,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS hb
        |  FROM u),
        |r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY hb, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, domain FROM r WHERE rn <= 10
        |ORDER BY domain, doc_id""".stripMargin,
    // q31: plain inequality join — DuckDB's optimizer handles the small
    // SF; the Spark side's binning exists for the 100 TB case.
    "q31_range_follow" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events)
        |SELECT s.event_id, count(*) AS n_follow
        |FROM ev s JOIN ev r
        |  ON r.user_id = s.user_id AND r.us > s.us AND r.us <= s.us + 3600000000
        |WHERE s.event_type = 'signup'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_cosine_dup" ->
      s"""WITH $planes64Cte,
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM sig64 a JOIN sig64 b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |pairs AS (
        |  SELECT c.a_id, c.b_id,
        |    ${duckCosine("ea.emb", "eb.emb")} AS cos
        |  FROM cand c
        |  JOIN e ea ON ea.vec_id = c.a_id
        |  JOIN e eb ON eb.vec_id = c.b_id)
        |SELECT a_id, b_id, cos FROM pairs WHERE cos >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    // q73: the q24 pair CTE feeding q38's recursive component CTE and
    // q61's survivor window, with quality = token count of the
    // id-aligned document.
    "q73_semdedup" ->
      s"""WITH RECURSIVE $planes64Cte,
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM sig64 a JOIN sig64 b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |cpairs AS (
        |  SELECT c.a_id, c.b_id
        |  FROM cand c
        |  JOIN e ea ON ea.vec_id = c.a_id
        |  JOIN e eb ON eb.vec_id = c.b_id
        |  WHERE ${duckCosine("ea.emb", "eb.emb")} >= 0.3),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM cpairs
        |  UNION SELECT b_id, a_id FROM cpairs),
        |reach(node, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT ed.a, r.label FROM reach r JOIN edges ed ON ed.b = r.node),
        |clusters AS (
        |  SELECT node AS vec_id, CAST(min(label) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY node),
        |q AS (
        |  SELECT doc_id AS vec_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS score
        |  FROM documents),
        |r AS (
        |  SELECT c.cluster_id, c.vec_id, q.score,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |                       ORDER BY q.score DESC, c.vec_id) AS rn,
        |    count(*) OVER (PARTITION BY c.cluster_id) AS nm
        |  FROM clusters c JOIN q USING (vec_id))
        |SELECT cluster_id, CAST(vec_id AS BIGINT) AS survivor_id,
        |  score AS survivor_score, CAST(nm AS BIGINT) AS n_members
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // q58: same 64-plane multi-table signature CTE as q24, restricted
    // to the corpus/eval split; collision in ANY table is a candidate,
    // exact cosine confirms.
    "q58_semantic_decontaminate" ->
      s"""WITH $planes64Cte,
        |cand AS (
        |  SELECT DISTINCT c.vec_id, q.vec_id AS eval_id
        |  FROM sig64 c JOIN sig64 q
        |    ON c.tbl = q.tbl AND c.bucket = q.bucket
        |  WHERE c.vec_id % 97 <> 0 AND q.vec_id % 97 = 0)
        |SELECT DISTINCT cand.vec_id AS vec_id
        |FROM cand
        |JOIN e a ON a.vec_id = cand.vec_id
        |JOIN e b ON b.vec_id = cand.eval_id
        |WHERE ${duckCosine("a.emb", "b.emb")} >= 0.3
        |ORDER BY cand.vec_id""".stripMargin,
    // q62: tf from the exploded stream, df over the (token, doc) frame,
    // the same [3, 40] df band, rank by (tf DESC, id ASC), cap 8,
    // postings assembled in rank order by string_agg ORDER BY rn.
    "q62_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, u.token
        |  FROM documents,
        |       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(token)
        |  WHERE u.token <> ''),
        |tf AS (SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, count(*)::BIGINT AS df FROM tf
        |  GROUP BY 1 HAVING count(*) BETWEEN 3 AND 40),
        |ranked AS (
        |  SELECT t.token, d.df, t.doc_id,
        |    row_number() OVER (PARTITION BY t.token
        |                       ORDER BY t.tf DESC, t.doc_id) AS rn
        |  FROM tf t JOIN dfreq d USING (token))
        |SELECT token, df, count(*)::BIGINT AS n_postings,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS postings
        |FROM ranked WHERE rn <= 8
        |GROUP BY token, df ORDER BY token""".stripMargin,
    // q63: bigram OCCURRENCES (not distinct shingles) on both sides;
    // model = ref-slice bigrams with count >= 2; integer coverage
    // compare n_hits*5 >= n_bigrams*3.
    "q63_lm_hit_rate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(toks)-1, 0)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM t),
        |model AS (
        |  SELECT g2 FROM (SELECT unnest(grams) AS g2 FROM g WHERE doc_id % 5 = 0)
        |  GROUP BY g2 HAVING count(*) >= 2),
        |base AS (
        |  SELECT doc_id, len(grams)::BIGINT AS n_bigrams FROM g
        |  WHERE doc_id % 5 <> 0 AND len(grams) > 0),
        |corp AS (SELECT doc_id, unnest(grams) AS g2 FROM g WHERE doc_id % 5 <> 0),
        |hits AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_hits FROM corp
        |  WHERE g2 IN (SELECT g2 FROM model) GROUP BY doc_id)
        |SELECT base.doc_id, n_bigrams, coalesce(n_hits, 0)::BIGINT AS n_hits,
        |  CAST(CASE WHEN coalesce(n_hits, 0) * 5 >= n_bigrams * 3
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    // q64: same hash-order window arithmetic as q48, with the budgets
    // derived in-query: w = floor(sqrt(source token sum)) — sqrt is
    // IEEE correctly rounded on both engines — then integer division
    // of the 120000-token global budget.
    "q64_temperature_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS hb
        |  FROM documents),
        |sz AS (SELECT source, sum(tok) AS st FROM d GROUP BY 1),
        |wts AS (SELECT source, CAST(floor(sqrt(CAST(st AS DOUBLE))) AS BIGINT) AS w FROM sz),
        |tw AS (SELECT sum(w) AS tw FROM wts),
        |bud AS (SELECT source, CAST(w * 120000 AS BIGINT) // tw.tw AS budget FROM wts, tw),
        |c AS (
        |  SELECT d.doc_id, d.source, d.tok, b.budget,
        |    sum(d.tok) OVER (PARTITION BY d.source ORDER BY d.hb, d.doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d JOIN bud b USING (source))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(min(budget) AS BIGINT) AS budget
        |FROM c WHERE cum <= budget
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q65: the same 64-plane multi-table signature CTE as q24/q58, PLUS
    // the 500-cap cell filter, directed candidate pairs, bit-identical
    // cosine, and the per-node (cos DESC, dst ASC) top-5 rank.
    "q65_knn_graph" ->
      s"""WITH $planes64Cte,
        |sizes AS (SELECT tbl, bucket, count(*) AS bsz FROM sig64 GROUP BY 1, 2),
        |ok AS (SELECT tbl, bucket FROM sizes WHERE bsz > 1 AND bsz <= 500),
        |sok AS (SELECT s.vec_id, s.tbl, s.bucket FROM sig64 s JOIN ok USING (tbl, bucket)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM sok a JOIN sok b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |pairs AS (
        |  SELECT c.src, c.dst, ${duckCosine("es.emb", "ed.emb")} AS cos
        |  FROM cand c
        |  JOIN e es ON es.vec_id = c.src
        |  JOIN e ed ON ed.vec_id = c.dst),
        |ranked AS (
        |  SELECT src, dst, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
        |  FROM pairs)
        |SELECT src AS vec_id, CAST(rn AS BIGINT) AS rank, dst AS neighbor_id, cos
        |FROM ranked WHERE rn <= 5 ORDER BY vec_id, rank""".stripMargin,
    // q84: q81's chunk CTE at (100,100) + a per-md5 distinct-doc count
    // + the per-doc shared-chunk aggregation.
    "q84_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |c AS (
        |  SELECT doc_id, md5(substring(text, CAST(i * 100 + 1 AS INTEGER), 100)) AS chunk_md5
        |  FROM d, LATERAL (SELECT unnest(generate_series(0,
        |    CAST(floor((greatest(n - 100, 0) + 99) / 100) AS BIGINT))) AS i)),
        |fam AS (
        |  SELECT doc_id, chunk_md5,
        |    count(DISTINCT doc_id) OVER (PARTITION BY chunk_md5) AS n_docs_sharing
        |  FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs_sharing > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
        |FROM fam GROUP BY doc_id
        |HAVING n_shared_chunks > 0
        |ORDER BY doc_id""".stripMargin,

    // q86: the full BM25 computation replayed — same tokenizer, same
    // rational idf, same parenthesization on every double op, same
    // left-associated zero-padded fold in token order. Raw double
    // scores hash-compared.
    "q86_bm25_topk" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |tf AS (
        |  SELECT doc_id, tok AS token, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  WHERE tok IN ('filter', 'join', 'spark', 'vector')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |wts AS (
        |  SELECT t.doc_id, t.token,
        |    (((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)) + 0.5)
        |       / (CAST(f.df AS DOUBLE) + 0.5)) *
        |    ((CAST(t.tf AS DOUBLE) * 2.2)
        |       / (CAST(t.tf AS DOUBLE)
        |          + (1.2 * (0.25 + (0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl)))))) AS w
        |  FROM tf t
        |  JOIN dfreq f USING (token)
        |  JOIN dl d USING (doc_id)
        |  CROSS JOIN stats s),
        |folded AS (
        |  SELECT doc_id, CAST(cnt AS BIGINT) AS n_terms,
        |    ((((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0))
        |       + COALESCE(l[3], 0.0)) + COALESCE(l[4], 0.0)) AS score
        |  FROM (SELECT doc_id, count(*) AS cnt, list(w ORDER BY token) AS l
        |        FROM wts GROUP BY doc_id))
        |SELECT doc_id, n_terms, score FROM folded
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q87: domain derived from the fixture arithmetic (the q66 style
    // — the oracle does not run the PSL parser), identical window.
    "q87_frontier" ->
      """WITH u AS (
        |  SELECT doc_id AS id,
        |    'https://sub' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.com/p' || CAST(doc_id AS VARCHAR) AS url,
        |    'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain,
        |    CAST(doc_id % 13 AS BIGINT) AS priority
        |  FROM documents)
        |SELECT id, url, domain, priority,
        |  CAST(row_number() OVER (PARTITION BY domain
        |    ORDER BY priority DESC, url) AS BIGINT) AS slot
        |FROM u ORDER BY slot, domain, url""".stripMargin,

    // q88: word-frequency table, lateral char-pair fan-out, weighted
    // pair agg, (count DESC, pair) top-50 — all integers.
    "q88_bpe_pairs" ->
      """WITH words AS (
        |  SELECT tok AS word, count(*) AS cnt
        |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  GROUP BY 1),
        |w2 AS (SELECT word, cnt FROM words WHERE length(word) >= 2),
        |pairs AS (
        |  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, word, cnt
        |  FROM w2, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i)),
        |agg AS (
        |  SELECT pair, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
        |    CAST(sum(cnt) AS BIGINT) AS n_occurrences
        |  FROM pairs GROUP BY 1),
        |top AS (SELECT * FROM agg ORDER BY n_occurrences DESC, pair LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS BIGINT) AS rank,
        |  pair, n_words, n_occurrences
        |FROM top ORDER BY rank""".stripMargin,

    // q89: same 60-bit md5-prefix hash as the winnowing oracles, same
    // k-smallest-distinct order statistic, same IEEE-double estimate
    // arithmetic ((k-1)·2^60/h_k, floor, cast).
    "q89_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |mins AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash FROM mins),
        |ex AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact FROM documents)
        |SELECT k_used, kth_hash,
        |  CASE WHEN k_used < 64 THEN k_used
        |       ELSE CAST(floor(((CAST(k_used AS DOUBLE) - 1.0) * 1152921504606846976.0)
        |         / CAST(kth_hash AS DOUBLE)) AS BIGINT) END AS est_distinct,
        |  n_exact
        |FROM agg CROSS JOIN ex""".stripMargin,

    // q90: the QI window count and the >= k filter, verbatim.
    "q90_k_anonymity" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(n_chars / 100) AS BIGINT) AS len_band
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, source, len_band,
        |    CAST(count(*) OVER (PARTITION BY lang, source, len_band) AS BIGINT) AS group_size
        |  FROM d)
        |SELECT doc_id, lang, source, len_band, group_size
        |FROM g WHERE group_size >= 3 ORDER BY doc_id""".stripMargin,

    // q83: q65's entire ranked-knn CTE, then the identical
    // left-associated zero-padded average fold and the same margin
    // expression — raw doubles hash-compared.
    "q83_margin_pairs" ->
      s"""WITH $planes64Cte,
        |sizes AS (SELECT tbl, bucket, count(*) AS bsz FROM sig64 GROUP BY 1, 2),
        |ok AS (SELECT tbl, bucket FROM sizes WHERE bsz > 1 AND bsz <= 500),
        |sok AS (SELECT s.vec_id, s.tbl, s.bucket FROM sig64 s JOIN ok USING (tbl, bucket)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM sok a JOIN sok b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |pairs AS (
        |  SELECT c.src, c.dst, ${duckCosine("es.emb", "ed.emb")} AS cos
        |  FROM cand c
        |  JOIN e es ON es.vec_id = c.src
        |  JOIN e ed ON ed.vec_id = c.dst),
        |knn AS (
        |  SELECT src, dst, cos, rn FROM (
        |    SELECT src, dst, cos,
        |      row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
        |    FROM pairs) WHERE rn <= 5),
        |avgs AS (
        |  SELECT vec_id,
    |    ((((COALESCE(l[1], 0.0) + COALESCE(l[2], 0.0)) + COALESCE(l[3], 0.0))
        |       + COALESCE(l[4], 0.0)) + COALESCE(l[5], 0.0)) / len(l) AS avg_knn
        |  FROM (SELECT src AS vec_id, list(cos ORDER BY rn) AS l FROM knn GROUP BY 1)),
        |edges AS (
        |  SELECT DISTINCT least(src, dst) AS a_id, greatest(src, dst) AS b_id, cos
        |  FROM knn)
        |SELECT e.a_id, e.b_id, e.cos,
        |  2.0 * e.cos / (aa.avg_knn + ab.avg_knn) AS margin
        |FROM edges e
        |JOIN avgs aa ON aa.vec_id = e.a_id
        |JOIN avgs ab ON ab.vec_id = e.b_id
        |WHERE 2.0 * e.cos / (aa.avg_knn + ab.avg_knn) >= 1.05
        |ORDER BY a_id, b_id""".stripMargin,

    // q67: q65's candidate machinery + the cluster filter — cluster =
    // table-0 signature bucket, replicated from the same planes CTE.
    "q67_hard_negatives" ->
      s"""WITH $planes64Cte,
        |sizes AS (SELECT tbl, bucket, count(*) AS bsz FROM sig64 GROUP BY 1, 2),
        |ok AS (SELECT tbl, bucket FROM sizes WHERE bsz > 1 AND bsz <= 500),
        |sok AS (SELECT s.vec_id, s.tbl, s.bucket FROM sig64 s JOIN ok USING (tbl, bucket)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM sok a JOIN sok b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |clus AS (SELECT vec_id, bucket AS cl FROM sig64 WHERE tbl = 0),
        |filt AS (
        |  SELECT c.src, c.dst FROM cand c
        |  JOIN clus a ON a.vec_id = c.src
        |  JOIN clus b ON b.vec_id = c.dst
        |  WHERE a.cl <> b.cl),
        |pairs AS (
        |  SELECT f.src, f.dst, ${duckCosine("es.emb", "ed.emb")} AS cos
        |  FROM filt f
        |  JOIN e es ON es.vec_id = f.src
        |  JOIN e ed ON ed.vec_id = f.dst),
        |ranked AS (
        |  SELECT src, dst, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
        |  FROM pairs)
        |SELECT src AS vec_id, CAST(rn AS BIGINT) AS rank, dst AS neighbor_id, cos
        |FROM ranked WHERE rn <= 5 ORDER BY vec_id, rank""".stripMargin,
    // q66: the oracle does NOT run the canonicalizer — it derives each
    // doc's expected canonical form independently from the fixture
    // arithmetic (lowercased scheme/host, :443 stripped only for the
    // %3==0 branch, :8080 kept, www. stripped, fragment and tracking
    // params gone, trailing-slash rules applied), then groups.
    "q66_canonical_url" ->
      """WITH canon AS (
        |  SELECT doc_id,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com'
        |      || CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
        |      || '/Article/' || CAST(doc_id % 13 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0
        |              THEN '?ref=' || CAST(doc_id % 4 AS VARCHAR)
        |              ELSE '' END AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, count(*)::BIGINT AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,

    // q68: rank-based per-group quantile — keep rank ≤ ⌈n·3/10⌉ under
    // (score DESC, id ASC); the ceil compares as rank·10 ≤ n·3 + 9.
    "q68_quality_quantile" ->
      """WITH s AS (
        |  SELECT doc_id, source, length(text)::BIGINT AS score FROM documents),
        |r AS (
        |  SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)::BIGINT AS rank,
        |    count(*) OVER (PARTITION BY source)::BIGINT AS n_group
        |  FROM s)
        |SELECT doc_id, source, score, rank, n_group
        |FROM r WHERE rank * 10 <= n_group * 3 + 9
        |ORDER BY source, rank""".stripMargin,

    // q69: the q63 bigram CTE feeding corpus-wide counts, the minCount
    // prune, and a per-prefix (count DESC, gram ASC) top-3.
    "q69_ngram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(toks)-1, 0)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM t),
        |c AS (
        |  SELECT g2 AS g, count(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(grams) AS g2 FROM g)
        |  GROUP BY g2 HAVING count(*) >= 2),
        |p AS (SELECT g, cnt, string_split(g, ' ')[1] AS prefix FROM c),
        |r AS (
        |  SELECT prefix, g, cnt,
        |    row_number() OVER (PARTITION BY prefix ORDER BY cnt DESC, g)::BIGINT AS rank
        |  FROM p)
        |SELECT prefix, rank, g, cnt FROM r WHERE rank <= 3
        |ORDER BY prefix, rank""".stripMargin,

    // q70: the oracle constructs the SAME marked strings (chr() for the
    // non-ASCII markers — U+FFFD=65533, Ã=195, ©=169, â=226, €=8364,
    // ™=8482, C0 control=1) and re-counts them with RE2 — no arithmetic
    // shortcut, so a miscount on EITHER engine breaks the hash.
    "q70_encoding_anomalies" ->
      """WITH marked AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN ' caf' || chr(195) || chr(169) || ' it' || chr(226) || chr(8364) || chr(8482) || 's'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ' ' || chr(65533) || chr(65533) ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0 THEN ' ' || chr(1) || 'end' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, chr(65533)))::BIGINT AS n_replacement,
        |  len(regexp_extract_all(text, '[' || chr(194) || chr(195) || chr(226) || ']'))::BIGINT AS n_mojibake_lead,
        |  len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]'))::BIGINT AS n_ctrl,
        |  CAST(CASE WHEN len(regexp_extract_all(text, chr(65533)))
        |            + len(regexp_extract_all(text, '[' || chr(194) || chr(195) || chr(226) || ']'))
        |            + len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) > 0
        |       THEN 1 ELSE 0 END AS BIGINT) AS suspect
        |FROM marked ORDER BY doc_id""".stripMargin,

    // q91: the q89 KMV CTE partitioned by lang — distinct 60-bit hashes,
    // row_number ≤ k per lang, then the identical IEEE-double estimate
    // ((k_used-1)·2^60/kth_hash, floor, cast); exact branch below k.
    "q91_kmv_by_lang" ->
      """WITH h AS (
        |  SELECT DISTINCT lang, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |rk AS (
        |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        |  FROM h),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash
        |  FROM rk WHERE rn <= 128 GROUP BY lang)
        |SELECT lang, k_used, kth_hash,
        |  CASE WHEN k_used < 128 THEN k_used
        |       ELSE CAST(floor(((CAST(k_used AS DOUBLE) - 1.0) * 1152921504606846976.0)
        |         / CAST(kth_hash AS DOUBLE)) AS BIGINT) END AS est_distinct
        |FROM agg ORDER BY lang""".stripMargin,

    // q92: the q87 fixture arithmetic for domain/path (the oracle does
    // not run the PSL parser), the rule VALUES verbatim (wildcard
    // rules carry their hand-compiled regex in an extra column; plain
    // rules carry NULL and match by starts_with), and the
    // longest-match tie-break replayed as a row_number over
    // (len DESC, allow DESC, prefix DESC) — the same total order the
    // Spark side's max(struct(len, allow, prefix)) induces, with len
    // measured on the RAW pattern on both sides. Unmatched URLs keep
    // their single left-join NULL row (rn=1 trivially) and surface as
    // allowed=true with NULL matched_*.
    "q92_robots_gate" ->
      """WITH u AS (
        |  SELECT doc_id AS id,
        |    'https://sub' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.example' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.com/p' || CAST(doc_id AS VARCHAR) AS url,
        |    'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain,
        |    '/p' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |r AS (SELECT * FROM (VALUES
        |  ('example0.com', '/p', NULL, false), ('example0.com', '/p1', NULL, true),
        |  ('example0.com', '/p12', NULL, false),
        |  ('example1.com', '/p', NULL, true), ('example1.com', '/p2', NULL, false),
        |  ('example2.com', '/p', NULL, false), ('example2.com', '/p4', NULL, true),
        |  ('example2.com', '/p44', NULL, false),
        |  ('example3.com', '/p7', NULL, true), ('example3.com', '/p7', NULL, false),
        |  ('example4.com', '/', NULL, false),
        |  ('example5.com', '/p*9$', '^/p.*9$', false),
        |  ('example5.com', '/p1*2', '^/p1.*2', false),
        |  ('example5.com', '/p', NULL, true)) AS t(domain, prefix, re, allow)),
        |m AS (
        |  SELECT u.id, u.url, u.domain, r.prefix, r.allow,
        |    row_number() OVER (PARTITION BY u.id
        |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC) AS rn
        |  FROM u LEFT JOIN r
        |    ON u.domain = r.domain
        |   AND CASE WHEN r.re IS NULL THEN starts_with(u.path, r.prefix)
        |            ELSE regexp_matches(u.path, r.re) END)
        |SELECT id, url, domain, COALESCE(allow, true) AS allowed,
        |  prefix AS matched_prefix, CAST(length(prefix) AS BIGINT) AS matched_len
        |FROM m WHERE rn = 1 ORDER BY id""".stripMargin,

    // q93: the q90 banding, then the SAME two-window identity the Spark
    // side uses (windows lack COUNT DISTINCT on both engines):
    // dense_rank over (QI, ORDER BY sensitive) numbers the distinct
    // sensitive values, max over the QI partition broadcasts the count.
    "q93_l_diversity" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(n_chars / 100) AS BIGINT) AS len_band
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, source, len_band,
        |    dense_rank() OVER (PARTITION BY lang, len_band ORDER BY source) AS dr
        |  FROM d),
        |g2 AS (
        |  SELECT doc_id, lang, source, len_band,
        |    CAST(max(dr) OVER (PARTITION BY lang, len_band) AS BIGINT) AS distinct_sensitive
        |  FROM g)
        |SELECT doc_id, lang, source, len_band, distinct_sensitive
        |FROM g2 WHERE distinct_sensitive >= 3 ORDER BY doc_id""".stripMargin,

    // q94: 4 unrolled PageRank iterations with the exactFold src-ordered
    // list fold (the q83/q86 zero-padded left-association — in-degree is
    // ≤ 3 on this fixture, the 4th COALESCE adds an exact 0.0). Literals
    // that are not exactly representable are forced through DOUBLE casts
    // BEFORE arithmetic: DuckDB parses 1.0 - 0.85 as exact DECIMAL (=
    // 0.15, a DIFFERENT double than Scala's 1.0 - 0.85), so the oracle
    // spells CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE) to reproduce the
    // Spark driver's IEEE subtraction bit-for-bit.
    "q94_pagerank" ->
      """WITH nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM nn) AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM nn)
        |    FROM documents)),
        |ew AS (
        |  SELECT e.src, e.dst, o.outdeg
        |  FROM e JOIN (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
        |               FROM e GROUP BY src) o USING (src)),
        |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM nodes),
        |c1 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r0 r ON r.id = ew.src),
        |s1 AS (SELECT dst,
        |         ((((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0))
        |            + COALESCE(l[3], 0.0)) + COALESCE(l[4], 0.0)) AS s
        |       FROM (SELECT dst, list(c ORDER BY src) AS l FROM c1 GROUP BY dst)),
        |r1 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s1 s ON s.dst = n.id),
        |c2 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r1 r ON r.id = ew.src),
        |s2 AS (SELECT dst,
        |         ((((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0))
        |            + COALESCE(l[3], 0.0)) + COALESCE(l[4], 0.0)) AS s
        |       FROM (SELECT dst, list(c ORDER BY src) AS l FROM c2 GROUP BY dst)),
        |r2 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s2 s ON s.dst = n.id),
        |c3 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r2 r ON r.id = ew.src),
        |s3 AS (SELECT dst,
        |         ((((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0))
        |            + COALESCE(l[3], 0.0)) + COALESCE(l[4], 0.0)) AS s
        |       FROM (SELECT dst, list(c ORDER BY src) AS l FROM c3 GROUP BY dst)),
        |r3 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s3 s ON s.dst = n.id),
        |c4 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r3 r ON r.id = ew.src),
        |s4 AS (SELECT dst,
        |         ((((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0))
        |            + COALESCE(l[3], 0.0)) + COALESCE(l[4], 0.0)) AS s
        |       FROM (SELECT dst, list(c ORDER BY src) AS l FROM c4 GROUP BY dst)),
        |r4 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s4 s ON s.dst = n.id)
        |SELECT id, pr FROM r4 ORDER BY id""".stripMargin,

    // q158: the full training replay — char rows, then each of the 8
    // iterations unrolled as plain SQL (adjacent-pair counts, top-1
    // by (count DESC, pair ASC), greedy non-overlapping merge via
    // gaps-and-islands windows). Generated programmatically.
    "q158_bpe_train" -> graft.queries.BpeTrainQuery.oracleSql,

    // q95: the q88 tokenizer spelling, distinct vocabulary, each word
    // as ' '-joined chars, the fixture merges replayed as two global
    // replaces each in rank order (exact for a≠b pairs — see
    // bpeFixtureMerges), per-word token count = #spaces - 1, per-doc
    // sums with a LEFT JOIN zero-fill for token-less docs.
    "q95_bpe_encode" ->
      s"""WITH docwords AS (
        |  SELECT doc_id, tok AS word
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |        FROM documents)),
        |vocab AS (SELECT DISTINCT word FROM docwords),
        |chars AS (
        |  SELECT word,
        |    ' ' || string_agg(substr(word, CAST(i AS INTEGER), 1), ' ' ORDER BY i) || ' ' AS s
        |  FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(word))) AS i)
        |  GROUP BY word),
        |enc AS (SELECT word, ${bpeOracleReplay("s")} AS s FROM chars),
        |cnt AS (
        |  SELECT word,
        |    CAST(length(s) - length(replace(s, ' ', '')) AS BIGINT) - 1 AS n_tok
        |  FROM enc),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM docwords JOIN cnt USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(p.n_words, 0) AS n_words,
        |  COALESCE(p.n_tokens, 0) AS n_tokens
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q133: the q95 merge-replay machinery grouped by lang; fertility
    // is one double division of exact integer sums.
    "q133_bpe_fertility" ->
      s"""WITH docwords AS (
        |  SELECT lang, tok AS word
        |  FROM (SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |        FROM documents)),
        |vocab AS (SELECT DISTINCT word FROM docwords),
        |chars AS (
        |  SELECT word,
        |    ' ' || string_agg(substr(word, CAST(i AS INTEGER), 1), ' ' ORDER BY i) || ' ' AS s
        |  FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(word))) AS i)
        |  GROUP BY word),
        |enc AS (SELECT word, ${bpeOracleReplay("s")} AS s FROM chars),
        |cnt AS (
        |  SELECT word,
        |    CAST(length(s) - length(replace(s, ' ', '')) AS BIGINT) - 1 AS n_tok
        |  FROM enc)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
        |FROM docwords JOIN cnt USING (word)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q134: q43's gram construction, pair-attributed — distinct grams
    // per doc on both sides, gram-keyed join, per-pair count.
    "q134_contamination_pairs" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks)-7, 0)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |           || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |    FROM documents)),
        |corp AS (SELECT doc_id AS corpus_id, unnest(sh) AS g FROM s WHERE doc_id % 7 <> 3),
        |bench AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM s WHERE doc_id % 7 = 3)
        |SELECT corpus_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM corp JOIN bench USING (g)
        |GROUP BY corpus_id, eval_id
        |ORDER BY corpus_id, eval_id""".stripMargin,

    // q96: the bloom path is an optimization with an exact verify
    // join, so the oracle is the plain anti-join it reproduces.
    "q96_bloom_decontaminate" ->
      """SELECT d.doc_id, d.lang, d.source
        |FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents r
        |  WHERE r.doc_id % 10 = 3 AND r.text = d.text)
        |ORDER BY d.doc_id""".stripMargin,

    // q97: hash every 8-gram with the shared 60-bit md5 prefix, cut
    // where h % 256 = 0 (cut ends at gram start + 7), close the final
    // chunk at the doc end (UNION dedupes a cut landing exactly
    // there), chunks via lag over the ordered cut ends.
    "q97_cdc_chunks" ->
      """WITH pos AS (
        |  SELECT doc_id, i,
        |    ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15))::BIGINT AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 7)) AS i)
        |  WHERE length(text) >= 8),
        |ends AS (
        |  SELECT doc_id, CAST(i + 7 AS BIGINT) AS end_pos
        |  FROM pos WHERE h % 256 = 0
        |  UNION
        |  SELECT doc_id, CAST(length(text) AS BIGINT) FROM documents WHERE length(text) > 0),
        |chunks AS (
        |  SELECT doc_id, end_pos,
        |    COALESCE(lag(end_pos) OVER (PARTITION BY doc_id ORDER BY end_pos), 0) + 1 AS start_pos,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY end_pos) - 1 AS chunk_idx
        |  FROM ends)
        |SELECT c.doc_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(c.start_pos AS BIGINT) AS start_pos,
        |  CAST(c.end_pos - c.start_pos + 1 AS BIGINT) AS chunk_chars,
        |  md5(substr(d.text, CAST(c.start_pos AS INTEGER),
        |      CAST(c.end_pos - c.start_pos + 1 AS INTEGER))) AS chunk_md5
        |FROM chunks c JOIN documents d USING (doc_id)
        |ORDER BY c.doc_id, c.chunk_idx""".stripMargin,

    // q98: layout never changes results — the oracle is the plain
    // join+agg with the q3-family decimal discipline.
    "q98_bucketed_join" ->
      """SELECT o.o_orderpriority,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q99: exact heavy hitters — the oracle pays the full vocabulary
    // GROUP BY the two-pass MG plan avoids; same tokenizer spelling as
    // q9/q11, exact integer threshold (cnt * 200 > n, strict).
    "q99_heavy_tokens" ->
      """WITH toks AS (
        |  SELECT u.tok AS token
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''
        |), tot AS (SELECT count(*) AS n FROM toks)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM toks, tot
        |GROUP BY token, tot.n
        |HAVING count(*) * 200 > tot.n
        |ORDER BY cnt DESC, token""".stripMargin,
    "q100_dsir_scores" -> dsirOracle,
    // q101: ordered-EMD t-closeness — integer cumulative differences
    // over HUGEINT (the Spark side uses DECIMAL(38,0)), one final
    // int->double division for the audit emd. gc/glc naming: both
    // engines resolve identifiers case-insensitively, so c/C collide.
    "q101_t_closeness" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, (n_chars // 200)::BIGINT AS len_band
        |  FROM documents),
        |gl AS (SELECT source AS s, count(*)::BIGINT AS glc FROM base GROUP BY 1),
        |tot AS (SELECT sum(glc)::BIGINT AS n_all, count(*)::BIGINT AS m FROM gl),
        |g AS (SELECT lang, len_band, source AS s, count(*)::BIGINT AS gc
        |  FROM base GROUP BY 1, 2, 3),
        |spine AS (SELECT DISTINCT lang, len_band FROM base),
        |grid AS (SELECT sp.lang, sp.len_band, gl.s, gl.glc
        |  FROM spine sp CROSS JOIN gl),
        |filled AS (
        |  SELECT grid.lang, grid.len_band, grid.s, grid.glc,
        |    coalesce(g.gc, 0) AS gc
        |  FROM grid LEFT JOIN g ON grid.lang = g.lang
        |    AND grid.len_band = g.len_band AND grid.s = g.s),
        |t1 AS (
        |  SELECT *,
        |    sum(gc) OVER (PARTITION BY lang, len_band ORDER BY s) AS cumc,
        |    sum(glc) OVER (PARTITION BY lang, len_band ORDER BY s) AS cumg,
        |    sum(gc) OVER (PARTITION BY lang, len_band) AS ng
        |  FROM filled),
        |gate AS (
        |  SELECT lang, len_band,
        |    sum(abs((SELECT n_all FROM tot)::HUGEINT * cumc::HUGEINT
        |      - ng::HUGEINT * cumg::HUGEINT)) AS num,
        |    max(ng) AS ng, max((SELECT n_all FROM tot)) AS n_all,
        |    max((SELECT m FROM tot)) AS m
        |  FROM t1 GROUP BY 1, 2),
        |keep AS (
        |  SELECT lang, len_band, ng::BIGINT AS group_n,
        |    CASE WHEN ng::HUGEINT * n_all::HUGEINT * (m-1)::HUGEINT = 0 THEN 0.0
        |         ELSE CAST(num AS DOUBLE)
        |           / CAST(ng::HUGEINT * n_all::HUGEINT * (m-1)::HUGEINT AS DOUBLE)
        |    END AS emd
        |  FROM gate
        |  WHERE num * 16 <= ng::HUGEINT * n_all::HUGEINT * (m-1)::HUGEINT * 1)
        |SELECT b.doc_id, b.lang, b.source, b.len_band, k.group_n, k.emd
        |FROM base b JOIN keep k ON b.lang = k.lang AND b.len_band = k.len_band
        |ORDER BY b.doc_id""".stripMargin,
    // q102: the q86 BM25 CTE chain ranked 1..20, the q12-style ANN
    // top-20 for query vec 0, RRF-fused with the same
    // sorted-by-list-name fold the Spark side runs.
    "q102_rrf_hybrid" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |tf AS (
        |  SELECT doc_id, tok AS token, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |        FROM documents)
        |  WHERE tok IN ('filter', 'join', 'spark', 'vector')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |wts AS (
        |  SELECT t.doc_id, t.token,
        |    (((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)) + 0.5)
        |       / (CAST(f.df AS DOUBLE) + 0.5)) *
        |    ((CAST(t.tf AS DOUBLE) * 2.2)
        |       / (CAST(t.tf AS DOUBLE)
        |          + (1.2 * (0.25 + (0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl)))))) AS w
        |  FROM tf t
        |  JOIN dfreq f USING (token)
        |  JOIN dl d USING (doc_id)
        |  CROSS JOIN stats s),
        |folded AS (
        |  SELECT doc_id,
        |    ((((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0))
        |       + COALESCE(l[3], 0.0)) + COALESCE(l[4], 0.0)) AS score
        |  FROM (SELECT doc_id, list(w ORDER BY token) AS l
        |        FROM wts GROUP BY doc_id)),
        |bm AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM (SELECT doc_id, score FROM folded
        |        ORDER BY score DESC, doc_id LIMIT 20)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id = 0),
        |ann AS (
        |  SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS rank
        |  FROM (SELECT e.vec_id,
        |          row_number() OVER (ORDER BY list_dot_product(e.emb, q.qemb) DESC, e.vec_id) AS rn
        |        FROM e JOIN q ON e.vec_id <> q.query_id) t
        |  WHERE rn <= 20),
        |u AS (
        |  SELECT doc_id, 'bm25' AS src_list, rank FROM bm
        |  UNION ALL SELECT doc_id, 'ann', rank FROM ann),
        |f AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
        |    list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY src_list) AS l
        |  FROM u GROUP BY doc_id)
        |SELECT doc_id, n_lists,
        |  ((0.0 + COALESCE(l[1], 0.0)) + COALESCE(l[2], 0.0)) AS rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    // q103: per-group exact heavy hitters — the oracle pays the full
    // per-lang vocabulary GROUP BY the two-pass plan avoids.
    "q103_heavy_by_lang" ->
      """WITH toks AS (
        |  SELECT d.lang, u.tok AS token
        |  FROM documents d,
        |       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |ng AS (SELECT lang, count(*)::BIGINT AS group_n FROM toks GROUP BY 1),
        |c AS (SELECT lang, token, count(*)::BIGINT AS cnt
        |  FROM toks GROUP BY 1, 2)
        |SELECT c.lang, c.token, c.cnt, ng.group_n
        |FROM c JOIN ng ON c.lang = ng.lang
        |WHERE c.cnt * 100 > ng.group_n
        |ORDER BY c.lang, c.cnt DESC, c.token""".stripMargin,
    // q105: exact set algebra over the same tokenization; every pair is
    // in the operator's exact branch at this SF (union < k), so inter/
    // uni/jaccard are plain COUNT DISTINCT arithmetic.
    "q105_overlap_matrix" ->
      """WITH toks AS (
        |  SELECT DISTINCT d.source, u.tok FROM documents d,
        |    unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
        |  WHERE u.tok <> ''),
        |v AS (SELECT source, count(*)::BIGINT AS n FROM toks GROUP BY 1),
        |i AS (SELECT a.source AS sa, b.source AS sb, count(*)::BIGINT AS inter
        |      FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
        |      GROUP BY 1, 2),
        |p AS (SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b
        |      FROM v a JOIN v b ON a.source < b.source)
        |SELECT p.sa AS src_a, p.sb AS src_b, p.n_a, p.n_b,
        |  coalesce(i.inter, 0) AS inter,
        |  p.n_a + p.n_b - coalesce(i.inter, 0) AS uni,
        |  coalesce(i.inter, 0)::DOUBLE
        |    / (p.n_a + p.n_b - coalesce(i.inter, 0))::DOUBLE AS jaccard,
        |  TRUE AS exact
        |FROM p LEFT JOIN i ON p.sa = i.sa AND p.sb = i.sb
        |ORDER BY src_a, src_b""".stripMargin,
    // q111: same change construction; compaction = row_number over
    // q112: 2 unrolled HITS iterations on the q94 link fixture. The
    // neighborhood sum is list_reduce over [0.0] || list(sc ORDER BY
    // neighbor) — exactly Spark's aggregate(array_sort(...), 0.0, +)
    // left-association. Max-normalization needs no fold (max is
    // order-independent); score tables are always node-complete with
    // COALESCE(s/mx, 0.0) so zero-score nodes contribute exact 0.0 adds
    // in the next iteration, as in the engine.
    "q112_hits" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents),
        |nodes AS (SELECT doc_id AS id FROM documents),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM nn) AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM nn)
        |    FROM documents)),
        |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS sc FROM nodes),
        |a1s AS (SELECT dst AS id,
        |          list_reduce([CAST(0.0 AS DOUBLE)] || list(sc ORDER BY src),
        |                      (x, y) -> x + y) AS s
        |        FROM e JOIN h0 ON h0.id = e.src GROUP BY dst),
        |a1 AS (SELECT n.id,
        |         COALESCE(s.s / (SELECT max(s) FROM a1s), CAST(0.0 AS DOUBLE)) AS sc
        |       FROM nodes n LEFT JOIN a1s s ON s.id = n.id),
        |h1s AS (SELECT src AS id,
        |          list_reduce([CAST(0.0 AS DOUBLE)] || list(sc ORDER BY dst),
        |                      (x, y) -> x + y) AS s
        |        FROM e JOIN a1 ON a1.id = e.dst GROUP BY src),
        |h1 AS (SELECT n.id,
        |         COALESCE(s.s / (SELECT max(s) FROM h1s), CAST(0.0 AS DOUBLE)) AS sc
        |       FROM nodes n LEFT JOIN h1s s ON s.id = n.id),
        |a2s AS (SELECT dst AS id,
        |          list_reduce([CAST(0.0 AS DOUBLE)] || list(sc ORDER BY src),
        |                      (x, y) -> x + y) AS s
        |        FROM e JOIN h1 ON h1.id = e.src GROUP BY dst),
        |a2 AS (SELECT n.id,
        |         COALESCE(s.s / (SELECT max(s) FROM a2s), CAST(0.0 AS DOUBLE)) AS sc
        |       FROM nodes n LEFT JOIN a2s s ON s.id = n.id),
        |h2s AS (SELECT src AS id,
        |          list_reduce([CAST(0.0 AS DOUBLE)] || list(sc ORDER BY dst),
        |                      (x, y) -> x + y) AS s
        |        FROM e JOIN a2 ON a2.id = e.dst GROUP BY src),
        |h2 AS (SELECT n.id,
        |         COALESCE(s.s / (SELECT max(s) FROM h2s), CAST(0.0 AS DOUBLE)) AS sc
        |       FROM nodes n LEFT JOIN h2s s ON s.id = n.id)
        |SELECT n.id, h.sc AS hub, a.sc AS auth
        |FROM nodes n JOIN h2 h ON h.id = n.id JOIN a2 a ON a.id = n.id
        |ORDER BY n.id""".stripMargin,
    // q113: the same lined fixture (RE2 'g'-flag replace, \1 backref),
    // then the three line rules as list_filter lambdas and the
    // doc-marker drops as plain contains. Word count is the
    // engine-portable split-on-' ' non-empty form.
    "q113_c4_line_clean" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+) ',
        |                   '\1.' || chr(10), 'g') AS t0
        |  FROM documents),
        |t1s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN t0 || '.' ELSE t0 END AS t1
        |  FROM lined),
        |mk AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN t1 || ' {' ELSE t1 END AS t
        |  FROM t1s),
        |survivors AS (
        |  SELECT doc_id, t FROM mk
        |  WHERE NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(lower(t), '{')),
        |ls AS (
        |  SELECT doc_id,
        |    list_transform(string_split(t, chr(10)), l -> trim(l)) AS all_lines
        |  FROM survivors),
        |flt AS (
        |  SELECT doc_id, all_lines,
        |    list_filter(all_lines, l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
        |      AND NOT contains(lower(l), 'slow')) AS kept
        |  FROM ls)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(all_lines) - len(kept) AS BIGINT) AS n_dropped
        |FROM flt WHERE len(kept) > 0 ORDER BY doc_id""".stripMargin,
    // q114: unnest lines with their subscript, count identities
    // globally, reassemble with a pos-ordered string_agg that skips the
    // over-occurring lines via CASE->NULL.
    "q114_dedup_lines" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+) ',
        |                                '\1.' || chr(10), 'g'), chr(10)) AS ls
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, i AS pos, trim(ls[i]) AS line
        |  FROM lined, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)
        |  WHERE trim(ls[i]) <> ''),
        |cnt AS (SELECT lower(line) AS ident, count(*) AS n FROM ex GROUP BY 1),
        |j AS (SELECT e.doc_id, e.pos, e.line, c.n
        |      FROM ex e JOIN cnt c ON lower(e.line) = c.ident),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN n <= 1 THEN line END, chr(10) ORDER BY pos) AS text,
        |    count(CASE WHEN n <= 1 THEN 1 END) AS n_kept,
        |    count(*) - count(CASE WHEN n <= 1 THEN 1 END) AS n_removed
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, text, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(n_removed AS BIGINT) AS n_removed
        |FROM agg WHERE n_kept > 0 ORDER BY doc_id""".stripMargin,
    // q115: 3 unrolled LPA iterations; the most-frequent/min-label rule
    // is a row_number over the per-(node,label) counts (the engine's
    // max(struct(c, -lab)) spelled as a window), isolated nodes keep
    // their previous label via LEFT JOIN + COALESCE.
    "q115_label_prop" ->
      """WITH nodes AS (SELECT doc_id AS id FROM documents),
        |raw AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 10 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id - 1 FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id > 0),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
        |  WHERE src <> dst),
        |l0 AS (SELECT id, id AS lab FROM nodes),
        |b1 AS (
        |  SELECT id, lab FROM (
        |    SELECT e.dst AS id, l.lab,
        |      row_number() OVER (PARTITION BY e.dst
        |                         ORDER BY count(*) DESC, l.lab ASC) AS rn
        |    FROM e JOIN l0 l ON l.id = e.src GROUP BY e.dst, l.lab)
        |  WHERE rn = 1),
        |l1 AS (SELECT l.id, COALESCE(b.lab, l.lab) AS lab
        |       FROM l0 l LEFT JOIN b1 b ON b.id = l.id),
        |b2 AS (
        |  SELECT id, lab FROM (
        |    SELECT e.dst AS id, l.lab,
        |      row_number() OVER (PARTITION BY e.dst
        |                         ORDER BY count(*) DESC, l.lab ASC) AS rn
        |    FROM e JOIN l1 l ON l.id = e.src GROUP BY e.dst, l.lab)
        |  WHERE rn = 1),
        |l2 AS (SELECT l.id, COALESCE(b.lab, l.lab) AS lab
        |       FROM l1 l LEFT JOIN b2 b ON b.id = l.id),
        |b3 AS (
        |  SELECT id, lab FROM (
        |    SELECT e.dst AS id, l.lab,
        |      row_number() OVER (PARTITION BY e.dst
        |                         ORDER BY count(*) DESC, l.lab ASC) AS rn
        |    FROM e JOIN l2 l ON l.id = e.src GROUP BY e.dst, l.lab)
        |  WHERE rn = 1),
        |l3 AS (SELECT l.id, COALESCE(b.lab, l.lab) AS lab
        |       FROM l2 l LEFT JOIN b3 b ON b.id = l.id)
        |SELECT id, lab AS label FROM l3 ORDER BY id""".stripMargin,
    // q116: brute-force all-pairs containment at oracle scale (the
    // engine's prefix-filtered candidates + exact verify are lossless
    // below the df cap, which this corpus never reaches); quote docs
    // rebuilt by the same 20-token slice, 5-gram shingles.
    "q116_containment" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, toks FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000, toks[1:20] FROM base WHERE doc_id % 17 = 2),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks)-4, 0)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |         || toks[i+3] || ' ' || toks[i+4])) AS sh
        |  FROM corpus)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
        |  CAST(len(a.sh) AS BIGINT) AS n_a
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE len(a.sh) > 0
        |  AND 10 * len(list_intersect(a.sh, b.sh)) >= 9 * len(a.sh)
        |ORDER BY 1, 2""".stripMargin,
    // q117: same tokenizer, counts per half, full-outer vocabulary
    // join; the cross-products go through HUGEINT (exact int128) for
    // the ORDER BY + tie-break, then the k survivors project imbalance
    // as DOUBLE (round-to-nearest of the exact integer) per the
    // final-cast-to-DOUBLE contract above — mirroring Spark, which
    // sorts on DECIMAL(38,0) and casts after the limit.
    "q117_token_drift" ->
      """WITH ta AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT token, count(*)::BIGINT AS n_a FROM ta GROUP BY 1),
        |cb AS (SELECT token, count(*)::BIGINT AS n_b FROM tb GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM ta)::HUGEINT AS tot_a,
        |               (SELECT count(*) FROM tb)::HUGEINT AS tot_b),
        |j AS (
        |  SELECT COALESCE(ca.token, cb.token) AS token,
        |    COALESCE(n_a, 0)::BIGINT AS n_a, COALESCE(n_b, 0)::BIGINT AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |r AS (
        |  SELECT token, n_a, n_b,
        |    abs(n_a::HUGEINT * (SELECT tot_b FROM tot)
        |      - n_b::HUGEINT * (SELECT tot_a FROM tot)) AS imb
        |  FROM j
        |  ORDER BY imb DESC, token ASC LIMIT 50)
        |SELECT token, n_a, n_b, CAST(imb AS DOUBLE) AS imbalance
        |FROM r""".stripMargin,
    // q125: the q48 hash-order idiom ranks rows per lang, quartiles
    // via quantile_cont on the 64-row sample (the q40 percentile
    // parity).
    "q125_sample_quantiles" ->
      """WITH h AS (
        |  SELECT lang, doc_id, length(text) AS v,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1073741824 AS hb
        |  FROM documents),
        |r AS (
        |  SELECT lang, v,
        |    row_number() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rn
        |  FROM h)
        |SELECT lang, count(*)::BIGINT AS n_sample,
        |  CAST(quantile_cont(v, 0.25) AS DOUBLE) AS q_25,
        |  CAST(quantile_cont(v, 0.5) AS DOUBLE) AS q_50,
        |  CAST(quantile_cont(v, 0.75) AS DOUBLE) AS q_75
        |FROM r WHERE rn <= 64
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q124: the q25 per-window LID replica over fixed 200-char
    // substrings; langs as an ordered DISTINCT string_agg matching
    // Spark's sorted collect_set join.
    "q124_mixed_lang" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN text || repeat(' der die das und ist', 10)
        |         ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (
        |  SELECT doc_id, substr(t, (i - 1) * 200 + 1, 200) AS chunk
        |  FROM f, LATERAL (SELECT unnest(generate_series(1,
        |         ((length(t) - 1) // 200) + 1)) AS i)
        |  WHERE length(t) > 0),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(chunk), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM w),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(tk, t -> t IN ('der','die','das','und','ist','ein','eine','zu','mit','nicht'))) AS s_de,
        |    len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS s_en,
        |    len(list_filter(tk, t -> t IN ('el','la','de','y','es','un','una','que','en','los'))) AS s_es,
        |    len(list_filter(tk, t -> t IN ('le','la','de','et','est','un','une','que','les','pour'))) AS s_fr
        |  FROM tk),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |         ELSE 'de' END AS guess
        |  FROM sc),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_windows,
        |    count(DISTINCT guess)::BIGINT AS n_langs,
        |    string_agg(DISTINCT guess, ',' ORDER BY guess) AS langs
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, n_windows, n_langs, langs
        |FROM agg WHERE n_langs > 1 ORDER BY doc_id""".stripMargin,
    // q122: row_number over the same (key, id) total order, neighbor
    // join unrolled over gaps 1..3.
    "q122_snm_pairs" ->
      """WITH s AS (
        |  SELECT doc_id AS id,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |           1, 40) AS k
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT id, row_number() OVER (ORDER BY k, id) - 1 AS rn FROM s),
        |g AS (SELECT unnest(generate_series(1, 3)) AS gap)
        |SELECT a.id AS a_id, b.id AS b_id, CAST(g.gap AS BIGINT) AS gap
        |FROM r a CROSS JOIN g JOIN r b ON b.rn = a.rn + g.gap
        |ORDER BY a_id, b_id, gap""".stripMargin,
    // q123: generated fixLog2 CTE chain (see entropyOracle).
    "q123_source_entropy" -> entropyOracle,
    // q121: same fixture arithmetic; the Luhn fold as a nested-lambda
    // list_sum over generate_series(1,16), doubling from the right,
    // fold-back by -9 — integer-exact on both engines.
    "q121_card_luhn" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    lpad(CAST((doc_id * 37137137 + 11) % 1000000000000000 AS VARCHAR),
        |         15, '0') || CAST(doc_id % 10 AS VARCHAR) AS card16
        |  FROM documents),
        |g AS (
        |  SELECT d.doc_id, d.text || ' card ' ||
        |    CASE WHEN d.doc_id % 5 = 0
        |         THEN substr(f.card16,1,4) || '-' || substr(f.card16,5,4) || '-'
        |              || substr(f.card16,9,4) || '-' || substr(f.card16,13,4)
        |         ELSE f.card16 END ||
        |    CASE WHEN d.doc_id % 7 = 0 THEN ' id 123456789012345' ELSE '' END
        |    || ' end' AS text
        |  FROM documents d JOIN f ON f.doc_id = d.doc_id),
        |c AS (
        |  SELECT doc_id,
        |    list_transform(
        |      regexp_extract_all(text,
        |        '\b(?:[0-9]{16}|[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4})\b'),
        |      x -> regexp_replace(x, '[- ]', '', 'g')) AS cards
        |  FROM g)
        |SELECT doc_id, CAST(len(cards) AS BIGINT) AS n_candidates,
        |  CAST(len(list_filter(cards, n ->
        |    (list_sum(list_transform(generate_series(1, 16), i ->
        |      CASE WHEN ((16 - i) % 2) = 1 THEN
        |        CASE WHEN (ascii(substr(n, i::INTEGER, 1)) - 48) * 2 > 9
        |             THEN (ascii(substr(n, i::INTEGER, 1)) - 48) * 2 - 9
        |             ELSE (ascii(substr(n, i::INTEGER, 1)) - 48) * 2 END
        |      ELSE ascii(substr(n, i::INTEGER, 1)) - 48 END)) % 10) = 0))
        |    AS BIGINT) AS n_valid
        |FROM c ORDER BY doc_id""".stripMargin,
    // q120: identical running-max sweep as three CASE windows over one
    // WINDOW clause; span arithmetic cancels the 1-based-vs-0-based
    // position offset by construction.
    "q120_proximity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i AS pos, l[i] AS token
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i)
        |  WHERE l[i] IN ('table', 'scan', 'fast')),
        |sw AS (
        |  SELECT doc_id, pos,
        |    max(CASE WHEN token = 'table' THEN pos END) OVER w AS l0,
        |    max(CASE WHEN token = 'scan'  THEN pos END) OVER w AS l1,
        |    max(CASE WHEN token = 'fast'  THEN pos END) OVER w AS l2
        |  FROM p
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |               ROWS UNBOUNDED PRECEDING)),
        |agg AS (
        |  SELECT doc_id,
        |    min(CASE WHEN l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
        |             THEN pos - least(l0, l1, l2) + 1 END) AS min_span,
        |    count(*) AS n_hits
        |  FROM sw GROUP BY doc_id)
        |SELECT doc_id, CAST(min_span AS BIGINT) AS min_span,
        |  CAST(n_hits AS BIGINT) AS n_hits
        |FROM agg WHERE min_span IS NOT NULL AND min_span <= 12
        |ORDER BY doc_id""".stripMargin,
    // q119: 3 unrolled seeded-teleport iterations; the q112
    // list_reduce seeded fold (length-agnostic, unlike q94's COALESCE
    // unroll) and the q94 DOUBLE-cast literal discipline.
    "q119_trustrank" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents),
        |nodes AS (SELECT doc_id AS id, (doc_id % 23 = 5) AS is_seed FROM documents),
        |ns AS (SELECT CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE) AS s
        |       FROM nodes),
        |e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM nn) AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM nn)
        |    FROM documents)),
        |ew AS (
        |  SELECT e.src, e.dst, o.outdeg
        |  FROM e JOIN (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
        |               FROM e GROUP BY src) o USING (src)),
        |r0 AS (SELECT id, CASE WHEN is_seed
        |         THEN CAST(1.0 AS DOUBLE) / (SELECT s FROM ns)
        |         ELSE CAST(0.0 AS DOUBLE) END AS pr FROM nodes),
        |c1 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r0 r ON r.id = ew.src),
        |s1 AS (SELECT dst, list_reduce([CAST(0.0 AS DOUBLE)] || list(c ORDER BY src),
        |                               (x, y) -> x + y) AS s
        |       FROM c1 GROUP BY dst),
        |r1 AS (SELECT n.id,
        |         CASE WHEN n.is_seed
        |           THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |           ELSE CAST(0.0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s1 s ON s.dst = n.id),
        |c2 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r1 r ON r.id = ew.src),
        |s2 AS (SELECT dst, list_reduce([CAST(0.0 AS DOUBLE)] || list(c ORDER BY src),
        |                               (x, y) -> x + y) AS s
        |       FROM c2 GROUP BY dst),
        |r2 AS (SELECT n.id,
        |         CASE WHEN n.is_seed
        |           THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |           ELSE CAST(0.0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s2 s ON s.dst = n.id),
        |c3 AS (SELECT ew.dst, ew.src, r.pr / ew.outdeg AS c
        |       FROM ew JOIN r2 r ON r.id = ew.src),
        |s3 AS (SELECT dst, list_reduce([CAST(0.0 AS DOUBLE)] || list(c ORDER BY src),
        |                               (x, y) -> x + y) AS s
        |       FROM c3 GROUP BY dst),
        |r3 AS (SELECT n.id,
        |         CASE WHEN n.is_seed
        |           THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT s FROM ns)
        |           ELSE CAST(0.0 AS DOUBLE) END
        |         + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
        |       FROM nodes n LEFT JOIN s3 s ON s.dst = n.id)
        |SELECT id, pr FROM r3 ORDER BY id""".stripMargin,
    // q118: the q48 window idiom plus per-source size join; epochs =
    // integer floor-div, remainder charged to the same hash-order
    // prefix. DuckDB's // is floor division on integers.
    "q118_epoch_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS hb
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, tok, hb,
        |    CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |         THEN 800 + 2200 * (CAST(substr(source, 4) AS INT) % 3) END AS budget
        |  FROM d),
        |sz AS (SELECT source, sum(tok) AS src_tokens FROM b
        |       WHERE budget IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT b.doc_id, b.source, b.tok, b.budget, sz.src_tokens,
        |    CASE WHEN sz.src_tokens > 0 THEN b.budget // sz.src_tokens
        |         ELSE 0 END AS epochs,
        |    CASE WHEN sz.src_tokens > 0 THEN b.budget % sz.src_tokens
        |         ELSE 0 END AS rem,
        |    sum(b.tok) OVER (PARTITION BY b.source ORDER BY b.hb, b.doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b JOIN sz USING (source)
        |  WHERE b.budget IS NOT NULL),
        |r AS (
        |  SELECT *, epochs + CASE WHEN tok > 0 AND cum <= rem
        |                          THEN 1 ELSE 0 END AS repeat_count
        |  FROM c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(repeat_count) AS BIGINT) AS sum_repeats,
        |  CAST(sum(repeat_count * tok) AS BIGINT) AS planned_tokens
        |FROM r WHERE repeat_count >= 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // (seq desc, op desc); apply = NOT IN touched + upsert union.
    "q111_cdc_apply" ->
      """WITH ch AS (
        |  SELECT doc_id, 1 AS seq, 'upsert' AS op,
        |    text || ' v2-edit' AS text, lang, source,
        |    length(text || ' v2-edit')::BIGINT AS n_chars
        |  FROM documents WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, 2, 'delete', NULL, lang, source, NULL
        |  FROM documents WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id, 3, 'upsert', 'rewritten ' || lang, lang, source,
        |    length('rewritten ' || lang)::BIGINT
        |  FROM documents WHERE doc_id % 13 = 5),
        |comp AS (
        |  SELECT * FROM (
        |    SELECT ch.*, row_number()
        |      OVER (PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |kept AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM comp)),
        |next AS (
        |  SELECT * FROM kept
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars FROM comp
        |  WHERE op = 'upsert')
        |SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM next ORDER BY doc_id""".stripMargin,
    // q110: the q33 hash construction at 100 buckets; labels by the
    // same cumulative cuts (train < 90, val < 95, else test).
    "q110_split_assign" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS hb
        |  FROM documents)
        |SELECT CASE WHEN hb < 90 THEN 'train'
        |            WHEN hb < 95 THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q109: same double-expression structure as the operator
    // (cast-then-multiply-then-divide) so the lift is bit-identical.
    "q109_collocations" ->
      """WITH t0 AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
        |    i -> ts[i] || ' ' || ts[i + 1])) AS g
        |  FROM t0),
        |un AS (SELECT unnest(ts) AS w FROM t0),
        |ba AS (SELECT g, count(*)::BIGINT AS n_ab FROM bg GROUP BY 1),
        |uc AS (SELECT w, count(*)::BIGINT AS nw FROM un GROUP BY 1),
        |tot AS (SELECT sum(n_ab)::BIGINT AS n FROM ba)
        |SELECT ba.g AS bigram, ba.n_ab, a.nw AS n_a, b.nw AS n_b,
        |  (ba.n_ab::DOUBLE * tot.n::DOUBLE)
        |    / (a.nw::DOUBLE * b.nw::DOUBLE) AS lift
        |FROM ba
        |CROSS JOIN tot
        |JOIN uc a ON a.w = split_part(ba.g, ' ', 1)
        |JOIN uc b ON b.w = split_part(ba.g, ' ', 2)
        |WHERE ba.n_ab >= 3
        |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin,
    // q108: identical quantization; the curve walk is the unrolled
    // per-level CTE chain emitted next to the implementation.
    "q108_hilbert_layout" ->
      s"""WITH e AS (
         |  SELECT user_id % 256 AS x,
         |    ((epoch_ns(ts) // 1000) // 3600000000) % 256 AS y
         |  FROM events),
         |${graft.ops.Layout.hilbertSql("e", 8)}
         |SELECT hkey >> 10 AS bucket, count(*) AS n_events,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y,
         |  min(hkey) AS min_hkey, max(hkey) AS max_hkey
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // q107: per-column stats, min/max rendered through VARCHAR and
    // truncated to 32 chars exactly as the operator does.
    "q107_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column", count(*)::BIGINT AS n_rows,
        |    (count(*) - count(doc_id))::BIGINT AS n_null,
        |    count(DISTINCT doc_id)::BIGINT AS n_distinct,
        |    substr(min(doc_id)::VARCHAR, 1, 32) AS min_32,
        |    substr(max(doc_id)::VARCHAR, 1, 32) AS max_32 FROM documents
        |  UNION ALL
        |  SELECT 'text', count(*)::BIGINT, (count(*) - count(text))::BIGINT,
        |    count(DISTINCT text)::BIGINT,
        |    substr(min(text), 1, 32), substr(max(text), 1, 32) FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*)::BIGINT, (count(*) - count(lang))::BIGINT,
        |    count(DISTINCT lang)::BIGINT,
        |    substr(min(lang), 1, 32), substr(max(lang), 1, 32) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*)::BIGINT, (count(*) - count(source))::BIGINT,
        |    count(DISTINCT source)::BIGINT,
        |    substr(min(source), 1, 32), substr(max(source), 1, 32) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*)::BIGINT, (count(*) - count(n_chars))::BIGINT,
        |    count(DISTINCT n_chars)::BIGINT,
        |    substr(min(n_chars)::VARCHAR, 1, 32),
        |    substr(max(n_chars)::VARCHAR, 1, 32) FROM documents
        |) ORDER BY "column"""".stripMargin,
    // q106: the oracle materializes every positional bigram (two
    // parallel unnests zip in DuckDB) and matches the literal phrase;
    // positions are 0-based in the operator, 1-based in generate_series.
    "q106_phrase_search" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
        |      i -> ts[i] || ' ' || ts[i + 1])) AS g,
        |    unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
        |  FROM t0)
        |SELECT doc_id, count(*)::BIGINT AS n_matches,
        |  (min(i) - 1)::BIGINT AS first_pos
        |FROM tg WHERE g = 'table key'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q104: the oracle rebuilds the planted-key fixture and pays the
    // length-banded all-pairs levenshtein the prefix filter avoids;
    // 32-char keys sit inside the operator's q·(maxDist+1)=18 domain.
    "q104_edit_near_dup" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id // 3) % 20 = 0 THEN
        |      substr(md5('g' || CAST(doc_id // 3 AS VARCHAR)),
        |             1, (doc_id % 3) * 7) || 'z' ||
        |      substr(md5('g' || CAST(doc_id // 3 AS VARCHAR)),
        |             (doc_id % 3) * 7 + 2, 32 - ((doc_id % 3) * 7 + 1))
        |    ELSE md5('u' || CAST(doc_id AS VARCHAR)) END AS t
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  levenshtein(a.t, b.t)::BIGINT AS dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.t) - length(b.t)) <= 2
        |  AND levenshtein(a.t, b.t) <= 2
        |ORDER BY a_id, b_id""".stripMargin,
  )
}
