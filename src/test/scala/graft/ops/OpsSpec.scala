package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** LLM-pipeline operators over the driver's documents/embeddings tables
  * at sf0.001 (500 docs / 500 vectors). */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def embs = spark.read.parquet(s"$dir/embeddings.parquet")

  test("near-dup pairs via LSH+exact-verify equal brute-force exact Jaccard") {
    import spark.implicits._
    // brute force on 500 docs: all-pairs exact Jaccard (test-only oracle)
    val sh = TextOps.shingles(docs, "doc_id", "text")
      .as[(Long, Seq[String])].collect().toMap
    val ids = sh.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = sh(ids(i)).toSet; b = sh(ids(j)).toSet
      u = (a ++ b).size
      if u > 0 && 2 * a.intersect(b).size >= u
    } yield (ids(i), ids(j))).toSet

    val got = Dedup.nearDupPairs(docs)
      .as[(Long, Long)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty, "sf0.001 should contain planted near-dups")
  }

  test("LSH candidate generation drops a planted mega-bucket, keeps small buckets") {
    import spark.implicits._
    // 600 docs with IDENTICAL minhash signatures — every one of the 32
    // band buckets holds 600 ids, over the default 500 cap (the hot
    // boilerplate-template scenario the cap exists for) — plus one
    // 2-doc bucket family that must survive. The mega-bucket's
    // collect_list/pair space must never form; the observation reports
    // 32 dropped buckets and the 600 max.
    val hotSig = (0 until 64).map(i => 1000L + i)
    val pairSig = (0 until 64).map(i => 2000L + i)
    val sigDf = ((0L until 600L).map(i => (i, hotSig)) ++
      Seq((9001L, pairSig), (9002L, pairSig))).toDF("doc_id", "sig")
    val obs = new org.apache.spark.sql.Observation("lsh-cap")
    val got = Dedup.lshCandidatePairs(sigDf, stats = Some(obs))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((9001L, 9002L)),
      s"mega-bucket must drop, small bucket must survive: ${got.size} pairs")
    val m = obs.get
    assert(m("dropped_buckets").asInstanceOf[Long] == 32L, s"metrics: $m")
    assert(m("max_bucket").asInstanceOf[Long] == 600L, s"metrics: $m")
  }

  test("bucket-cap drops WARN by default (no Observation threaded); silent when under cap") {
    import spark.implicits._
    // Same planted mega-bucket as above, but the production shape: the
    // caller passes NO stats. The default-on CapStats metric must still
    // record the drop (the WARN's assertable side). Listener delivery
    // rides the async listener bus — poll.
    def awaitFired(op: String): Seq[(String, Long, Long)] = {
      val deadline = System.nanoTime() + 10e9.toLong
      var got = Seq.empty[(String, Long, Long)]
      while (got.isEmpty && System.nanoTime() < deadline) {
        got = graft.ops.CapStats.drainFired().filter(_._1 == op)
        if (got.isEmpty) Thread.sleep(50)
      }
      got
    }
    graft.ops.CapStats.drainFired() // isolate from earlier tests
    // The surviving 2-doc family matters: an ALL-empty result lets AQE
    // empty-propagation elide the metrics node (documented CapStats
    // caveat) — the WARN contract is for partial drops.
    val hotSig = (0 until 64).map(i => 1000L + i)
    val okSig = (0 until 64).map(i => 2000L + i)
    val sigDf = ((0L until 600L).map(i => (i, hotSig)) ++
      Seq((9001L, okSig), (9002L, okSig))).toDF("doc_id", "sig")
    Dedup.lshCandidatePairs(sigDf).count()
    val fired = awaitFired("lshCandidatePairs")
    assert(fired.nonEmpty, "cap fired but no default WARN was recorded")
    assert(fired.exists { case (_, d, m) => d == 32L && m == 600L },
      s"expected (32 dropped, 600 max): $fired")
    // Under-cap corpus: two 2-doc buckets — no drop, no WARN.
    val pairSig = (0 until 64).map(i => 2000L + i)
    val small = Seq((1L, pairSig), (2L, pairSig)).toDF("doc_id", "sig")
    Dedup.lshCandidatePairs(small).count()
    Thread.sleep(500) // give a spurious event time to surface
    assert(graft.ops.CapStats.drainFired().filter(_._1 == "lshCandidatePairs").isEmpty,
      "no WARN may fire when every bucket is under the cap")
  }

  test("ANN/IVF sizing rules: recommendedBits / recommendedK and soft guards") {
    // bits = ceil(log2(n / target)), clamped [4, 30]
    assert(Ann.recommendedBits(64L * 256, targetBucketSize = 64L) == 8)
    assert(Ann.recommendedBits(1000000L) == 14)       // 1e6/64 → 2^13.9
    assert(Ann.recommendedBits(1000000000L) == 24)    // 1e9/64 → 2^23.9
    assert(Ann.recommendedBits(10L) == 4)             // clamp low
    assert(Ann.recommendedBits(Long.MaxValue / 2) == 30) // clamp high
    // soft guard: fine at the sizing the defaults assume, loud 100× past it
    assert(Ann.warnIfUnderBucketed(6000L, 8, "spec").isEmpty)
    val warn = Ann.warnIfUnderBucketed(1000000000L, 8, "spec")
    assert(warn.exists(_.contains("Raise bits to ~24")), s"got $warn")
    // IVF: k ≈ √n, clamped [16, 1<<20]
    assert(Ivf.recommendedK(1000000L) == 1000)
    assert(Ivf.recommendedK(100L) == 16)
    assert(Ivf.warnIfUnderProvisioned(6000L, 16).isEmpty)
    val ivfWarn = Ivf.warnIfUnderProvisioned(1000000000L, 16)
    assert(ivfWarn.exists(_.contains("k ≈ √corpus")), s"got $ivfWarn")
  }

  test("plan shapes: vocabTopK is TakeOrdered, clusterSurvivors aggregates without a window") {
    val vocabPlan = TextOps.vocabTopK(docs, k = 10)
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject"),
      s"top-k must never be a global sort:\n$vocabPlan")
    import spark.implicits._
    val clusters = Seq((1L, 1L)).toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5L)).toDF("doc_id", "score")
    val survPlan = Dedup.clusterSurvivors(clusters, quality)
      .queryExecution.executedPlan.toString
    assert(!survPlan.contains("Window"),
      s"survivor pick must be an aggregate, not a per-cluster window:\n$survPlan")
    assert(survPlan.contains("partial_max") || survPlan.contains("partial_"),
      s"expected map-side partial aggregation:\n$survPlan")
  }

  test("cluster survivors: highest score wins, min id breaks ties, members counted") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),   // cluster 10
      (7L, 7L), (9L, 7L)).toDF("doc_id", "cluster_id")
    val quality = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),      // tie on 9 → min id 2 wins
      (7L, 4L), (9L, 4L)).toDF("doc_id", "score")
    val got = Dedup.clusterSurvivors(clusters, quality)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 2L, 9L, 3L), (7L, 7L, 4L, 2L)), got.toString)
  }

  test("contamination scores equal brute-force gram-overlap counts") {
    import spark.implicits._
    val all = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val toks = Option(t).getOrElse("").toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.length < 8) Set.empty
      else toks.sliding(8).map(_.mkString(" ")).toSet
    }
    val bench = all.filter(_._1 % 7 == 3).flatMap(d => grams(d._2)).toSet
    val expected = all.filter(_._1 % 7 != 3).flatMap { case (id, t) =>
      val g = grams(t)
      if (g.isEmpty) None else Some((id, g.size.toLong, g.count(bench).toLong))
    }.toSet
    val got = Dedup.contaminationScores(
        docs.filter(col("doc_id") % 7 =!= 3),
        docs.filter(col("doc_id") % 7 === 3), n = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.exists(_._3 > 0), "sf0.001 should contain planted overlap")
    assert(got.exists(r => r._3 == 0), "and clean docs scoring zero")
  }

  test("vocabTopK equals brute-force token counting with the deterministic tie order") {
    import spark.implicits._
    val all = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    val occ = scala.collection.mutable.Map[String, Long]()
    val dfq = scala.collection.mutable.Map[String, Set[Long]]()
    all.foreach { case (id, t) =>
      Option(t).getOrElse("").toLowerCase.split("[^a-z0-9]+")
        .filter(_.nonEmpty).foreach { tok =>
          occ(tok) = occ.getOrElse(tok, 0L) + 1
          dfq(tok) = dfq.getOrElse(tok, Set.empty) + id
        }
    }
    val expected = occ.toSeq.sortBy { case (t, n) => (-n, t) }.take(10)
      .zipWithIndex.map { case ((t, n), i) =>
        (i + 1L, t, dfq(t).size.toLong, n) }
    val got = TextOps.vocabTopK(docs, k = 10)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected, s"\n got=$got\nwant=$expected")
  }

  test("exact dedup groups cover all docs, survivors unique") {
    val g = Dedup.exactGroups(docs)
    val total = g.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total == docs.count())
    assert(g.select("keep_id").distinct().count() == g.count())
  }

  test("simhash: near-dup pairs have small hamming distance, random pairs large") {
    import spark.implicits._
    val pairs = Dedup.nearDupPairs(docs).as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val sim = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dupHam = pairs.map { case (a, b) => ham(sim(a), sim(b)) }
    val rng = new scala.util.Random(7)
    val idsArr = sim.keys.toArray.sorted
    val randHam = (0 until 200).map { _ =>
      val a = idsArr(rng.nextInt(idsArr.length))
      val b = idsArr(rng.nextInt(idsArr.length))
      ham(sim(a), sim(b))
    }
    // the synthetic corpus draws from one tiny vocabulary, so even random
    // pairs share most tokens — the margin is small but must exist
    val randMean = randHam.sum.toDouble / randHam.size
    assert(dupHam.max < 12, s"near-dup hamming too large: ${dupHam.toSeq}")
    assert(randMean > dupHam.max, s"no separation: randMean=$randMean dupMax=${dupHam.max}")
  }

  test("language guess agrees with the lang column where stopwords exist") {
    // the synthetic corpus is word salad — just pin the operator's shape:
    // deterministic, returns a code or 'und'
    val out = docs.select(TextOps.languageGuess(col("text")).as("g"))
      .groupBy("g").count().collect()
    assert(out.nonEmpty)
  }

  test("quality features are sane") {
    val f = docs.select(TextOps.qualityFeatures(col("text")).as("q"))
      .select("q.n_chars", "q.n_tokens", "q.punct_ratio", "q.mean_word_len")
      .collect()
    f.foreach { r =>
      assert(r.getInt(0) > 0)
      assert(r.getInt(1) > 0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(3) > 0.0)
    }
  }

  test("ANN LSH recall vs brute-force cosine") {
    import spark.implicits._
    val queries = embs.filter(col("vec_id") < 20)
    val exact = Ann.topKByCosine(embs, queries, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.lshTopK(embs, queries, 10, dim = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.3f over ${recalls.size} queries")
    assert(mean >= 0.3, f"LSH recall degraded: $mean%.3f")
  }

  test("docFingerprint is deterministic and order-sensitive") {
    import spark.implicits._
    val fp = docs.limit(50).select(col("doc_id"),
      TextOps.docFingerprint(col("text")).as("fp")).as[(Long, Long)].collect()
    val fp2 = docs.limit(50).select(col("doc_id"),
      TextOps.docFingerprint(col("text")).as("fp")).as[(Long, Long)].collect()
    assert(fp.toMap == fp2.toMap)
  }

  test("docFingerprint: punctuation-invariant, order-sensitive (q26 contract)") {
    import spark.implicits._
    val rows = Seq(
      ("Hello, world! It's   fine.", "hello world it s fine", true),
      ("hello;world:it,s.fine", "hello world it s fine", true),
      ("fine s it world hello", "hello world it s fine", false))
      .toDF("a", "b", "expectEq")
    val got = rows.select(
        (TextOps.docFingerprint(col("a")) === TextOps.docFingerprint(col("b"))).as("eq"),
        col("expectEq"))
      .as[(Boolean, Boolean)].collect()
    got.foreach { case (eq, expect) => assert(eq == expect) }
  }

  test("bpeTokenCount: GPT-2-style pre-tokenizer counts (q29 operator)") {
    import spark.implicits._
    // "don't stop" → [don]['t][ stop] = 3; contraction branch wins over
    // the punctuation run. Counts pinned by hand, not by re-running the
    // same regex engine.
    val cases = Seq(
      ("don't stop", 3),              // don | 't | " stop"
      ("Hello, world!", 4),           // hello | "," | " world" | "!"
      ("a1b2", 4),                    // a | 1 | b | 2
      ("  x", 2),                     // "  " (greedy ws run) | x
      ("it's", 2),                    // it | 's
      ("", 0))
      .toDF("text", "expected")
    val got = cases.select(TextOps.bpeTokenCount(col("text")).as("n"), col("expected"))
      .as[(Int, Int)].collect()
    got.foreach { case (n, e) => assert(n == e) }
  }

  test("repetitionStats: duplicated-bigram occurrences, short-doc guard") {
    import spark.implicits._
    val rows = Seq(
      "spam spam spam spam",  // bigrams: [spam spam]×3 → 3 total, 2 dup
      "all words differ here", // 3 bigrams, 0 dup
      "one",                   // too short for a bigram → 0, 0
      "")                      // empty → 0, 0
      .toDF("text")
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(TextOps.repetitionStats(col("toks")).as("r"))
      .select(col("r.n_grams"), col("r.n_dup"))
      .as[(Int, Int)].collect().toSeq
    assert(rows == Seq((3, 2), (3, 0), (0, 0), (0, 0)))
  }

  test("packByBudget: contiguous greedy bins per shard; oversized doc spans but lands once") {
    import spark.implicits._
    val docs = Seq(
      ("s1", 1L, 300L), ("s1", 2L, 300L), // cum 300, 600 → bins 0, 0 (600-300=300 <512)
      ("s1", 3L, 100L),                   // cum 700 → (700-100)//512 = 1
      ("s1", 4L, 2000L),                  // oversized: cum 2700 → (2700-2000)//512 = 1
      ("s1", 5L, 10L),                    // cum 2710 → 2700//512 = 5
      ("s2", 1L, 1L))                     // shard-local: bin 0
      .toDF("source", "doc_id", "tok")
    val got = graft.ops.Packing.packByBudget(docs, 512L, "source", "doc_id", col("tok"))
      .select(col("source"), col("doc_id"), col("bin"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("s1", 1L, 0L), ("s1", 2L, 0L), ("s1", 3L, 1L),
      ("s1", 4L, 1L), ("s1", 5L, 5L), ("s2", 1L, 0L)))
  }

  test("winnowing: brute-force parity and the shared-substring guarantee") {
    import spark.implicits._
    val k = 5; val w = 4
    val rnd = new scala.util.Random(1234)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    // a shared span of exactly w + k - 1 = 8 chars planted in noise
    val shared = "xqzwvyjk"
    val docs = Seq(
      (1L, randText(40) + shared + randText(40)),
      (2L, randText(60) + shared + randText(20)),
      (3L, randText(90))).toDF("doc_id", "text")
    val got = graft.ops.TextOps.winnowingFingerprints(docs, k, w)
      .as[(Long, Long, Long)].collect()
    // brute force the algorithm in plain Scala
    def hash60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val raw = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val expected = raw.flatMap { case (id, t) =>
      val hs = (0 to t.length - k).map(i => (i + 1, hash60(t.substring(i, i + k))))
      (0 to hs.length - w).map { s =>
        val win = hs.slice(s, s + w)
        win.minBy { case (p, h) => (h, -p) } // rightmost minimal
      }.distinct.map { case (p, h) => (id, h, p.toLong) }
    }.toSet
    assert(got.toSet == expected,
      s"missing=${expected -- got.toSet} extra=${got.toSet -- expected}")
    // the guarantee: docs 1 and 2 share a ≥ w+k-1 span → ≥ 1 common fp
    val fp1 = got.filter(_._1 == 1L).map(_._2).toSet
    val fp2 = got.filter(_._1 == 2L).map(_._2).toSet
    assert(fp1.intersect(fp2).nonEmpty, "shared span must share a fingerprint")
  }

  test("winnowing: selection is an order statistic — a monotone hash transform selects identical positions") {
    // the property that justifies swapping SHA-256 for XXH64 in the
    // production path: selectWinnowed reads only comparisons between
    // hash values, so ANY strictly order-preserving remap of the
    // hashes (here: rank in the sorted distinct values) selects the
    // exact same positions, ties included
    val rnd = new scala.util.Random(99)
    (1 to 25).foreach { trial =>
      val n = 20 + rnd.nextInt(300)
      val w = 2 + rnd.nextInt(7)
      // nextInt(40) forces plenty of equal-hash collisions so the
      // rightmost-tie rule is exercised, not just strict minima
      val hs = Array.fill(n)(rnd.nextInt(40).toLong)
      val rank = hs.distinct.sorted.zipWithIndex.toMap
      val remapped = hs.map(h => 1000000L + rank(h) * 7L)
      val basePos = TextOps.selectWinnowed(hs, w).map(_._2).toSeq
      val monoPos = TextOps.selectWinnowed(remapped, w).map(_._2).toSeq
      assert(basePos == monoPos,
        s"trial $trial (n=$n w=$w): positions must be invariant under monotone remap")
    }
  }

  test("winnowing xx64: coverage + shared-span guarantees and determinism") {
    import spark.implicits._
    val k = 5; val w = 4
    val rnd = new scala.util.Random(4321)
    def randText(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val shared = "xqzwvyjk" // exactly w + k - 1 = 8 chars
    val texts = Map(
      1L -> (randText(40) + shared + randText(40)),
      2L -> (randText(60) + shared + randText(20)),
      3L -> randText(90))
    val docs = texts.toSeq.toDF("doc_id", "text")
    def run() = graft.ops.TextOps
      .winnowingFingerprints(docs, k, w, gramHash = "xx64")
      .as[(Long, Long, Long)].collect().toSet
    val got = run()
    assert(got == run(), "xx64 selection must be deterministic")
    // coverage guarantee: every full window of w gram positions holds
    // at least one selected position (this is winnowing's whole point)
    texts.foreach { case (id, t) =>
      val n = t.length - k + 1
      val pos = got.filter(_._1 == id).map(_._3).toSet
      (1 to n - w + 1).foreach { s =>
        assert((s until s + w).exists(p => pos(p.toLong)),
          s"doc $id: window starting at gram $s has no selected fingerprint")
      }
    }
    // shared-span guarantee survives the hash swap: ≥ w+k-1 common
    // chars ⇒ ≥ 1 common fingerprint
    val fp1 = got.filter(_._1 == 1L).map(_._2)
    val fp2 = got.filter(_._1 == 2L).map(_._2)
    assert(fp1.intersect(fp2).nonEmpty, "shared span must share a fingerprint under xx64")
    // and the selections really are different hashes than sha256 mode
    // (guards against the mode flag silently not reaching the worker)
    val sha = graft.ops.TextOps.winnowingFingerprints(docs, k, w)
      .as[(Long, Long, Long)].collect().toSet
    assert(sha.map(_._2).intersect(got.map(_._2)).isEmpty,
      "xx64 and sha256 fingerprint spaces should not overlap on random text")
  }

  test("winnowing xx64 gram hash: pinned values (the q78 oracle's reference points)") {
    // Exactly XXH64(seed=42) over the gram's UTF-16BE bytes — the same
    // five values the DuckDB HUGEINT replay (SparkEntry
    // winnowingXxOracle) was verified against, including a non-ASCII
    // BMP gram. A drift in either engine breaks q78's hash match.
    def h(s: String): Long = {
      val bytes = new Array[Byte](s.length * 2)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        bytes(2 * j) = (c >>> 8).toByte; bytes(2 * j + 1) = c.toByte; j += 1
      }
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, 2 * s.length, 42L)
    }
    assert(h("hello") == -2304676600257632462L)
    assert(h("abcde") == 1366962806455976628L)
    assert(h("aaaaa") == -7271178990198922855L)
    assert(h("x y z") == 2214024048920814724L)
    assert(h("é-ü12") == -2850282485955917799L)
  }

  test("marginScores: margin recomputed independently from the knn graph") {
    import spark.implicits._
    val knn = Ann.knnGraph(embs, k = 5, dim = 64)
      .as[(Long, Long, Long, Double)].collect() // (vec_id, rank, neighbor, cos)
    // replicate the operator's exact fold: rank-ordered, zero-padded,
    // left-associated — then check every emitted pair byte-for-byte
    val avg: Map[Long, Double] = knn.groupBy(_._1).map { case (id, rows) =>
      val byRank = rows.sortBy(_._2).map(_._4).padTo(5, 0.0)
      id -> byRank.reduceLeft(_ + _) / rows.length
    }
    val got = Ann.marginScores(embs, k = 5, dim = 64)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.nonEmpty, "sf0.001 corpus should yield some margin pairs")
    got.foreach { case (a, b, cos, m) =>
      assert(a < b, s"canonical order: ($a,$b)")
      val want = 2.0 * cos / (avg(a) + avg(b))
      assert(java.lang.Double.doubleToLongBits(m) ==
        java.lang.Double.doubleToLongBits(want), s"($a,$b): $m != $want")
      assert(m >= 1.05, s"threshold: ($a,$b) margin $m")
    }
    // every emitted pair must be a knn edge in at least one direction
    val edgeSet = knn.map(r => (math.min(r._1, r._3), math.max(r._1, r._3))).toSet
    got.foreach { case (a, b, _, _) => assert(edgeSet((a, b))) }
  }

  test("gopherRepetitionSignals: hand-computed integers incl. tie-breaks") {
    import spark.implicits._
    val data = Seq(
      (1L, "a a a b. a a"),          // toks [a a a b a a], den 11
      (2L, "x y z w v x y z w v"),   // repeated 5-gram
      (3L, ""), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepetitionSignals(data)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: 2-grams {a a:3, a b:1, b a:1} → top2 = 3×3 = 9; 3- and
    // 4-grams all count-1 → top = gram length (5, 7) via the
    // lex-largest tie-break; no duplicated 5/10-grams
    assert(got(1L) == ((1L, 11L, 9L, 5L, 7L, 0L, 0L)), s"${got(1L)}")
    // doc 2: den 19; top2 tie c=2 contrib 6 → "z w"; dup5 = 2×9 = 18
    assert(got(2L)._2 == 19L && got(2L)._3 == 6L && got(2L)._6 == 18L
      && got(2L)._7 == 0L, s"${got(2L)}")
    // empty → all zero; single token → den only
    assert(got(3L) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(4L) == ((4L, 4L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("snapshotDiff: all four classes, narrow shuffle, full-outer plan") {
    import spark.implicits._
    val cur = Seq(
      (1L, "same"), (2L, "was-old-now-new"), (3L, "brand new")).toDF("k", "payload")
    val pri = Seq(
      (1L, "same"), (2L, "old"), (9L, "gone")).toDF("k", "payload")
    val h = md5(col("payload").cast("binary"))
    val got = Diff.snapshotDiff(cur, pri, "k", h)
      .select(col("k"), col("status")).as[(Long, String)].collect().toSet
    assert(got == Set((2L, "changed"), (3L, "added"), (9L, "removed")))
    val all = Diff.snapshotDiff(cur, pri, "k", h, includeUnchanged = true)
      .select(col("k"), col("status")).as[(Long, String)].collect().toSet
    assert(all == got + ((1L, "unchanged")))
    // scale contract: the payload must NOT cross the shuffle — every
    // Exchange in the plan partitions on the key and carries only
    // (key, hash); the payload column dies in the pre-join projection
    val plan = Diff.snapshotDiff(cur, pri, "k", h)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"expected a full outer join:\n$plan")
    plan.linesIterator.filter(_.contains("Exchange")).foreach { ln =>
      assert(!ln.contains("payload"), s"payload crossed a shuffle: $ln")
    }
  }

  test("zOrderKey: matches brute-force bit interleave; quantize clamps") {
    val rnd = new scala.util.Random(7)
    val bits = 8
    def brute(x: Long, y: Long): Long =
      (0 until bits).map { j =>
        (((x >> j) & 1L) << (j * 2)) | (((y >> j) & 1L) << (j * 2 + 1))
      }.reduce(_ | _)
    import spark.implicits._
    val pts = Seq.fill(200)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = pts.toDF("x", "y")
      .withColumn("zkey", Layout.zOrderKey(Seq(col("x"), col("y")), bits))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == brute(x, y), s"($x,$y): got $z want ${brute(x, y)}")
    }
    // locality smoke: equal points share a key; the max key uses all 16 bits
    assert(brute(255, 255) == (1 << 16) - 1)
    val q = Seq(( -5.0, 0.5, 99.0)).toDF("lo", "mid", "hi")
      .select(
        Layout.quantize(col("lo"), 0.0, 64.0, 6).as("a"),
        Layout.quantize(col("mid"), 0.0, 1.0, 6).as("b"),
        Layout.quantize(col("hi"), 0.0, 64.0, 6).as("c"))
      .as[(Long, Long, Long)].head()
    assert(q == ((0L, 32L, 63L)), s"clamp low / midpoint / clamp high: $q")
  }

  test("chunkDocs: full coverage, overlap, closed-form count, short docs") {
    import spark.implicits._
    val c = 10; val s = 7
    val data = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz"), // 26 chars → 1+ceil(16/7)=4 chunks
      (2L, "short"),                      // < chunk → single partial chunk
      (3L, ""),                           // empty → no chunks
      (4L, null.asInstanceOf[String]))    // null → no chunks
      .toDF("doc_id", "text")
    val got = TextOps.chunkDocs(data, c, s)
      .select(col("doc_id"), col("chunk_idx"), col("start_pos"), col("chunk_chars"))
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val byDoc = got.groupBy(_._1)
    assert(!byDoc.contains(3L) && !byDoc.contains(4L), "empty/null yield no chunks")
    assert(byDoc(2L).toSeq == Seq((2L, 0L, 1L, 5L)), "short doc = one partial chunk")
    val d1 = byDoc(1L).toSeq
    assert(d1.length == 1 + math.ceil((26 - c).toDouble / s).toInt, s"closed form: $d1")
    // coverage: every char position 1..26 inside some [start, start+len)
    val covered = d1.flatMap { case (_, _, st, len) => st until (st + len) }.toSet
    assert((1L to 26L).forall(covered), s"every char covered: $d1")
    // stride: consecutive starts differ by s, overlap c - s chars
    d1.sliding(2).foreach {
      case Seq(a, b) => assert(b._3 - a._3 == s)
      case _ =>
    }
  }

  test("dedupAgainstSnapshot: prior fingerprints drop, batch dups collapse to min id") {
    import spark.implicits._
    val fresh = Seq(
      (10L, "brand new content here"),
      (11L, "seen before in the snapshot"),
      (12L, "batch duplicate text"),
      (13L, "batch duplicate text"),    // same fp as 12 → collapse
      (14L, "Batch   DUPLICATE\ttext")). // case/whitespace-normalizes to the same fp
      toDF("doc_id", "text")
    val prior = Seq(
      (1L, "seen before in the snapshot"),
      (2L, "other old content")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.dedupAgainstSnapshot(fresh, prior)
      .select(col("doc_id"), col("n_batch_dups"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (12L, 3L)),
      s"known content drops, batch dups collapse: $got")
    // plan shape: the snapshot side must anti-join, never materialize
    val plan = graft.ops.Dedup.dedupAgainstSnapshot(fresh, prior)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti join:\n$plan")
  }

  test("keepTopFraction: exact ceil-rank kept count per group, total order") {
    import spark.implicits._
    // group a: 5 docs, keep 3/10 → ceil(1.5) = 2 kept (the two longest,
    // id-ascending tie-break); group b: 1 doc → ceil(0.3) = 1 kept
    val docs = Seq(
      (1L, "a", "xxxxx"), (2L, "a", "xxxxx"), (3L, "a", "xxx"),
      (4L, "a", "x"), (5L, "a", "xx"), (9L, "b", "y"))
      .toDF("doc_id", "source", "text")
    val kept = graft.ops.TextOps.keepTopFraction(
        docs, length(col("text")), keepNum = 3, keepDen = 10)
      .select(col("doc_id"), col("rank"), col("n_group"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(kept.map(_._1).toSeq == Seq(1L, 2L, 9L),
      s"ties break id-ascending, ceil keeps 2 of 5 and 1 of 1: ${kept.toSeq}")
    assert(kept.find(_._1 == 2L).get._2 == 2L)
    assert(kept.find(_._1 == 9L).get._3 == 1L)
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.keepTopFraction(docs, length(col("text")), keepNum = 11, keepDen = 10)
    }
  }

  test("ngramLm equals brute-force bigram counting with prune and per-prefix top-k") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran and the dog sat"),
      (3L, "a dog sat on a mat"))
    val got = graft.ops.TextOps.ngramLm(texts.toDF("doc_id", "text"),
        n = 2, minCount = 2, k = 2)
      .as[(String, Long, String, Long)].collect().toSet
    // brute force
    val grams = texts.flatMap { case (_, t) =>
      t.split(" ").sliding(2).map(_.mkString(" ")) }
    val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    val expected = counts.groupBy(_._1.split(" ").head).flatMap { case (p, gs) =>
      gs.toSeq.sortBy { case (g, c) => (-c, g) }.take(2).zipWithIndex
        .map { case ((g, c), i) => (p, (i + 1).toLong, g, c) }
    }.toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.exists(_._1 == "the"), "shared bigrams must survive the prune")
  }

  test("encodingAnomalies counts planted signatures, clean text is silent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain ascii text, nothing wrong"),
      (2L, "cafÃ© double-decoded and itâ€™s bad"),
      (3L, "lost �� bytes"),
      (4L, "ctl and tab\t newline\n are fine except \u0001\u0002"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.encodingAnomalies(docs)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0L, 0L, 0L, 0L)))
    assert(got(1) == ((2L, 0L, 2L, 0L, 1L)), s"two lead chars: ${got(1)}")
    assert(got(2) == ((3L, 2L, 0L, 0L, 1L)))
    assert(got(3) == ((4L, 0L, 0L, 2L, 1L)), s"tab/newline excluded: ${got(3)}")
  }

  test("dupClusters equals brute-force components on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    (1 to 3).foreach { _ =>
      val n = 40
      val pairs = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.dupClusters(pairs.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      // brute force: repeated relabel until fixpoint over the edge list
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      var lab = nodes.map(v => v -> v).toMap
      var changed = true
      while (changed) {
        changed = false
        pairs.foreach { case (a, b) =>
          val m = math.min(lab(a), lab(b))
          if (lab(a) != m) { lab += a -> m; changed = true }
          if (lab(b) != m) { lab += b -> m; changed = true }
        }
      }
      assert(got == lab)
    }
  }

  test("packByBudget invariants on random inputs: contiguity, budget respect, id-preservation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val budget = 500L
    val docs = (1 to 200).map(i =>
      (s"s${i % 3}", i.toLong, (1 + rnd.nextInt(700)).toLong))
      .toDF("source", "doc_id", "tok")
    val out = graft.ops.Packing.packByBudget(docs, budget, "source", "doc_id", col("tok"))
      .select(col("source"), col("doc_id"), col("__tok"), col("bin"))
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == 200, "every doc lands in exactly one bin")
    out.groupBy(_._1).foreach { case (_, shard) =>
      val ordered = shard.sortBy(_._2)
      // bins are non-decreasing in doc order (contiguous runs)
      assert(ordered.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
      // a bin exceeds the budget only via its LAST doc (the greedy rule:
      // a doc joins the bin its predecessor's running total falls in)
      ordered.groupBy(_._4).foreach { case (_, bin) =>
        val toks = bin.sortBy(_._2).map(_._3)
        assert(toks.dropRight(1).sum < budget,
          "all but the closing doc must fit inside the budget")
      }
    }
    // reserved-name guard
    intercept[IllegalArgumentException] {
      graft.ops.Packing.packByBudget(docs.withColumnRenamed("tok", "bin"),
        budget, "source", "doc_id", col("bin"))
    }
  }

  test("dupClusters: connected components over pair lists, min-id labels") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 → one component labeled 1 (label must
    // propagate across MULTIPLE hops, not just direct pairs);
    // 10-11 a separate component; 20-21, 21-22 a third
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (22L, 21L)).toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // deterministic across reruns
    assert(Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap == got)
    // empty pair set → empty clusters, loop terminates
    assert(Dedup.dupClusters(Seq.empty[(Long, Long)].toDF("a_id", "b_id")).isEmpty)
  }

  test("dupClusters: reliable-checkpoint mode produces identical labels") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val pairs = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.toDF("a_id", "b_id")
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val ckptDir = SparkTestBase.tempDir("graft-ckpt-").toString
    try {
      val reliable = Dedup.dupClusters(pairs, checkpointDir = Some(ckptDir))
        .as[(Long, Long)].collect().toMap
      // the checkpoint mode changes WHERE round state lives, never its
      // content — the labels must be identical, and checkpoint files
      // must actually have been written to the requested dir
      assert(reliable == local)
      assert(graft.core.Fs.list(java.nio.file.Paths.get(ckptDir)).nonEmpty,
        "reliable mode must write checkpoint state under checkpointDir")
    } finally graft.core.Fs.rmTree(java.nio.file.Paths.get(ckptDir))
  }

  test("dupClusters: 1000-node chain converges in O(log d) rounds, not O(d)") {
    import spark.implicits._
    // A template-drift chain 1-2-3-…-1000: diameter 999. Plain
    // min-label propagation needs one Spark round PER HOP (999 rounds —
    // a non-starter at crawl scale). The hybrid burns its bounded
    // min-label budget (5 rounds), detects non-convergence, and
    // escalates to large-star/small-star which contracts geometrically:
    // log₂(999) ≈ 10 star rounds + 1 detection round. Pin the total.
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) =
      Dedup.dupClustersWithRounds(chain, "a_id", "b_id", "doc_id", reliable = false)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 1000)
    assert(got.forall(_._2 == 1L), "whole chain is one component labeled by its min")
    assert(rounds <= 17, s"expected bounded min-label + O(log d) star rounds, got $rounds")
  }

  test("dupClusters: dense blobs converge inside the cheap min-label phase") {
    import spark.implicits._
    // Star-shaped families (the real near-dup shape): must converge
    // within the phase-1 budget — the observable that the hybrid keeps
    // the cheap loop for the common case.
    val pairs = (0 until 50).flatMap { c =>
      val base = c * 100L
      (1 to 8).map(i => (base, base + i))
    }.toDF("a_id", "b_id")
    val (labels, rounds) =
      Dedup.dupClustersWithRounds(pairs, "a_id", "b_id", "doc_id", reliable = false)
    assert(rounds <= 3, s"blobs must converge in the min-label phase, got $rounds rounds")
    val byCluster = labels.as[(Long, Long)].collect().groupBy(_._2)
    assert(byCluster.size == 50 && byCluster.values.forall(_.length == 9))
  }

  test("dupClusters: self-pairs keep their node, singleton label") {
    import spark.implicits._
    // (7,7) is a degenerate pair some upstreams emit (a doc matched
    // itself across tables); the node must survive with its own label,
    // alongside a normal component.
    val pairs = Seq((7L, 7L), (2L, 1L)).toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("brute-force ANN rejects query sets above the broadcast guard") {
    val queries = embs.filter(col("vec_id") < 20)
    val ex = intercept[IllegalArgumentException] {
      Ann.topKByDot(embs, queries, 10, maxBroadcastQueries = 5L)
    }
    assert(ex.getMessage.contains("lshTopK"))
    intercept[IllegalArgumentException] {
      Ann.topKByCosine(embs, queries, 10, maxBroadcastQueries = 5L)
    }
    // at-or-under the cap passes (boundary: exactly cap rows is allowed)
    assert(Ann.topKByDot(embs, queries, 3, maxBroadcastQueries = 20L)
      .count() == 60L)
  }
}
