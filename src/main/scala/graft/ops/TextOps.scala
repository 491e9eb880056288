package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Parallelism

/** Text-analysis primitives for large-scale training-data pipelines.
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (no per-row Scala UDFs on the hot path) so plans stay inside
  * whole-stage codegen and scale linearly with executors.
  *
  * Tokenization is deliberately chosen to be expressible identically in
  * DuckDB (`string_split_regex(lower(text), '[^a-z0-9]+')`) so every
  * operator here can be oracle-checked.
  */
object TextOps {

  /** lowercase word tokens — split on runs outside [a-z0-9], drop empties */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Normalized fingerprint prefix for exact/fuzzy dedup keys: collapse
    * non-alphanumerics to single spaces, lowercase, first `n` chars. */
  def normalizedPrefix(text: Column, n: Int = 100): Column =
    substring(regexp_replace(lower(text), "[^a-z0-9]+", " "), 1, n)

  /** sha256 hex of the normalized prefix — the exact-dedup key. */
  def fingerprint(text: Column, n: Int = 100): Column =
    sha2(normalizedPrefix(text, n), 256)

  /** Gopher-style repetition quality signal: total word n-grams and
    * DUPLICATED n-gram occurrences per document (the repeated-n-gram
    * family of corpus-curation rules). Pure codegen'd column
    * expressions, INTEGER outputs — a threshold like "dup fraction
    * > 0.2" compares exactly as `n_dup * 5 > n_grams` on any engine,
    * no float boundary. Returns struct(n_grams, n_dup).
    *
    * `toks` MUST be a materialized tokens COLUMN (two-step select:
    * `.select(tokens(col("text")).as("toks"))` first) — the same CSE
    * lesson as [[langScores]]/q25: the lambda references the array once
    * per element, and an inline `tokens(text)` subtree would re-run the
    * split per n-gram (measured 14 s vs 0.6 s at sf0.1). */
  def repetitionStats(toks: Column, n: Int = 2): Column = {
    val grams = wordNgrams(toks, n)
    struct(size(grams).as("n_grams"),
      (size(grams) - size(array_distinct(grams))).as("n_dup"))
  }

  /** All word n-gram OCCURRENCES of a token array, in document order
    * (space-joined, one per sliding position — NOT deduplicated; the
    * distinct-set form is [[shingles]]). Pure column expression. `toks`
    * must be a materialized tokens column (the [[repetitionStats]] CSE
    * rule). */
  def wordNgrams(toks: Column, n: Int): Column = {
    val cnt = size(toks) - lit(n - 1)
    // guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    when(cnt <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), cnt),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*)))
  }

  /** Word n-gram OCCURRENCES per document, exploded: (id, g STRING),
    * one row per sliding position in document order. Typed mapPartitions
    * (the [[shingles]] pattern): the tokenizer runs ONCE per document in
    * a tight executor loop — the column-expression alternative
    * ([[wordNgrams]] under an explode) re-evaluates the regex split per
    * gram once CollapseProject merges the projections, which measured
    * 15 s vs ~1 s at sf0.1 (the q41 lesson in exploded form). */
  def ngramOccurrences(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // Locale.ROOT: a locale-default toLowerCase diverges from
        // Spark's lower() / the DuckDB oracle under e.g. a Turkish
        // default JVM locale ('I' → U+0131, which the [a-z0-9] split
        // then deletes)
        val toks = Option(text).getOrElse("")
          .toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9]+").filter(_.nonEmpty)
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).map(g => (id, g.mkString(" ")))
      }
      .toDF(idCol, "g")
  }

  /** Distinct word n-gram shingles per document: (id, sh ARRAY<STRING>).
    * Typed map (not a UDF chain) — one pass, executor-side. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the tokenize+shingle map is CPU-dense: see Parallelism
    Parallelism.spread(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .map { case (id, text) =>
        // Locale.ROOT: a locale-default toLowerCase diverges from
        // Spark's lower() / the DuckDB oracle under e.g. a Turkish
        // default JVM locale ('I' → U+0131, which the [a-z0-9] split
        // then deletes)
        val toks = Option(text).getOrElse("")
          .toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9]+").filter(_.nonEmpty)
        val sh =
          if (toks.length < n) Array.empty[String]
          else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
        (id, sh)
      }
      .toDF(idCol, "sh")
  }

  /** Simple language-ID heuristic over the token stream: scores each
    * candidate language by stopword hits, falls back to "und". The word
    * lists are tiny on purpose — this is the n-gram-heuristic shape, not
    * a model. Pure column expressions: broadcastable, codegen'd. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "nicht"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "una", "que", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "que", "les", "pour"))

  /** All four stopword scores in ONE tokenization and ONE array
    * traversal, as a struct keyed by language code. The naive
    * per-language `size(filter(tokens, ...))` shape tokenizes the text
    * once per (language × stopword) — Catalyst does not CSE the repeated
    * `tokens(text)` subtrees across those expressions (the q23 lesson),
    * which made q25 a 40-regex-splits-per-row plan. */
  def langScores(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    aggregate(tokens(text),
      struct(langs.map(l => lit(0).as(l)): _*),
      (acc, t) => struct(langs.map { l =>
        (acc.getField(l) + when(t.isin(stopwords(l): _*), 1).otherwise(0)).as(l)
      }: _*))
  }

  /** Argmax over a `langScores` struct; ties break to the
    * lexicographically largest language (array_max over (score, lang)
    * structs), zero hits → "und". Pass an ALIASED scores column from a
    * prior projection (not a fresh `langScores(text)`) so the fold runs
    * once, not once per field reference. */
  def guessFromScores(sc: Column): Column = {
    val scored = stopwords.keys.toSeq.sorted.map(l => struct(sc.getField(l).as("s"), lit(l).as("l")))
    val best = array_max(array(scored: _*))
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  def languageGuess(text: Column): Column = guessFromScores(langScores(text))

  /** Quality-score features: length, token stats, punctuation and digit
    * ratios, mean word length — the standard cheap filters before
    * training-data selection. */
  def qualityFeatures(text: Column): Column = {
    val n = length(text)
    val toks = tokens(text)
    val nTok = size(toks)
    val punct = n - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    val digits = n - length(regexp_replace(text, "[0-9]", ""))
    struct(
      n.as("n_chars"),
      nTok.as("n_tokens"),
      (punct.cast("double") / greatest(n, lit(1)).cast("double")).as("punct_ratio"),
      (digits.cast("double") / greatest(n, lit(1)).cast("double")).as("digit_ratio"),
      (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x).cast("double")
        / greatest(nTok, lit(1)).cast("double")).as("mean_word_len"))
  }

  /** GPT-2-style BPE pre-tokenizer pattern (lookahead-free so the same
    * pattern runs under java.util.regex AND DuckDB's RE2): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * whitespace runs. Alternation order matters and is identical on both
    * engines (leftmost-first). Applied to lowercased text. The
    * whitespace class is spelled explicitly: Java's `\s` includes \x0B
    * (vertical tab), RE2's does not, so `\s` would make the two engines
    * tokenize \x0B differently. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \\t\\n\\f\\r']+|[ \\t\\n\\f\\r]+"

  /** Token count under the BPE-ish pre-tokenizer — the cheap proxy for
    * "how many BPE tokens will this document cost" used when budgeting
    * training corpora. Codegen'd regexp, no UDF. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpePattern), lit(0)))

  /** Order-sensitive 64-bit document fingerprint over the normalized
    * token stream — cheap content addressing that ignores whitespace and
    * punctuation differences. (xxhash64 rather than a hand-rolled rolling
    * hash: Spark 4 runs ANSI mode, where a polynomial accumulator's
    * intentional wraparound throws ARITHMETIC_OVERFLOW.) */
  def docFingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  /** TF-IDF-flavored keyword extraction: the top `k` tokens per
    * document ranked by (tf DESC, corpus document-frequency ASC, token
    * ASC) — term salience without a float idf. The float-free rank is
    * deliberate: `log(N/df)` is monotone-decreasing in df, so ordering
    * by `df ASC` IS ordering by idf at equal tf, and the integer sort
    * is bit-stable across engines (the oracle-parity rule every
    * operator here follows).
    *
    * Plan shape at 100 TB: one explode, one (doc, token) partial-agg
    * shuffle for tf, one token-keyed agg for df computed FROM the tf
    * frame (never a second corpus scan), one shuffle join on token,
    * one per-doc window. The df side is vocabulary-sized — big, so it
    * stays a shuffle join (no broadcast assumption).
    *
    * Output: (id, token, tf, df, rank), rank ∈ [1, k]. */
  def topKeywords(docs: DataFrame, idCol: String, textCol: Column,
                  k: Int = 3, minTokenLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(tokens(textCol)).as("token"))
      .filter(length(col("token")) >= minTokenLen)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df")) // tf is one row per (doc, token)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, "token")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("rank"))
  }

  /** Corpus vocabulary statistics, top `k` tokens — the
    * tokenizer-training / vocab-construction prestep of an LLM
    * pipeline: every BPE/unigram trainer starts from exactly this
    * (token, total occurrences, document frequency) table. Ranked by
    * (occurrences DESC, token ASC) — a total order, so the top-k cut is
    * deterministic and engine-independent; all-integer output (the
    * oracle-parity rule).
    *
    * Plan shape at 100 TB: one explode, one token-keyed aggregation
    * with map-side partial aggregation for BOTH counts (n_docs is
    * count_distinct over doc_id, which Spark partial-aggregates as a
    * distinct expand), then `orderBy().limit(k)` — which compiles to
    * TakeOrderedAndProject: per-partition top-k heaps and a tiny driver
    * merge, never a global sort. The final rank assignment runs over k
    * rows only. */
  def vocabTopK(docs: DataFrame, k: Int = 100, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val agg = tok.groupBy(col("token")).agg(
      countDistinct(col(idCol)).as("n_docs"),
      count(lit(1)).as("n_occurrences"))
    // window over the k-row result of TakeOrdered — bounded by k, not
    // the vocabulary (the single-partition window rule's exception)
    val top = agg.orderBy(col("n_occurrences").desc, col("token")).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("token"))).cast("long"))
      .select(col("rank"), col("token"), col("n_docs"), col("n_occurrences"))
  }

  /** Inverted-index construction (token → posting list) — the retrieval
    * side of a data pipeline: corpus search, duplicate triage, and
    * RAG-style lookup all start from this table. Two explicit scale
    * bounds make it a 100 TB operator instead of a toy:
    *
    *  - a DOCUMENT-FREQUENCY BAND [minDf, maxDf]: hapax tokens (index
    *    noise, typically ~half the vocabulary) and stopwords (whose
    *    posting lists would be corpus-sized — the classic index skew)
    *    are both cut before any posting list forms;
    *  - a POSTING CAP `maxPostings`: each surviving token keeps only
    *    its top postings by (tf DESC, id ASC) — a total order, so the
    *    cut is deterministic. `df` still reports the TRUE document
    *    frequency, so cap truncation is visible (`n_postings < df`).
    *
    * Plan shape: one explode, one (token, doc) partial-agg shuffle for
    * tf, one token-keyed agg for df FROM the tf frame (no second corpus
    * scan — the [[topKeywords]] rule), one shuffle join tf↔df (the df
    * side is vocabulary-sized, no broadcast assumption), one per-token
    * window whose `row_number <= maxPostings` filter compiles to
    * WindowGroupLimit (map-side top-k: a capped-but-hot token ships
    * `maxPostings` rows per input partition, never its full posting
    * set), and one final per-token agg that assembles the list. The
    * posting string is ordered by the window rank via `array_sort` over
    * (rank, id) structs — collect_list order is partition-arrival
    * nondeterminism, never exposed.
    *
    * Output: (token, df, n_postings, postings "id,id,…"). */
  def invertedIndex(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", minDf: Long = 2,
                    maxDf: Long = 50, maxPostings: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    val w = Window.partitionBy(col("token"))
      .orderBy(col("tf").desc, col(idCol).asc)
    tf.join(dfreq, "token")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPostings)
      .groupBy(col("token"), col("df"))
      .agg(
        count(lit(1)).cast("long").as("n_postings"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("rn"), col(idCol).as("id")))),
          s => s.getField("id").cast("string"))).as("postings"))
      .select(col("token"), col("df"), col("n_postings"), col("postings"))
  }

  /** Collocation mining — bigrams whose components co-occur far more
    * than independence predicts (Mikolov-style phrase detection /
    * classic PMI collocations), ranked by the lift ratio
    * `n_ab·N / (n_a·n_b)` (= 2^PMI; same ordering, no log, and every
    * factor is an exact integer so the only float op is one division
    * sequence that is bit-identical on any IEEE engine — the
    * fix_log2 oracle-parity rule applied by eliminating the log
    * entirely). `minCount` prunes the noise tail that dominates raw
    * PMI.
    *
    * Plan shape: one corpus pass builds bigram occurrences
    * ([[ngramOccurrences]] — tight typed pass), partial-aggregated to
    * the bigram-vocabulary frame and persisted (it feeds the total,
    * the filtered candidates, and nothing else touches the corpus
    * twice for bigrams); one more pass counts unigrams
    * (word-vocabulary-bounded, broadcast onto the candidates twice);
    * the 1-row total broadcasts; the final top-k compiles to
    * TakeOrderedAndProject (k rows per partition move). Output:
    * (bigram, n_ab, n_a, n_b, lift), lift desc, bigram asc. */
  def collocations(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", minCount: Long = 2,
                   topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "collocations needs minCount, topK >= 1")
    // persist: feeds the 1-row total AND the candidate filter. CALLER
    // CONTRACT (as cosineNearDupPairs): the returned top-k is lazy over
    // this bigram-vocabulary frame — no safe in-op unpersist; LRU
    // eviction reclaims it (the frame is vocabulary-bounded, not
    // corpus-sized).
    val biAll = ngramOccurrences(docs, idCol, textCol, 2)
      .groupBy(col("g")).agg(count(lit(1)).as("n_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = biAll.agg(sum(col("n_ab")).as("n_total"))
    val uni = ngramOccurrences(docs, idCol, textCol, 1)
      .groupBy(col("g")).agg(count(lit(1)).as("nw"))
    val ua = uni.select(col("g").as("__w1"), col("nw").as("n_a"))
    val ub = uni.select(col("g").as("__w2"), col("nw").as("n_b"))
    biAll.filter(col("n_ab") >= minCount)
      .withColumn("__w1", split(col("g"), " ").getItem(0))
      .withColumn("__w2", split(col("g"), " ").getItem(1))
      .join(broadcast(ua), "__w1")
      .join(broadcast(ub), "__w2")
      .crossJoin(broadcast(tot))
      .select(col("g").as("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_total").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(topK)
  }

  /** Exact phrase search over positional postings — the retrieval
    * family's phrase/adjacency operator ([[invertedIndex]] gives
    * membership, [[Retrieval]] gives ranking; this gives ORDER). Finds
    * every document containing the phrase's tokens CONSECUTIVELY,
    * with the match count and first match position.
    *
    * One scan builds positional postings, pruned to the phrase's
    * tokens INSIDE the scan stage (an `isin` literal filter — at 100
    * TB only |postings of phrase tokens| rows ever leave the scan,
    * the same discipline as BM25's query-vocab filter). Each surviving
    * posting (doc, pos, token) joins the broadcast (token, offset)
    * phrase table and votes for start = pos − offset; a start that
    * collects all m offsets is a match (rows are unique per (offset,
    * pos), so a plain count equals the distinct-offset count — no
    * all-pairs m-way self-join, repeated phrase tokens included).
    * Overlapping matches count separately, by construction.
    *
    * Output: (idCol, n_matches, first_pos), matched docs only;
    * positions are 0-based token offsets. */
  def phraseSearch(docs: DataFrame, phrase: String, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val ts = phrase.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    require(ts.nonEmpty, "phraseSearch needs at least one token")
    val m = ts.length
    val spark = docs.sparkSession
    import spark.implicits._
    val phraseDf = ts.zipWithIndex.map { case (t, i) => (t, i) }.toDF("token", "pi")
    docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .filter(col("token").isin(ts.distinct: _*))
      .join(broadcast(phraseDf), "token")
      .select(col(idCol), (col("pos") - col("pi")).as("start"))
      .filter(col("start") >= 0)
      .groupBy(col(idCol), col("start"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === m)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_matches"),
        min(col("start")).cast("long").as("first_pos"))
  }

  /** Mixed-language document detection — the segmentation gate
    * multilingual pipelines run before language-bucketed training:
    * a doc whose fixed character windows disagree on language ID is
    * code-switched, mis-merged, or boilerplate-wrapped, and either
    * gets split per segment or dropped (CCNet and successors gate on
    * per-segment LID agreement).
    *
    * Windows are fixed `windowChars` substrings (deterministic, no
    * tokenizer drift at the boundary); each window runs the same
    * [[languageGuess]] heuristic as whole-doc LID, so a window's
    * verdict matches what the doc-level gate would have said about
    * that slice. Output keeps ALL window verdicts compactly:
    * (idCol, n_windows, n_langs, langs = sorted ','-joined distinct
    * guesses), mixed docs only (n_langs > 1).
    *
    * Scale shape: substring windows explode inside the scan stage
    * (fan-out len/windowChars, data-proportional), LID is codegen'd
    * column arithmetic per window, and the one exchange is the per-doc
    * aggregation. */
  def mixedLanguageDocs(docs: DataFrame, windowChars: Int = 200,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(windowChars >= 1, "windowChars must be >= 1")
    val n = length(col(textCol))
    val nWin = (floor((n - lit(1)) / windowChars) + 1).cast("int")
    docs.filter(col(textCol).isNotNull && n > 0)
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .withColumn("__w", explode(sequence(lit(0), nWin - 1)))
      .withColumn("__chunk",
        expr(s"substring($textCol, __w * $windowChars + 1, $windowChars)"))
      .withColumn("__guess", guessFromScores(langScores(col("__chunk"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_windows"),
        size(collect_set(col("__guess"))).cast("long").as("n_langs"),
        array_join(array_sort(collect_set(col("__guess"))), ",").as("langs"))
      .filter(col("n_langs") > 1)
  }

  /** Per-group token-distribution ENTROPY in exact fixed point — the
    * vocabulary-concentration statistic a corpus datasheet reports per
    * source/language (a boilerplate-heavy source has low entropy; a
    * diverse one approaches log2 of its vocabulary). Shannon entropy
    * H = log2 N − (Σ c·log2 c)/N decomposes into integer-exact pieces
    * under [[graft.ops.Importance.fixLog2]] (floor(2⁸·log2 x), the
    * native codegen'd expression): the output carries the EXACT
    * integers (n_tokens, n_distinct, sum_c_log2c, n_log2n) and leaves
    * the one lossy division to the caller — the q100/q41 float-free
    * discipline, so every emitted column hashes identically on any
    * engine.
    *
    * Scale shape: one scan → partial-agg'd (group, token) count
    * (distinct tokens cross the exchange, not occurrences) → one
    * group-level aggregation; fixLog2 is applied to the counts inside
    * the second partial agg. Groups are few; both exchanges bounded. */
  def tokenEntropy(docs: DataFrame, groupCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col(groupCol))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(col("c") * graft.ops.Importance.fixLog2(col("c")))
          .cast("long").as("sum_c_log2c"))
      .select(col(groupCol), col("n_tokens"), col("n_distinct"),
        col("sum_c_log2c"),
        (col("n_tokens") * graft.ops.Importance.fixLog2(col("n_tokens")))
          .cast("long").as("n_log2n"))
  }

  /** Proximity search (the NEAR/W operator): documents where ALL query
    * terms co-occur within a window of `maxSpan` tokens, any order —
    * with the MINIMAL span as the ranking feature (the standard
    * proximity score; smaller span = tighter association). The ordered
    * strict-adjacency case is [[phraseSearch]].
    *
    * Minimal span is the textbook one-pass sweep expressed relationally:
    * over the doc's matched positions in order, track the latest
    * position of EACH term (m running-max window columns over ONE
    * window spec, m = #distinct terms, a query-time constant); wherever
    * all m are non-null, `pos − min_i(last_i) + 1` is the tightest
    * window ENDING here, and the per-doc minimum over rows is the
    * global minimal span — no per-anchor re-scan, no quadratic pair
    * join.
    *
    * Scale shape: the scan-stage `isin` filter keeps only query-term
    * occurrences (corpus positions never shuffle), then one exchange on
    * idCol for the window and the per-doc aggregate riding the same
    * partitioning. Output: (idCol, min_span, n_hits) for docs with
    * min_span <= maxSpan; n_hits counts matched-term occurrences. */
  def proximitySearch(docs: DataFrame, terms: Seq[String], maxSpan: Int,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val ts = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(ts.nonEmpty, "proximitySearch needs at least one term")
    require(maxSpan >= ts.length,
      s"maxSpan $maxSpan cannot hold ${ts.length} distinct terms")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastCols = ts.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("pos"))).over(w).as(s"__last_$i")
    }
    val lasts = ts.indices.map(i => col(s"__last_$i"))
    docs
      .select(col(idCol).cast("long").as(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .filter(col("token").isin(ts: _*))
      .select(col(idCol) +: col("pos") +: lastCols: _*)
      .withColumn("__span",
        when(lasts.map(_.isNotNull).reduce(_ && _),
          col("pos") - (if (lasts.length == 1) lasts.head
                        else least(lasts: _*)) + 1))
      .groupBy(col(idCol))
      .agg(min(col("__span")).cast("long").as("min_span"),
        count(lit(1)).cast("long").as("n_hits"))
      .filter(col("min_span").isNotNull && col("min_span") <= maxSpan)
  }

  /** Reference-LM coverage gate — the shape of CCNet/KenLM perplexity
    * filtering with the float perplexity replaced by an integer
    * COVERAGE statistic (the oracle-parity rule: `log` is libm-
    * dependent, bigram-hit counting is exact on any engine): train a
    * bigram "model" on a trusted reference slice (occurrence count ≥
    * `minCount` prunes noise), then score every candidate document by
    * how many of its bigram occurrences the model has seen. Documents
    * whose coverage clears `keepNum/keepDen` pass the gate — low
    * coverage means the text's local word transitions don't look like
    * the reference distribution (gibberish, wrong language, OCR noise:
    * exactly what perplexity filters catch).
    *
    * Plan shape: both sides build gram occurrences in ONE tight
    * executor pass each ([[ngramOccurrences]] — never the per-gram
    * re-tokenizing HOF form); the model is a gram-keyed partial agg
    * reduced to a distinct gram frame; scoring is ONE shuffle left
    * join on the gram key (the model is vocabulary-scale — no
    * broadcast assumption) feeding ONE per-doc aggregation that counts
    * total and model-known occurrences together — the corpus gram
    * stream is touched exactly once, nothing is joined back. Same
    * join shape as [[graft.ops.Dedup.contaminationScores]], which is
    * the point: a decontaminator and an LM gate are the same join with
    * opposite polarity.
    *
    * Output: (idCol, n_bigrams, n_hits, keep 0/1), empty-gram docs
    * dropped (nothing to score). */
  def lmHitRate(docs: DataFrame, ref: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", minCount: Long = 2,
                keepNum: Int = 3, keepDen: Int = 5): DataFrame = {
    val model = ngramOccurrences(ref, idCol, textCol, 2)
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("g"), lit(1L).as("__hit"))
    ngramOccurrences(docs, idCol, textCol, 2)
      .join(model, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("__hit")).as("n_hits")) // count() skips nulls: misses
      .withColumn("keep",
        when(col("n_hits") * keepDen >= col("n_bigrams") * keepNum, 1L)
          .otherwise(0L))
  }

  /** QUALITY-QUANTILE GATE: keep the top `keepNum/keepDen` fraction of
    * each group by an integer quality score — the per-source curation
    * step real pipelines run after scoring ("keep the best 30% of each
    * crawl source"), where an absolute threshold would over-prune weak
    * sources and under-prune strong ones. Rank-based, not
    * threshold-based, so the kept count per group is exact:
    * rank ≤ ⌈n·keepNum/keepDen⌉ under the total order (score DESC,
    * id ASC) — all-integer, engine-independent.
    *
    * Scale shape: ONE hash-partition-by-group exchange feeding two
    * window functions over the same (group, ordering) spec — Spark
    * computes rank and the group count in a single WindowExec pass
    * (one sort, spill-aware). No driver collect, no second scan. A
    * group's cost is its own sort: skew bounds are the largest single
    * source, same as any per-group operator.
    *
    * Output: (idCol, groupCol, score, rank, n_group) for kept rows. */
  def keepTopFraction(docs: DataFrame, score: Column,
                      groupCol: String = "source", idCol: String = "doc_id",
                      keepNum: Int = 3, keepDen: Int = 10): DataFrame = {
    require(keepNum > 0 && keepDen >= keepNum, "fraction must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
    val ordered = w.orderBy(col("score").desc, col(idCol).asc)
    docs.select(col(idCol), col(groupCol), score.cast("long").as("score"))
      .withColumn("rank", row_number().over(ordered).cast("long"))
      .withColumn("n_group", count(lit(1)).over(w))
      // ceil division in integers: (n·num + den - 1) div den
      .filter(col("rank") * keepDen <= col("n_group") * keepNum + keepDen - 1)
  }

  /** N-GRAM LANGUAGE-MODEL COUNTS with pruning and per-prefix top-k —
    * the classic count-based LM data prep (and the canonical MapReduce
    * workload): corpus-wide n-gram occurrence counts, hapax/noise
    * pruned at `minCount`, then for every (n-1)-gram prefix the top-k
    * continuations by (count DESC, gram ASC) — the backoff table a
    * count-based LM actually stores.
    *
    * Scale shape: [[ngramOccurrences]] streams grams in one executor
    * pass; the count is a map-side-combined hash aggregation keyed on
    * the gram string (shuffle carries one row per DISTINCT gram, not
    * per occurrence); the prune filter runs before the window, and the
    * per-prefix top-k compiles to WindowGroupLimit (map-side bound), so
    * a stopword prefix with millions of continuations ships k rows per
    * partition, never its tail. */
  def ngramLm(docs: DataFrame, n: Int = 2, minCount: Long = 2, k: Int = 3,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = ngramOccurrences(docs, idCol, textCol, n)
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      // prefix = the first n-1 tokens (a gram is space-joined)
      .withColumn("prefix",
        concat_ws(" ", slice(split(col("g"), " "), 1, n - 1)))
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("cnt").desc, col("g").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("prefix"), col("rank"), col("g"), col("cnt"))
  }

  /** WINNOWING FINGERPRINTS (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm) — the span-matching fingerprint scheme with a coverage
    * GUARANTEE: hash every k-char gram, slide a window of w
    * consecutive hashes, select each window's minimal hash (rightmost
    * on ties), dedupe. Any shared substring of length ≥ w + k - 1
    * between two documents is then guaranteed to share at least one
    * selected fingerprint — the property ad-hoc sampling lacks, and
    * why MOSS uses it for plagiarism/copy detection at scale.
    *
    * Gram hash (`gramHash`): which positions get selected depends ONLY
    * on the RELATIVE ORDER of the gram-hash values inside each window
    * (the min is an order statistic — OpsSpec pins this by running a
    * strictly monotone transform of the hashes through the selection
    * and asserting identical positions), so any well-distributed hash
    * yields the same expected density 2/(w+1) and the same coverage +
    * shared-span guarantees. Two modes:
    *  - "sha256" — the 60-bit sha256-prefix BIGINT (the Sampling/
    *    simhash idiom), EXACTLY `conv(substring(hex,1,15),16,10)`, so
    *    a SQL oracle replicates fingerprints bit-for-bit. One full
    *    SHA-256 digest per character position: fine for the pinned
    *    q75/q76 correctness queries, CPU-bound at corpus scale
    *    (VERDICT r8 #1).
    *  - "xx64" — Spark's own XXH64 (the codegen'd `xxhash64` kernel)
    *    over the gram's UTF-16 bytes, no digest object, no substring/
    *    encode allocation per position (the doc is encoded once).
    *    Production default at 100 TB: the fingerprint stage measures
    *    2.1× faster than sha256 on the sf0.1 corpus and 3.3× on
    *    web-page-length docs (SCALING.md "Retired probes", min-of-5
    *    noop sink) — the gap widens with doc length because per-gram hash
    *    cost is the entire difference. Different hash ⇒ a different
    *    (equally valid) selection — use it when fingerprints live and
    *    die inside this engine, use "sha256" when an external system
    *    must reproduce them in SQL.
    *
    * Scale shape: ONE typed mapPartitions pass, ZERO shuffles — the
    * whole algorithm is per-document (the shingles/ngramOccurrences
    * pattern): hash each gram once with a reused digest, slide the
    * window with a monotonic deque (O(n) per doc, not O(n·w)), dedupe
    * selections in the same pass. The SQL-window formulation was
    * measured 2-3× slower at sf0.1 (per-gram expression overhead plus
    * a 30M-row doc-keyed window sort the per-doc loop never needs).
    *
    * Output: (idCol, fp BIGINT, pos) distinct selected fingerprints,
    * pos = 1-based gram position. Docs shorter than w + k - 1 chars
    * have no full window and produce no rows. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            gramHash: String = "sha256"): DataFrame = {
    require(k >= 2 && w >= 2, "k and w must be at least 2")
    require(gramHash == "sha256" || gramHash == "xx64",
      s"gramHash must be sha256 or xx64, got $gramHash")
    val useXx = gramHash == "xx64"
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md =
          if (useXx) null else java.security.MessageDigest.getInstance("SHA-256")
        rows.flatMap { case (id, textOrNull) =>
          val t = Option(textOrNull).getOrElse("")
          val n = t.length - k + 1
          if (n < w) Iterator.empty
          else {
            val hs = new Array[Long](n)
            if (useXx) {
              // encode the doc's chars to big-endian UTF-16 bytes ONCE,
              // then one XXH64 call per gram over a 2k-byte slice — no
              // digest, no per-position substring/UTF-8 allocation
              val bytes = new Array[Byte](t.length * 2)
              var j = 0
              while (j < t.length) {
                val c = t.charAt(j)
                bytes(2 * j) = (c >>> 8).toByte
                bytes(2 * j + 1) = c.toByte
                j += 1
              }
              val base = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
              var i = 0
              while (i < n) {
                hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashUnsafeBytes(bytes, base + 2L * i, 2 * k, 42L)
                i += 1
              }
            } else {
              var i = 0
              while (i < n) {
                md.reset()
                val d = md.digest(t.substring(i, i + k).getBytes("UTF-8"))
                // first 15 hex chars of the digest = 7 bytes + high nibble
                // of byte 7 — EXACTLY conv(substring(hex, 1, 15), 16, 10)
                var v = 0L
                var b = 0
                while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
                hs(i) = (v << 4) | ((d(7) & 0xf0L) >>> 4)
                i += 1
              }
            }
            selectWinnowed(hs, w).map { case (h, pos) => (id, h, pos) }
          }
        }
      }
      .toDF(idCol, "fp", "pos")
  }

  /** The winnowing selection on a doc's gram-hash array: sliding-window
    * min with a monotonic deque (O(n), not O(n·w)); popping `>=` from
    * the tail keeps the RIGHTMOST of equal minima — the winnowing tie
    * rule. Selection reads ONLY comparisons between hash values, never
    * their magnitudes — the order-statistics property the monotone-
    * transform spec pins. Package-private so the spec can drive it
    * directly. Returns (hash, 1-based position), distinct, selection
    * order. */
  private[graft] def selectWinnowed(hs: Array[Long], w: Int): Iterator[(Long, Long)] = {
    val n = hs.length
    // deque of candidate indices as a flat int array: each index is
    // pushed at most once, so [head, tail) over an n-slot array never
    // wraps — no ArrayDeque, no Integer boxing in the per-gram loop
    val idx = new Array[Int](n)
    var head = 0
    var tail = 0
    // the selected (rightmost-min) index is NON-DECREASING as the
    // window slides — a new min enters on the right, an expiring min
    // exits on the left, a tie moves rightward — so "emit only when
    // the chosen index changes" yields exactly the distinct selection
    // the old LinkedHashSet built, without a set or per-window tuple
    // allocation (~(w+1)/2 fewer emissions than windows)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var last = -1
    var p = 0
    while (p < n) {
      while (tail > head && hs(idx(tail - 1)) >= hs(p)) tail -= 1
      idx(tail) = p
      tail += 1
      if (p >= w - 1) {
        while (idx(head) < p - w + 1) head += 1
        val m = idx(head)
        if (m != last) {
          out += ((hs(m), (m + 1).toLong))
          last = m
        }
      }
      p += 1
    }
    out.iterator
  }

  /** WINNOWING MATCH PAIRS — the copy-detection join over
    * [[winnowingFingerprints]] (what MOSS actually reports): document
    * pairs sharing ≥ `minShared` selected fingerprints, with the
    * shared count. Pairs only form INSIDE a fingerprint's posting
    * list, never all-pairs; postings longer than `maxPostings`
    * (boilerplate grams every document carries) are dropped before any
    * pair forms — the lshCandidatePairs cap discipline, with the same
    * default-on [[CapStats]] WARN and the same recall argument: a
    * genuinely copied span selects several fingerprints, and the
    * non-boilerplate ones keep the pair. Output: (a_id, b_id,
    * n_shared) with a_id < b_id. */
  def winnowingMatchPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                          minShared: Int = 2, maxPostings: Int = 200,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          gramHash: String = "sha256"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowingFingerprints(docs, k, w, idCol, textCol, gramHash)
      .select(col(idCol), col("fp")).distinct()
    val byFp = Window.partitionBy(col("fp"))
    val sized = fps
      .withColumn("psz", count(lit(1)).over(byFp))
      .withColumn("rn", row_number().over(byFp.orderBy(col(idCol))))
    val warned = CapStats.watch(sized, "winnowingMatchPairs",
      sum(when(col("psz") > maxPostings && col("rn") === 1, 1L).otherwise(0L)),
      max(col("psz")))
    val ok = warned.filter(col("psz") <= maxPostings)
    val a = ok.select(col(idCol).as("a_id"), col("fp"))
    val b = ok.select(col(idCol).as("b_id"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** ENCODING-ANOMALY (mojibake) DETECTION — flag documents whose text
    * carries the signatures of a broken decode pipeline, the curation
    * gate every crawl corpus needs before tokenization:
    *  - U+FFFD replacement characters (a decoder already gave up),
    *  - the UTF-8-as-Latin-1 lead bytes Ã/Â/â (0xC3/0xC2/0xE2 read as
    *    Latin-1 — "Ã©" for "é", "â€™" for "'", the classic double-decode),
    *  - C0 control characters other than \t \n \r (binary bleed).
    * Counting uses single-codepoint character classes only, so Java
    * regex (Spark) and RE2 (DuckDB) agree exactly; output is
    * all-integer. `suspect` = any signature present.
    *
    * Scale shape: a pure per-row projection — no shuffle, no UDF;
    * `regexp_count` is a codegen'd expression, the filter/flag never
    * leaves the scan stage. */
  def encodingAnomalies(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      regexp_count(col(textCol), lit("�")).cast("long").as("n_replacement"),
      regexp_count(col(textCol), lit("[ÂÃâ]")).cast("long").as("n_mojibake_lead"),
      regexp_count(col(textCol), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("long").as("n_ctrl"))
      .withColumn("suspect",
        when(col("n_replacement") + col("n_mojibake_lead") + col("n_ctrl") > 0, 1L)
          .otherwise(0L))

  /** FULL GOPHER REPETITION SIGNALS (Rae et al. 2021, table A1) — the
    * complete repeated-n-gram family per document, all-integer so any
    * threshold compares exactly on any engine:
    *  - `top{2,3,4}_num`: characters covered by the MOST FREQUENT word
    *    n-gram = top count × n-gram char length (most-frequent wins;
    *    ties break by larger char contribution then lexicographically
    *    largest gram — pinned so the oracle can reproduce the exact
    *    winner);
    *  - `dup{5,10}_num`: characters covered by ALL occurrences of
    *    n-grams appearing ≥ 2 times = Σ count × length over duplicated
    *    grams (this engine's pinned reading of the paper's "fraction
    *    of characters inside duplicate n-grams");
    *  - `den`: char length of the space-joined token stream.
    * The paper's thresholds (0.20/0.18/0.16 top, 0.15/0.10 dup) then
    * filter as `num * 100 > den * pct` — integer-exact.
    *
    * Scale shape: ONE typed mapPartitions pass, zero shuffles — a
    * HashMap of gram counts per (doc, n), O(tokens × 5) per doc; the
    * column-expression alternative is O(distinct²) per doc per n
    * (aggregate-over-filter), hopeless on 10k-token docs. Tokenizer is
    * byte-identical to [[tokens]]/[[ngramOccurrences]] (Locale.ROOT). */
  def gopherRepetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val toks = Option(text).getOrElse("")
            .toLowerCase(java.util.Locale.ROOT)
            .split("[^a-z0-9]+").filter(_.nonEmpty)
          val den =
            if (toks.isEmpty) 0L
            else toks.map(_.length.toLong).sum + (toks.length - 1)
          def gramStats(n: Int): (Long, Long) = {
            if (toks.length < n) (0L, 0L)
            else {
              val counts = scala.collection.mutable.HashMap.empty[String, Int]
              var i = 0
              while (i + n <= toks.length) {
                val g = toks.slice(i, i + n).mkString(" ")
                counts.update(g, counts.getOrElse(g, 0) + 1)
                i += 1
              }
              var topCnt = 0
              var topContrib = 0L
              var topGram = ""
              var dup = 0L
              counts.foreach { case (g, c) =>
                val contrib = c.toLong * g.length
                if (c >= 2) dup += contrib
                if (c > topCnt || (c == topCnt && (contrib > topContrib ||
                    (contrib == topContrib && g > topGram)))) {
                  topCnt = c; topContrib = contrib; topGram = g
                }
              }
              (topContrib, dup)
            }
          }
          val (t2, _) = gramStats(2)
          val (t3, _) = gramStats(3)
          val (t4, _) = gramStats(4)
          val (_, d5) = gramStats(5)
          val (_, d10) = gramStats(10)
          (id, den, t2, t3, t4, d5, d10)
        }
      }
      .toDF(idCol, "den", "top2_num", "top3_num", "top4_num",
        "dup5_num", "dup10_num")
  }

  /** SLIDING-WINDOW DOCUMENT CHUNKING — long-doc training prep: split
    * each document into overlapping fixed-size chunks (`chunkChars`
    * wide, advancing `strideChars`, so consecutive chunks overlap by
    * chunkChars − strideChars characters — the standard way context
    * that straddles a cut survives into training). Char-based here so
    * the oracle replicates exactly; token-budget packing of the
    * resulting chunks is [[graft.ops.Packing.packByBudget]]'s job.
    *
    * Chunk count per doc is the closed form
    * `1 + ceil(max(0, n − chunkChars) / strideChars)` — the last chunk
    * always starts at ≤ n so every character lands in ≥ 1 chunk, and a
    * doc shorter than one chunk still yields its single partial chunk.
    * Empty/null docs yield none.
    *
    * Scale shape: sequence + explode + substring, all codegen'd inside
    * the scan stage — zero shuffles, no UDF; output fan-out per row is
    * ~n/stride (bounded, data-proportional). At 100 TB this is a pure
    * map stage that partitions perfectly. */
  def chunkDocs(docs: DataFrame, chunkChars: Int, strideChars: Int,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkChars >= 1, "chunkChars must be >= 1")
    require(strideChars >= 1 && strideChars <= chunkChars,
      "strideChars must be in [1, chunkChars]")
    val n = length(col(textCol))
    val nChunks = (lit(1) +
      floor((greatest(n - chunkChars, lit(0)) + lit(strideChars - 1))
        / lit(strideChars))).cast("int")
    docs.select(col(idCol).cast("long").as(idCol), col(textCol))
      .filter(col(textCol).isNotNull && n > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("start_pos", col("chunk_idx") * strideChars + 1)
      .withColumn("chunk",
        expr(s"substring($textCol, start_pos, $chunkChars)"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_pos").cast("long").as("start_pos"),
        length(col("chunk")).cast("long").as("chunk_chars"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
  }

  /** Content-defined chunking (the FastCDC/LBFS family, Muthitacharoen
    * et al. 2001): chunk boundaries fall where a rolling content hash
    * hits a divisor condition, NOT at fixed offsets — so inserting one
    * byte shifts only the chunk it lands in, and every later chunk
    * re-aligns and re-deduplicates. The fixed-stride [[chunkDocs]]
    * loses all alignment downstream of an edit; this is the chunker a
    * dedup-against-prior-corpus pipeline wants.
    *
    * Boundary rule (oracle-replayable): a cut ends at char `i+k-1`
    * whenever the 60-bit md5-prefix hash of the k-gram STARTING at
    * 1-based char `i` is ≡ 0 (mod divisor) — expected chunk length ≈
    * divisor chars. The doc end always closes the final chunk; docs
    * shorter than k chars are one chunk. `minLen`/`maxLen` add the
    * production FastCDC guards (skip cuts closer than minLen to the
    * previous cut, force one at maxLen) — a STATEFUL scan no SQL
    * window replays, so the oracle query runs unbounded and the
    * bounded mode is spec-pinned instead.
    *
    * Scale shape: ONE typed mapPartitions pass, zero shuffles — per
    * doc: hash each gram with a reused digest, emit (chunk_idx,
    * start, len, md5). Same per-doc locality as the winnowing pass.
    *
    * Output: (idCol, chunk_idx, start_pos, chunk_chars, chunk_md5),
    * 1-based start positions. Null/empty docs produce no rows. */
  def cdcChunks(docs: DataFrame, k: Int = 8, divisor: Int = 256,
                minLen: Int = 0, maxLen: Int = Int.MaxValue,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(k >= 2, "gram size k must be >= 2")
    require(divisor >= 2, "divisor must be >= 2")
    require(minLen >= 0 && maxLen >= math.max(minLen, 1),
      "need 0 <= minLen <= maxLen")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, textOrNull) =>
          val t = Option(textOrNull).getOrElse("")
          val n = t.length
          if (n == 0) Iterator.empty
          else {
            val ends = Array.newBuilder[Int]
            var prevEnd = 0
            var i = 0 // 0-based gram start; gram covers [i, i+k)
            while (i + k <= n) {
              // Long arithmetic: prevEnd + Int.MaxValue must not wrap
              val forced = prevEnd.toLong + maxLen
              if (forced <= i + k - 1) { // maxLen guard fires first
                ends += forced.toInt; prevEnd = forced.toInt
                // resume scanning after the forced boundary
                if (forced > i) i = forced.toInt
              } else {
                md.reset()
                val d = md.digest(t.substring(i, i + k).getBytes("UTF-8"))
                var v = 0L
                var b = 0
                while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
                val h = (v << 4) | ((d(7) & 0xf0L) >>> 4)
                val cutEnd = i + k // 1-based char index of the chunk end
                if (h % divisor == 0 && cutEnd - prevEnd >= math.max(minLen, 1)
                    && cutEnd < n) {
                  ends += cutEnd; prevEnd = cutEnd
                }
                i += 1
              }
            }
            // forced cuts between the last gram and the doc end
            if (maxLen != Int.MaxValue) {
              var forced = prevEnd.toLong + maxLen
              while (forced < n) { ends += forced.toInt; forced += maxLen }
            }
            ends += n
            val cuts = ends.result()
            var prev = 0
            var idx = 0
            val out = Array.newBuilder[(Long, Long, Long, Long, String)]
            while (idx < cuts.length) {
              val e = cuts(idx)
              val chunk = t.substring(prev, e)
              md.reset()
              val hex = md.digest(chunk.getBytes("UTF-8"))
                .map(b => f"${b & 0xff}%02x").mkString
              out += ((id, idx.toLong, (prev + 1).toLong,
                (e - prev).toLong, hex))
              prev = e
              idx += 1
            }
            out.result().iterator
          }
        }
      }
      .toDF(idCol, "chunk_idx", "start_pos", "chunk_chars", "chunk_md5")
  }

  /** BPE tokenizer-training pair statistics — the inner loop of
    * byte-pair-encoding training (Sennrich et al. 2016): count every
    * adjacent symbol pair across the corpus, weighted by word
    * frequency; the argmax pair is the next merge rule. Training a
    * tokenizer ON the corpus being curated is a standard pipeline
    * step, and this statistic is its entire per-iteration cost.
    *
    * The classic implementation reduces the corpus to its WORD
    * FREQUENCY TABLE first (BPE sees "the"×10⁹ as one row, not 10⁹
    * rows) — so does this: one tokenize+explode pass to (word, cnt)
    * — vocabulary-sized, the partial agg absorbs the corpus-scale
    * stream map-side — then the character-pair fan-out runs on the
    * VOCABULARY (Σ|word| rows, ~10⁶ regardless of corpus size), one
    * pair-keyed partial agg sums the weighted counts, and the top-k
    * compiles to TakeOrderedAndProject. Corpus-proportional work is
    * exactly one scan; everything after is vocabulary-bounded.
    *
    * First-iteration pairs are CHARACTER pairs (`substring(word,i,2)`
    * — expressible identically in any SQL engine, so the oracle
    * replays the whole computation). Later iterations would operate
    * on merged symbol arrays; the statistic and plan shape are
    * identical.
    *
    * Output: top `topK` rows (rank, pair, n_words, n_occurrences) by
    * (weighted occurrences DESC, pair ASC) — a total order. */
  def bpePairCounts(docs: DataFrame, topK: Int = 50,
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
    val pairs = words
      .withColumn("i", explode(sequence(lit(1), length(col("word")) - 1)))
      .select(expr("substring(word, i, 2)").as("pair"),
        col("cnt"), col("word"))
      .groupBy(col("pair"))
      .agg(countDistinct(col("word")).as("n_words"),
        sum(col("cnt")).cast("long").as("n_occurrences"))
    val top = pairs
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(topK)
    // rank window over the topK-row TakeOrdered result — bounded by
    // topK, not the pair vocabulary (the single-partition exception)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("pair").asc)).cast("long"))
      .select(col("rank"), col("pair"), col("n_words"), col("n_occurrences"))
  }

  /** Apply a learned BPE merge table to one word (Sennrich et al.
    * 2016 tokenization): start from characters, repeatedly find the
    * LOWEST-RANK adjacent token pair present and merge all its
    * occurrences left-to-right non-overlapping, until no ranked pair
    * remains. O(|word|²) independent of merge-table size (the
    * rank-map lookup replaces a scan of the 50k-merge table), which
    * is why this is the per-word loop and not a fold over merges.
    *
    * Equivalence note (why the oracle can replay merges in RANK
    * ORDER instead): for a WELL-FORMED table — every multi-char pair
    * component is the output of an EARLIER merge, the invariant BPE
    * training produces by construction and [[validateMerges]]
    * enforces at the API — a merge of rank k only ever creates tokens
    * no earlier merge pair can contain, and merging never makes two
    * existing tokens adjacent that weren't; so min-rank iteration ≡
    * applying each merge to fixpoint in rank order
    * (BpeCdcPropertySpec checks the equivalence differentially over
    * random well-formed tables). On a NON-well-formed table the two
    * orders genuinely diverge (merges=[(ab,c),(a,b)] on "abc":
    * min-rank reaches [abc], rank-order stops at [ab, c]) — which is
    * why the table is validated instead of documented away. One
    * left-to-right scan per selected pair IS the per-merge fixpoint:
    * merging (a,b) into ab can't create a new (a,b) adjacency
    * (b ≠ ab ≠ a). */
  def bpeEncodeWord(word: String,
                    rank: collection.Map[(String, String), Int],
                    pairs: IndexedSeq[(String, String)]): Array[String] = {
    var toks: Array[String] = word.map(_.toString).toArray
    var done = toks.length < 2
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = pairs(best)
        toks = mergeOnce(toks, a, b)
        done = toks.length < 2
      }
    }
    toks
  }

  /** One left-to-right non-overlapping merge pass of the pair (a, b):
    * in a run of consecutive matches (only possible when a == b) the
    * 1st, 3rd, … match merges — the greedy rule BOTH the per-word
    * encode loop and the training loop share. */
  private[ops] def mergeOnce(toks: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < toks.length) {
      if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
        out += (a + b); j += 2
      } else { out += toks(j); j += 1 }
    }
    out.result()
  }

  /** KNESER–NEY bigram LOW-PROBABILITY gate (r15, beyond-parity): the
    * CCNet/Gopher-family quality signal done with a properly-smoothed
    * LM instead of raw coverage — per document, how many of its bigram
    * transitions have interpolated-KN probability below τ under a
    * model trained on the corpus itself (high counts of improbable
    * transitions flag boilerplate mangling, OCR noise, word salad).
    *
    * EXACT ON ANY ENGINE by construction: with absolute discount
    * d = 3/4 and τ = tauNum/tauDen, the test
    *   p_KN(w|v) = (max(c(vw)−d, 0) + d·N1+(v·)·p_cont(w)) / c(v·) < τ
    *   with p_cont(w) = N1+(·w) / N1+(··)
    * cross-multiplies into the all-integer comparison
    *   (max(4·c(vw)−3, 0)·N + 3·N1+(v·)·N1+(·w)) · tauDen
    *     < 4·tauNum·c(v·)·N,     N = N1+(··)
    * so the oracle replays it with BIGINT arithmetic — no float
    * boundary anywhere (the one emitted boolean `flagged` is the
    * Gopher-style integer compare n_low·5 > n_bigrams). Self-scoring
    * means every scored bigram exists in the model (c(vw) ≥ 1):
    * inner joins, no unseen-event branch.
    *
    * Scale shape: ONE corpus scan explodes the bigram stream
    * (zip_with over adjacent slices — scan-stage, no positional
    * join); all model tables are bigram-vocabulary-bounded partial
    * aggs; scoring joins key on v / w (AQE broadcasts below
    * threshold, hash-shuffles above); one doc-keyed agg exchange.
    * N1+(··) is a single 1-row driver aggregate. */
  /** the one persisted model table of the LAST knLowProbGate call —
    * see the unpersist note inside the op */
  private val knCvwSlot =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Drop the LAST invocation's persisted cvw model table (ADVICE r16:
    * the one-slot registry only evicts the previous entry on the next
    * call, so the final entry pins executor storage memory for the
    * rest of the process). Call from Bench/Verify shutdown right
    * before `spark.stop()`; safe to call with no prior invocation. */
  def releaseKnCache(): Unit =
    Option(knCvwSlot.getAndSet(null)).foreach(_.unpersist(blocking = false))

  def knLowProbGate(docs: DataFrame, tauNum: Long = 1L, tauDen: Long = 100L,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as(idCol),
      tokens(col(textCol)).as("ts"))
    // the bigram STREAM is corpus-sized and deliberately NOT persisted
    // (at 100 TB it is re-derived from the scan for each of its two
    // consumers); only the vocabulary-bounded MODEL tables persist
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col(idCol), expr(
        "explode(zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1)," +
          " (a, b) -> struct(a AS v, b AS w))) AS p"))
      .select(col(idCol), col("p.v").as("v"), col("p.w").as("w"))
    val cvw = bi.groupBy(col("v"), col("w"))
      .agg(count(lit(1)).cast("long").as("cvw"))
      .persist()
    // scope the persist to THIS invocation (ADVICE r15): the returned
    // frame is lazy so there is no in-op unpersist point, but Bench
    // re-invokes the op across reps and scale factors — a one-slot
    // registry drops the PREVIOUS invocation's cache (sequential
    // callers are already done with it; a stale concurrent reader
    // would merely recompute, never misread). sameResult guard: the
    // cache manager keys entries by canonicalized PLAN, so a repeat
    // invocation over the same input SHARES the previous entry —
    // unpersisting it would evict this invocation's own cache too
    // (and with it the cross-rep reuse Bench measures); only a
    // different plan (another sf dir) holds a separate leakable entry.
    Option(knCvwSlot.getAndSet(cvw)).foreach { prev =>
      if (!prev.queryExecution.analyzed.sameResult(cvw.queryExecution.analyzed))
        prev.unpersist(blocking = false)
    }
    val cv = cvw.groupBy(col("v"))
      .agg(sum(col("cvw")).cast("long").as("cv"),
        count(lit(1)).cast("long").as("n1v"))
    val n1w = cvw.groupBy(col("w")).agg(count(lit(1)).cast("long").as("n1w"))
    val nAll = cvw.count() // N1+(··): one driver-side 1-row aggregate
    val nL = lit(nAll)
    val low = (greatest(col("cvw") * 4 - 3, lit(0L)) * nL
      + col("n1v") * col("n1w") * 3) * tauDen <
      lit(tauNum) * 4 * col("cv") * nL
    val perDoc = bi
      .join(cvw, Seq("v", "w"))
      .join(cv, Seq("v"))
      .join(n1w, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(when(low, 1L).otherwise(0L)).cast("long").as("n_low"))
    val out = docs.select(col(idCol).cast("long").as(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_low"), lit(0L)).as("n_low"))
      .withColumn("flagged", col("n_low") * 5 > col("n_bigrams"))
    out
  }

  /** BPE tokenizer TRAINING (r15 — the missing middle of the family:
    * [[bpePairCounts]] gives the first iteration's statistic and
    * [[bpeEncodeVocab]] applies a learned table; this LEARNS one).
    * Sennrich et al. 2016 (ACL, arXiv:1508.07909) training over the
    * vocabulary-bounded distinct-word representation:
    *
    *  1. ONE corpus-sized pass reduces the corpus to its word
    *     frequency table ("the"×10⁹ is one row), segmented to chars;
    *  2. per iteration: pair counts over the segmentation, weighted
    *     by word freq, every adjacent occurrence counted (overlaps
    *     included — reference get_stats semantics); the top pair by
    *     (count DESC, pair ASC — a total order) is pulled to the
    *     driver as a 1-ROW collect (the selection IS the model);
    *  3. the merge applies executor-side ([[mergeOnce]]) producing the
    *     next segmentation, persisted; the previous unpersists.
    *
    * The DRIVER runs the loop; every job in it is vocabulary-bounded
    * (Σ|word| rows regardless of corpus size) — there is never a
    * corpus-sized shuffle per iteration, which is what makes N=50k
    * merges a driver-side afternoon at 100 TB rather than 50k corpus
    * scans. Returns the learned merges in training order — (left,
    * right, weighted occurrence count at selection time, weighted
    * total vocabulary tokens AFTER the merge; the trajectory stat
    * pins every intermediate state) — and the final segmentation
    * (word, toks) for property checks ([[bpeEncodeVocab]] over the
    * learned table must reproduce it — the min-rank/rank-order
    * equivalence, which training tables satisfy by construction).
    * Stops early if the vocabulary runs out of pairs. */
  def bpeTrain(docs: DataFrame, nMerges: Int, textCol: String = "text")
      : (Seq[(String, String, Long, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var seg: Dataset[(String, Array[String], Long)] = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (w, w.map(_.toString).toArray, c) }
      .persist()
    val learned = Seq.newBuilder[(String, String, Long, Long)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val top = seg
        .flatMap { case (_, toks, c) =>
          (0 until toks.length - 1).iterator.map(i => (toks(i), toks(i + 1), c))
        }
        .toDF("a", "b", "c")
        .groupBy(col("a"), col("b")).agg(sum(col("c")).cast("long").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val next = seg
          .map { case (w, toks, c) => (w, mergeOnce(toks, a, b), c) }
          .persist()
        val vocabTokens = next.map { case (_, t, c) => t.length * c }
          .reduce(_ + _) // 1-row aggregate
        seg.unpersist()
        seg = next
        learned += ((a, b, n, vocabTokens))
        k += 1
      }
    }
    (learned.result(), seg.map { case (w, t, _) => (w, t.toSeq) }.toDF("word", "toks"))
  }

  /** Reject merge tables outside the proven-equivalence class (see
    * [[bpeEncodeWord]]): every multi-char component must be the
    * concatenation of some EARLIER merge. Real tokenizer merge files
    * (HF merges.txt) satisfy this by construction; a hand-assembled
    * table that doesn't would silently tokenize differently than any
    * rank-order replayer (including the q95 oracle). */
  def validateMerges(merges: Seq[(String, String)]): Unit = {
    val built = scala.collection.mutable.Set.empty[String]
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      def ok(t: String) = t.length == 1 || built.contains(t)
      require(ok(a) && ok(b),
        s"merge #$i ($a, $b): component not producible by earlier merges " +
          "(not a training-ordered BPE table)")
      built += (a + b)
    }
  }

  /** BPE-encode a vocabulary: one typed mapPartitions pass over the
    * DISTINCT words (the classic trick — the tokenizer sees "the"
    * once, not 10⁹ times), merge table broadcast once per executor.
    * Output: (word, bpe_tokens array, n_tok). */
  def bpeEncodeVocab(words: DataFrame,
                     merges: Seq[(String, String)]): DataFrame = {
    validateMerges(merges)
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toIndexedSeq)
    words.select(col("word").cast("string")).as[String]
      .mapPartitions { it =>
        val pairs = bc.value
        val rank = pairs.zipWithIndex.toMap
        it.map { w =>
          val t = bpeEncodeWord(w, rank, pairs)
          (w, t.toSeq, t.length.toLong)
        }
      }
      .toDF("word", "bpe_tokens", "n_tok")
  }

  /** Per-document token counts under a learned BPE tokenizer — the
    * statistic every packing / budgeting / mixing stage downstream of
    * tokenizer training actually consumes ([[bpePairCounts]] learns
    * the merges; this applies them).
    *
    * Scale shape: one corpus scan explodes (doc, word) rows; the
    * DISTINCT vocabulary (partial-agg absorbed, vocabulary-bounded)
    * is encoded once via [[bpeEncodeVocab]]; the per-word costs join
    * back onto the exploded stream (vocabulary side — Catalyst/AQE
    * broadcasts it below the threshold, shuffles on the word key
    * above; either way the expensive BPE loop ran |vocab| times, not
    * |corpus tokens| times); ONE doc-keyed partial-agg exchange sums
    * the counts. Token-less docs survive with zeros via the final
    * left join from the doc spine.
    *
    * Output: (idCol, n_words, n_tokens), one row per input doc. */
  def bpeTokenCounts(docs: DataFrame, merges: Seq[(String, String)],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val docWords = docs.select(col(idCol).cast("long").as(idCol),
      explode(tokens(col(textCol))).as("word"))
    val vocab = docWords.select(col("word")).distinct()
    val costs = bpeEncodeVocab(vocab, merges).select(col("word"), col("n_tok"))
    val perDoc = docWords.join(costs, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** Per-group tokenizer FERTILITY (BPE tokens per whitespace word) —
    * the multilingual-budget statistic: a tokenizer trained mostly on
    * one language fragments the others into more tokens per word, so
    * per-language compute/token budgets (and per-language context
    * capacity) must be priced by fertility, not word counts (the
    * motivation behind per-language vocab allocations in multilingual
    * tokenizer work). Same encode machinery as [[bpeTokenCounts]] —
    * the merge loop runs once per DISTINCT word — aggregated per
    * `groupCol` instead of per doc; the integer sums are exact and
    * `fertility = n_tokens / n_words` is ONE IEEE division.
    *
    * Scale shape: vocabulary-bounded encode (broadcast-sized merge
    * table in the closure), one (group, word)-keyed partial-agg
    * shuffle of word occurrences, group-bounded output. Groups with
    * zero words emit no row. */
  def bpeFertility(docs: DataFrame, merges: Seq[(String, String)],
                   groupCol: String = "lang",
                   textCol: String = "text"): DataFrame = {
    val words = docs.select(col(groupCol),
      explode(tokens(col(textCol))).as("word"))
    val vocab = words.select(col("word")).distinct()
    val costs = bpeEncodeVocab(vocab, merges).select(col("word"), col("n_tok"))
    words.join(costs, "word")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** Token-distribution drift between two corpus snapshots — the
    * monitoring pass a recurring-crawl pipeline runs before retraining:
    * which tokens moved most between snapshot A and snapshot B?
    *
    * The ranking statistic is EXACT integer arithmetic: for token t
    * with occurrence counts a, b and corpus totals A, B, the imbalance
    * |a·B − b·A| ranks tokens identically to |a/A − b/B| (same order,
    * scaled by the constant A·B) with no float boundary anywhere — the
    * q82/q59 integer-signal discipline applied to drift. DECIMAL(38,0)
    * keeps the cross-products exact to ~1e38 (counts ~1e14 × totals
    * ~1e15 at 100 TB stay inside). Per the output-type contract
    * (SparkEntry.scala:13-21) the decimal is internal only: the sort
    * and the tie-break run on the exact decimal, then the k surviving
    * rows project `imbalance` as DOUBLE (round-to-nearest of the exact
    * integer — bit-identical across engines).
    *
    * Scale shape: one scan + partial-agg'd token count per snapshot
    * (shuffle carries distinct tokens, not occurrences), a full-outer
    * join of the two vocabulary-bounded count tables, broadcast 1-row
    * totals, and a (imbalance DESC, token ASC) top-k that compiles to
    * TakeOrderedAndProject — never a global sort.
    *
    * Output: (token, n_a, n_b, imbalance) — top `k` drifted tokens. */
  def tokenDrift(corpusA: DataFrame, corpusB: DataFrame, k: Int = 50,
                 textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as(out))
    val ca = counts(corpusA, "n_a")
    val cb = counts(corpusB, "n_b")
    val totals = ca.agg(coalesce(sum(col("n_a")), lit(0L)).as("tot_a"))
      .crossJoin(cb.agg(coalesce(sum(col("n_b")), lit(0L)).as("tot_b")))
    val dec = "decimal(18,0)"
    ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .crossJoin(broadcast(totals))
      .select(col("token"), col("n_a"), col("n_b"),
        abs(col("n_a").cast(dec) * col("tot_b").cast(dec)
          - col("n_b").cast(dec) * col("tot_a").cast(dec))
          .cast("decimal(38,0)").as("imbalance"))
      .orderBy(col("imbalance").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("n_a"), col("n_b"),
        col("imbalance").cast("double").as("imbalance"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the rules
    * behind the C4 corpus; reference pipelines apply them verbatim).
    * Per LINE (split on '\n', trimmed): keep only lines that
    *   (1) end in a terminal-punctuation character (. ! ? or ")
    *   (2) contain at least `minWords` whitespace-separated words
    *   (3) contain none of `bannedLineWords` (case-insensitive) —
    *       C4 uses "javascript" (cookie/JS boilerplate).
    * Per DOCUMENT: drop the whole doc if it contains any of
    * `bannedDocMarkers` (C4: "lorem ipsum" and the curly brace "{",
    * which marks leaked code/templates), or if NO lines survive.
    *
    * Everything is codegen'd higher-order array functions inside the
    * scan stage — zero shuffles, a pure map at 100 TB. Word counting is
    * engine-portable on purpose: words = elements of split-on-' ' that
    * are non-empty (no \s regex class, whose Unicode width differs
    * across engines).
    *
    * Output: (idCol, text = kept lines re-joined with '\n',
    * n_kept, n_dropped) for surviving docs only. */
  def c4LineClean(docs: DataFrame,
                  minWords: Int = 3,
                  bannedLineWords: Seq[String] = Seq("javascript"),
                  bannedDocMarkers: Seq[String] = Seq("lorem ipsum", "{"),
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(minWords >= 1, "minWords must be >= 1")
    val lower = org.apache.spark.sql.functions.lower(col(textCol))
    val docBanned = bannedDocMarkers
      .map(m => lower.contains(lit(m.toLowerCase)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val lines = transform(split(col(textCol), "\n"), l => trim(l))
    def lineKeep(l: Column): Column = {
      val terminal = l.rlike("[.!?\"]$")
      val words = size(filter(split(l, " "), w => length(w) > 0))
      val banned = bannedLineWords
        .map(b => org.apache.spark.sql.functions.lower(l).contains(lit(b.toLowerCase)))
        .reduceOption(_ || _).getOrElse(lit(false))
      terminal && words >= minWords && !banned
    }
    docs.select(col(idCol).cast("long").as(idCol), col(textCol))
      .filter(col(textCol).isNotNull && !docBanned)
      .select(col(idCol),
        lines.as("all_lines"),
        filter(lines, l => lineKeep(l)).as("kept_lines"))
      .filter(size(col("kept_lines")) > 0)
      .select(col(idCol),
        array_join(col("kept_lines"), "\n").as(textCol),
        size(col("kept_lines")).cast("long").as("n_kept"),
        (size(col("all_lines")) - size(col("kept_lines")))
          .cast("long").as("n_dropped"))
  }

  /** Corpus-level duplicate-line removal (the other half of C4 §2.2:
    * "we discarded all but one of any three-sentence span occurring
    * more than once", here at line granularity — the variant most
    * production pipelines actually run, e.g. for boilerplate nav/footer
    * lines that repeat across a crawl).
    *
    * A line's identity is its trimmed, lowercased form; empty lines are
    * dropped outright. A line is removed from EVERY doc when its
    * identity occurs more than `maxOccurrences` times corpus-wide
    * (including within one doc) — the boilerplate-kill variant, unlike
    * [[graft.ops.Dedup.paragraphDedup]]'s keep-first-occurrence rule
    * (both appear in production pipelines; nav/footer boilerplate wants
    * no survivor at all). Docs whose lines all disappear drop out of
    * the result.
    *
    * Scale shape: posexplode (map) → one hash aggregation on the line
    * identity (partial-agg'd: only (line, count) partials cross the
    * exchange) → one shuffle join back on identity → one groupBy(doc)
    * to reassemble in original position order. Three exchanges total,
    * every one on line-proportional rows (never docs × lines²); the
    * reassembly buffer per doc is the doc's own surviving lines — the
    * same bounded-by-input shape as [[chunkDocs]]'s inverse.
    *
    * Output: (idCol, text = surviving lines joined with '\n',
    * n_kept, n_removed). */
  def dedupLines(docs: DataFrame, maxOccurrences: Long = 1,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(maxOccurrences >= 1, "maxOccurrences must be >= 1")
    val exploded = docs
      .select(col(idCol).cast("long").as(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), trim(col("line")).as("line"))
      .filter(length(col("line")) > 0)
      .withColumn("ident", org.apache.spark.sql.functions.lower(col("line")))
    val counts = exploded.groupBy(col("ident"))
      .agg(count(lit(1)).as("n_occ"))
    exploded.join(counts, "ident")
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(struct(col("pos"), col("line"))))
          .as("all_sorted"),
        sort_array(collect_list(
          when(col("n_occ") <= maxOccurrences,
            struct(col("pos"), col("line"))))).as("kept_sorted"))
      .filter(size(col("kept_sorted")) > 0)
      .select(col(idCol),
        array_join(transform(col("kept_sorted"), x => x.getField("line")), "\n")
          .as(textCol),
        size(col("kept_sorted")).cast("long").as("n_kept"),
        (size(col("all_sorted")) - size(col("kept_sorted")))
          .cast("long").as("n_removed"))
  }

  /** Hashed-feature linear quality score — the fastText/CCNet filter
    * class (Joulin et al. 2017; CCNet and the LLaMA corpus both gate
    * documents with exactly this model shape): features are hashed
    * uni+bigrams, the classifier is a dot product with a bucket-indexed
    * weight vector, the document score is the mean feature weight.
    * This operator is the SERVING half (the model is an input): weights
    * live per hash bucket, `weightFor` maps bucket → integer weight in
    * [-1000, 1000] (milli-units — a trained model is quantized into
    * this range once at export; the default derives a deterministic
    * fixture vector from the bucket index so both engines can compute
    * it without shipping a table).
    *
    * Exactness discipline: every feature weight is an INTEGER; the
    * per-doc sum is an integer fold in feature order (no float until
    * the end), and `score = score_num / (n_feats · 1000)` is one IEEE
    * division — bit-identical on any engine (the q86/q102 rational
    * pattern). The gate decision belongs downstream as an integer
    * cross-multiply (`score_num · D >= n_feats · 1000 · N`).
    *
    * Scale shape: tokenize, feature-hash, weight-lookup and fold all
    * run INSIDE the scan stage as codegen'd array expressions — zero
    * shuffles, a pure map at 100 TB; no weight table crosses the wire
    * because the bucket→weight map is an expression. (For a real
    * exported model, replace `weightFor` with a broadcast
    * `element_at(typedlit(weights), bucket + 1)` — still scan-stage.)
    *
    * Output: (idCol, n_feats, score_num, score); n_feats = 0 docs
    * (including NULL text, treated as empty) score 0.0.
    * `portableHash = true` (default) buckets via the
    * sha256-prefix hash an external SQL engine replicates (the q23
    * discipline — and the dominant cost: sha256 per feature);
    * production pipelines pass `false` for xxhash64 buckets, ~10×
    * cheaper, same distribution (the winnowing gramHash trade). */
  def hashedQualityScore(docs: DataFrame, buckets: Int = 4096,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         portableHash: Boolean = true): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    def bucketOf(f: Column): Column =
      if (portableHash)
        pmod(conv(substring(sha2(f, 256), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong))
      else pmod(xxhash64(f), lit(buckets.toLong))
    def weightFor(b: Column): Column = pmod(b, lit(2001L)) - lit(1000L)
    // NULL text scores like an empty doc (n_feats 0, score 0.0) —
    // without the coalesce, size(NULL) is -1 and the row would emit
    // (-1, NULL, NULL), breaking the output contract
    val toks = tokens(coalesce(col(textCol), lit("")))
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val feats = concat(toks, bigrams)
    docs.select(col(idCol),
        size(feats).cast("long").as("n_feats"),
        aggregate(feats, lit(0L),
          (acc, f) => acc + weightFor(bucketOf(f))).as("score_num"))
      .withColumn("score",
        when(col("n_feats") === 0, lit(0.0))
          .otherwise(col("score_num").cast("double")
            / (col("n_feats") * lit(1000L)).cast("double")))
  }

  /** Fill-in-the-middle (FIM) transformation — the code-model training
    * transform (Bavarian et al. 2022 "Efficient Training of Language
    * Models to Fill in the Middle"): each document is split at two
    * deterministic pivots into (prefix, middle, suffix) and re-laid-out
    * PSM-style as `<PRE>prefix<SUF>suffix<MID>middle`, teaching the
    * model to infill. Pivots derive from the doc id by pure integer
    * arithmetic (no RNG state — any engine reproduces them):
    * `p1 = 1 + (id·7919) mod (len−2)`, `mid = 1 + (id·104729) mod
    * (len−p1−1)`, guaranteeing each part ≥ 1 char. Docs shorter than
    * `minChars` (and NULL text, coalesced to empty) pass through
    * unsplit as mode 'plain' — the standard FIM-rate split, here
    * length-gated rather than sampled so the oracle can replay it.
    *
    * Plan shape: a pure scan-stage projection — zero shuffles, zero
    * UDFs, everything inside whole-stage codegen; at 100 TB this is a
    * map over the corpus, exactly what a rewrite transform must be.
    * Output (one row per doc): (id, mode, n_prefix, n_middle,
    * n_suffix, fim_md5) — the md5 is over the transformed layout, so a
    * mis-sliced boundary anywhere breaks it. */
  def fimSplit(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", minChars: Int = 16): DataFrame = {
    require(minChars >= 3, s"minChars must be >= 3 (need 1 char per part): $minChars")
    val text = coalesce(col(textCol), lit(""))
    val len = length(text).cast("long")
    val id = col(idCol).cast("long")
    val p1 = lit(1L) + (id * 7919L) % (len - 2L)
    val mid = lit(1L) + (id * 104729L) % (len - p1 - 1L)
    val prefix = text.substr(lit(1), p1.cast("int"))
    val middle = text.substr((p1 + 1L).cast("int"), mid.cast("int"))
    val suffix = text.substr((p1 + mid + 1L).cast("int"), (len - p1 - mid).cast("int"))
    val isFim = len >= minChars.toLong
    docs.select(
      col(idCol),
      when(isFim, lit("fim")).otherwise(lit("plain")).as("mode"),
      when(isFim, p1).otherwise(len).as("n_prefix"),
      when(isFim, mid).otherwise(lit(0L)).as("n_middle"),
      when(isFim, len - p1 - mid).otherwise(lit(0L)).as("n_suffix"),
      md5(when(isFim,
          concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix, lit("<MID>"), middle))
        .otherwise(text)).as("fim_md5"))
  }

  /** Vocabulary coverage curve — for tokenizer/vocab sizing: the
    * minimal vocabulary size (most-frequent-first) whose tokens cover
    * ≥ p% of all corpus token occurrences, for each requested p. The
    * classic Zipf head/tail diagnostic: how many types buy 50/90/95/99%
    * of the mass.
    *
    * Scale shape: the frequency table is one partial-aggregated
    * shuffle (vocabulary-sized, not corpus-sized); the cumulative sum
    * over `(n DESC, token ASC)` is a PARALLEL PREFIX SUM — a range-
    * partitioned sort, one tiny collect of per-partition (count, sum)
    * partials, then per-partition running totals seeded by the
    * exclusive offsets (the naturalOrder zipWithIndex discipline) — so
    * no single-reducer window ever sees the vocabulary, which at
    * 100 TB is billions of types (junk tokens included). Threshold
    * crossings use pure integer arithmetic (`cum·100 ≥ total·p` ⟺
    * `cum ≥ ⌈total·p/100⌉`) — no float boundary to disagree with an
    * oracle over.
    *
    * Output: one row per threshold — (threshold_pct, vocab_size,
    * covered_occurrences, total_occurrences). */
  def vocabCoverage(docs: DataFrame,
                    thresholdsPct: Seq[Int] = Seq(50, 90, 95, 99),
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(thresholdsPct.nonEmpty && thresholdsPct.forall(p => p >= 1 && p <= 100),
      s"thresholds must be percentages in [1,100]: $thresholdsPct")
    val spark = docs.sparkSession
    import spark.implicits._
    val freq = docs
      .select(explode(tokens(coalesce(col(textCol), lit("")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val sorted = freq.orderBy(col("n").desc, col("token").asc)
      .select(col("token"), col("n")).as[(String, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-partition occurrence sums (P tiny rows to the driver)
      val partials = sorted
        .mapPartitionsWithIndex { (i, it) =>
          var cnt = 0L; var sum = 0L
          it.foreach { case (_, n) => cnt += 1; sum += n }
          Iterator((i, cnt, sum))
        }.collect().sortBy(_._1)
      val total = partials.map(_._3).sum
      val cntOffsets = partials.scanLeft(0L)(_ + _._2).init
      val sumOffsets = partials.scanLeft(0L)(_ + _._3).init
      val ths = thresholdsPct.distinct.sorted.map(_.toLong)
      // pass 2: running totals from the exclusive offsets; emit only
      // the rows where a threshold's crossing lands (≤ |ths| rows move)
      val crossings = sorted.mapPartitionsWithIndex { (i, it) =>
        var rank = cntOffsets(i); var cum = sumOffsets(i)
        it.flatMap { case (_, n) =>
          val before = cum
          rank += 1; cum += n
          ths.filter(p => before * 100L < total * p && cum * 100L >= total * p)
            .map(p => (p, rank, cum, total))
        }
      }.collect()
      spark.createDataset(crossings.toSeq.sortBy(_._1))
        .toDF("threshold_pct", "vocab_size", "covered_occurrences", "total_occurrences")
    } finally sorted.unpersist(blocking = false)
  }
}
