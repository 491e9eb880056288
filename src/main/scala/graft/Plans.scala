package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for every driver query to PLANS.md —
  * the plan-quality audit trail (pushed filters, broadcast choices,
  * partial aggregation, codegen spans). Engine-path queries that build
  * stores as a side effect (q9, q15) are included: their plan is the
  * final read, and the interesting part is the ingest/build jobs are
  * joins, which the store/lens specs pin. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans per driver query\n\n")
    sb.append(s"Generated by `graft.Plans` at `$sfDir`. Read the commentary in\n")
    sb.append("the final section; regenerate after plan-affecting changes.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val buf = new ByteArrayOutputStream()
        Console.withOut(new PrintStream(buf, true, "UTF-8")) {
          df.explain("formatted")
        }
        sb.append(s"\n## $name\n\n```\n").append(buf.toString("UTF-8")).append("```\n")
      } catch {
        case e: Throwable =>
          sb.append(s"\n## $name\n\nplan unavailable: ${e.getMessage}\n")
      }
    }
    sb.append(
      """
## Commentary (audited by hand, rounds 3-4)

- q1/q8: scan → partial HashAggregate → shuffle → final HashAggregate →
  sort. Column pruning visible in ReadSchema (only grouped/aggregated
  columns read). The plan a 100 TB scan wants.
- q2: lineitem⋈orders⋈customer as shuffle joins (both sides large at
  scale), nation broadcast. AQE re-plans smaller sides to broadcast at
  runtime when stats allow.
- q3: part broadcast under the lineitem scan, single aggregation
  shuffle.
- q4/q5: left-semi / left-anti with the selective side filtered before
  the join; filters appear in PushedFilters on the parquet scan.
- q6: partition-key filter (o_custkey % 100) sits BELOW the window in
  the plan, so 99% of rows never enter the sort; rank filter applied
  after row_number.
- q10/q11: single hash-aggregate shuffles over codegen'd expressions —
  fingerprint/token computation is inlined in the scan stage (no UDF
  boundary in the relational part).
- q12: broadcast nested-loop of the 5-query set against the corpus scan
  (intended: |queries| tiny, corpus scanned once) then a per-query
  window top-k.
- q13: the candidate generator shuffles by (band, bucket) — never an
  all-pairs product; the exact-verify join touches only candidate pairs.
- q14: bucket equi-join between signature frames (shuffle hash join on
  bucket), then per-query window.
- q9/q15: the displayed plan is the final store read (id/value columns
  pruned from the snapshot); the ingest/lens jobs behind them are
  hash-gated joins + (for q9) a partial-aggregating lens reduce
  (CommutativeMapFn path) — shuffle volume O(distinct tokens) not
  O(token occurrences).
- q16: range-partitioned sort on the codegen'd natural_key expression,
  then zipWithIndex per-partition offset ranks — identical output to a
  global window rank with a fully parallel plan (the round-2
  `WindowExec: No Partition Defined` single-reducer is gone; the final
  zipWithIndex stage shows as an RDD scan above the sort).
- q18: the persisted-centroid write is a deliberate extra job inside
  the query (the oracle re-derives assignment from the exact trained
  model); search is a cell-keyed shuffle, never a full scan per query.
- q23: explode → per-token hash in its own projection (evaluated once
  per token, NOT per bit) → 60 partial-agg sums (map-side combine, one
  60-counter row per doc per mapper) → bit assembly. The left join
  keeping empty docs broadcasts the tiny aggregated side at this SF
  and stays a hash join at scale.
- q24: signature buckets on both sides of an equi-join (shuffle hash
  join on bucket) — candidate pairs only within buckets, exact cosine
  verifies; never all-pairs.
- q25/q29: pure codegen'd projections (stopword filters / RE2-safe BPE
  regexp) feeding one partial→final aggregate shuffle; no UDFs, the
  whole scan stage is a single WholeStageCodegen span.
- q26: zero shuffles before the final sort — three fingerprints per row
  computed in one projection over the scan; the sort is the only
  exchange.
- q27: the deliberate TWO-stage aggregate: stage 1 shuffles on
  (l_returnflag, __salt) spreading each hot key over 8 reducers;
  stage 2 re-aggregates 3×8 tiny rows. At 100 TB the heavy shuffle is
  the salted one — that is the point.
- q28: the streaming window() operator in batch — explodes each row
  into size/slide=2 window assignments in the scan stage (codegen'd),
  then one partial→final aggregate shuffle on (window, event_type).
- q30: as-of join as ONE shuffle on user_id + one in-partition sorted
  window carrying the last click forward (tagged union below it) —
  never a range join; the window partitions by user (high cardinality,
  parallel), not global.
- q31: banded range join — the left side Expands to its two (key, bin)
  probes, equi-join on (user_id, __bin) (shuffle hash join), exact
  range predicate as the join filter. No BroadcastNestedLoop anywhere
  in the plan.
- q12/q14/q18/q24 score pairs through the native dot_product /
  cosine_sim expressions (VectorExpressions.scala): single primitive
  loop per pair inside the join's generated code, no HOF interpreter,
  no intermediate arrays.
- q32: the curation pipeline keeps the cheap codegen'd gates (quality,
  language-consistency) in the scan stage; the only shuffles are the
  dedup window on fp and the final per-lang aggregate.
- q33: stratified sampling is one window shuffle on the stratum key
  (parallel across strata); the hash-bucket projection itself is
  shuffle-free.
- q34: zero shuffles before the final sort — maxabs and the quantizing
  transform are two stacked projections over the scan (maxabs bound to
  an attribute so the array_max runs once per row, not per element).
- q43: decontamination = one semi-join keyed on the exploded 8-gram
  (shuffle on the gram, never doc×doc); the benchmark side reduces to
  distinct grams first, so at real scale AQE broadcasts it.
- q41: tokens materialized in their own projection BELOW the n-gram
  transform (the q25 CSE lesson — inline tokens() re-split per gram,
  14 s → 0.66 s at sf0.1); one partial→final aggregate shuffle.
- q42: one window per source shard (parallel across shards — packing
  is shard-local by design, a global order would be one reducer), then
  one aggregate shuffle on (source, bin); integer arithmetic only.
- q40: exact-percentile aggregation (sort-based `percentile`, not
  approx) — one partial→final aggregate shuffle on source; at 100 TB
  the approx_percentile sketch is the knob if exactness can be traded.
- q39: lag/flag/running-sum share ONE window (partitioned by user —
  high cardinality, fully parallel, never a global window), then one
  aggregation shuffle on (user, session_idx).
- q38: the displayed plan is the LAST label-propagation round (the
  loop's joins run eagerly behind localCheckpoint, which truncates
  lineage so the plan stays one-round-sized no matter how many rounds
  convergence took). Each round = one shuffle join + one min-agg;
  rounds = component diameter.
- q36/q37: one mapPartitions pass generates + decodes the media
  (decoder init once per partition), posexplode runs executor-side; the
  final presentation sort is the only exchange. Both decodes are the
  REAL java.desktop paths (javax.sound / javax.imageio), not the stub.
- q44: the displayed plan is the final lens-output read (+ the map-call
  literal). The work behind it is the incremental build (reshaped in
  round 6): ONE persisted FULL-OUTER JOIN of current records against
  the cache's `seen` rows classifies every path (fresh / retained /
  deleted), one aggregate answers both no-op probes, retained rows ride
  a single left_semi, and the spool is persisted so reduce+logs read it
  without re-scanning the parquet they just wrote. Single-input lenses
  skip the first-input-wins dedup window entirely (ids are unique in
  one snapshot) — at 100 TB that deletes a full corpus shuffle per
  build. The reduce stays the partial-aggregating CommutativeMapFn
  path — shuffle O(distinct tokens). Only changed paths enter the map
  stage, which is the thing the oracle's invocation count pins.
- q45: one mapPartitions pass builds and parses the container bytes;
  zero shuffles before the presentation sort. The parse inspects a few
  hundred header bytes per blob — the triage economics that let a
  100 TB video corpus decide what to decode without any codec.
- q46: PII scrub — the fixture concat is materialized ONCE in its own
  projection (the q25 CSE lesson), then the three count scans and the
  three-deep redact chain run as sibling codegen'd regexp expressions
  over that attribute; zero shuffles before the presentation sort. At
  100 TB this is a pure narrow map stage.
- q47: substring-level dedup — positions explode to |grams| rows but
  the shuffle key is xxhash64(gram) (8 bytes, not the 8-word string):
  one map-side-combined count aggregate, one membership join on the
  hash (AQE broadcasts when the dup set is small), one per-doc window
  for island merging. Never all-pairs, never a global window.
- q48: mixture construction — token counting is a codegen'd projection;
  the only shuffle is the per-source window (parallel across sources),
  then the admitted-prefix filter and one aggregate that reuses the
  window's partitioning. The two-level bucket-prefix refinement is the
  knob if ONE source outgrows an executor partition.
- q49: the displayed plan is the final lens-output read, same shape as
  q9. The difference is the map stage behind it: each record runs the
  user's JavaScript body in graft.js.Interp inside mapPartitions (the
  interpreter is re-parsed once per executor from the serialized source,
  then reused across rows). Arbitrary user code is inherently outside
  codegen — that stage is the deliberate interpreter boundary — but it
  stays narrow (no shuffle), and the reduce below it is the same
  partial-aggregating CommutativeMapFn path as q9, shuffle O(distinct
  tokens) not O(token occurrences).
- q35: the displayed plan is the post-GC inventory read (executor-side
  directory listing DataFrame). The GC behind it is the distributed
  anti-join: union of column-pruned `links` scans over every snapshot
  (ReadSchema shows only the links column) exploded → left-anti against
  the executor-listed inventory → foreachPartition deletes. No driver-
  side set at any point; the blob-upload fixture is the reference's
  one-request-at-a-time API and not part of the operator under test.
- q59: contamination scores — the q43 semi-join shape (shuffle on the
  exploded gram, benchmark reduced to distinct grams → AQE broadcast)
  plus one per-doc count aggregate and a small left join restoring
  zero-hit docs. All integers; never doc×doc.
- q60: vocabulary top-k — one explode, ONE token-keyed aggregate with
  map-side partial aggregation (count_distinct partial-expands), then
  TakeOrderedAndProject (per-partition heaps + tiny driver merge — the
  plan shows no global Sort below the limit). The final rank Window
  runs over the k surviving rows only, which is the deliberate
  exception to the no-single-partition-window rule.
- q61: survivor selection — clusters⋈quality on the id, then one
  partial-aggregating max(struct(score, -id)) per cluster: no window,
  no per-cluster sort; a mega-cluster costs its reducer one running
  max. The cluster formation feeding it is q38's checkpointed loop.
- q62: inverted index — one explode, one (token, doc) partial-agg
  shuffle for tf, df aggregated FROM the tf frame (no second corpus
  scan), the df band filter applied before the per-token window, whose
  `row_number <= cap` compiles to WindowGroupLimit (Partial at the map
  side): a hot token ships `cap` rows per partition, never its posting
  set. The final per-token agg assembles postings in window-rank order
  via array_sort — collect_list arrival order never escapes.
- q63: LM coverage gate — the q43/q59 semi-join shape with opposite
  polarity: bigrams materialized below the transform (the q25 CSE
  lesson), model reduced to a distinct-gram frame (count-pruned) so AQE
  broadcasts it at this SF and it stays a shuffle hash join at
  vocabulary scale; one per-doc count agg + the small zero-hit left
  join. All integers end to end — the perplexity-filter shape with the
  libm-dependent log removed.
- q64: temperature mixture — sizes are one per-source partial agg; the
  one-row Σw frame and the #sources-row budget frame come back as
  explicit broadcasts (never a corpus shuffle); admission reuses q48's
  per-source window. The only corpus-sized exchange in the whole plan
  is that window, same as the explicit-budget form.
- q65: k-NN graph — the q24 candidate machinery (persisted multi-table
  signatures, cell-size cap BEFORE the self-join) with directed pairs
  and a per-node (cos DESC, dst ASC) row_number window that compiles to
  WindowGroupLimit: a high-degree node ships k rows per partition. The
  two embedding joins are shuffle hash joins on the id; cosine is the
  codegen'd native expression. Never query-broadcast (every row is a
  query), never all-pairs.
- q67: hard negatives — q65's candidate stage, then two id-keyed
  shuffle joins bring in the cluster labels and the `cl_s <> cl_d`
  filter drops same-cluster pairs BEFORE the scoring joins and the
  top-k window (a post-window filter would let same-cluster rows crowd
  the k slots and leave under-filled negative sets — KnnGraphSpec pins
  the difference). Same WindowGroupLimit bound per node.
- q66: canonical-URL dedup — the whole canonicalizer is a stack of
  codegen'd regexp projections over the scan (zero shuffles before the
  one group-by agg); a hot canonical URL is a map-side-combined count,
  never a skewed list.
- round-7 LSH bucket caps (q13/q24 candidates): the per-bucket size
  comes from a window count over the SAME (band, bucket) key the
  following aggregation groups by, so the cap adds no new exchange in
  the minhash path; the cosine path's cell-size frame is one
  map-side-combined aggregate whose output is cell-count-sized (tiny)
  and semi-joins back broadcast. Over-cap buckets never reach
  collect_list/self-join — the stage is bounded by construction.

## Round-8 commentary

- q40 r6→r7 bench drift (0.264 s → 0.572 s) ROOT-CAUSED as harness
  warm-up noise, not a regression: same-box code A/B between the r6
  checkout (97bd375) and r8 HEAD gives byte-identical BenchOne
  min-of-3 (0.54 s both); flipping the r7 AQE coalesce knob at runtime
  makes q40 slightly SLOWER (0.442 vs 0.384 min-of-5), ruling it out;
  and a 12-rep run converges to 0.261 s — exactly the r6 artifact.
  The ObjectHashAggregate percentile path needs ~10 executions to
  reach JIT steady state; min-of-3 lands wherever the surrounding
  sweep left the JIT. Steady-state is unchanged on r6 and r8 code.
- q38/q61 clustering is now the HYBRID loop: bounded min-label
  propagation (≤5 rounds, one join + one agg per round — the plan
  r6/r7 ran) converging on dense blobs, with large-star/small-star
  escalation (Kiveris) for chain-shaped components — O(log d) rounds
  where plain propagation is O(d). The displayed plan is unchanged at
  bench scale (blobs converge in phase 1); the escalation only
  materializes on diameter outliers. An unconditional star loop was
  tried first and REVERTED: ~2× at sf0.1 on blob inputs (2 joins + 2
  distincts + checksum per round for zero benefit when diameter ≤ 4).
- q68: one partition-by-source exchange; rank and group count are two
  window functions over the SAME window spec, computed in a single
  WindowExec pass (one sort). The fraction gate is an integer
  comparison on the projected columns — nothing after the window but
  a filter.
- q69: ngramOccurrences streams grams in one executor pass; the count
  is a map-side-combined hash aggregate keyed on the gram (the shuffle
  carries distinct grams, not occurrences); minCount filters BEFORE
  the per-prefix window, which compiles to WindowGroupLimit — a
  stopword prefix ships k rows per partition, never its tail.
- q70: a pure projection plan — regexp_count expressions inline in the
  scan stage, no exchange anywhere (the presentation sort is the only
  ordering). The marker construction is the same codegen'd concat/when
  stack as q66's URL fixture.
- q71: q39's single partition-by-user exchange serves BOTH the
  session-boundary window and the per-session aggregation; the only
  wide aggregate value is the per-session event list, bounded by the
  gap semantics, and its order is pinned by array_sort INSIDE the agg
  (collect_list arrival order never escapes — the q62 discipline).
- q72: scan → codegen'd get_json_object projection → one partial/final
  hash-agg shuffle keyed by event_type. Semi-structured extraction
  stays inside whole-stage codegen; no UDF, no second pass for the
  distinct count (Spark plans it as the standard expand).
- q73: the q24 candidate machinery feeding the hybrid clustering loop
  feeding the q61 survivor aggregation — three operators composed in
  one declarative plan, no driver glue between stages beyond the
  clustering loop's bounded round materializations.
- q74: the prior side reduces to DISTINCT fingerprints (partial-agg
  shuffle carrying 32-byte keys, never documents) before a LEFT ANTI
  join; the batch side's min-id/count aggregation shares its
  fingerprint-keyed exchange with that join.
- q75: ONE typed mapPartitions pass, zero shuffles — gram hashing with
  a reused digest and the monotonic-deque sliding min are per-doc
  local (the SQL-window formulation was measured 2-3× slower: per-gram
  expression overhead + a 30M-row window sort the per-doc loop never
  needs). The only exchange in the whole q75 query is the final
  per-doc aggregation.
- q76: q75's zero-shuffle fingerprint pass, then the posting-cap
  discipline (window count + over-cap drop BEFORE the self-join,
  default-on CapStats WARN — it actually fires on the sf corpus) and
  a fingerprint-keyed pair join + shared-count aggregation. Never
  all-pairs; a boilerplate gram costs nothing past its dropped
  posting list.
- q77: the streaming conversionJoin run on batch inputs
  (EliminateEventTimeWatermark removes the watermark below a
  non-streaming child): a user_id equi-join carrying the (0, 1h]
  event-time interval as a post-join filter — the equi key does the
  distribution work, the interval does the semantics, exactly the
  shape whose streaming twin bounds join state by the watermark.
- q78: q75's pipeline with the production XXH64 gram hash — same
  zero-shuffle mapPartitions pass, same single final exchange. Since
  r14 it is hash-checked like its q75 twin: the oracle replays XXH64
  bit-exactly in DuckDB as a generated HUGEINT CTE chain (SparkEntry
  winnowingXxOracle). Its bench line still documents the sha→xx
  throughput gap the scaladoc cites.
- q79: snapshot diff — content hashes are computed BELOW the
  full-outer join, so each Exchange carries exactly (key, hash), never
  a payload byte (OpsSpec asserts this on the plan text). At 100 TB
  the diff costs two scans + one narrow exchange.
- q80: the Morton interleave is a single codegen'd projection (16
  shift/mask terms) inside the scan stage; one aggregation exchange on
  the derived bucket. The per-bucket min/max tightness in BOTH dims is
  the measured data-skipping property, not an assertion.
- q81: sequence/explode/substring chunk fan-out entirely inside the
  scan stage — zero shuffles before the final presentation sort; the
  fan-out ratio (~n/stride) is data-proportional and partitions
  perfectly.
- q82: one typed mapPartitions pass computing all five Gopher
  repetition signals with per-doc hash maps (O(tokens×5), zero
  shuffles) — the aggregate-over-filter column formulation would be
  O(distinct²) per doc per n and was rejected for 10k-token docs.
- q84: the q81 chunk fan-out + ONE md5-keyed window (distinct-doc
  count) + one per-doc aggregation — chunk-granular dedup is two
  exchanges end-to-end regardless of corpus size.
- q85: decode + hash are one mapPartitions pass (decoder init once per
  partition), candidates form only inside 16-bit hash bands (a
  4-band explode + equi-join, never an image×image product), Hamming
  is a codegen'd bit_count-XOR projection on the joined halves.
- q83: one capped-bucket kNN pass persisted and consumed twice (edge
  set + per-node averages), then two id-keyed joins over the k·n edge
  frame — raw embeddings are never touched after the knn stage; the
  margin expression and the rank-ordered zero-padded average fold are
  written identically in both engines so raw doubles hash-match.
- q86: BM25 — the query-vocab IN filter runs INSIDE the token explode's
  scan stage (only matching (doc, term) rows survive to the tf
  aggregation), the df table and the 1-row corpus stats are broadcast,
  and the top-k is TakeOrderedAndProject. Cost is corpus scan +
  |matching postings|, never |corpus|×|vocab|.
- q87: frontier scheduling — one row_number window exchange keyed on
  the politeness key (registered domain; `byHost = true` swaps the key,
  same plan). row_number-only windows are streaming: no partition
  buffering, hot domains cost their row count, nothing global.
- q88: BPE pair stats — one corpus scan to the word-frequency table;
  everything after (char-pair explode, pair aggregation, top-k rank
  window) is VOCABULARY-bounded, so the plan's exchanges carry word
  types, not corpus tokens. The rank window runs over topK rows only.
- q89: global KMV — ONE ObjectHashAggregate pair (partial k_min_distinct
  below the exchange): each partition sends <= k longs to a single
  reducer; no distinct() pre-pass, no corpus-cardinality exchange
  anywhere in the plan (GateGraphSketchSpec pins this on plan text).
- q90: k-anonymity — one count-only window exchange on the QI tuple,
  then a codegen'd filter. No join-back, no second shuffle.
- q91: per-group KMV — the same KMinDistinct aggregate under a GROUP
  BY: partial buffers trim map-side so the exchange carries <= k longs
  per (partition, group); estimate arithmetic is a projection.
- q92: robots gate — broadcast rule join on the domain key (equi key
  extracted; prefix/regex match rides as the join filter), then ONE
  partial-aggregated max(struct) per URL. Wildcard rules compile to
  regexes on the broadcast side; the URL side never shuffles.
- q93: l-diversity — dense_rank + max share one QI-keyed exchange
  (the two-window identity; windows lack COUNT DISTINCT). One extra
  in-partition sort for the ranked spec, zero extra exchanges.
- q94: PageRank — edges+outdegrees persisted once; each iteration is
  one rank-row join + one partial-agg sum keyed by dst + one left join
  back to nodes. Only |V| rank rows shuffle per iteration, never |E|
  re-derivation; exactFold (oracle mode) swaps the sum for a
  src-ordered fold and is documented as NOT the 100 TB path.
- q95: BPE encode — the expensive merge loop is a MapPartitions over
  the DISTINCT vocabulary (one vocab-bounded exchange feeds it); the
  per-word costs broadcast-join back onto the exploded corpus
  (BuildRight), one doc-keyed partial-agg exchange sums, one outer
  join re-attaches token-less docs. Corpus-scale work: scan + explode
  + broadcast probe, all inside codegen.
- q96: bloom decontamination — might_contain is a scan-stage predicate
  (the filter bytes ride as a task literal), bloom negatives reach the
  union with ZERO exchanges; only positives enter the exact LEFT ANTI
  verify join against the broadcast reference keys. The spec asserts
  no hashpartitioning exchange exists in the plan.
- q97: content-defined chunking — one typed MapPartitions pass (gram
  hash + boundary scan + chunk md5 per doc, digest reused), zero
  shuffles before the presentation sort; chunk fan-out is
  data-proportional (~n/divisor rows per doc).
- q98: bucketed co-located join — after the one-time bucketed writes,
  the SortMergeJoin reads both bucketed scans with NO Exchange on
  either side and the groupBy reuses the same distribution
  (LayoutBucketSpec pins zero-Exchange on plan text; the merge hint
  keeps broadcast from hiding the elision at sf scale). The write is
  the whole cost — and it amortizes across every later join on the
  key, which is the 100 TB point.
- q99: exact heavy hitters — pass 1 (already executed when the plan
  prints; it's the 1-row MG candidate aggregate, ObjectHashAggregate
  with partial_misra_gries below its single-reducer exchange) leaves
  only pass 2 visible: scan → explode → literal IN/INSET hash filter
  in the scan stage → partial count → k-bounded exchange → exact
  threshold filter. Neither pass shuffles more than k rows per
  partition; the corpus is scanned twice, the price of exactness.
- q100: DSIR importance — two ngramOccurrences passes (weights, then
  scoring). Bucket counts partial-aggregate to ≤4096 rows per
  partition before their exchange; the weight table (4096 rows, four
  fix_log2 native-expression calls) broadcasts; scoring is explode →
  BroadcastHashJoin → doc-keyed partial-agg sum → outer join for
  featureless docs. fix_log2 is one codegen'd static call — the
  column-arithmetic spelling of the same recurrence grew an ~8^8-node
  tree and OOM'd the driver (the q41 CSE lesson, expression-tree
  edition).
- q101: t-closeness — ONE corpus exchange (the (QI, sensitive)
  partial-agg count). The m-row global distribution broadcasts onto
  the QI spine; cumulative sums ride two window specs sharing the QI
  partitioning; the verdict groupBy reuses that same distribution
  (ENSURE_REQUIREMENTS adds no exchange); the kept-groups verdict
  joins back broadcast. All post-count work is groups×m-bounded.
- q102: RRF fusion — everything after the two retrievers is
  candidate-set sized (≤ 40 rows here): union, per-doc k-bounded
  collect_list fold, TakeOrdered. The single-partition window warning
  on the BM25 rank numbering is a 20-row frame by construction (the
  retriever already capped it), not a scale hazard.
- q103: per-group heavy hitters — the q99 discipline with the group
  key riding along: pass 1 is a per-group ObjectHashAggregate of
  k-bounded MG buffers (partial_misra_gries below the group
  exchange); pass 2 probes the exploded (group, hash) candidate
  table via BroadcastHashJoin inside the token scan stage — the
  corpus never shuffles pre-count, only the groups×k-bounded exact
  counts do. The candidate table is groups×k rows and must stay
  broadcast-sized (scaladoc'd envelope, same as t-closeness verdicts).
- q104: edit-distance near-dup join — gram document frequencies are
  vocabulary-bounded and broadcast; the per-doc rare-first prefix is
  one id-keyed window over the exploded grams (linear in corpus
  grams); candidates form only inside gram buckets under the
  cap-with-CapStats discipline; levenshtein verification joins the
  bounded string column back by id. The prefix filter is LOSSLESS
  (theorem in the scaladoc), so the oracle's banded all-pairs is the
  same set.
- q105: overlap matrix — ONE k-bounded KMinDistinct exchange builds
  the per-source sketch table; everything pairwise happens on the
  groups²-bounded sketch frame via BroadcastNestedLoopJoin
  (deliberate: groups ≪ corpus). The exact/estimate branch is decided
  per pair by whether the hash union fits below k.
- q106: phrase search — the positional postings prune to the phrase
  vocabulary INSIDE the scan stage (InSet literal filter), so only
  |phrase-token postings| rows reach the broadcast phrase-table join;
  match formation is one (doc, start) partial-agg count, never an
  m-way self-join.
- q107: profile — exact mode is the one-pass Expand multi-distinct
  (k× map-side replication, the documented dominant term); the
  default HLL++ mode is expand-free with every statistic partial-
  aggregated into ONE 1-row exchange. The per-column unpivot rides
  the 1-row result.
- q108: Hilbert layout — hilbert_index is a native codegen'd
  expression inside the scan-stage projection span (the rotation
  recurrence would double a column-expression tree per level — the
  fix_log2 lesson); the rest of the plan is q80's shape: one
  partial-agg exchange on the derived bucket.
- q109: collocations — one corpus pass per n-gram order, each
  partial-aggregated to its vocabulary frame; the bigram frame
  persists (feeds total + candidates), unigram counts broadcast onto
  the candidates twice, the 1-row total broadcasts, and the top-k is
  TakeOrderedAndProject. No corpus re-scan after the counts exist.
- q110: split assign — the labeling itself is a zero-shuffle
  codegen'd projection (sha256-prefix bucket + cumulative-cut CASE);
  the only exchange in the query belongs to the reporting groupBy.
- q111: CDC apply — compaction is a WindowGroupLimit-compiled window
  keyed on the change key (change-set-sized); the apply is one
  LeftAnti of the snapshot against the touched keys (AQE broadcasts
  the small side) plus a union with upsert payloads. The snapshot
  payload never crosses an exchange.
- q112: HITS — the persisted edge list is computed once; each of the
  2×2 neighborhood sums is a partial-aggregated groupBy over score
  rows joined onto it (|V| shuffled per half-iteration, |E| never
  re-derived), and each max-normalization is a 1-row aggregate
  broadcast back as a cross join. exactFold (oracle mode only)
  swaps the partial-agg sum for a sorted-array fold. Sums and score
  frames persist EVERY iteration — each is double-consumed, and the
  first regenerated plan proved the cost real (see Round-11
  findings).
- q113: C4 line cleaning — the whole operator is higher-order array
  functions (split/transform/filter/array_join) inside the scan
  projection; the plan's only exchange belongs to the final orderBy.
  A pure map stage at 100 TB.
- q114: duplicate-line removal — posexplode (map) → partial-agg'd
  identity count → join back on identity (AQE broadcasts the count
  table below threshold, as the sf0.001 plan shows; a shuffle join
  at corpus scale) → groupBy(doc) reassembly. Every exchange is on
  line-proportional rows; the per-doc collect buffers hold only that
  doc's own lines.
- q115: label propagation — per iteration one join of label rows
  onto the persisted symmetric edge list, then TWO chained partial
  aggregations: count per (node,label) and max(struct(c,-lab)) per
  node — the most-frequent/min-label rule as an associative max, so
  no window and no shuffle of raw neighbor rows.
- q116: containment — gram posting lists sized by one window on g
  (the cap filter), candidates form only inside sub-cap lists,
  exact verify joins the persisted shingle arrays back by id. Same
  never-all-pairs discipline as q13, plus the CapStats WARN when a
  stop-gram posting list is dropped.
- q117: token drift — one partial-agg'd count per snapshot (distinct
  tokens cross the exchange, not occurrences), vocabulary-bounded
  full-outer join, 1-row totals broadcast, DECIMAL(38,0) imbalance,
  TakeOrderedAndProject top-k. No global sort, no float.
- q118: epoch mixture — per-source token sums broadcast back onto
  the corpus; the one real exchange is the per-source admission
  window (shared by the full-epoch add and the remainder prefix);
  repeat_count is a column, never an exploded row multiplier.
- q119: personalized PageRank — q94's linear-lineage shape (rank
  frame consumed once per iteration); the seed flag joins on once,
  broadcast, and rides the persisted node frame; teleport is a
  codegen'd CASE, no extra exchange over uniform PageRank.
- q120: proximity search — scan-stage isin prune (corpus positions
  never shuffle), then ONE exchange on the doc id shared by the m
  running-max window columns and the per-doc min aggregate
  (plan-asserted single hashpartitioning in PhraseSearchSpec).
- q121: card Luhn — regexp_extract_all + 16 unrolled integer
  checksum terms inside one scan-stage projection; zero shuffles
  besides the reporting orderBy.
- q122: SNM blocking — range repartition + in-partition sort, a
  zipWithIndex rank pass (count-per-partition + offset — the one
  RDD-level step, the standard distributed row-number), then the
  neighbor join as an EQUI-join on rank+k with k exploded 1..w;
  candidate volume is exactly n·w, no bucket can blow up.
- q123: source entropy — (source, token) partial-agg'd count (the
  exchange carries distinct tokens), then one group-level partial
  agg applying the native codegen fix_log2 to the counts; both
  exchanges vocabulary/group-bounded.
- q124: mixed-language windows — substring windows explode inside
  the scan stage, per-window LID is codegen'd column arithmetic, the
  only exchange is the per-doc aggregate.
- q125: sample quantiles — the hash-rank filter compiles to
  WindowGroupLimit (spec-asserted), so k rows per group per partition
  cross the exchange at any corpus size; the percentile buffers only
  the k-row sample. Sample membership is a pure function of the data
  (bottom-k by content hash), which is what makes a quantile SKETCH
  oracle-replayable where GK/t-digest are not.
- q104 (r11 rewrite): edit near-dup — candidates now form in
  (gram, position-band) buckets with the probe side fanned to the 3
  covering bands; verification is the threshold levenshtein. The
  position-blind form degenerated on low-entropy 64-char word-soup
  keys (2.9M candidates, 178 s at sf0.1); banding + O(len·d) verify
  cut that to 2.2 s, and the fixture then moved to the operator's
  documented domain — high-entropy 32-hex keys with planted
  distance-2 triples (1.8 s sf0.1, 6.8 s sf1.0 = 0.38× linear) —
  because ANY fixed q-gram space saturates on a ~15-char alphabet
  and blocking goes quadratic with corpus growth (4.2× linear
  measured before the fixture change; the degenerate regime stays
  spec-covered at unit scale).
- q116 (r11 rewrite): containment — rare-prefix probe (lossless by
  the PPJoin prefix theorem) against the persisted sub-cap posting
  index, grams as xxhash64 longs; exact verify unchanged. 63 s →
  5.2 s at sf0.1 at 3-gram shingles, then n=5 (the real-pipeline
  width and the blocking-entropy knob — see the containmentPairs
  scaladoc): 1.4 s sf0.1, 9.0 s sf1.0 = 0.63× linear.

## Round-11 findings (measured / fuzz-found)

- **Double-consumed iteration frames multiply without persist** —
  caught by THIS file: the first regenerated q112 plan ran to ~800
  operator ids with ZERO ReusedExchange nodes at only 2 iterations.
  In HITS every frame is consumed twice (sums → max + join; scores →
  next half-iteration + output), so the un-persisted subtree copies
  grow 4× per iteration — and Spark recomputes them (exchange reuse
  does not fire across these shapes). pageRank/personalizedPageRank
  are immune (rank frame consumed once per iteration — linear); LPA
  had the same 2×/iteration doubling via its isolated-node left
  join. Fix, in two steps the round's own gates forced: first
  persist the double-consumed frames (stops recompute), then — after
  the persist-only form OOM'd the shared-session ScalaTest run by
  leaking every iteration's cache and plan — EAGER per-iteration
  checkpoints (localCheckpoint single-JVM, reliable on clusters):
  each carried frame computes once, the plan truncates to a leaf,
  superseded storage is ContextCleaner-reclaimed. The Pregel
  materialize-per-superstep shape; q112 7.5 s → 1.8 s at sf0.1.

- **BPE rank-order≡min-rank equivalence needs its precondition** —
  found by the 400-case differential fuzz (BpeCdcPropertySpec): on a
  table where a pair component is ranked BEFORE the merge that builds
  it (merges=[(ab,c),(a,b)]), real BPE (min-rank, the production
  loop) reaches [abc] while a rank-order replay (the q95 oracle
  strategy) stops at [ab,c]. Training-ordered tables can't have that
  shape; `TextOps.validateMerges` now enforces membership in the
  proven class at the API instead of documenting the hazard away.
- **q85's decade FLAG is denominator noise**: sf1.0 cost stable
  across sessions (15.62→14.63 s), sf0.1 sample −25% — inside the
  quantified ±20-50% band (SCALING.md Findings #1).

## Round-12 additions (plan-shape)

- q129 exact-substring pairs (Lee et al. class): scan → stride-1
  char-32-gram explode (spread to cores when the input has fewer
  file-partitions — `Parallelism.spread`) → partial-agg gram
  size table (map-side combined, no window sort anywhere in the
  candidate path) → left_semi cap gate → (gram) equi-join keyed pair
  candidates → per-(a,b,diagonal) WindowExec for gaps-and-islands
  (partitions bounded by min doc length) → candidate-bounded text join
  for the char-exact verify + LCP extension expressions → distinct.
  Never all-pairs; the df cap bounds join fan-out to cap² per gram;
  drops observable (CapStats + observe). The r12 rewrite replaced the
  original full-occurrence window (count+row_number forced a sort of
  every gram occurrence inside the exchange) with the size-table gate:
  6.6 s → 2.6 s at sf0.1 on identical output.
- q126 point lookup: per-id readRow scans show PushedFilters on the
  id equality — the S3 contract; the displayed plan is the final
  assembled-rows sort (the lookups themselves are the fixture's jobs).
- q127 meta-VFS: catalog-sized virtual collection through ReadPath —
  the plan is the tiny exploded-listing sort; the operator under test
  is the MetaVfs frame construction the store specs pin.
- q128 cid rewrite: executor-side resolveContentIDs map over the entry
  frame (static function, files map in the task closure), then the
  commit pipeline; the displayed plan is the final records read.
- q130 CMS frequency: the sketch grid is a partial-aggregated groupBy
  on (row, cell) — map-side combine bounds every exchange to
  ≤ depth·width rows per partition — then the ≤ depth·width-row grid
  BROADCASTS onto probe cells and a per-probe min folds the estimate.
  partial_count + BroadcastHashJoin are spec-pinned.
- q131 hashed quality score: tokenize → feature-hash → weight lookup
  → integer fold, ALL inside the scan stage as codegen'd array
  expressions — the op plans zero exchanges (spec-pinned); the query
  entry's one round-robin exchange is the few-file-fixture ingest
  spread, not part of the operator.
- q132 ANN recall@k: the exact side is the broadcast-guarded cosine
  baseline (queries hinted broadcast, corpus never shuffles), the
  approx side is the production q14 bucket-probe path; the
  intersection is a left_semi on (query, neighbor) between two
  k·|queries|-bounded frames, then one partial-agg count per query.
  Recall is one small-integer division — the whole evaluation costs
  two index probes plus candidate-set-sized joins.
- q133 BPE fertility: the q95 vocab-bounded encode (merge loop once
  per DISTINCT word), then one (group, word)-keyed partial-agg
  shuffle; fertility is one double division of exact integer sums.
- q134 contamination pairs: both sides explode to distinct (doc,
  gram) rows, join keyed on the GRAM (never doc×eval; the eval side
  is broadcast-sized), one partial-agg count per surviving pair.
- q135 zip round trip: the displayed plan is the destination-
  collection read; the operators under test (zip export stream,
  per-extension codec import) run in the fixture jobs — the driver
  hash checks their end-to-end fidelity against the source table.
- q136 recordID-filtered lens: the input scan carries the id equality
  (PushedFilters) so the map stage sees ONE record; the accumulator
  column is the proof (n_map_calls = 1 on every row).
- q137 tombstone delete + reinsert: the displayed plan is the
  post-lifecycle collection read; the operators under test (tombstone
  merge, carry-forward, hash-gated reinsert versioning, meta bump)
  run in the four fixture commits — each a COW merge whose untouched
  rows move by left-anti + union, never a full rewrite of survivors'
  content.
- q138 lens cascade: the displayed plan reads lens B's output; the
  cascade itself is four lens builds whose incremental halves are
  freshness-gate joins — level A's gate is corpus-keyed, level B's is
  VOCABULARY-keyed (A's output), so the second level never sees the
  corpus at all. The two accumulator columns pin both gates' exact
  map-invocation counts.
- q139 reduce lattice: one full build whose reduce is the ordered
  flatMapSortedGroups fold (deliberately NOT the commutative
  aggregator — mixed-type last-wins is order-sensitive); 100 output
  keys bound the shuffle regardless of corpus size.
- q142 lens logs: the displayed plan is the compute-cache parquet
  read with `kind IN (log, err)` as a leading pushed filter (row
  groups of out/seen rows skip); the capture itself happened inside
  the build's map stage — logs travel as ordinary spool rows, no
  side channel.
- q143 change feed: the displayed plan is a JSON scan of the durable
  log (pinned schema — no inference job) + the (ts, seq) dedup; the
  events were appended by the fixture's per-lang commits and rolled
  by compaction. The log is commit-rate-sized, never corpus-sized.
- q148 drop collection: catalog-sized fixture (one tiny collection
  per lang, created + committed + half dropped); the displayed plan
  is the driver-built liveness frame — the surface under test is
  drop()'s state removal, read back through both the existence check
  and the meta-VFS listing.
- q149 generator lens: the displayed plan is the lens-output read +
  range-partitioned sort, identical in shape to q9/q49 — the
  generator machinery (two `function*` instances per record, nested
  delegation, a for-of break that drives IteratorClose) runs entirely
  inside the build's map stage on pooled daemon workers with
  synchronous handoff, so the DISTRIBUTED plan is unchanged: flatMap
  → bigram-keyed exchange (vocabulary-sized, ≤50 emits per doc by the
  cap) → Set-union reduce → spool. Per-record generator cost ~0.7 ms
  at sf0.1 (SCALING: 0.49× linear after the worker-pool rewrite; the
  pre-pool runtime measured 1.44×-linear — raw thread creation, not
  the plan).
- q147 codec matrix: four per-codec zip round trips (the q135 shape),
  each over a quarter of the corpus — the displayed plan is the union
  of the four destination-collection reads; the codecs under test run
  in the fixture's export/import jobs, and the hash checks their
  end-to-end fidelity against the source table.
- q146 raw serving: the displayed plan is the driver-side response
  rows (LocalTableScan); the surface under test is the HTTP loop —
  12 per-request PUTs (each a COW-bucketed commit: touched bucket
  rewrites, rest hardlink-carries) and 12 raw GETs whose each read
  is a pushed-predicate bucket-pruned scan. Scale-flat by fixture
  construction; the per-commit ~0.5 s is fixed job overhead, the
  documented single-write contract.
- q144 ephemeral lens: the displayed plan is the driver-side frame
  vector turned back into a frame (LocalTableScan); the build + the
  natural-key range-partitioned sort + toLocalIterator streaming run
  at call time — the serving contract holds one output partition on
  the driver at a time, never a collect.
- q145 readPath LIST: three scans unioned; the record-path member
  carries its id equality into the scan (PushedFilters), the other
  two are full collection snapshots — no shuffle anywhere, the union
  is physical concatenation.
- q140 FIM split: a single scan-stage projection — substring/md5 all
  inside whole-stage codegen, zero exchanges beyond the final sort;
  the plan a corpus-rewrite transform must have at 100 TB.
- q141 vocab coverage: one partial-agg token-frequency shuffle
  (vocabulary-sized), one range-partitioned sort, then the parallel
  prefix sum (two passes over the sorted RDD seeded by per-partition
  offsets — P tiny rows to the driver, never a single-reducer
  window over the vocabulary); ≤4 crossing rows come back.

- q150 async lens: the displayed plan is the lens-output read + sort,
  the q49 shape — the async machinery (an async helper per token,
  Promise.allSettled over the in-flight batch, output from a .then
  reaction) runs entirely inside the build's map stage: suspensions
  ride the pooled generator workers, reactions drain on the task
  thread before outputs are collected, so the DISTRIBUTED plan is
  unchanged (one doc-keyed map, one output-keyed exchange). ~1.9 s at
  sf0.1 vs q49's 1.8 s — the async surface costs ≈ nothing at plan
  level.
- q155 blocklist: two scans — a tiny one deriving the phrase fixture
  (blocklist-sized collect), then ONE mapPartitions pass walking each
  doc through the closure-shipped Aho–Corasick automaton; the only
  exchange aggregates (doc, phrase) MATCH rows. Phrase-count-
  independent by construction (0.20× decade with a 10× phrase list).
- q154 async-generator lens: the q150 shape (lens-output read +
  sort; distributed plan unchanged) — the async-generator request
  protocol, awaited yields, and the for-await break's awaited
  return() all run inside the build's map stage; 0.40× linear
  (same-session BenchOne pair in SCALING.md).
- q151 MJPEG frames: one narrow mapPartitions pass, zero shuffles
  before the presentation sort — per blob: resolve the stbl sample
  table (KBs), slice ONLY sync-sample byte ranges, JPEG-decode each
  and aHash it. At 100 TB the slice is an object-store range GET; no
  non-key frame's bytes are ever fetched or decoded. The fixture's
  JPEG ENCODE (building the synthetic blobs) dominates the bench
  line, hence the 1-in-7 corpus share.
- q152 overwrite: three full-corpus overwrite commits; each is the
  write path's hash-gate join (new batch vs current snapshot) + a
  full snapshot write — overwrite deliberately does NOT bucket-COW
  (the whole collection is replaced by contract). The read-back is
  one snapshot scan.
- q153 diamond cascade: the displayed plan is the sink read; the
  surface under test is the LensHub wave scheduling — two mid-lens
  builds run CONCURRENTLY per wave (two independent Spark job
  chains), the sink build is triggered by whichever commits first
  and re-run via the pending flag if the second commit lands
  mid-build. Cost is per-build fixed jobs × ~10 builds over two
  settles (the write path's contract, q138's shape one level
  deeper); every build's exchange stays vocabulary-/bucket-sized.

## Round-10 findings (measured, not plan-shape)

- **q73 stage-reuse audit (VERDICT r8 #5) — cost is NOT re-execution;
  at sf0.1 it is mostly per-round orchestration overhead.** JOBLOG
  aggregation over a warmup + timed BenchOne execution: the timed
  run's heaviest single job is 137 ms and its total job time is ~2 s
  against a 5.3-5.7 s wall. The expensive candidate generator
  materializes exactly once per execution (the `sig` persist +
  `dupClusters`' p0 checkpoint hold: re-deriving it would show as a
  second >1 s job, and none exists — the four ~1.4 s single-task
  checkpoint jobs appear only in the cold warmup, concurrent, and are
  JIT/codegen+cold-IO, shrinking to ~20 ms once hot on sf0.1's 2 000
  vectors). The wall-minus-jobs gap is driver-side: the hybrid
  clustering loop runs ~50 small jobs with AQE planning and checkpoint
  barriers between rounds — fixed per-ROUND cost, independent of data
  volume. The decade measurement confirms it amortizes: q73 scales
  2.8× for 10× data (SCALING.md), i.e. at real scale the composition
  is data-bound, not barrier-bound. Verdict: irreducibly the sum of
  its three stages plus O(rounds) fixed orchestration; no reclaimable
  re-execution. Not worth contorting the declarative composition to
  shave sf0.1 barrier overhead that vanishes at scale.

- **q44 climb audit (VERDICT r11 #3, round 12) — environment drift,
  proven by checkout A/B; no code cause exists to reclaim.** The r11
  verdict flagged q44 rising in BOTH chains (driver 4.08→5.51 s,
  builder session 4.55→6.18 s), which rules out single-chain noise.
  Round-12 evidence, in order:
  (1) `git diff e88117c..HEAD -- lens/ store/ queries/` is EMPTY for
  the q44 path — the same bytes ran in r10 and r11.
  (2) The movement is not q44-specific: the three lens-build queries
  moved in lockstep (q9 1.394→1.867 = 1.34×, q44 4.079→5.511 = 1.35×,
  q49 1.698→2.275 = 1.34×) while the median over all 71 co-visible
  queries is 1.04×. Whatever moved, moved the lens-build PROFILE
  (store snapshot commits + spool parquet writes + typed-Dataset
  reduce), not a query.
  (3) JOBLOG on a hot run: 25 jobs, total job time 5.8 s vs 6.5-7.0 s
  wall — job-bound, no driver-gap bloat; the heaviest single job is
  773 ms (a spool/commit write stage). PHASELOG (env-gated in
  IncrementalLensQuery) splits the steady state: commit1 ≈0.5 s,
  build1 ≈1.5 s, commit2 ≈1.3 s, build2 ≈3.2 s — the incremental
  build's full-cache spool rewrite + full-token reduce + output
  commit, the documented design trade (decade ratio 2.1×).
  (4) The decisive test: a worktree checkout of the r10 round commit
  (e88117c), compiled and benched the same day on the same box — q44
  min 6.59 s (runs 6.6-7.6) vs HEAD's 6.13-6.6 s; q9 2.56 s vs HEAD's
  2.69 s. The r10 bytes are exactly as slow as HEAD's today, and both
  are ~1.6× the r10-session measurements of the same code. The box's
  throughput for this write-heavy profile drifted between sessions;
  within any one session the two versions are indistinguishable.
  Verdict: same class as the q64 audit below — cross-session
  environment drift, outside the ±20-50% single-query band the repo
  already documents but visible because it hit one PROFILE coherently.
  Nothing to reclaim; PHASELOG stays for the next drift question.

- **q64 drift A/B (VERDICT r8 #6) — harness noise, with numbers.** The
  q64 code path is byte-identical from the r7 checkout through round
  10 (`git diff b7095f4..HEAD -- ops/Mixing.scala` and the q64 entry:
  empty), so the checkout A/B degenerates to re-measuring the same
  code. 12 idle-box reps (round 10): runs 1.13, 0.89, 0.80, 0.70,
  0.68, 0.67, 0.66, 0.63, 0.66, 0.62, 0.62 — steady-state floor
  0.62 s. Recorded round minima for the SAME bytes: r7 0.490, r8
  0.661, r9 0.550, r10-session 0.561. The floor itself moves ±25%
  across box days, exactly the documented ±20-50% wall-clock noise
  band; the "+33% drift" was two samples from opposite ends of that
  band. No code cause exists to reclaim.

## Round-15 additions (plan-shape)

- **q156/q160 (JS delegation / symbol lenses)**: engine-path queries —
  the displayed plan is the final store read; the interesting cost is
  per-record interpretation in the map stage (flat scan, no shuffle
  before the output-id exchange), same profile as q49/q150/q154.
- **q157 audio headers**: one narrow mapPartitions projection over
  generated blobs → per-blob integer header walk → presentation sort.
  Zero shuffles before the sort; the 100 TB shape reads header-sized
  prefixes only (range GETs), never blob bodies.
- **q158 BPE training**: per iteration, ONE vocabulary-bounded
  flatMap→partial-agg shuffle (pair counts) + a TakeOrdered 1-row
  selection + a map-side re-segmentation persisted for the next round.
  No corpus-sized exchange after the initial word-count scan — the
  measured 0.13× decade is this plan property.
- **q159 lens maintainer**: three Structured Streaming AvailableNow
  drains over the commit-log file source; per batch, the touched-path
  collect is collection-bounded and each build is the q44 incremental
  plan. The storm drain's builds no-op at the version gate (two
  emptiness probes each — no map stage at all).
- **q161 confusable dedup**: the injected-variant unions are scan-stage
  translate/regexp projections; skeletonization adds NO operator — the
  whole query is the q10 exact-dedup plan (one partial-agg exchange on
  the 32-byte fingerprint) with a wider projection.
- **q162 KN gate**: bigram stream derives INSIDE the scan projection
  (zip_with over adjacent slices — no positional self-join; plan-
  asserted in KnGateSpec); the three model joins key on v/w and AQE
  broadcasts them at sf0.01–0.1 (vocab-bounded at any scale); one
  doc-keyed agg exchange; the spine left-join zero-fills. The bigram
  stream is deliberately NOT persisted — it re-derives from the scan
  for each consumer rather than caching a corpus-sized exploded RDD.
- **q163 PQ/ADC**: m=4 Lloyd trainings are fixed-job-count (k×P
  partials combine in a k-reducer shuffle; the driver sees k rows per
  iteration); encode + ADC scoring is one narrow map pass with the
  codebooks/tables broadcast; the rank ≤ 10 filter compiles to
  WindowGroupLimit (plan-asserted in PqSpec), so each task keeps its
  local top rows before the single query-keyed exchange.

## Per-commit fixed cost (round 16, VERDICT r15 Next #3)

`graft.lens.JobBudgetSpec` is the job census: it pins the job count of
each fixed-cost shape and names every job when a budget breaks.
Measured in the spec's local[4] session (r16 columns at local[32]):

| shape | r16 before | r16 after | r18 | now |
|---|---|---|---|---|
| settled rebuild (q159 storm drain / settled cascade wave) | 5 (~0.4-0.9 s) | **0** (~4-16 ms) | 0 | 0 (manifest reads only) |
| one-record incremental build | 11 | 11 | 20 | **7** (budget 8): driver-sized regime — gate collect (3 AQE jobs), old-output-id cache scan, one lookup of retained contributions + previous output rows, output and cache carry writes |
| one-record unbucketed dataset write (q146 PUT) | 3 | 3 | 2 | 2 (previous-version lookup, `NOT IN` carry write) |
| one-record 16-bucket dataset write (serve_mix PUT) | — | — | — | 2 (4 before the held commit form, 3 before its one-bucket coalesce): previous-version lookup, one-bucket write with no shuffle |
| batched bucketed `readRows` | — | — | 1 | 1 |

The win is the INPUT-VERSIONS FAST PATH (LensBuild doBuild step 0):
the compute cache records the input collection versions it was built
against (in `cache/manifest.json`, which names the live cache
generation `cache/g{N}` and is renamed into place atomically);
a rebuild whose inputs' versions all match returns without scheduling
ANY Spark job. The ~5-job full-outer gate query still runs exactly
when a version moved — including the identical-rewrite case (collection
version bumps, record versions don't), where the gate proves the no-op
once and advances the manifest so the next rebuild is zero-job.
Measured on the driver queries: q159 total jobs 35 → 30 (the three
storm-drain gates gone); q153's jobs stay ~90 because its builds are
REAL (fresh inputs each wave) — its per-build cost is the genuine
pipeline, not removable overhead. Pinned by IncrementalLensSpec
("settled rebuild is a ZERO-JOB no-op"), which asserts job count 0 via
a SparkListener, the gate-once-then-zero-job sequence after an
identical rewrite, and unchanged map-invocation counts on real changes.

## Executor-JVM separation audit (round 16)

`local[*]` runs every task in the driver JVM; a real cluster forks the
JVM per executor — `object`-level mutable state silently becomes
per-JVM, closures must actually serialize, and lazy fields must
re-initialize from the executor classpath. Three legs close the axis:

1. **SerializationAuditSpec** round-trips every task-shipped entity
   through `SparkEnv.closureSerializer` AND `SparkEnv.serializer`
   (the two wire paths a cluster exercises) asserting behavioral
   equality: JsMapFn (source re-parse), MapDsl fns (incl. the compiled
   `java.util.regex.Pattern`), AhoCorasick automata (incl. astral
   positions), Ivf.Model / Pq.Codebooks (argmin tie-breaks bit-exact),
   and scala-object MapFns (readResolve singleton identity).
2. **`tools/local_cluster_check.sh`** — the FULL 163-query Verify on
   `local-cluster[2,8,4096]` (two real executor JVMs via spark-submit,
   real task/shuffle serialization, q38 in reliable-checkpoint mode)
   compares oracle-clean: 0 failures / 163 (round 16). This also proves
   executor-side lazy re-init of classpath resources (the PSL file, the
   shared frozen Markup bridge) on a JVM that never ran the driver path.
3. **Object-level mutable state inventory** (every `object`/singleton
   field a task lambda could reach; file:line in src/main/scala/graft):

| state | where | executor exposure | verdict |
|---|---|---|---|
| CapStats.seq/fired/installed | ops/CapStats.scala:42,63 | none — updates happen in a driver QueryExecutionListener; the executor-side signal rides `df.observe` (CollectMetrics accumulators, merge-safe by construction) | driver-only by design |
| Generators.liveBodies + worker pool | js/Generators.scala:77,90 | YES — incremented inside generator bodies in lens map tasks; per-executor-JVM counter | observable-only (leak-reap spec); no behavior reads it; per-JVM values are each independently correct leak gauges |
| Multimodal decoder `inits` ×3 | ops/Multimodal.scala:213,277,326 | YES — per-partition init counters | observable-only for local-mode specs; correctness-neutral |
| Fs.listCalls | core/Fs.scala:13 | none — store metadata paths run on the driver | spec observable |
| TextOps.knCvwSlot | ops/TextOps.scala (knLowProbGate) | none — persist bookkeeping at query-construction time | driver-only |
| SparkEntry.ivfCentroidsWrites / PqQuery.writes + lastSf vars | SparkEntry.scala:60, queries/PqQuery.scala | none — oracle-scratch write elections, query construction time | driver-only |
| JsMapFn.sharedMarkup | lens/JsMapFn.scala:152 | YES — lazy per-JVM, frozen immutable | safe: deterministic re-init per executor, no mutation path |
| JsSymbols canonical instances | js/Values.scala:185 | YES | immutable |
| UrlOps.pslSuffixes / registeredDomainPattern | ops/UrlOps.scala:44 | none — loaded at plan build; executors only see the compiled pattern STRING inside the expression tree | driver-only by design |
| ChangeFeed.dirScans / seq / evictedUpTo | streaming/ChangeFeed.scala:65-91 | none — per-instance, streaming source bookkeeping on the driver | driver-only |
| LensHub lenses/building/pending | lens/Lens.scala:255-264 | none — cascade orchestration | driver-only |
| Store.listeners, AttachmentStore.held | store/Store.scala:171, store/Attachments.scala:30 | none — per-instance, commit/GC bookkeeping | driver-only |
| Interp symbol registries / budgets | js/Interp.scala:290-306 | YES — but per-Interp INSTANCE, one Interp per map call | deterministic per record by construction |

No entry's correctness depends on cross-JVM sharing; the two
executor-side counters are leak/init observables whose per-JVM split
is itself the correct semantics. Anything new that ships to tasks
must be added to SerializationAuditSpec.
""")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
