package graft.core

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** The one partitioning policy of the Spark engine: every decision about
  * how many tasks a stage gets, taken against the session's
  * `defaultParallelism` (dp). No other code reads dp to partition.
  *
  * [[spread]] feeds a CPU-heavy narrow map — a user or op map fn, a
  * CBOR encode, a media codec, a signature or shingle pass. A one-file
  * table scans as ONE partition, and a few-KB `distinct()` id frame
  * AQE-coalesces to ~1 post-shuffle partition, so without a spread such
  * a map runs on one core. Measured (r18): q73's LSH signature map was a
  * 1.6 s one-core stage that the other AQE stage jobs waited on through
  * its persist's cache lock; the q151 MJPEG encode+decode map was flat
  * across 8 and 32 cores until the spread made it 3–4.5× faster.
  *
  * Not every map gains. Maps whose codec serializes concurrent callers
  * stay unspread: the q36 WAV path (javax.sound's provider lookup)
  * regressed 1.1 → 2.9 s spread over 32 tasks, and q85's PNG phash
  * +0.5 s, so audio decode and phash call neither verb.
  *
  * The spread is `repartition(dp)`, never a REBALANCE hint: AQE
  * coalesces a rebalance to its advisory size, which puts a small but
  * CPU-heavy input (a 400-document lens input is a few hundred KB) back
  * into one task.
  *
  * [[byKeys]] is the explicit-count hash exchange for a dedup or window
  * over narrow rows that drive expensive work: candidate pairs before
  * their distinct + verify, band or gram keys before a sizing window.
  * AQE's coalescing sees only the rows' bytes (tens of bytes of ids) and
  * packs millions of them into one partition, blind to the aggregation
  * and the payload verify that run there; an explicit partition count is
  * exempt from coalescing and satisfies the aggregation's distribution,
  * so one exchange serves the dedup and the verify. Measured: q73's
  * candidate distinct ran as one 15.7 s task at sf1.0 on 32 cores;
  * hash-partitioned on the pair keys the query went 72 → 15.5 s. */
object Parallelism {

  /** `ds` spread over dp partitions for a CPU-heavy narrow map. A plan
    * without an exchange or subquery is probed — its partition count is
    * free there — and returned as is when it already has dp partitions or
    * more. Any other plan is repartitioned without a probe: on an AQE
    * plan `.rdd` runs the shuffle stages and subqueries as hidden jobs,
    * and the repartition would then compute them again. */
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val dp = ds.sparkSession.sparkContext.defaultParallelism
    val plan = ds.queryExecution.executedPlan
    val wide = AqePlans.find(plan)(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty).isDefined
    if (wide || plan.execute().getNumPartitions < dp) ds.repartition(dp) else ds
  }

  /** `ds` hash-partitioned on `keys` over dp partitions, exempt from AQE
    * coalescing (see the object doc). */
  def byKeys[T](ds: Dataset[T], keys: Column*): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** Plan traversal that descends into AQE plans and query stages. */
  private object AqePlans extends AdaptiveSparkPlanHelper
}
