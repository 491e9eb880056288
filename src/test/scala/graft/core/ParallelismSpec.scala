package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.jobsOf

/** The partitioning policy: `spread` schedules no job to decide, spreads
  * a small narrow plan and any wide one over dp partitions and leaves a
  * wide-enough narrow plan alone; `byKeys` hash-partitions over dp. */
class ParallelismSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestBase.spark
  private val dp = spark.sparkContext.defaultParallelism

  /** A one-file parquet table of 200 (k, v) rows: scans as 1 partition. */
  private def oneFileScan(): DataFrame = {
    val dir = SparkTestBase.tempDir("graft-par").resolve("t").toString
    spark.range(200).select((col("id") % 10).as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("spread: a one-file scan is spread over dp partitions with 0 jobs") {
    val scan = oneFileScan()
    assert(scan.rdd.getNumPartitions == 1 && dp > 1)
    val (spread, jobs) = jobsOf(Parallelism.spread(scan))
    assert(jobs.isEmpty, s"spread ran ${jobs.size} job(s): ${jobs.mkString("; ")}")
    assert(spread.rdd.getNumPartitions == dp)
    assert(spread.collect().length == 200)
  }

  test("spread: a narrow plan with at least dp partitions is returned as is") {
    val wideEnough = spark.range(0, 1000, 1, dp * 2).toDF("v").filter(col("v") % 3 === 0)
    val (spread, jobs) = jobsOf(Parallelism.spread(wideEnough))
    assert(jobs.isEmpty, s"spread ran ${jobs.size} job(s): ${jobs.mkString("; ")}")
    assert(spread eq wideEnough)
  }

  test("spread: a plan with an exchange schedules 0 jobs and yields dp partitions") {
    // AQE coalesces the distinct's few-KB shuffle to one partition: the
    // shape of the q37/q151 id frames
    val wide = oneFileScan().select(col("k")).distinct()
    val (spread, jobs) = jobsOf(Parallelism.spread(wide))
    assert(jobs.isEmpty, s"spread ran ${jobs.size} job(s): ${jobs.mkString("; ")}")
    assert(spread.rdd.getNumPartitions == dp)
    assert(spread.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("byKeys: dp hash partitions on the keys") {
    val keyed = Parallelism.byKeys(oneFileScan(), col("k"))
    val exchanges = collect(keyed.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.outputPartitioning).collect {
      case h: HashPartitioning => (h.expressions.map(_.references.head.name), h.numPartitions)
    } == Seq((Seq("k"), dp)))
    assert(keyed.rdd.getNumPartitions == dp)
  }
}
