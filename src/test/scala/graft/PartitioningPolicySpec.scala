package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans of `src/main/scala` for two one-way-to-do-it rules.
  * Every partitioning decision goes through [[graft.core.Parallelism]]:
  * outside it the engine reads neither `defaultParallelism` nor a
  * partition count, except where the value decides no partitioning. And
  * every job/stage count goes through [[graft.obs.Census]], the one
  * `SparkListener`. A new ad-hoc spread or listener fails here. */
class PartitioningPolicySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Per file, the lines that may read them: each names one site. */
  private val allowed: Map[String, Seq[String]] = Map(
    // collectAtMost's driver bound on an exchange-free plan: each of
    // its P partitions sends at most bound / P + 1 rows
    "graft/lens/Lens.scala" -> Seq("val share = bound / math.max(1, rdd.getNumPartitions) + 1"),
    // the session's core count, recorded in the bench report and in the
    // name of its cpu-keyed artifact
    "graft/Bench.scala" -> Seq("cpus = spark.sparkContext.defaultParallelism)",
      "sfDir, spark.sparkContext.defaultParallelism)"))

  private def sources: Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector finally s.close()
  }

  test("only graft.core.Parallelism reads defaultParallelism or getNumPartitions") {
    val hits = for {
      f <- sources
      rel = root.relativize(f).toString
      if rel != "graft/core/Parallelism.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("defaultParallelism") || line.contains("getNumPartitions")
    } yield (rel, i + 1, line.trim)
    val stray = hits.filterNot { case (f, _, l) => allowed.getOrElse(f, Nil).exists(l.contains) }
    assert(stray.isEmpty, "partitioning decided outside graft.core.Parallelism:\n" +
      stray.map { case (f, i, l) => s"  $f:$i: $l" }.mkString("\n"))
    allowed.foreach { case (f, lines) =>
      lines.foreach(l => assert(hits.count(h => h._1 == f && h._3.contains(l)) == 1,
        s"$f: expected one line holding $l"))
    }
  }

  test("only graft.obs.Census defines or attaches a SparkListener") {
    val listener = """((extends|with|new)\s+[\w.]*SparkListener(Interface)?\b)|addSparkListener""".r
    val hits = for {
      f <- sources
      rel = root.relativize(f).toString
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if listener.findFirstIn(line).isDefined
    } yield (rel, i + 1, line.trim)
    val stray = hits.filterNot(_._1.startsWith("graft/obs/"))
    assert(stray.isEmpty, "Spark listener outside graft.obs:\n" +
      stray.map { case (f, i, l) => s"  $f:$i: $l" }.mkString("\n"))
    assert(hits.count(_._3.contains("extends SparkListener")) == 1,
      "expected the census to be the one SparkListener class")
  }
}
