package graft.lens

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.store.{DataPath, Store}

/** [[CountingTagFn]] that also logs each record's value, so a build's
  * logs show which content it mapped. */
object LoggingTagFn extends MapFn {
  def map(ctx: MapContext): Unit = {
    ctx.log(s"mapped ${ctx.data}")
    CountingTagFn.map(ctx)
  }
}

/** A lens build that dies between its output commit and its cache
  * publish, and the debris a crash at any step of the cache's
  * generation protocol leaves on disk. After each, the output reads at
  * its last committed version, the live cache (manifest, files and
  * logs) is the last good generation, and the next build maps exactly
  * the records fresh relative to it and equals a full rebuild. */
class LensCrashSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  private final class ListenerFailure extends RuntimeException("listener failed")

  private def doc(tags: String*): PoValue =
    PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))

  private def rows(l: Lens) = l.output.records.collect().map(r => (r.id, r.hash)).toSet

  private def logLines(l: Lens): Set[String] = l.logs.collect().map { r =>
    r.getAs[String]("path") + " " + r.getAs[Seq[String]]("logArgs").mkString(" ")
  }.toSet

  private def filesUnder(dir: Path): Map[String, Long] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** The live cache: its manifest and the files of the generation it names. */
  private def liveCache(l: Lens): (CacheManifest, Map[String, Long]) = {
    val m = CacheManifest.read(l.cacheDir).get
    (m, filesUnder(m.dir(l.cacheDir)))
  }

  private def generations(l: Lens): Set[String] =
    graft.core.Fs.list(l.cacheDir).map(_.getFileName.toString).filter(_.startsWith("g")).toSet

  /** A 20-record dataset, an incremental lens `inc` over it built once,
    * a lens `full` that only full-builds, and a flag that makes the
    * store's commit listener throw on `inc`'s output commits. */
  private def fixture(pbuckets: Int) = {
    spark.conf.set("graft.lens.cachePartitions", pbuckets.toString)
    val store = new Store(spark, SparkTestBase.tempDir("graft-lens-crash").toString)
    val ds = store.dataset("a", "docs").create()
    ds.writeEntries((1 to 20).map(i =>
      graft.store.WriteEntry(s"r$i", Some(doc(s"t${i % 5}", s"t${i % 3}")))),
      graft.store.WriteMode.Merge)
    val in = Seq(DataPath("datasets", "a", "docs"))
    val inc = new Lens(store, "a", "inc", in, LoggingTagFn).create()
    val full = new Lens(store, "a", "full", in, LoggingTagFn).create()
    val failing = new AtomicBoolean(false)
    store.onCommit((p, _) => if (failing.get && p == inc.path) throw new ListenerFailure)
    inc.build()
    (ds, inc, full, failing)
  }

  /** Each build shape: a held delta, and a frame delta reduced by Spark. */
  private val shapes: Seq[(String, Lens => Long)] = Seq(
    "held" -> (l => l.build()),
    "frame" -> (l => LensBuild.build(l, incremental = true, driverCap = 1, driverRows = 0)))

  Seq(1, 4).foreach { pbuckets =>
    test(s"a build failing between its output commit and its cache publish keeps the last good cache ($pbuckets pbuckets)") {
      try {
        val (ds, inc, full, failing) = fixture(pbuckets)
        shapes.zipWithIndex.foreach { case ((shape, build), k) =>
          val good = liveCache(inc)
          val goodLogs = logLines(inc)
          // two fresh records (an update and an insert) and a delete
          ds.write(s"r${k + 2}", doc(s"u$k"))
          ds.write(s"n$k", doc("t1", s"n$k"))
          ds.delete(s"r${k + 10}")
          val v = inc.output.meta.version

          failing.set(true)
          try intercept[ListenerFailure](build(inc)) finally failing.set(false)
          full.buildFull()
          assert(inc.output.meta.version == v + 1, s"$shape: the output commit is durable")
          assert(rows(inc) == rows(full), s"$shape: the output reads at its new version")
          assert(liveCache(inc) == good, s"$shape: the live cache is the last good generation")
          assert(logLines(inc) == goodLogs, s"$shape: logs are the last good build's")

          CountingTagFn.calls.set(0)
          build(inc)
          assert(CountingTagFn.calls.get == 2, s"$shape: the retry maps exactly the fresh records")
          assert(rows(inc) == rows(full), s"$shape: the retry equals a full rebuild")
          assert(logLines(inc) == logLines(full), s"$shape: logs are the retry's")
          assert(logLines(inc) != goodLogs)
          assert(generations(inc) == Set(s"g${liveCache(inc)._1.version}"),
            s"$shape: only the live generation is kept")
        }
      } finally spark.conf.unset("graft.lens.cachePartitions")
    }

    test(s"crash debris of the cache generations is never read and the next build clears it ($pbuckets pbuckets)") {
      try {
        val (ds, inc, full, _) = fixture(pbuckets)
        def copyLive(to: Path): Unit = {
          val from = CacheManifest.read(inc.cacheDir).get.dir(inc.cacheDir)
          filesUnder(from).keys.foreach { f =>
            Files.createDirectories(to.resolve(f).getParent)
            Files.copy(from.resolve(f), to.resolve(f))
          }
        }
        def parquets(dir: Path): Seq[Path] =
          filesUnder(dir).keys.toSeq.sorted.filter(_.endsWith(".parquet")).map(dir.resolve)
        val debris: Seq[(String, CacheManifest => Unit)] = Seq(
          "an orphan next generation" -> { m => copyLive(m.dir(inc.cacheDir).resolveSibling(s"g${m.version + 1}")) },
          "a truncated next generation" -> { m =>
            val g = m.dir(inc.cacheDir).resolveSibling(s"g${m.version + 1}")
            copyLive(g)
            parquets(g).foreach(p => Files.write(p, Files.readAllBytes(p).take(Files.size(p).toInt / 2)))
          },
          "a half-deleted old generation" -> { m =>
            val g = m.dir(inc.cacheDir).resolveSibling(s"g${m.version - 1}")
            copyLive(g)
            val ps = parquets(g)
            ps.take((ps.size + 1) / 2).foreach(Files.delete)
          },
          "a stray manifest tmp file" -> { m =>
            val b = m.json
            Files.write(CacheManifest.file(inc.cacheDir).resolveSibling("manifest.json.0.tmp"),
              b.take(b.length / 2))
          })
        debris.zipWithIndex.foreach { case ((what, plant), k) =>
          ds.write(s"r${k + 2}", doc(s"u$k"))
          ds.write(s"n$k", doc("t1", s"n$k"))
          ds.delete(s"r${k + 10}")
          val good = liveCache(inc)
          val goodLogs = logLines(inc)
          plant(good._1)
          assert(liveCache(inc) == good, s"$what: the live cache is the last good generation")
          assert(logLines(inc) == goodLogs, s"$what: logs are the last good build's")

          CountingTagFn.calls.set(0)
          inc.build()
          assert(CountingTagFn.calls.get == 2, s"$what: the build maps exactly the fresh records")
          full.buildFull()
          assert(rows(inc) == rows(full), s"$what: the build equals a full rebuild")
          assert(logLines(inc) == logLines(full), s"$what: logs are the new build's")
          assert(generations(inc) == Set(s"g${liveCache(inc)._1.version}"),
            s"$what: only the live generation is left")
          assert(!Fs.list(inc.cacheDir).exists(_.getFileName.toString.endsWith(".tmp")),
            s"$what: no manifest tmp file is left")
        }
      } finally spark.conf.unset("graft.lens.cachePartitions")
    }
  }
}
