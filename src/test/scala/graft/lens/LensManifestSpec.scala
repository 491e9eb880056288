package graft.lens

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.store.{DataPath, Store}

/** The compute cache's `manifest.json`: it names the live generation and
  * carries the cache's pbucket count and the input versions behind the
  * zero-job no-op fast path. Any collection path must round-trip
  * through it; a torn tmp file left by a crash mid-publish must cost the
  * build nothing, and an unreadable manifest only a full build. */
class LensManifestSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  test("manifest keys with a quote, a backslash and non-ASCII characters round-trip") {
    val dir = SparkTestBase.tempDir("graft-manifest")
    val m = CacheManifest(7, 4, Map("/datasets/a:q\"u\\o\"te" -> 3L,
      "/datasets/ü:naïve→名" -> 12L, "/lenses/a:\\\"" -> 0L))
    m.publish(dir)
    assert(CacheManifest.read(dir).contains(m))
    assert(CacheManifest.read(dir).map(_.pbuckets).contains(4))
  }

  private def doc(tags: String*): PoValue =
    PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))

  private def rows(l: Lens) = l.output.records.collect().map(r => (r.id, r.hash)).toSet

  Seq(1, 4).foreach { pbuckets =>
    test(s"a truncated manifest builds through the gate and stays correct ($pbuckets pbuckets)") {
      spark.conf.set("graft.lens.cachePartitions", pbuckets.toString)
      try {
        val store = new Store(spark, SparkTestBase.tempDir("graft-manifest-torn").toString)
        val ds = store.dataset("a", "docs").create()
        (1 to 20).foreach(i => ds.write(s"r$i", doc(s"t${i % 5}", s"t${i % 3}")))
        val in = Seq(DataPath("datasets", "a", "docs"))
        val inc = new Lens(store, "a", "inc", in, CountingTagFn).create()
        val full = new Lens(store, "a", "full", in, CountingTagFn).create()
        inc.build()
        val manifest = CacheManifest.file(inc.cacheDir)
        // the only manifest a crash mid-publish can tear is its tmp file
        // (written, not yet renamed over the live one)
        def tear(): Unit = {
          val b = Files.readAllBytes(manifest)
          Files.write(manifest.resolveSibling(s"manifest.json.${System.nanoTime()}.tmp"),
            b.take(b.length / 2))
          assert(CacheManifest.read(inc.cacheDir).isDefined)
        }

        // nothing moved: the fast path holds
        tear()
        val v = inc.output.meta.version
        CountingTagFn.calls.set(0)
        assert(inc.build() == v)
        assert(CountingTagFn.calls.get == 0)
        assert(CacheManifest.read(inc.cacheDir).isDefined)

        // a real delta beside a torn tmp file maps only the fresh records
        Seq(
          () => ds.write("r2", doc("t9")),
          () => ds.write("r21", doc("t1", "new")),
          () => ds.delete("r3")
        ).foreach { commit =>
          commit()
          tear()
          CountingTagFn.calls.set(0)
          inc.build()
          assert(CountingTagFn.calls.get <= 1)
          full.buildFull()
          assert(rows(inc) == rows(full))
          assert(CacheManifest.read(inc.cacheDir).isDefined)
        }
      } finally spark.conf.unset("graft.lens.cachePartitions")
    }

    test(s"an unreadable manifest gives a correct full build ($pbuckets pbuckets)") {
      spark.conf.set("graft.lens.cachePartitions", pbuckets.toString)
      try {
        val store = new Store(spark, SparkTestBase.tempDir("graft-manifest-bad").toString)
        val ds = store.dataset("a", "docs").create()
        (1 to 20).foreach(i => ds.write(s"r$i", doc(s"t${i % 5}", s"t${i % 3}")))
        val in = Seq(DataPath("datasets", "a", "docs"))
        val inc = new Lens(store, "a", "inc", in, CountingTagFn).create()
        val full = new Lens(store, "a", "full", in, CountingTagFn).create()
        inc.build()
        ds.write("r2", doc("t9"))
        ds.delete("r3")
        val manifest = CacheManifest.file(inc.cacheDir)
        val b = Files.readAllBytes(manifest)
        Files.write(manifest, b.take(b.length / 2))
        assert(CacheManifest.read(inc.cacheDir).isEmpty)

        CountingTagFn.calls.set(0)
        inc.build()
        assert(CountingTagFn.calls.get == 19, "no cache: every current record maps")
        full.buildFull()
        assert(rows(inc) == rows(full))
        assert(CacheManifest.read(inc.cacheDir).map(_.pbuckets).contains(pbuckets))
      } finally spark.conf.unset("graft.lens.cachePartitions")
    }
  }
}
