package graft.lens

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._
import graft.store.{DataPath, Store}

/** The compute cache's `_input_versions.json` manifest: the zero-job
  * no-op fast path and the cache's pbucket count. Any collection path
  * must round-trip through it, and a torn file must only cost the build
  * its fast path. */
class LensManifestSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  test("manifest keys with a quote, a backslash and non-ASCII characters round-trip") {
    val dir = Files.createTempDirectory("graft-manifest")
    val vs = Map("/datasets/a:q\"u\\o\"te" -> 3L, "/datasets/ü:naïve→名" -> 12L,
      "/lenses/a:\\\"" -> 0L)
    LensBuild.writeInputVersions(dir, vs, 4)
    assert(LensBuild.readInputVersions(dir).contains(vs))
    assert(LensBuild.readPBuckets(dir).contains(4))
  }

  private def doc(tags: String*): PoValue =
    PoObj("tags" -> PoArr(tags.map(PoStr.apply).toVector))

  Seq(1, 4).foreach { pbuckets =>
    test(s"a truncated manifest builds through the gate and stays correct ($pbuckets pbuckets)") {
      spark.conf.set("graft.lens.cachePartitions", pbuckets.toString)
      try {
        val store = new Store(spark, Files.createTempDirectory("graft-manifest-torn").toString)
        val ds = store.dataset("a", "docs").create()
        (1 to 20).foreach(i => ds.write(s"r$i", doc(s"t${i % 5}", s"t${i % 3}")))
        val in = Seq(DataPath("datasets", "a", "docs"))
        val inc = new Lens(store, "a", "inc", in, CountingTagFn).create()
        val full = new Lens(store, "a", "full", in, CountingTagFn).create()
        inc.build()
        val manifest = inc.cacheDir.resolve("_input_versions.json")
        def tear(): Unit = {
          val b = Files.readAllBytes(manifest)
          Files.write(manifest, b.take(b.length / 2))
          assert(LensBuild.readInputVersions(inc.cacheDir).isEmpty)
          assert(LensBuild.readPBuckets(inc.cacheDir).isEmpty)
        }

        // nothing moved: the gate finds no delta and rewrites the manifest
        tear()
        val v = inc.output.meta.version
        CountingTagFn.calls.set(0)
        assert(inc.build() == v)
        assert(CountingTagFn.calls.get == 0)
        assert(LensBuild.readInputVersions(inc.cacheDir).isDefined)

        // a real delta under a torn manifest maps only the fresh records
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
          def rows(l: Lens) = l.output.records.collect().map(r => (r.id, r.hash)).toSet
          assert(rows(inc) == rows(full))
          assert(LensBuild.readInputVersions(inc.cacheDir).isDefined)
        }
      } finally spark.conf.unset("graft.lens.cachePartitions")
    }
  }
}
