package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.codec.{CborCodec, JsonCodec}
import graft.core._
import graft.lens.{EphemeralLens, MapContext, MapFn, TagIndexFn}

class ImportEphemeralSpec extends AnyFunSuite {

  private def freshStore(): Store =
    new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-imp").toString)

  test("file import: one record per file, codec by extension (S8)") {
    val s = freshStore()
    val c = s.dataset("a", "files").create()
    Import.files(c, Seq(
      "alpha.json" -> JsonCodec.encode(PoObj("x" -> PoInt(1))),
      "beta.cbor" -> CborCodec.encode(PoStr("hello")),
      "gamma.jsonl" -> "[1,2]\n\"two\"\n".getBytes))
    assert(c.list() == Seq("alpha", "beta", "gamma"))
    assert(c.read("alpha").get == PoObj("x" -> PoInt(1)))
    assert(c.read("beta").get == PoStr("hello"))
    assert(c.read("gamma").get == PoArr(Vector(PoArr(Vector(PoInt(1), PoInt(2))), PoStr("two"))))
    intercept[IllegalArgumentException] {
      Import.files(c, Seq("bad.xyz" -> Array[Byte]()))
    }
  }

  test("entries-file import: {id: value} map and [id, value] pairs (S7)") {
    val s = freshStore()
    val c = s.dataset("a", "entries").create()
    Import.entriesFile(c, "batch.json",
      """{"r1": 1, "r2": {"a": true}}""".getBytes)
    assert(c.read("r1").get == PoInt(1))
    assert(c.read("r2").get == PoObj("a" -> PoBool(true)))
    Import.entriesFile(c, "more.json",
      """[["r3", "x"], ["r1", 99]]""".getBytes)
    assert(c.read("r3").get == PoStr("x"))
    assert(c.read("r1").get == PoInt(99)) // merge upserts
    assert(c.list() == Seq("r1", "r2", "r3"))
  }

  test("ephemeral lens: logs first, then records; output deleted after (3.3)") {
    val s = freshStore()
    val d = s.dataset("system", "test-dataset").create()
    d.writeEntries(Seq(
      WriteEntry("abc", Some(PoObj("tags" -> PoArr(Vector(PoStr("cat"), PoStr("dog")))))),
      WriteEntry("def", Some(PoObj("tags" -> PoArr(Vector(PoStr("dog"))),
        "log" -> PoStr("hi"))))), WriteMode.Merge)

    val frames = EphemeralLens.run(s, Seq(DataPath("datasets", "system", "test-dataset")),
      TagIndexFn, suffix = "test1")
    val (logs, records) = frames.partition(_.asInstanceOf[PoObj].fields.contains("log"))
    assert(frames.take(logs.length) == logs, "all logs precede all records")
    assert(logs.length == 1)
    val log = logs.head.asInstanceOf[PoObj].fields("log").asInstanceOf[PoObj].fields
    assert(log("args") == PoArr(Vector(PoStr("hi"))))
    val recIds = records.map(_.asInstanceOf[PoObj].fields("record")
      .asInstanceOf[PoObj].fields("id").asInstanceOf[PoStr].s)
    assert(recIds == Vector("cat", "dog"))
    // the throwaway lens is gone
    assert(!s.lens("system", "ephemeral-test1").exists)
  }

  test("ephemeral lens streams lazily: frames identical to run(), teardown after consume (3.3)") {
    val s = freshStore()
    val d = s.dataset("system", "stream-dataset").create()
    d.writeEntries(Seq(
      WriteEntry("abc", Some(PoObj("tags" -> PoArr(Vector(PoStr("cat"), PoStr("dog")))))),
      WriteEntry("def", Some(PoObj("tags" -> PoArr(Vector(PoStr("dog"))),
        "log" -> PoStr("hi"))))), WriteMode.Merge)
    val inputs = Seq(DataPath("datasets", "system", "stream-dataset"))

    val eager = EphemeralLens.run(s, inputs, TagIndexFn, suffix = "eager1")
    // streaming variant produces the exact same framing, lazily: the
    // consume callback receives an Iterator (not a materialized Seq) and
    // the lens output is still live mid-stream — frames are being pulled
    // through toLocalIterator, not from a pre-collected buffer.
    val streamed = EphemeralLens.stream(s, inputs, TagIndexFn, suffix = "lazy1") { it =>
      val first = it.next()
      assert(s.lens("system", "ephemeral-lazy1").exists,
        "lens output must be live while frames stream")
      first +: it.toVector
    }
    assert(streamed == eager)
    assert(!s.lens("system", "ephemeral-lazy1").exists)

    // partial consumption still tears the lens down (the serving path's
    // client-disconnect case)
    val partial = EphemeralLens.stream(s, inputs, TagIndexFn, suffix = "lazy2")(_.take(1).toVector)
    assert(partial == eager.take(1))
    assert(!s.lens("system", "ephemeral-lazy2").exists)
  }
}
