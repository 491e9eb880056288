package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** A collection's `meta.json` goes through the JSON codec: any memo
  * round-trips, and a manifest in the earlier hand-written byte format
  * reads back identically. */
class MetaJsonSpec extends AnyFunSuite {
  private val memo = "q\"b\\s\nnl\u0001ctl é中😀"

  test("a memo with quotes, backslashes, control and non-ASCII characters round-trips") {
    val f = SparkTestBase.tempDir("graft-meta").resolve("meta.json")
    val m = CollectionMeta(7, 1700000000000L, 1700000000123L, memo)
    MetaJson.write(f, m)
    assert(MetaJson.read(f) == m)
    assert(!Files.exists(f.resolveSibling("meta.json.tmp")))
  }

  test("a manifest in the earlier byte format reads back identically") {
    val f = SparkTestBase.tempDir("graft-meta-old").resolve("meta.json")
    Files.write(f, ("{\"version\":3,\"created\":100,\"updated\":-5,\"memo\":" +
      "\"q\\\"b\\\\s\\nnl\\u0001ctl é中😀\"}").getBytes(UTF_8))
    assert(MetaJson.read(f) == CollectionMeta(3, 100, -5, memo))
    Files.write(f, "{\"version\":1,\"created\":2,\"updated\":3,\"memo\":\"\"}".getBytes(UTF_8))
    assert(MetaJson.read(f) == CollectionMeta(1, 2, 3, ""))
  }

  test("a manifest missing a counter is rejected") {
    val f = SparkTestBase.tempDir("graft-meta-bad").resolve("meta.json")
    Files.write(f, "{\"version\":1,\"created\":2,\"memo\":\"x\"}".getBytes(UTF_8))
    val e = intercept[IllegalStateException](MetaJson.read(f))
    assert(e.getMessage.startsWith("bad meta.json: missing updated"))
  }
}
