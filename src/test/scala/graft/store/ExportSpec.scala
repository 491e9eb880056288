package graft.store

import java.io.ByteArrayOutputStream
import java.util.zip.ZipInputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.codec.JsonCodec
import graft.core._

/** Export framing fixtures (FIXTURES.md F8 / reference export paths). */
class ExportSpec extends AnyFunSuite {

  private def stored(): (Store, DataPath) = {
    val s = new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-exp").toString)
    val c = s.dataset("a", "exp").create()
    c.write("r1", PoObj("n" -> PoInt(1)))
    c.write("r2", PoStr("two"))
    (s, DataPath("datasets", "a", "exp"))
  }

  private def collectText(it: Iterator[Array[Byte]]): String =
    new String(it.reduce(_ ++ _), "UTF-8")

  test("entries stream in natural order with id/version/hash/data") {
    val (s, p) = stored()
    val es = Export.entries(s, p).toVector
    assert(es.map(_.asInstanceOf[PoObj].fields("id")) == Vector(PoStr("r1"), PoStr("r2")))
    val e1 = es.head.asInstanceOf[PoObj].fields
    assert(e1("version") == PoInt(1))
    assert(e1("hash").asInstanceOf[PoStr].s.length == 64)
    assert(e1("data") == PoObj("n" -> PoInt(1)))
  }

  test("?at= stubs omit data for older records (F2/F8)") {
    val (s, p) = stored()
    s.collection(p).write("r2", PoStr("two-changed")) // r2 -> v3
    val es = Export.entries(s, p, at = Some(3L)).toVector
    val byId = es.map(e => e.asInstanceOf[PoObj].fields("id").asInstanceOf[PoStr].s -> e.asInstanceOf[PoObj].fields).toMap
    assert(!byId("r1").contains("data"), "older record must be a stub")
    assert(byId("r2")("data") == PoStr("two-changed"))
  }

  test("json flat-file framing: array of entry objects") {
    val (s, p) = stored()
    val text = collectText(Export.flatFile(s, p, "json"))
    assert(text.startsWith("[\n  {"))
    assert(text.endsWith("\n]\n"))
    val decoded = JsonCodec.decodeString(text).asInstanceOf[PoArr]
    assert(decoded.items.length == 2)
  }

  test("jsonl framing: one entry per line; cbor: concatenated; yaml: '...' docs") {
    val (s, p) = stored()
    val jsonl = collectText(Export.flatFile(s, p, "jsonl"))
    assert(jsonl.split("\n").length == 2)
    assert(JsonCodec.decodeString(jsonl.split("\n")(0)).isInstanceOf[PoObj])

    val yaml = collectText(Export.flatFile(s, p, "yaml"))
    assert(yaml.count(_ == '.') >= 6) // two '...' separators
    assert(yaml.split("\\.\\.\\.\n").length == 2)

    // cbor: consecutive decode yields both entries
    val bytes = Export.flatFile(s, p, "cbor").toVector
    assert(bytes.length == 2)
    assert(Cbor.decode(bytes(0)).isInstanceOf[PoObj])
  }

  test("xml framing: pigeon-optics:export envelope with record elements (F8)") {
    val (s, p) = stored()
    val xml = collectText(Export.flatFile(s, p, "xml"))
    assert(xml.startsWith("<export xmlns=\"pigeon-optics:export\">\n"))
    assert(xml.endsWith("</export>\n"))
    assert(xml.contains("<record hash=\""))
    assert(xml.contains("id=\"r1\""))
    assert(xml.contains("<number name=\"n\">1</number>"))
  }

  test("zip export: records/<id>.<ext> + deduplicated attachments") {
    val (s, p) = stored()
    val hex = s.attachments.write("blobby".getBytes)
    val url = s.attachments.url(hex, "text/plain")
    s.collection(p).write("r3", PoObj("f1" -> PoStr(url), "f2" -> PoStr(url)))
    val out = new ByteArrayOutputStream()
    Export.zip(s, p, "json", out, includeAttachments = true)
    val zin = new ZipInputStream(new java.io.ByteArrayInputStream(out.toByteArray))
    val names = Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map(_.getName).toVector
    assert(names.contains("records/r1.json"))
    assert(names.contains("records/r3.json"))
    assert(names.count(_ == s"attachments/$hex") == 1, "attachment deduped")
  }

  test("raw record serving: string/bytes as-is, structured via codec (S11)") {
    val (s, p) = stored()
    assert(new String(Export.raw(s, p.withRecord("r2"))._1) == "two")
    s.collection(p).write("rb", PoBytes.fromString("raw bytes"))
    assert(new String(Export.raw(s, p.withRecord("rb"))._1) == "raw bytes")
    val (j, ext) = Export.raw(s, p.withRecord("r1"), "json")
    assert(ext == "json")
    assert(JsonCodec.decodeString(new String(j)) == PoObj("n" -> PoInt(1)))
  }
}
