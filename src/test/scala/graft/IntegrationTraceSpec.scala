package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.HttpApi
import graft.codec.JsonCodec
import graft.core._
import graft.lens.{Lens, LensHub, TagIndexFn}
import graft.store.{DataPath, Export, Store}

/** SURVEY §3.1 — the full "INSERT + MV refresh" trace across every
  * layer: HTTP PUT → codec decode → hash-gated commit → change feed →
  * LensHub cascade → incremental lens rebuild → output readable over
  * HTTP, with the commit visible in the change-feed endpoint. */
class IntegrationTraceSpec extends AnyFunSuite {

  test("write a record over HTTP and watch the lens cascade refresh the view") {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-trace").toString)
    store.dataset("alice", "docs").create()
    val hub = new LensHub(store)
    hub.register(new Lens(store, "alice", "tag-index",
      Seq(DataPath("datasets", "alice", "docs")), TagIndexFn).create())

    val api = new HttpApi(store).start()
    val c = HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      def put(id: String, body: String): Int =
        c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:docs/records/$id"))
          .header("Content-Type", "application/json")
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode
      def getJson(path: String): PoValue = {
        val r = c.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET.build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode == 200, s"$path -> ${r.statusCode}")
        JsonCodec.decodeString(r.body)
      }

      assert(put("abc", """{"tags": ["cat", "dog"]}""") == 200)
      // the cascade ran synchronously on commit: lens output is current
      val cat = getJson("/lenses/alice:tag-index/records/cat")
      assert(cat.asInstanceOf[PoSet].items == Vector(PoStr("abc")))

      assert(put("def", """{"tags": ["dog"]}""") == 200)
      val dog = getJson("/lenses/alice:tag-index/records/dog")
      assert(dog.asInstanceOf[PoSet].items.toSet ==
        Set(PoStr("abc"), PoStr("def")))

      // both the dataset commits AND the lens's own commits hit the feed
      val changes = c.send(HttpRequest.newBuilder(
        URI.create(s"$base/changes?since=0")).GET.build(),
        HttpResponse.BodyHandlers.ofString()).body
      assert(changes.contains("/datasets/alice:docs"))
      assert(changes.contains("/lenses/alice:tag-index"))

      // ?after= strict filter stubs everything at or below that version
      val v = store.dataset("alice", "docs").meta.version
      val es = Export.entries(store, DataPath("datasets", "alice", "docs"),
        after = Some(v)).toVector
      assert(es.nonEmpty && es.forall(!_.asInstanceOf[PoObj].fields.contains("data")))
    } finally api.stop()
  }

  test("a lens input may target a single record (F1 path filter)") {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-f1").toString)
    val d = store.dataset("a", "src").create()
    d.write("keep", PoObj("tags" -> PoArr(Vector(PoStr("x")))))
    d.write("skip", PoObj("tags" -> PoArr(Vector(PoStr("y")))))
    val lens = new Lens(store, "a", "one-record",
      Seq(DataPath("datasets", "a", "src", Some("keep"))), TagIndexFn).create()
    lens.build()
    assert(lens.output.list() == Seq("x"), "only the targeted record maps")
  }
}
