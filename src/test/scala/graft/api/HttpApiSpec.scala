package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.codec.JsonCodec
import graft.core._
import graft.store.Store

class HttpApiSpec extends AnyFunSuite {

  /** `lensTimeoutMs` defaults to the reference's 50 ms; tests whose maps
    * do real per-record work (the JS lifecycle) pass a CI-safe budget —
    * a loaded box can spend >50 ms on the first interpreter call (JIT +
    * parse), which correctly drops that record's outputs as a timeout
    * error and turns the assertion flaky. The ephemeral REDOS test keeps
    * the tight default: its point IS the preemption. */
  private def withApi(lensTimeoutMs: Long = graft.lens.MapRunner.DefaultTimeoutMs)
                     (f: (String, HttpClient) => Unit): Unit = {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-http").toString)
    store.dataset("alice", "d1").create()
    val api = new HttpApi(store, lensTimeoutMs = lensTimeoutMs).start()
    try f(s"http://127.0.0.1:${api.boundPort}", HttpClient.newHttpClient())
    finally api.stop()
  }

  private def get(c: HttpClient, url: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(url)).GET.build(),
      HttpResponse.BodyHandlers.ofString())

  test("PUT/GET/DELETE a record over HTTP; listing shows version+hash") {
    withApi() { (base, c) =>
      val put = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/r1"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString("""{"x": 5, "tags": ["a"]}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(put.statusCode == 200)
      assert(put.body.contains("\"version\":1"))

      val got = get(c, s"$base/datasets/alice:d1/records/r1")
      assert(got.statusCode == 200)
      assert(JsonCodec.decodeString(got.body) ==
        PoObj("x" -> PoInt(5), "tags" -> PoArr(Vector(PoStr("a")))))

      // read as yaml via extension
      val yaml = get(c, s"$base/datasets/alice:d1/records/r1.yaml")
      assert(yaml.statusCode == 200)
      assert(yaml.headers.firstValue("Content-Type").get.contains("yaml"))

      val listing = get(c, s"$base/datasets/alice:d1/records/")
      assert(listing.statusCode == 200)
      val entries = JsonCodec.decodeString(listing.body).asInstanceOf[PoObj]
      assert(entries.fields.keys.toSeq == Seq("r1"))

      val del = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/r1"))
        .DELETE.build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode == 200)
      assert(get(c, s"$base/datasets/alice:d1/records/r1").statusCode == 404)
    }
  }

  test("raw /as/FMT/R serving: string as-is, bytes as-is, object via codec, 404") {
    withApi() { (base, c) =>
      def putJson(id: String, body: String): Unit = {
        val r = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/$id"))
          .header("Content-Type", "application/json")
          .PUT(HttpRequest.BodyPublishers.ofString(body))
          .build(), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode == 200)
      }
      // string root: served byte-for-byte, NOT JSON-quoted, text/plain,
      // CSP sandboxed (reference export-controller.js:178-197)
      putJson("s", "\"hello \\\"raw\\\" world\"")
      val s = get(c, s"$base/datasets/alice:d1/as/json/s")
      assert(s.statusCode == 200)
      assert(s.body == "hello \"raw\" world")
      assert(s.headers.firstValue("Content-Type").get.startsWith("text/plain"))
      assert(s.headers.firstValue("Content-Security-Policy").get == "sandbox")

      // object root: encoded through the named codec (yaml here)
      putJson("o", """{"k": 7}""")
      val o = get(c, s"$base/datasets/alice:d1/as/yaml/o")
      assert(o.statusCode == 200)
      assert(o.headers.firstValue("Content-Type").get.contains("yaml"))
      assert(o.body.contains("k") && o.body.contains("7"))

      // bytes root: as-is octet-stream (write CBOR so the root is bytes)
      val cb = graft.core.Cbor.encode(graft.core.PoBytes(Array[Byte](1, 2, 250.toByte)))
      val rb = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/b"))
        .header("Content-Type", "application/cbor")
        .PUT(HttpRequest.BodyPublishers.ofByteArray(cb))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(rb.statusCode == 200)
      val b = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/as/json/b")).GET.build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(b.statusCode == 200)
      assert(b.body.toSeq == Seq[Byte](1, 2, 250.toByte))
      assert(b.headers.firstValue("Content-Type").get == "application/octet-stream")

      assert(get(c, s"$base/datasets/alice:d1/as/json/missing").statusCode == 404)
    }
  }

  test("bulk merge POST, flat-file export with ?at=, change feed") {
    withApi() { (base, c) =>
      val post = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("""{"a": 1, "b": {"k": true}}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode == 200)

      // second commit so ?at=2 stubs the first batch
      c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/c"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString("3")).build(),
        HttpResponse.BodyHandlers.ofString())

      val export = get(c, s"$base/datasets/alice:d1/export/flat-file.jsonl?at=2")
      assert(export.statusCode == 200)
      val lines = export.body.split("\n").filter(_.nonEmpty).map(JsonCodec.decodeString)
      assert(lines.length == 3)
      val byId = lines.map(_.asInstanceOf[PoObj].fields).map(f =>
        f("id").asInstanceOf[PoStr].s -> f).toMap
      assert(!byId("a").contains("data")) // stub
      assert(byId("c")("data") == PoInt(3))

      val changes = get(c, s"$base/changes?since=0")
      assert(changes.statusCode == 200)
      assert(changes.body.linesIterator.size == 2) // two commits
      assert(changes.body.contains("/datasets/alice:d1"))

      // meta-VFS over HTTP: single record and the virtual listing
      val formats = get(c, s"$base/meta/system:system/records/formats")
      assert(formats.statusCode == 200)
      assert(formats.body.contains("json"))
      val metaList = get(c, s"$base/meta/system:system/records/")
      assert(metaList.statusCode == 200)
      assert(JsonCodec.decodeString(metaList.body).asInstanceOf[PoObj]
        .fields.keySet == graft.store.MetaVfs.RecordNames.toSet)
    }
  }

  test("listing streams in natural order with ?start/?limit pagination") {
    withApi() { (base, c) =>
      // write out of natural order; digit runs must sort numerically
      Seq("item10", "item2", "item1", "other9", "item3").foreach { id =>
        c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/$id"))
          .header("Content-Type", "application/json")
          .PUT(HttpRequest.BodyPublishers.ofString("1")).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      def keys(url: String): Seq[String] =
        JsonCodec.decodeString(get(c, url).body).asInstanceOf[PoObj].fields.keys.toSeq
      // full listing is the Spark-side natural_key sort (no driver
      // collect — the route streams toLocalIterator partitions)
      assert(keys(s"$base/datasets/alice:d1/records/") ==
        Seq("item1", "item2", "item3", "item10", "other9"))
      assert(keys(s"$base/datasets/alice:d1/records/?limit=2") == Seq("item1", "item2"))
      // ?start= is inclusive by natural order: a client resumes from the
      // last id it saw and drops the first row
      assert(keys(s"$base/datasets/alice:d1/records/?start=item2&limit=2") ==
        Seq("item2", "item3"))
      assert(keys(s"$base/datasets/alice:d1/records/?start=item3") ==
        Seq("item3", "item10", "other9"))
    }
  }

  test("import route: zip of files and a single entries file round-trip") {
    withApi() { (base, c) =>
      // files mode: a zip body, one record per entry (filename minus ext)
      val zipBytes = {
        val buf = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(buf)
        def add(name: String, body: String): Unit = {
          z.putNextEntry(new java.util.zip.ZipEntry(name))
          z.write(body.getBytes("UTF-8")); z.closeEntry()
        }
        add("doc1.json", """{"n": 1}""")
        add("doc2.yaml", "n: 2\n")
        // directory-prefixed entry: id must flatten to the basename
        // (a path-ish id would be unaddressable by the record routes)
        add("nested/dir/doc3.json", """{"n": 3}""")
        z.finish(); buf.toByteArray
      }
      val up = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/import"))
        .header("Content-Type", "application/zip")
        .PUT(HttpRequest.BodyPublishers.ofByteArray(zipBytes)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(up.statusCode == 200 && up.body.contains("\"version\":1"))
      assert(JsonCodec.decodeString(get(c, s"$base/datasets/alice:d1/records/doc1").body) ==
        PoObj("n" -> PoInt(1)))
      assert(JsonCodec.decodeString(get(c, s"$base/datasets/alice:d1/records/doc2").body) ==
        PoObj("n" -> PoInt(2)))
      assert(JsonCodec.decodeString(get(c, s"$base/datasets/alice:d1/records/doc3").body) ==
        PoObj("n" -> PoInt(3)))

      // entries-file mode: {id: value} map, ?overwrite=true replaces
      val up2 = c.send(HttpRequest.newBuilder(
        URI.create(s"$base/datasets/alice:d1/import?filename=bulk.json&overwrite=true"))
        .PUT(HttpRequest.BodyPublishers.ofString("""{"only": {"k": true}}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(up2.statusCode == 200)
      val keys = JsonCodec.decodeString(get(c, s"$base/datasets/alice:d1/records/").body)
        .asInstanceOf[PoObj].fields.keys.toSeq
      assert(keys == Seq("only"), "overwrite import replaces prior records")
      // no filename and not a zip → 400
      assert(c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/import"))
        .PUT(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode == 400)
    }
  }

  test("zip export route: records + deduplicated attachments stream down") {
    withApi() { (base, c) =>
      c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/a"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString("""{"v": 1}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/b"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString("\"plain\"")).build(),
        HttpResponse.BodyHandlers.ofString())
      val res = c.send(HttpRequest.newBuilder(
        URI.create(s"$base/datasets/alice:d1/export/archive.zip?format=json")).GET.build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(res.statusCode == 200)
      assert(res.headers.firstValue("Content-Type").get == "application/zip")
      assert(res.headers.firstValue("Content-Disposition").get.contains("export-d1-json.zip"))
      val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(res.body))
      val entries = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> new String(zin.readAllBytes(), "UTF-8")).toMap
      assert(entries.contains("records/a.json") && entries("records/a.json") == """{"v":1}""")
      assert(entries.contains("records/b.json"))
    }
  }

  test("event-stream: SSE client receives a live commit mid-connection") {
    withApi() { (base, c) =>
      import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
      val lines = new LinkedBlockingQueue[String]()
      val sub = c.sendAsync(HttpRequest.newBuilder(
        URI.create(s"$base/datasets/alice:d1/event-stream")).GET.build(),
        HttpResponse.BodyHandlers.fromLineSubscriber(
          new java.util.concurrent.Flow.Subscriber[String] {
            var s: java.util.concurrent.Flow.Subscription = _
            def onSubscribe(sub: java.util.concurrent.Flow.Subscription): Unit = {
              s = sub; s.request(Long.MaxValue)
            }
            def onNext(item: String): Unit = lines.put(item)
            def onError(t: Throwable): Unit = ()
            def onComplete(): Unit = ()
          }))
      // first frame: the current version, sent on connect
      val first = lines.poll(10, TimeUnit.SECONDS)
      assert(first != null && first.startsWith("data: ") &&
        first.contains("\"version\":0"))
      // a write that lands AFTER the connection is established must be
      // pushed through the open stream
      c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/live"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString("42")).build(),
        HttpResponse.BodyHandlers.ofString())
      var pushed: String = null
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (pushed == null && System.nanoTime() < deadline) {
        val l = lines.poll(1, TimeUnit.SECONDS)
        if (l != null && l.contains("\"version\":1") &&
          l.contains("/datasets/alice:d1")) pushed = l
      }
      assert(pushed != null, "live commit must arrive over the open SSE stream")
      sub.cancel(true)
    }
  }

  test("collection listings, meta, and DELETE round-trip (dataset/lens controllers)") {
    withApi() { (base, c) =>
      val store2ndAuthor = get(c, s"$base/datasets/")
      assert(store2ndAuthor.statusCode == 200)
      assert(JsonCodec.decodeString(store2ndAuthor.body) ==
        PoObj("alice" -> PoArr(Vector(PoStr("d1")))))
      assert(JsonCodec.decodeString(get(c, s"$base/datasets/alice:").body) ==
        PoArr(Vector(PoStr("d1"))))
      assert(JsonCodec.decodeString(get(c, s"$base/lenses/").body) == PoObj())
      // collection meta framing: author, name, version, timestamps, memo
      val meta = JsonCodec.decodeString(get(c, s"$base/datasets/alice:d1/").body)
        .asInstanceOf[PoObj].fields
      assert(meta("author") == PoStr("alice") && meta("name") == PoStr("d1"))
      assert(meta("version") == PoInt(0))
      assert(get(c, s"$base/datasets/alice:gone/").statusCode == 404)
      // DELETE drops the collection; subsequent reads 404
      val del = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/"))
        .DELETE.build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode == 204)
      assert(get(c, s"$base/datasets/alice:d1/").statusCode == 404)
      assert(JsonCodec.decodeString(get(c, s"$base/datasets/").body) == PoObj())
    }
  }

  test("attachment serving + meta with derived linkers") {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-http2").toString)
    store.dataset("alice", "d1").create()
    val api = new HttpApi(store).start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${api.boundPort}"
      val bytes = "attachment body".getBytes("UTF-8")
      val hex = store.attachments.write(bytes)
      val url = store.attachments.url(hex, "text/plain")
      store.dataset("alice", "d1").write("r1", PoObj("file" -> PoStr(url)))
      // serving: bytes + immutable caching + mime from ?type=
      val got = c.send(HttpRequest.newBuilder(
        URI.create(s"$base/attachments/$hex?type=text/plain")).GET.build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(got.statusCode == 200)
      assert(got.body.sameElements(bytes))
      assert(got.headers.firstValue("Content-Type").get == "text/plain")
      assert(got.headers.firstValue("Cache-Control").get.contains("immutable"))
      // meta: size + linkers derived from the links column
      val meta = JsonCodec.decodeString(c.send(HttpRequest.newBuilder(
        URI.create(s"$base/attachments/$hex/meta")).GET.build(),
        HttpResponse.BodyHandlers.ofString()).body).asInstanceOf[PoObj].fields
      assert(meta("hash") == PoStr(hex))
      assert(meta("size") == PoInt(bytes.length.toLong))
      assert(meta("linkers") ==
        PoArr(Vector(PoStr("/datasets/alice:d1/records/r1"))))
      // absent blob → 404 on both routes
      assert(c.send(HttpRequest.newBuilder(
        URI.create(s"$base/attachments/${"0" * 64}")).GET.build(),
        HttpResponse.BodyHandlers.ofString()).statusCode == 404)
      assert(c.send(HttpRequest.newBuilder(
        URI.create(s"$base/attachments/${"0" * 64}/meta")).GET.build(),
        HttpResponse.BodyHandlers.ofString()).statusCode == 404)
    } finally api.stop()
  }

  test("lens configuration and logs are readable over HTTP") {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-http3").toString)
    val d = store.dataset("alice", "base").create()
    d.write("r1", PoObj("tags" -> PoArr(Vector(PoStr("t1")))))
    val lens = new graft.lens.Lens(store, "alice", "idx",
      Seq(graft.store.DataPath("datasets", "alice", "base")),
      new graft.lens.MapFn {
        def map(ctx: graft.lens.MapContext): Unit = {
          ctx.log("mapped", ctx.path.recordID)
          ctx.output("n", PoInt(1))
        }
      }).create()
    lens.build()
    val api = new HttpApi(store).start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${api.boundPort}"
      val cfgRes = c.send(HttpRequest.newBuilder(
        URI.create(s"$base/lenses/alice:idx/configuration")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cfgRes.statusCode == 200)
      assert(cfgRes.headers.firstValue("X-Version").get == "1")
      val cfg = JsonCodec.decodeString(cfgRes.body).asInstanceOf[PoObj].fields
      assert(cfg("mapType") == PoStr("scala"))
      assert(cfg("inputs") == PoArr(Vector(PoStr("/datasets/alice:base"))))
      val logs = JsonCodec.decodeString(
        get(c, s"$base/lenses/alice:idx/logs").body).asInstanceOf[PoArr].items
      assert(logs.nonEmpty)
      val l0 = logs.head.asInstanceOf[PoObj].fields
      assert(l0("type") == PoStr("log"))
      assert(l0("args").asInstanceOf[PoArr].items.contains(PoStr("mapped")))
      assert(get(c, s"$base/lenses/alice:gone/configuration").statusCode == 404)
      assert(get(c, s"$base/lenses/alice:gone/logs").statusCode == 404)
    } finally api.stop()
  }

  test("POST /lenses/ephemeral: DSL golden lens streams logs then records, then deletes itself") {
    withApi() { (base, c) =>
      // the reference's golden fixture (test/test-models-lens.js:39-53)
      def put(rid: String, json: String): Unit =
        c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/$rid"))
          .header("Content-Type", "application/json")
          .PUT(HttpRequest.BodyPublishers.ofString(json)).build(),
          HttpResponse.BodyHandlers.ofString())
      put("abc", """{"tags": ["cat", "dog"]}""")
      put("def", """{"tags": ["dog", "mango"], "log": "log test"}""")
      put("ghi", """{"tags": ["dog", "cat"], "error": "error test"}""")

      val body =
        """{
          |  "memo": "golden tag index",
          |  "mapType": "dsl",
          |  "inputs": ["/datasets/alice:d1/"],
          |  "map": {
          |    "emit": [{"forEach": {"field": "tags"},
          |              "key": {"item": true},
          |              "value": {"set": [{"path": "recordID"}]}}],
          |    "log": {"field": "log"},
          |    "fail": {"field": "error"}
          |  }
          |}""".stripMargin
      def post(b: String): HttpResponse[String] =
        c.send(HttpRequest.newBuilder(URI.create(s"$base/lenses/ephemeral"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(b)).build(),
          HttpResponse.BodyHandlers.ofString())
      val resp = post(body)
      assert(resp.statusCode == 200, resp.body)
      val frames = JsonCodec.decodeString(resp.body).asInstanceOf[PoArr].items

      // framing: every log frame precedes every record frame — no log
      // may appear after the first record
      // (docs/api/lenses.md:82-137; lens-controller.js:205-208)
      val kinds = frames.map(_.asInstanceOf[PoObj].fields.keys.head)
      assert(kinds.forall(k => k == "log" || k == "record"))
      assert(!kinds.dropWhile(_ == "log").contains("log"),
        s"log frame after a record frame: $kinds")
      val logs = frames.filter(f => f.asInstanceOf[PoObj].fields.contains("log"))
        .map(_.asInstanceOf[PoObj].fields("log").asInstanceOf[PoObj].fields)
      val recs = frames.filter(f => f.asInstanceOf[PoObj].fields.contains("record"))
        .map(_.asInstanceOf[PoObj].fields("record").asInstanceOf[PoObj].fields)

      // logs in input natural order: def's console line, then ghi's error
      assert(logs.map(_("path")) == Vector(
        PoStr("/datasets/alice:d1/records/def"),
        PoStr("/datasets/alice:d1/records/ghi")))
      assert(logs(0)("type") == PoStr("log"))
      assert(logs(0)("args") == PoArr(Vector(PoStr("log test"))))
      assert(logs(1)("type") == PoStr("error"))
      assert(logs(1)("error").asInstanceOf[PoObj].fields("message") == PoStr("error test"))

      // records: the golden index, natural-ordered, outputs-before-throw
      // kept (ghi still appears under cat/dog)
      val byId = recs.map(r => r("id").asInstanceOf[PoStr].s -> r("data")).toMap
      assert(recs.map(_("id")) == Vector(PoStr("cat"), PoStr("dog"), PoStr("mango")))
      assert(byId("cat") == PoSet(PoStr("abc"), PoStr("ghi")))
      assert(byId("dog") == PoSet(PoStr("abc"), PoStr("def"), PoStr("ghi")))
      assert(byId("mango") == PoSet(PoStr("def")))

      // run-once: the throwaway lens is gone (lens-controller.js:215-217)
      val lenses = get(c, s"$base/lenses/")
      assert(!lenses.body.contains("ephemeral"))

      // the route runs wire-supplied maps SANDBOXED: a hostile split
      // regex (~1 s of engine work per record on this JDK) is preempted
      // per record into captured error frames — never a pinned core or
      // a hung request
      put("bomb", s"""{"text": "${"a" * 400000}"}""")
      val redos = post(
        """{"mapType": "dsl", "inputs": ["/datasets/alice:d1"],
          |  "map": {"emit": [{"forEach": {"split": {"of": {"field": "text"},
          |                                          "on": "(?=(a{0,5000}))b"}},
          |                    "key": {"item": true}, "value": {"lit": 1}}]}}""".stripMargin)
      assert(redos.statusCode == 200)
      assert(redos.body.contains("MapTimeoutException"))

      // contract errors: javascript without a code string is 400, an
      // unknown mapType is 400, bad spec is 400, unknown input is 404
      assert(post(body.replace("\"dsl\"", "\"javascript\"")).statusCode == 400)
      assert(post(body.replace("\"dsl\"", "\"python\"")).statusCode == 400)
      assert(post("""{"mapType": "dsl", "inputs": ["/datasets/alice:d1"],
        "map": {"emit": [{"key": {"exec": "x"}, "value": {"lit": 1}}]}}""").statusCode == 400)
      assert(post("""{"mapType": "dsl", "inputs": ["/datasets/alice:nope"],
        "map": {"log": {"field": "x"}}}""").statusCode == 404)
    }
  }

  test("JS lens lifecycle over HTTP: create, read config+map, rebuild on PUT, ephemeral") {
    withApi(lensTimeoutMs = 5000) { (base, c) =>
      def put(rid: String, json: String): Unit =
        c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/$rid"))
          .header("Content-Type", "application/json")
          .PUT(HttpRequest.BodyPublishers.ofString(json)).build(),
          HttpResponse.BodyHandlers.ofString())
      // the reference's golden fixture (test/test-models-lens.js:39-53)
      put("abc", """{"tags": ["cat", "dog"]}""")
      put("def", """{"tags": ["dog", "mango"], "log": "log test"}""")
      put("ghi", """{"tags": ["dog", "cat"], "error": "error test"}""")

      // the reference's golden tag-index lens AS JAVASCRIPT — the form
      // every reference user actually writes (test/test-models-lens.js:
      // 27-35), shipped over the wire and executed by the interpreter
      val goldenJs =
        """if (Array.isArray(data.tags)) {
          |  for (const tag of data.tags) output(tag, new Set([path.recordID]))
          |}
          |if (data.log) console.log(data.log)
          |if (data.error) throw new Error(data.error)""".stripMargin
      def createBody(name: String, code: String): String =
        JsonCodec.encodeString(PoObj(
          "author" -> PoStr("alice"), "name" -> PoStr(name),
          "memo" -> PoStr("golden tag index"),
          "mapType" -> PoStr("javascript"), "code" -> PoStr(code),
          "inputs" -> PoArr(Vector(PoStr("/datasets/alice:d1/")))))
      def putReq(url: String, body: String): HttpResponse[String] =
        c.send(HttpRequest.newBuilder(URI.create(url))
          .header("Content-Type", "application/json")
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())

      // PUT /lenses/create → lens exists, built, 303 to its page
      // (lens-controller.js:41-52)
      val created = putReq(s"$base/lenses/create", createBody("tagidx", goldenJs))
      assert(created.statusCode == 303)
      assert(created.headers.firstValue("Location").get == "/lenses/alice:tagidx/")

      // the built output is the golden index
      val cat = get(c, s"$base/lenses/alice:tagidx/records/cat")
      assert(cat.statusCode == 200)
      assert(JsonCodec.decodeString(cat.body) == PoSet(PoStr("abc"), PoStr("ghi")))
      val dog = get(c, s"$base/lenses/alice:tagidx/records/dog")
      assert(JsonCodec.decodeString(dog.body) ==
        PoSet(PoStr("abc"), PoStr("def"), PoStr("ghi")))

      // configuration carries the code; the /map route serves it raw
      // with the mapType's content type (lens-controller.js:101-104)
      val cfg = JsonCodec.decodeString(
        get(c, s"$base/lenses/alice:tagidx/configuration").body)
        .asInstanceOf[PoObj].fields
      assert(cfg("mapType") == PoStr("javascript"))
      assert(cfg("code") == PoStr(goldenJs))
      assert(cfg("memo") == PoStr("golden tag index"))
      val rawMap = get(c, s"$base/lenses/alice:tagidx/configuration/map")
      assert(rawMap.statusCode == 200)
      assert(rawMap.body == goldenJs)
      assert(rawMap.headers.firstValue("Content-Type").get.startsWith("text/javascript"))

      // errors and logs surfaced through the logs route: ghi's throw is
      // an Error-typed captured error (worker:44 constructor name)
      val logs = JsonCodec.decodeString(
        get(c, s"$base/lenses/alice:tagidx/logs").body).asInstanceOf[PoArr].items
      val err = logs.map(_.asInstanceOf[PoObj].fields)
        .find(f => f("type") == PoStr("error")).get
      assert(err("error").asInstanceOf[PoObj].fields("type") == PoStr("Error"))
      assert(err("error").asInstanceOf[PoObj].fields("message") == PoStr("error test"))

      // duplicate create → 409; syntax-error code → 400 at startup, the
      // reference's startup-errors contract (worker:102-111)
      assert(putReq(s"$base/lenses/create", createBody("tagidx", goldenJs)).statusCode == 409)
      assert(putReq(s"$base/lenses/create", createBody("bad", "yield 5")).statusCode == 400)

      // PUT configuration swaps the map and FULL-rebuilds (lens-
      // controller.js:76-99): prefix every key, old keys disappear
      val prefixed = goldenJs.replace("output(tag,", "output('k-' + tag,")
      val updated = putReq(s"$base/lenses/alice:tagidx/configuration",
        createBody("tagidx", prefixed))
      assert(updated.statusCode == 204)
      assert(get(c, s"$base/lenses/alice:tagidx/records/k-cat").statusCode == 200)
      assert(get(c, s"$base/lenses/alice:tagidx/records/cat").statusCode == 404)
      assert(putReq(s"$base/lenses/alice:nope/configuration",
        createBody("nope", goldenJs)).statusCode == 404)

      // ephemeral with mapType javascript: logs-then-records framing,
      // deletes itself (lens-controller.js:191-218)
      val eph = c.send(HttpRequest.newBuilder(URI.create(s"$base/lenses/ephemeral"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(JsonCodec.encodeString(PoObj(
          "memo" -> PoStr("eph js"), "mapType" -> PoStr("javascript"),
          "code" -> PoStr(goldenJs),
          "inputs" -> PoStr("/datasets/alice:d1/"))))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(eph.statusCode == 200)
      val frames = JsonCodec.decodeString(eph.body).asInstanceOf[PoArr].items
      val kinds = frames.map(_.asInstanceOf[PoObj].fields.keys.head)
      assert(!kinds.dropWhile(_ == "log").contains("log"))
      val recIds = frames.collect {
        case PoObj(f) if f.contains("record") =>
          f("record").asInstanceOf[PoObj].fields("id")
      }
      assert(recIds == Vector(PoStr("cat"), PoStr("dog"), PoStr("mango")))
    }
  }

  test("errors: 404 unknown route/collection, 400 bad body") {
    withApi() { (base, c) =>
      assert(get(c, s"$base/nope").statusCode == 404)
      assert(get(c, s"$base/datasets/alice:none/records/").statusCode == 404)
      val bad = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("[1,2]")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode == 400)
    }
  }
}
