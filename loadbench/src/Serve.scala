package loadbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.HttpApi
import graft.codec.{Codec, JsonCodec}
import graft.core._
import graft.lens.Lens
import graft.queries.LensTokenIndex
import graft.store.Store

/** `serve_mix`: a 16-bucket store seeded with the corpus and a built
  * `tok`, served by [[HttpApi]] on loopback to 4 closed-loop clients.
  * Each client cycles through a seeded shuffle of a 20-request schedule:
  * 14 GET dataset record (extension rotating over json, cbor, msgpack,
  * yaml, xml; Zipf-skewed ids), 2 GET `tok` record as CBOR, 1 GET
  * collection meta, 1 GET /changes from the client's cursor, 2 PUT
  * record — the 70/10/5/5/10 mix, exactly. Every body is decoded with
  * the engine's codec and compared with the model. */
object Serve {
  val Docs = 1000
  val Buckets = 16
  val Clients = 4
  /** Direct `Collection.read` calls of the traced pass. */
  val PointReads = 20

  val Kinds: Seq[String] = Layers.Formats.map("get." + _) ++ Seq("get_lens", "meta", "changes", "put")
  private val Schedule: Seq[String] =
    Seq.fill(14)("get") ++ Seq.fill(2)("get_lens") ++ Seq("meta", "changes") ++ Seq.fill(2)("put")

  /** One write of an id: the value and when its PUT was in flight
    * (`end` = Long.MaxValue until the response arrived). */
  final class Write(val value: PoValue, val start: Long, @volatile var end: Long)

  final class State(val root: Path, val store: Store, val tok: Lens,
                    val docs: Vector[(String, PoValue)], val tokModel: Map[String, Set[Long]]) {
    val api: HttpApi = new HttpApi(store).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    val http: HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val hotTokens: Vector[String] = tokModel.toVector.sortBy { case (t, s) => (-s.size, t) }.map(_._1)
    /** per id: every value it has held, oldest first */
    val history = new ConcurrentHashMap[String, Vector[Write]]()
    docs.foreach { case (id, v) => history.put(id, Vector(new Write(v, Long.MinValue, Long.MinValue))) }
    /** ids in a seed-independent shuffled order: Zipf rank → id */
    val idByRank: Vector[String] = {
      val r = new java.util.SplittableRandom(docs.size.toLong)
      val a = docs.map(_._1).toArray
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toVector
    }
    val version = new java.util.concurrent.atomic.AtomicLong(store.collection(Bench.DocsPath).meta.version)
    def current: Vector[(String, PoValue)] =
      history.asScala.iterator.map { case (id, h) => id -> h.last.value }.toVector
    def close(): Unit = api.stop()
  }

  final case class Setup(st: State, seconds: Double, ingestS: Double, buildS: Double)

  def setup(ctx: Ctx): Setup = {
    val t0 = System.nanoTime()
    val (_, docs) = Corpus.generate(ctx.seed, Docs)
    val root = ctx.freshRoot("serve")
    val store = new Store(ctx.spark, root.toString, buckets = Some(Buckets))
    val ds = store.collection(Bench.DocsPath).create()
    val tok = Bench.lens(store, "tok", Bench.DocsPath, LensTokenIndex.JsTokenCode, ctx.traced).create()
    val t1 = System.nanoTime()
    ctx.windows.time("bulk_commit")(Bench.bulkCommit(ctx.spark, ds, docs))
    val t2 = System.nanoTime()
    val buildS = Bench.fullBuild(ctx, tok)
    ctx.fresh.addAndGet(Docs)
    val model = Model.of(docs)
    val st = new State(root, store, tok, docs, model.postings.map { case (t, s) => t -> s.toSet }.toMap)
    val s = (System.nanoTime() - t0) / 1e9
    ctx.check(Bench.checkTok(tok.output, model))
    Setup(st, s, (t2 - t1) / 1e9, buildS)
  }

  /** One closed-loop client. Client `c` writes only the ids at ranks
    * ≡ c (mod [[Clients]]), so each id has a single writer at a time;
    * `salt` gives the warm-up client its own request sequence. */
  final class Client(ctx: Ctx, st: State, c: Int, salt: Long = 0) {
    private val gen = new Corpus.Gen(ctx.seed * 31 + c + 7 + salt * 1000003)
    private val schedule: Array[String] = {
      val a = Schedule.toArray
      var i = a.length - 1
      while (i > 0) { val j = gen.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    private var slot = 0
    private var ext = c
    private var cursor = (0L, -1L)
    val lat: Map[String, mutable.ArrayBuffer[Double]] = Kinds.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    var non2xx = 0L
    var polls = 0L
    var events = 0L

    def next(): String = {
      val k = schedule(slot); slot = (slot + 1) % schedule.length
      if (k == "get") { ext = (ext + 1) % Layers.Formats.size; "get." + Layers.Formats(ext) } else k
    }

    private def request(path: String, put: Option[Array[Byte]]): HttpResponse[Array[Byte]] = {
      val b = HttpRequest.newBuilder(URI.create(st.base + path)).timeout(java.time.Duration.ofSeconds(60))
      val req = put.fold(b.GET())(body => b.header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofByteArray(body))).build()
      st.http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    }

    /** Send one request of `kind`; checks it; records its latency. */
    def send(kind: String): Unit = {
      val t0 = System.nanoTime()
      val problem: Option[String] = try kind match {
        case k if k.startsWith("get.") =>
          val fmt = k.stripPrefix("get.")
          val id = st.idByRank(gen.zipf(st.idByRank.size))
          val r = request(s"/datasets/${Bench.Author}:docs/records/$id.$fmt", None)
          val t1 = System.nanoTime()
          if (r.statusCode != 200) status(r)
          else {
            val codec = Codec.byExtension(fmt).get
            val got = codec.decode(r.body)
            if (acceptable(id, t0, t1).exists(v => codec.decode(codec.encode(v)) == got)) None
            else Some(s"GET $id.$fmt: served value matches no write in flight")
          }
        case "get_lens" =>
          val t = st.hotTokens(gen.zipf(st.hotTokens.size))
          val r = request(s"/lenses/${Bench.Author}:tok/records/$t.cbor", None)
          if (r.statusCode != 200) status(r)
          else if (Bench.longsOf(Cbor.decode(r.body)).contains(st.tokModel(t))) None
          else Some(s"GET tok/$t: wrong postings")
        case "meta" =>
          val floor = st.version.get
          val r = request(s"/datasets/${Bench.Author}:docs/", None)
          if (r.statusCode != 200) status(r)
          else JsonCodec.decode(r.body) match {
            case PoObj(f) if f.get("name").contains(PoStr("docs")) =>
              f.get("version") match {
                case Some(PoInt(v)) if v >= floor => None
                case other => Some(s"meta: version $other below $floor")
              }
            case other => Some(s"meta: unexpected body $other")
          }
        case "changes" =>
          val r = request(s"/changes?since=${cursor._1}&seq=${cursor._2}", None)
          if (r.statusCode != 200) status(r)
          else {
            val lines = new String(r.body, "UTF-8").split("\n").filter(_.nonEmpty)
            polls += 1; events += lines.length
            lines.iterator.map(l => JsonCodec.decodeString(l)).foldLeft(Option.empty[String]) {
              case (bad @ Some(_), _) => bad
              case (None, PoObj(f)) => (f.get("ts"), f.get("seq")) match {
                case (Some(PoInt(ts)), Some(PoInt(sq))) =>
                  if (ts > cursor._1 || (ts == cursor._1 && sq > cursor._2)) { cursor = (ts, sq); None }
                  else Some(s"changes: cursor ($ts,$sq) not after $cursor")
                case _ => Some("changes: event without cursor")
              }
              case (None, other) => Some(s"changes: unexpected event $other")
            }
          }
        case "put" =>
          val id = st.idByRank(c + Clients * gen.nextInt(st.idByRank.size / Clients))
          val body = JsonCodec.encode(gen.doc(id.toLong))
          val w = new Write(JsonCodec.decode(body), t0, Long.MaxValue)
          st.history.merge(id, Vector(w), (a, b) => a ++ b)
          val r = request(s"/datasets/${Bench.Author}:docs/records/$id", Some(body))
          w.end = System.nanoTime()
          if (r.statusCode != 200) status(r)
          else JsonCodec.decode(r.body) match {
            case PoObj(f) => f.get("version") match {
              case Some(PoInt(v)) => st.version.accumulateAndGet(v, math.max); None
              case other => Some(s"PUT: no version in $other")
            }
            case other => Some(s"PUT: unexpected body $other")
          }
      } catch { case e: Throwable => Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      lat(kind) += (System.nanoTime() - t0) / 1e6
      ctx.check(problem)
    }

    private def status(r: HttpResponse[Array[Byte]]): Option[String] = {
      non2xx += 1
      Some(s"HTTP ${r.statusCode} for ${r.uri.getPath}: ${new String(r.body, "UTF-8").take(200)}")
    }

    /** Values a GET over [t0, t1] may see: the last write acknowledged
      * before t0, and every write in flight at some point in [t0, t1]. */
    private def acceptable(id: String, t0: Long, t1: Long): Seq[PoValue] = {
      val h = st.history.get(id)
      val settled = h.lastIndexWhere(_.end < t0)
      h.zipWithIndex.collect {
        case (w, i) if i == settled || (i > settled && w.start <= t1) => w.value
      }
    }
  }

  /** api.* and streaming.* from the clients' latencies. */
  def httpLayers(clients: Seq[Client], layers: mutable.Map[String, Double]): Unit = {
    def lat(k: String): Seq[Double] = clients.flatMap(_.lat(k))
    Layers.Formats.foreach(f => layers(s"api.get_ms.$f") = Bench.median(lat(s"get.$f")))
    layers("api.get_lens_ms") = Bench.median(lat("get_lens"))
    layers("api.meta_ms") = Bench.median(lat("meta"))
    layers("api.changes_ms") = Bench.median(lat("changes"))
    layers("api.put_ms") = Bench.median(lat("put"))
    layers("api.non2xx") = clients.map(_.non2xx).sum.toDouble
    layers("streaming.poll_events") = clients.map(_.events).sum.toDouble / math.max(1L, clients.map(_.polls).sum)
  }

  /** store.point_read_ms from direct `Collection.read` calls of Zipf-skewed ids. */
  def pointReads(ctx: Ctx, st: State, layers: mutable.Map[String, Double]): Unit = {
    val ds = st.store.collection(Bench.DocsPath)
    val rng = new java.util.SplittableRandom(ctx.seed)
    layers("store.point_read_ms") = Bench.median((1 to PointReads).map { _ =>
      val id = st.idByRank(Corpus.zipfRank(rng, st.idByRank.size))
      val t0 = System.nanoTime()
      ctx.windows.time("point_read")(ds.read(id))
      (System.nanoTime() - t0) / 1e6
    })
    layers("api.self_ms") = layers("api.get_ms.json") - layers("store.point_read_ms")
  }

  /** Traced probe of a workload that serves no HTTP: one request of
    * every kind from one client (on a store with a hub the PUT runs the
    * cascade, so it follows every GET it could make stale), then direct
    * point reads. */
  def probe(ctx: Ctx, root: Path, store: Store, tok: Lens, model: Model,
            layers: mutable.Map[String, Double]): Unit = {
    val st = new State(root, store, tok, model.docs.toVector,
      model.postings.map { case (t, s) => t -> s.toSet }.toMap)
    try {
      val cl = new Client(ctx, st, 0)
      // the PUT before /changes, so the poll has events to return
      ctx.windows.time("http")((Kinds.filter(_ != "changes") :+ "changes").foreach(cl.send))
      httpLayers(Seq(cl), layers)
      pointReads(ctx, st, layers)
    } finally st.close()
  }

  def run(ctx: Ctx): Outcome = {
    val setups = (1 to Bench.SetupReps).map { i =>
      val s = setup(ctx)
      System.err.println(f"loadbench: set-up $i: ${s.seconds}%.2f s (bulk commit ${s.ingestS}%.2f s, build ${s.buildS}%.2f s)")
      if (i < Bench.SetupReps) { s.st.close(); Bench.rmTree(s.st.root) }
      s
    }
    val st = setups.last.st
    // unmeasured warm-up: one request of every kind
    val warm = new Client(ctx, st, 0, salt = 1)
    Kinds.foreach(warm.send)

    val gc0 = Jvm.gcMs
    val clients = (0 until Clients).map(c => new Client(ctx, st, c))
    val wallStart = System.currentTimeMillis()
    val measureStart = System.nanoTime()
    val elapsed = drive(clients, ctx.seconds)
    ctx.windows.add("http", wallStart, System.currentTimeMillis())
    val gcMs = Jvm.gcMs - gc0
    val heap = Jvm.heapLiveMb

    val all = clients.flatMap(cl => Kinds.flatMap(cl.lat))
    val current = st.current
    val e2e = Map(
      "setup_s" -> Bench.median(setups.map(_.seconds)),
      "build_docs_per_s" -> Docs / setups.map(_.buildS).min,
      "op_p50_ms" -> Bench.quantile(all, 0.5),
      "op_p75_ms" -> Bench.quantile(all, 0.75),
      "ops_per_s" -> all.size / elapsed,
      "space_amp" -> Bench.bytesUnder(st.root) / current.map(d => Cbor.encode(d._2).length.toLong).sum.toDouble,
      "heap_live_mb" -> heap)

    val layers = Layers.empty
    if (ctx.traced) {
      ctx.census.drain()
      httpLayers(clients, layers)
      pointReads(ctx, st, layers)
      val putBytes = st.history.values.asScala.flatten.filter(_.start >= measureStart)
        .map(w => Cbor.encode(w.value).length.toLong).sum
      layers("store.write_amp") = ctx.windows.stats(ctx.census, "http").outputBytes / math.max(1.0, putBytes.toDouble)
      Layers.store(layers, st.store, Seq("tok"))
      lensProbe(ctx, st, current, layers)
      Layers.setups(ctx, layers, setups.map(s => (s.ingestS, Map("tok" -> s.buildS))))
      Layers.js(ctx, layers)
      Layers.common(ctx, layers, current, gcMs)
    }
    st.close()
    Bench.rmTree(st.root)
    Outcome(e2e, layers.toMap)
  }

  /** Runs each client in its own closed loop for `seconds`; returns
    * the wall seconds. */
  private def drive(clients: Seq[Client], seconds: Double): Double = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = clients.map { cl =>
      val t = new Thread(() => while (System.nanoTime() < deadline) cl.send(cl.next()))
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - start) / 1e9
  }

  /** Traced probe of the lens layers this workload does not exercise:
    * `tok` catches up with the PUTs, `score` and `cnt` build in full,
    * then `tok` + `cnt` on a hub take a few ticks. */
  private def lensProbe(ctx: Ctx, st: State, current: Vector[(String, PoValue)],
                        layers: mutable.Map[String, Double]): Unit = {
    val model = Model.of(current)
    ctx.fresh.addAndGet(st.history.values.asScala.count(_.exists(_.start != Long.MinValue)))
    st.tok.build()
    ctx.check(Bench.checkTok(st.tok.output, model))
    layers("lens.full_build_s.score") = Bench.scoreProbe(ctx, st.store, model)
    val cnt = Bench.lens(st.store, "cnt", Bench.TokPath, Bench.CntCode, ctx.traced).create()
    layers("lens.full_build_s.cnt") = Bench.fullBuild(ctx, cnt)
    ctx.fresh.addAndGet(model.postings.size)
    ctx.check(Bench.checkCnt(cnt.output, model))
    val ts = new Trickle.State(st.root, st.store, st.tok, cnt, model, new Corpus.Gen(ctx.seed + 1),
      mutable.ArrayBuffer.from(model.docs.keys), current.map(_._1.toLong).max + 1)
    val (ticks, noops, _) = Trickle.ticks(ctx, ts, Trickle.ProbeTicks, 0)
    Trickle.tickLayers(ctx, ticks, noops, layers)
  }
}
