package graft.api

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.functions.col

import graft.codec.{Codec, JsonCodec}
import graft.core._
import graft.store._

/** Thin REST façade over the engine — the reference's HTTP surface
  * (library/controllers/) re-expressed over the Spark-backed store. Uses
  * the JDK's HttpServer (zero dependencies); every route is a direct
  * call into the engine API, so the server adds no semantics of its own.
  *
  * Routes (reference counterpart in parens):
  *   GET    /{datasets|lenses}/                        author→collections listing (dataset-controller:18, lens-controller:120)
  *   GET    /{datasets|lenses}/A:                      one author's collections (dataset-controller:34, lens-controller:135)
  *   GET    /{datasets|lenses}/A:N/                    collection meta (dataset-controller:63)
  *   DELETE /{datasets|lenses}/A:N/                    drop collection (dataset-controller:79, lens-controller:115)
  *   GET    /{datasets|lenses}/A:N/records/           record listing (dataset-controller:156)
  *   GET    /{datasets|lenses|meta}/A:N/records/R[.ext] read one (as ext codec)
  *   GET    /{datasets|lenses|meta}/A:N/as/FMT/R        RAW serving: string/bytes as-is, else FMT codec (export-controller:178)
  *   PUT    /datasets/A:N/records/R                    write (body by Content-Type)
  *   DELETE /datasets/A:N/records/R                    delete record
  *   POST   /datasets/A:N/records/                     bulk merge of {id: value}
  *   GET    /{datasets|lenses}/A:N/export/flat-file.ext[?at=V]  flat export
  *   GET    /{datasets|lenses}/A:N/export/archive.zip[?format=&attachments=]  zip export (export-controller:43)
  *   PUT    /datasets/A:N/import[?filename=|?overwrite=]  file import (dataset-controller:249)
  *   GET    /attachments/HEX[?type=mime]               blob serving (attachment-controller:7)
  *   GET    /attachments/HEX/meta                      blob meta + linkers (attachment-controller:17)
  *   GET    /lenses/A:N/configuration                  lens config incl. map code (lens-controller:61)
  *   PUT    /lenses/A:N/configuration                  update config + full rebuild (lens-controller:76)
  *   GET    /lenses/A:N/configuration/map              raw map code, typed by mapType (lens-controller:101)
  *   PUT    /lenses/create                             create lens + first build (lens-controller:20)
  *   GET    /lenses/A:N/logs                           last-build logs (lens-controller:105)
  *   GET    /{datasets|lenses|meta}/A:N/event-stream    live SSE push (export-controller:153)
  *   GET    /changes?since=ts[&seq=n]                  SSE catch-up events
  *   POST   /lenses/ephemeral                          run-once lens, streamed logs+records (lens-controller:191; unguarded, like the reference)
  *   POST   /auth                                      login/register → {author, auth} (auth-controller:13)
  *   GET    /authors/                                  author account listing (auth-controller:38)
  *   GET    /authors/A/                                profile + collections (auth-controller:47)
  *
  * Auth (opt-in `authOpt`): HTTP Basic credentials resolve to an
  * [[Identity]] per request (reference basicAuthMiddleware,
  * auth.js:16-35); record writes 401 without ownership
  * (dataset-controller:159), import / collection DELETE / lens
  * create+configure 403 (ownerRequired, auth.js:63-77), reads open.
  * With no Auth configured every guard is a no-op — the
  * embedded-library mode where authorization happens upstream.
  * Map-carrying bodies ({memo?, inputs, mapType, code|map}) take
  * mapType "javascript" — the reference's native form, the code string
  * executed by the in-process interpreter ([[graft.lens.JsMapFn]]) —
  * or the declarative JSON DSL ([[graft.lens.MapDsl]], mapType "dsl").
  * Either way the map arrived over the wire, so every call runs under
  * the preemptive sandbox (the reference's isolate caps). Syntax errors
  * answer 400 at configuration time, the reference's startup-errors
  * contract (javascript-lens-worker.js:102-111).
  *
  * @param lensTimeoutMs per-map-call preemptive budget for wire-supplied
  *   maps — the reference's `settings.lensTimeout` (package.json
  *   defaults: "50ms"), a server setting, not a constant: operators
  *   size it to their hardware. The 50 ms default matches the
  *   reference's.
  * @param lensMemCapBytes the companion allocation cap (the reference's
  *   isolate `memoryLimit`, javascript-lens-worker.js:55) */
final class HttpApi(store: Store, port: Int = 0, authOpt: Option[Auth] = None,
                    lensTimeoutMs: Long = graft.lens.MapRunner.DefaultTimeoutMs,
                    lensMemCapBytes: Long = graft.lens.MapRunner.DefaultMemCapBytes) {

  /** reference body cap for the ephemeral route
    * (lens-controller.js:192 `parse.body({ maxSize: 3145728 })`). */
  private val MaxEphemeralBody: Int = 3145728

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val commitLog = new graft.streaming.CommitLog(store).install()

  // A thread pool, not the default single dispatch thread: the SSE
  // route holds its connection open for the client's lifetime, which
  // must not head-of-line-block every other request.
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  def boundPort: Int = server.getAddress.getPort
  def start(): HttpApi = { server.setExecutor(pool); server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  server.createContext("/", (ex: HttpExchange) => handle(ex))

  private def handle(ex: HttpExchange): Unit = {
    try route(ex)
    catch {
      case e: NoSuchElementException => tryRespond(ex, 404, s"not found: ${e.getMessage}")
      case e: IllegalArgumentException => tryRespond(ex, 400, String.valueOf(e.getMessage))
      case e: Throwable => tryRespond(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally ex.close()
  }

  /** respond, unless the route already committed headers (a mid-stream
    * failure after a 200): then the body is already visibly truncated
    * and the only remaining correct action is closing the exchange —
    * not throwing a secondary "headers already sent" out of the catch. */
  private def tryRespond(ex: HttpExchange, code: Int, body: String): Unit =
    try respond(ex, code, body) catch { case _: Throwable => () }

  private val RecordsPat = "^/(datasets|lenses|meta)/([^:/]+):([^:/]+)/records/$".r
  private val RecordPat = "^/(datasets|lenses|meta)/([^:/]+):([^:/]+)/records/([^/]+?)(\\.([a-z]+))?$".r
  private val AsPat = "^/(datasets|lenses|meta)/([^:/]+):([^:/]+)/as/([a-z]+)/([^/]+)$".r
  private val ExportPat = "^/(datasets|lenses)/([^:/]+):([^:/]+)/export/flat-file\\.([a-z]+)$".r
  private val ZipExportPat = "^/(datasets|lenses)/([^:/]+):([^:/]+)/export/archive\\.zip$".r
  private val ImportPat = "^/datasets/([^:/]+):([^:/]+)/import$".r
  private val EventStreamPat = "^/(datasets|lenses|meta)/([^:/]+):([^:/]+)/event-stream$".r
  private val SourceListPat = "^/(datasets|lenses)/$".r
  private val AuthorListPat = "^/(datasets|lenses)/([^:/]+):$".r
  private val CollectionPat = "^/(datasets|lenses)/([^:/]+):([^:/]+)/$".r
  private val AttachmentPat = "^/attachments/([0-9a-fA-F]{64})$".r
  private val AttachmentMetaPat = "^/attachments/([0-9a-fA-F]{64})/meta$".r
  private val LensConfigPat = "^/lenses/([^:/]+):([^:/]+)/configuration$".r
  private val LensMapPat = "^/lenses/([^:/]+):([^:/]+)/configuration/map$".r
  private val LensLogsPat = "^/lenses/([^:/]+):([^:/]+)/logs$".r

  // ---- auth (reference: basicAuthMiddleware auth.js:16-35, route
  // guards auth.js:38-77; all no-ops when no Auth is configured —
  // the embedded-library mode where authorization happens upstream) ----

  /** Basic credentials → identity. `Left` = malformed/failed login,
    * answered 400 with the reference's message (auth.js:24-26).
    * Non-Basic Authorization schemes are ignored, like the reference. */
  private def identityOf(ex: HttpExchange): Either[String, Option[Identity]] =
    authOpt match {
      case None => Right(None)
      case Some(a) =>
        Option(ex.getRequestHeaders.getFirst("Authorization")) match {
          case None => Right(None)
          case Some(h) =>
            val parts = h.split(" ", 2)
            if (parts.length < 2 || !parts(0).equalsIgnoreCase("Basic")) Right(None)
            else {
              val creds =
                try new String(java.util.Base64.getDecoder.decode(parts(1).trim), UTF_8)
                catch { case _: IllegalArgumentException =>
                  return Left("Invalid credentials supplied with Basic HTTP authentication: bad base64") }
              val ix = creds.indexOf(':')
              if (ix < 0) Left("Invalid credentials supplied with Basic HTTP authentication: missing password")
              else a.login(creds.substring(0, ix), creds.substring(ix + 1)) match {
                case Right(id) => Right(Some(id))
                case Left(msg) => Left(s"Invalid credentials supplied with Basic HTTP authentication: $msg")
              }
            }
        }
    }

  /** true = proceed. With auth enabled and the caller not owning
    * `resourceAuthor` (same author, or admin — auth.js:38-41), answers
    * the route's failure code and returns false: record writes say 401
    * (dataset-controller.js:159), ownerRequired routes say 403
    * (auth.js:63-77). */
  private def requireOwner(ex: HttpExchange, identity: Option[Identity],
                           resourceAuthor: String, forbidden: Boolean): Boolean =
    authOpt.isEmpty || (identity match {
      case Some(id) if id.owns(resourceAuthor) => true
      case _ =>
        if (forbidden) respond(ex, 403, "You need to login as someone with permission to edit this")
        else respondUnauthorized(ex)
        false
    })

  private val AuthorProfilePat = "^/authors/([^/:]+)/$".r

  private def respondUnauthorized(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.set("WWW-Authenticate",
      "Basic realm=\"PigeonOptics\", charset=\"UTF-8\"")
    respond(ex, 401, "This request requires you be logged in with basic auth")
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    // POST /auth never resolves the header: a client left with a stale
    // Basic header after a password change must still be able to reach
    // the login/register body — resolving first would 400 every attempt
    // and lock it out permanently. Every other route keeps the
    // reference middleware's contract (bad credentials → 400).
    val identity: Option[Identity] =
      if (method == "POST" && path == "/auth") None
      else identityOf(ex) match {
        case Left(msg) => return respond(ex, 400, msg)
        case Right(id) => id
      }
    (method, path) match {
      case ("GET", RecordsPat(source, author, name)) =>
        val p = DataPath(source, author, name)
        if (!ReadPath.exists(store, p)) return respond(ex, 404, "no such collection")
        // {id: {version, hash}} listing (dataset-controller.js:156);
        // goes through readPath so the virtual /meta source lists too.
        // The natural-order sort runs on the cluster (codegen'd
        // natural_key range-partitioned sort) and toLocalIterator holds
        // at most one partition on the driver, so a billion-record
        // collection lists without a driver-side collect. `?start=` /
        // `?limit=` paginate: start is inclusive by natural order, so a
        // client resumes from the last id it saw (skipping one row).
        val qp = queryParams(ex)
        val limit = qp.get("limit").map(_.toInt)
        val start = qp.get("start")
        import scala.jdk.CollectionConverters._
        // Listing.naturalPage = the one shared pagination plan (limit
        // compiles to TakeOrderedAndProject, never an abandoned sort)
        val it = Listing.naturalPage(
            ReadPath.read(store, p).select(col("id"), col("version"), col("hash")),
            start, limit)
          .toLocalIterator().asScala
        streamJson(ex, '{', '}', it) { r =>
          JsonCodec.encodeString(PoStr(r.getString(0))) + ":" +
            JsonCodec.encodeString(PoObj(
              "version" -> PoInt(r.getLong(1)), "hash" -> PoStr(r.getString(2))))
        }
      case ("GET", RecordPat(source, author, name, rid, _, ext)) =>
        val p = DataPath(source, author, name, Some(rid))
        val v = ReadPath.readRecord(store, p)
          .getOrElse(return respond(ex, 404, "no such record"))
        respondValue(ex, 200, v, Option(ext).getOrElse("json"))
      // RAW record serving (S11, reference export-controller.js:178-197
      // `GET /:source/:author::name/as/:format/:recordID`): a record
      // whose root is a string or bytes serves AS-IS (text/plain or
      // octet-stream, CSP-sandboxed like the reference); anything else
      // encodes through the named codec. Export.raw implements the
      // dispatch; this route is its wire surface.
      case ("GET", AsPat(source, author, name, format, rid)) =>
        val p = DataPath(source, author, name, Some(rid))
        try {
          val (bytes, ext) = Export.raw(store, p, format)
          val ctype = ext match {
            case "txt" => "text/plain; charset=utf-8"
            case "bin" => "application/octet-stream"
            case other => mimeFor(other)
          }
          ex.getResponseHeaders.set("Content-Type", ctype)
          ex.getResponseHeaders.set("Content-Security-Policy", "sandbox")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } catch {
          case _: NoSuchElementException => respond(ex, 404, "no such record")
          case e: IllegalArgumentException => respond(ex, 400, e.getMessage)
        }
      case ("PUT", RecordPat("datasets", author, name, rid, _, _)) =>
        if (!requireOwner(ex, identity, author, forbidden = false)) return
        val codec = codecFor(ex).getOrElse(JsonCodec)
        val value = codec.decode(ex.getRequestBody.readAllBytes())
        val version = store.dataset(author, name).write(rid, value)
        respondValue(ex, 200, PoObj("version" -> PoInt(version)), "json")
      case ("DELETE", RecordPat("datasets", author, name, rid, _, _)) =>
        if (!requireOwner(ex, identity, author, forbidden = false)) return
        val version = store.dataset(author, name).delete(rid)
        respondValue(ex, 200, PoObj("version" -> PoInt(version)), "json")
      case ("POST", RecordsPat("datasets", author, name)) =>
        if (!requireOwner(ex, identity, author, forbidden = false)) return
        val codec = codecFor(ex).getOrElse(JsonCodec)
        codec.decode(ex.getRequestBody.readAllBytes()) match {
          case PoObj(fields) =>
            val entries = fields.toSeq.map { case (id, v) =>
              WriteEntry(id, if (v == PoNull || v == PoUndefined) None else Some(v))
            }
            val version = store.dataset(author, name)
              .writeEntries(entries, WriteMode.Merge)
            respondValue(ex, 200, PoObj("version" -> PoInt(version)), "json")
          case _ => respond(ex, 400, "body must be an {id: value} object")
        }
      case ("GET", ExportPat(source, author, name, ext)) =>
        val p = DataPath(source, author, name)
        if (!ReadPath.exists(store, p)) return respond(ex, 404, "no such collection")
        val q = Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq).getOrElse(Seq.empty)
        val at = q.collectFirst { case kv if kv.startsWith("at=") => kv.drop(3).toLong }
        val after = q.collectFirst { case kv if kv.startsWith("after=") => kv.drop(6).toLong }
        val chunks = Export.flatFile(store, p, ext, at, after)
        // same pre-headers discipline as the records listing: pull the
        // first chunk (runs planning + the first partition) before the
        // 200 commits; abort mid-stream rather than fake completeness
        val headChunk = if (chunks.hasNext) Some(chunks.next()) else None
        ex.getResponseHeaders.set("Content-Type", mimeFor(ext))
        ex.sendResponseHeaders(200, 0)
        val out: OutputStream = ex.getResponseBody
        try { headChunk.foreach(out.write); chunks.foreach(out.write) }
        catch { case e: Throwable =>
          // this server API can only end a chunked response CLEANLY, so
          // for formats with no closing frame (jsonl, cbor) truncation
          // would read as a complete smaller dataset. Stamp an invalid
          // sentinel so any consumer fails parsing the tail instead of
          // silently losing rows.
          try out.write(Array[Byte](0xff.toByte, 0xff.toByte) ++
            "\ngraft:export-aborted\n".getBytes(UTF_8))
          catch { case _: Throwable => () }
          throw e
        }
        finally out.close()
      case ("PUT", ImportPat(author, name)) =>
        // File import (dataset-controller.js:249-298). Two modes, both
        // through Import so codec/validation/versioning apply:
        //  - application/zip body = the multipart-files upload: one
        //    record per archive entry, id = filename minus extension;
        //  - raw body + ?filename=x.jsonl = single entries-file import
        //    ({id: value} map or [id, value] pair array).
        // ?overwrite=true replaces the collection instead of merging.
        // ownerRequired in the reference (dataset-controller.js:249)
        if (!requireOwner(ex, identity, author, forbidden = true)) return
        val qp = queryParams(ex)
        val mode = if (qp.get("overwrite").contains("true")) WriteMode.Overwrite
                   else WriteMode.Merge
        val coll = store.dataset(author, name)
        if (!coll.exists) return respond(ex, 404, "no such collection")
        val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
        val version =
          if (ct.startsWith("application/zip")) {
            val zin = new java.util.zip.ZipInputStream(ex.getRequestBody)
            val uploads = Iterator.continually(zin.getNextEntry)
              .takeWhile(_ != null)
              .filterNot(_.isDirectory)
              .map(e => e.getName -> zin.readAllBytes())
              .toSeq
            if (uploads.isEmpty) return respond(ex, 400, "empty archive")
            Import.files(coll, uploads, mode)
          } else qp.get("filename") match {
            case Some(filename) =>
              Import.entriesFile(coll, filename, ex.getRequestBody.readAllBytes(), mode)
            case None =>
              return respond(ex, 400, "?filename= required for entries-file import")
          }
        respondValue(ex, 200, PoObj("version" -> PoInt(version)), "json")
      case ("GET", ZipExportPat(source, author, name)) =>
        // Zip archive export (export-controller.js:43-91 streamArchive):
        // records/<id>.<format> entries plus deduplicated attachments,
        // streamed straight into the chunked response body.
        val p = DataPath(source, author, name)
        if (!ReadPath.exists(store, p)) return respond(ex, 404, "no such collection")
        val qp = queryParams(ex)
        val format = qp.getOrElse("format", "json")
        val withAttachments = qp.get("attachments").exists(v => v == "true" || v == "1")
        // validate BEFORE committing the 200: once headers are sent a
        // thrown error can't become a 400 anymore
        if (Codec.byExtension(format).isEmpty)
          return respond(ex, 400, s"no codec for .$format")
        ex.getResponseHeaders.set("Content-Type", "application/zip")
        ex.getResponseHeaders.set("Content-Disposition",
          s"""attachment; filename="export-${name.replaceAll("[^a-zA-Z0-9-_]+", "_")}-$format.zip"""")
        ex.sendResponseHeaders(200, 0)
        val out = ex.getResponseBody
        Export.zip(store, p, format, out, withAttachments)
        out.close()
      case ("GET", EventStreamPat(source, author, name)) =>
        // Long-lived SSE push (export-controller.js:153-176): one
        // event with the current version on connect, then every commit
        // to this path as it lands, until the client disconnects. The
        // poll loop tails the durable commit log by (ts, seq) cursor —
        // the same log Structured Streaming consumers read — so events
        // survive the server and no in-process bus is needed.
        val p = DataPath(source, author, name)
        if (!ReadPath.exists(store, p)) return respond(ex, 404, "no such collection")
        ex.getResponseHeaders.set("Content-Type", "text/event-stream")
        ex.getResponseHeaders.set("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0)
        val out: OutputStream = ex.getResponseBody
        def frame(json: String): Unit = {
          out.write(s"data: $json\n\n".getBytes(UTF_8)); out.flush()
        }
        // cursor FIRST, version second: a commit racing between the two
        // reads is then delivered twice (at-least-once) instead of
        // falling into the gap and never reaching the client
        var (ts, seq) = commitLog.latestCursor
        val version = if (source == "meta") 0L else store.collection(p).meta.version
        frame(s"""{"path":"${p.collectionPath}","source":"$source","author":"$author","name":"$name","version":$version}""")
        try {
          var lastWrite = System.currentTimeMillis()
          while (true) {
            commitLog.eventsSinceCursor(ts, seq).foreach { case (cur, ev) =>
              ts = cur._1; seq = cur._2
              if (ev.contains(s""""path":"${p.collectionPath}"""")) {
                frame(ev); lastWrite = System.currentTimeMillis()
              }
            }
            // idle keepalive comment: detects a gone client (the write
            // throws) so idle connections don't pin threads forever
            if (System.currentTimeMillis() - lastWrite > 2000) {
              out.write(": keepalive\n\n".getBytes(UTF_8)); out.flush()
              lastWrite = System.currentTimeMillis()
            }
            Thread.sleep(50)
          }
        } catch {
          // client went away (write failed) or server shut down
          case _: java.io.IOException | _: InterruptedException => ()
        }
      case ("GET", SourceListPat(source)) =>
        // {author: [collections]}, only authors with ≥1 collection
        // (dataset-controller.js:18-31, lens-controller.js:120-133)
        val listing = store.listAuthors(source).flatMap { a =>
          val cs = store.listCollections(source, a)
          if (cs.isEmpty) None
          else Some(a -> PoArr(cs.map(PoStr.apply).toVector))
        }
        respondValue(ex, 200,
          PoObj(scala.collection.immutable.VectorMap.from(listing)), "json")
      case ("GET", AuthorListPat(source, author)) =>
        // one author's collections as an array (dataset-controller.js:34,
        // lens-controller.js:135)
        respondValue(ex, 200,
          PoArr(store.listCollections(source, author).map(PoStr.apply).toVector), "json")
      case ("GET", CollectionPat(source, author, name)) =>
        // collection meta (dataset-controller.js:63-77 readMeta framing)
        val c = store.collection(DataPath(source, author, name))
        if (!c.exists) return respond(ex, 404, "no such collection")
        val m = c.meta
        respondValue(ex, 200, PoObj(
          "author" -> PoStr(author), "name" -> PoStr(name),
          "version" -> PoInt(m.version), "created" -> PoInt(m.created),
          "updated" -> PoInt(m.updated), "memo" -> PoStr(m.memo)), "json")
      case ("DELETE", CollectionPat(source, author, name)) =>
        // drop whole collection (dataset-controller.js:79-87,
        // lens-controller.js:115-118) — 204, like the reference;
        // ownerRequired in both reference controllers
        if (!requireOwner(ex, identity, author, forbidden = true)) return
        val c = store.collection(DataPath(source, author, name))
        if (!c.exists) return respond(ex, 404, "no such collection")
        c.drop()
        respond(ex, 204, "")
      case ("GET", AttachmentPat(hex)) =>
        // content-addressed blob serving (attachment-controller.js:7-15):
        // immutable by construction, so cache forever; ?type= names the
        // mime (the hash:// URL carries it), sandboxed CSP like upstream
        store.attachments.read(hex.toLowerCase) match {
          case None => respond(ex, 404, "no such attachment")
          case Some(bytes) =>
            // the ?type= value lands in a response header: reject
            // anything but a plain mime token (a CR/LF in the decoded
            // value would inject attacker-controlled response headers)
            val mime = queryParams(ex).getOrElse("type", "application/octet-stream")
            if (!mime.matches("[A-Za-z0-9.+-]+/[A-Za-z0-9.+-]+(; ?charset=[A-Za-z0-9_-]+)?"))
              return respond(ex, 400, s"bad ?type=")
            ex.getResponseHeaders.set("Content-Type", mime)
            ex.getResponseHeaders.set("Cache-Control",
              "public, max-age=31536000, immutable")
            ex.getResponseHeaders.set("Content-Security-Policy", "sandbox")
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
        }
      case ("GET", AttachmentMetaPat(hex)) =>
        // blob meta (attachment-controller.js:17-20): size/updated from
        // the store, linkers DERIVED from the links column (column-pruned
        // scan; can't drift from the records the way a side meta store can)
        store.attachments.stat(hex.toLowerCase) match {
          case None => respond(ex, 404, "no such attachment")
          case Some((size, mtime)) =>
            val linkers = store.attachments.linkers(hex.toLowerCase)
            respondValue(ex, 200, PoObj(
              "hash" -> PoStr(hex.toLowerCase), "size" -> PoInt(size),
              "updated" -> PoInt(mtime),
              "linkers" -> PoArr(linkers.map(PoStr.apply).toVector)), "json")
        }
      case ("POST", "/lenses/ephemeral") =>
        // run-once lens (lens-controller.js:191-218): create a throwaway
        // lens from the request body, build, stream logs then records,
        // delete. Body: {memo?, mapType: "javascript"|"dsl",
        //   code: "js..." | map: {...},
        //   inputs: ["/datasets/a:n", ...] | "one-per-line string"}.
        // Response: a streamed JSON array of {log:...} frames then
        // {record:{id,version,hash,data}} frames (docs/api/lenses.md:
        // 82-137 framing, json.js encodeIterable array shape).
        val obj = jsonBody(ex) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(o) => o
        }
        val inputs = wireInputs(obj) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(ps) => ps
        }
        val fn = wireMapFn(obj) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(f) => f
        }
        // sandbox = true: the map code arrived over the wire, so every
        // call runs under the preemptive 50 ms/256 MB budget (the
        // reference's isolate caps) — a regex bomb or hot loop becomes
        // a per-record captured error, not a pinned core
        graft.lens.EphemeralLens.stream(store, inputs, fn, sandbox = true,
          sandboxMs = lensTimeoutMs, sandboxMemCap = lensMemCapBytes) { frames =>
          streamJson(ex, '[', ']', frames)(JsonCodec.encodeString)
        }
      case ("GET", LensConfigPat(author, name)) =>
        // lens configuration incl. the map code (lens-controller.js:61-75
        // readMeta; the config IS the meta since saveConfig persists
        // {memo, mapType, code, inputs})
        graft.lens.Lens.configOf(store, author, name) match {
          case None => respond(ex, 404, "no such lens")
          case Some(cfg) =>
            ex.getResponseHeaders.set("X-Version",
              store.lens(author, name).meta.version.toString)
            respondValue(ex, 200, cfg, "json")
        }
      case ("PUT", "/lenses/create") =>
        // create + first build (lens-controller.js:20-59: lens.create →
        // lens.build → 303 to the lens page; guarded by auth.required).
        // Body: {author?, name, memo?, inputs, mapType, code|map}.
        // With auth enabled: 401 unless logged in, author defaults to
        // the caller's identity (the reference creates under
        // req.author), explicit non-owned author → 403. Without auth,
        // author defaults to "system" (embedded-library mode).
        if (authOpt.isDefined && identity.isEmpty)
          return respondUnauthorized(ex)
        val obj = jsonBody(ex) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(o) => o
        }
        val author = obj.fields.get("author") match {
          case Some(PoStr(a)) => a
          case _ => identity.map(_.author).getOrElse("system")
        }
        if (!requireOwner(ex, identity, author, forbidden = true)) return
        val lensName = obj.fields.get("name") match {
          case Some(PoStr(n)) => n
          case _ => return respond(ex, 400, "missing lens name")
        }
        val memo = obj.fields.get("memo") match {
          case Some(PoStr(m)) => m; case _ => ""
        }
        val inputs = wireInputs(obj) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(ps) => ps
        }
        val fn = wireMapFn(obj) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(f) => f
        }
        if (store.lens(author, lensName).exists)
          return respond(ex, 409, s"lens $author:$lensName already exists")
        val lens = new graft.lens.Lens(store, author, lensName, inputs, fn,
          lensTimeoutMs, sandboxed = true, lensMemCapBytes, memo)
        lens.create()
        lens.buildFull()
        ex.getResponseHeaders.set("Location", s"/lenses/$author:$lensName/")
        respond(ex, 303, "")
      case ("PUT", LensConfigPat(author, name)) =>
        // update config + full rebuild (lens-controller.js:76-99
        // updateMeta → lens.build → 204; guarded by ownerRequired). The
        // rebuild is FULL because the map function may have changed —
        // the incremental cache is keyed by input version, not map
        // identity (Lens.buildFull doc).
        if (!requireOwner(ex, identity, author, forbidden = true)) return
        if (!store.lens(author, name).exists)
          return respond(ex, 404, "no such lens")
        val obj = jsonBody(ex) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(o) => o
        }
        val memo = obj.fields.get("memo") match {
          case Some(PoStr(m)) => m; case _ => ""
        }
        val inputs = wireInputs(obj) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(ps) => ps
        }
        val fn = wireMapFn(obj) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(f) => f
        }
        val lens = new graft.lens.Lens(store, author, name, inputs, fn,
          lensTimeoutMs, sandboxed = true, lensMemCapBytes, memo)
        lens.saveConfig()
        lens.buildFull()
        respond(ex, 204, "")
      case ("GET", LensMapPat(author, name)) =>
        // raw map code, content-typed by mapType (lens-controller.js:
        // 101-104 `res.type(meta.mapType).send(meta.code)`)
        graft.lens.Lens.configOf(store, author, name) match {
          case None => respond(ex, 404, "no such lens")
          case Some(PoObj(fields)) =>
            val mapType = fields.get("mapType") match {
              case Some(PoStr(t)) => t; case _ => "scala"
            }
            val (mime, body) = fields.get("code") match {
              case Some(PoStr(code)) =>
                (if (mapType == "javascript") "text/javascript; charset=utf-8"
                 else "text/plain; charset=utf-8") -> code
              case Some(spec) => // dsl spec rides as its JSON
                "application/json; charset=utf-8" -> JsonCodec.encodeString(spec)
              case None => return respond(ex, 404, "lens has no stored map code")
            }
            ex.getResponseHeaders.set("X-Version",
              store.lens(author, name).meta.version.toString)
            ex.getResponseHeaders.set("Content-Type", mime)
            val bytes = body.getBytes(UTF_8)
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          case Some(_) => respond(ex, 500, "malformed lens.json")
        }
      case ("GET", LensLogsPat(author, name)) =>
        // last-build logs (lens-controller.js:105-113), streamed with
        // the same pre-headers / abort-mid-stream discipline as listings
        if (!store.lens(author, name).exists)
          return respond(ex, 404, "no such lens")
        import scala.jdk.CollectionConverters._
        val it = graft.lens.Lens.logsOf(store, author, name)
          .toLocalIterator().asScala.map { r =>
            val body: Vector[(String, PoValue)] =
              Vector("path" -> PoStr(r.getAs[String]("path"))) ++
                (r.getAs[String]("kind") match {
                  case "log" =>
                    Vector("type" -> PoStr(r.getAs[String]("logKind")),
                      "args" -> PoArr(Option(r.getAs[Seq[String]]("logArgs"))
                        .getOrElse(Seq.empty).map(PoStr.apply).toVector))
                  case _ =>
                    Vector("type" -> PoStr("error"),
                      "error" -> PoObj(
                        "type" -> PoStr(r.getAs[String]("errType")),
                        "message" -> PoStr(r.getAs[String]("errMsg"))))
                })
            PoObj(scala.collection.immutable.VectorMap.from(body))
          }
        streamJson(ex, '[', ']', it)(JsonCodec.encodeString)
      case ("GET", "/changes") =>
        // ?since=ts[&seq=n]: full-cursor resume is exact; ts-only resume
        // re-delivers that millisecond (at-least-once) rather than
        // losing same-ms commits
        val qp = queryParams(ex)
        val since = qp.get("since").map(_.toLong).getOrElse(0L)
        val seq = qp.get("seq").map(_.toLong).getOrElse(-1L)
        val body = commitLog.eventsSince(since, seq).mkString("\n")
        respond(ex, 200, body)
      case ("POST", "/auth") =>
        // login/register (auth-controller.js:13-32, JSON API form of the
        // reference's form POST): {name, password, register?} → identity
        val a = authOpt.getOrElse(return respond(ex, 404, "auth is not enabled"))
        val obj = jsonBody(ex) match {
          case Left((code, msg)) => return respond(ex, code, msg)
          case Right(o) => o
        }
        (obj.fields.get("name"), obj.fields.get("password")) match {
          case (Some(PoStr(nm)), Some(PoStr(pw))) =>
            val register = obj.fields.get("register").contains(PoBool(true))
            // A store populated before auth was enabled may hold
            // collections under authors that never registered; open
            // registration must not let a stranger claim such a
            // namespace and inherit write/delete over its data. The
            // operator seeds those accounts via the Auth model
            // directly.
            if (register &&
                (store.listCollections("datasets", nm).nonEmpty ||
                 store.listCollections("lenses", nm).nonEmpty) &&
                !a.exists(nm))
              return respond(ex, 400,
                "Someone else is using this name already, pick a different one")
            val attempt = if (register) a.register(nm, pw) else a.login(nm, pw)
            attempt match {
              case Right(id) => respondValue(ex, 200,
                PoObj("author" -> PoStr(id.author), "auth" -> PoStr(id.auth)), "json")
              case Left(msg) => respond(ex, 400, msg)
            }
          case _ => respond(ex, 400, "body must carry string name and password fields")
        }
      case ("GET", "/authors/") =>
        // all author accounts (auth-controller.js:38-45 / auth.js:202-216)
        val a = authOpt.getOrElse(return respond(ex, 404, "auth is not enabled"))
        respondValue(ex, 200, PoArr(a.list().map(PoStr.apply)), "json")
      case ("GET", AuthorProfilePat(author)) =>
        // profile + the author's collections (auth-controller.js:47-61)
        val a = authOpt.getOrElse(return respond(ex, 404, "auth is not enabled"))
        a.profile(author) match {
          case None => respond(ex, 404, "no such author")
          case Some(id) => respondValue(ex, 200, PoObj(
            "auth" -> PoStr(id.auth),
            "datasets" -> PoArr(store.listCollections("datasets", author).map(PoStr.apply).toVector),
            "lenses" -> PoArr(store.listCollections("lenses", author).map(PoStr.apply).toVector)), "json")
        }
      case _ => respond(ex, 404, s"no route: $method $path")
    }
  }

  /** decoded JSON object body, capped at the reference's 3 MB
    * (lens-controller.js:192 `parse.body({ maxSize: 3145728 })`) */
  /** A 200 JSON body streamed from `items`, each rendered by `render`,
    * comma-separated between `open` and `close`. The first item is
    * forced before the 200 is committed, so a planning or
    * early-execution failure surfaces as a 500, not a truncated 200
    * (headers cannot be unsent). A mid-stream failure (executor loss,
    * query error) can no longer become an error status: the body is
    * aborted without its closing bracket, so it is not valid JSON and
    * never a silently complete 200. */
  private def streamJson[A](ex: HttpExchange, open: Char, close: Char,
                            items: Iterator[A])(render: A => String): Unit = {
    val head = if (items.hasNext) Some(items.next()) else None
    ex.getResponseHeaders.set("Content-Type", mimeFor("json"))
    ex.sendResponseHeaders(200, 0)
    val out: OutputStream = ex.getResponseBody
    out.write(open)
    var first = true
    def emit(a: A): Unit = {
      if (!first) out.write(',')
      first = false
      out.write(render(a).getBytes(UTF_8))
    }
    try { head.foreach(emit); items.foreach(emit); out.write(close) }
    finally out.close()
  }

  private def jsonBody(ex: HttpExchange): Either[(Int, String), PoObj] = {
    val body = ex.getRequestBody.readNBytes(MaxEphemeralBody + 1)
    if (body.length > MaxEphemeralBody)
      Left(413 -> s"body exceeds $MaxEphemeralBody bytes")
    else JsonCodec.decode(body) match {
      case o: PoObj => Right(o)
      case _ => Left(400 -> "body must be a JSON object")
    }
  }

  /** {mapType, code|map} → MapFn. mapType "javascript" compiles the code
    * string through the in-process interpreter — parse failures are the
    * reference's startup errors (javascript-lens-worker.js:102-111),
    * reported at configuration time, not per record. */
  private def wireMapFn(obj: PoObj): Either[(Int, String), graft.lens.MapFn] =
    obj.fields.get("mapType") match {
      case Some(PoStr("javascript")) => obj.fields.get("code") match {
        case Some(PoStr(code)) => graft.lens.JsMapFn.compile(code) match {
          case Right(fn) => Right(fn)
          case Left(err) => Left(400 -> s"${err.errType}: ${err.message}")
        }
        case _ => Left(400 -> "mapType 'javascript' needs a string `code` field")
      }
      case Some(PoStr("dsl")) =>
        obj.fields.get("map").orElse(obj.fields.get("code")) match {
          case Some(spec) =>
            try Right(graft.lens.MapDsl.compile(spec))
            catch { case e: IllegalArgumentException =>
              Left(400 -> String.valueOf(e.getMessage)) }
          case None => Left(400 -> "missing map spec")
        }
      case Some(PoStr(other)) =>
        Left(400 -> s"unknown mapType '$other' (supported: javascript, dsl)")
      case _ => Left(400 -> "missing mapType")
    }

  /** inputs: ["/datasets/a:n", ...] or the HTML-form one-per-line string
    * (lens-controller.js:44 `inputs.split('\n')`); requires ≥1 and that
    * each names an existing collection. */
  private def wireInputs(obj: PoObj): Either[(Int, String), Seq[DataPath]] = {
    val strs: Seq[String] = obj.fields.get("inputs") match {
      case Some(PoArr(items)) => items.collect { case PoStr(s) => s.trim }
      case Some(PoStr(s)) => s.split("\n").toSeq.map(_.trim)
      case _ => Seq.empty
    }
    val parsed = strs.filter(_.nonEmpty).map { s =>
      // the reference's form sends trailing-slash collection paths
      s -> DataPath.parse(s.stripSuffix("/"))
    }
    parsed.collectFirst { case (s, None) => s } match {
      case Some(bad) => Left(400 -> s"bad input path: $bad")
      case None =>
        val inputs = parsed.flatMap(_._2)
        if (inputs.isEmpty) Left(400 -> "inputs must name at least one collection")
        else inputs.find(p => !ReadPath.exists(store, DataPath(p.source, p.author, p.name))) match {
          case Some(p) => Left(404 -> s"no such input: ${p.collectionPath}")
          case None => Right(inputs)
        }
    }
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq).getOrElse(Seq.empty)
      .flatMap(kv => kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, UTF_8))
        case _ => None
      }).toMap

  private def codecFor(ex: HttpExchange): Option[Codec] =
    Option(ex.getRequestHeaders.getFirst("Content-Type")).flatMap { ct =>
      Seq("json", "cbor", "yaml", "xml", "msgpack", "jsonl", "html")
        .flatMap(Codec.byExtension)
        .find(_.handles.exists(h => ct.startsWith(h)))
    }

  private def mimeFor(ext: String): String =
    Codec.byExtension(ext).flatMap(_.handles.headOption)
      .getOrElse("application/octet-stream")

  private def respondValue(ex: HttpExchange, code: Int, v: PoValue, ext: String): Unit = {
    val codec = Codec.byExtension(ext)
      .getOrElse(throw new IllegalArgumentException(s"no codec for .$ext"))
    val bytes = codec.encode(v)
    ex.getResponseHeaders.set("Content-Type", mimeFor(ext))
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }
}
