package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.codec.JsonCodec
import graft.core._
import graft.store.Store

/** The auth model (reference `library/models/auth.js`) and its HTTP
  * enforcement (basicAuthMiddleware + ownerParam/required/ownerRequired
  * guards wired through server.js:54 and the controllers). */
class AuthSpec extends AnyFunSuite {

  private def freshAuth(): Auth = new Auth(SparkTestBase.tempDir("graft-auth"))

  // ---- model ----

  test("register + login round-trip; wrong password and unknown author rejected") {
    val a = freshAuth()
    assert(a.register("alice wonder", "s3cret-pass") == Right(Identity("alice wonder", "regular")))
    assert(a.login("alice wonder", "s3cret-pass") == Right(Identity("alice wonder", "regular")))
    assert(a.login("alice wonder", "wrong-pass") == Left("Password incorrect"))
    assert(a.login("nobody-here", "whatever-x") == Left("Account not found"))
  }

  test("registration validation mirrors the reference's rules") {
    val a = freshAuth()
    // auth.js:120-151 assertion battery
    assert(a.register("ok-name", "short").isLeft, "password < 8")
    assert(a.register("ab", "password1").isLeft, "name < 3")
    assert(a.register("x" * 101, "password1").isLeft, "name > 100")
    assert(a.register("bad/name", "password1").isLeft, "forbidden punctuation")
    assert(a.register("bad[name]", "password1").isLeft)
    assert(a.register("smart’quote", "password1").isLeft)
    assert(a.register("tab\tname", "password1").isLeft, "control char")
    assert(a.register("nb space", "password1").isLeft, "exotic whitespace")
    assert(a.register("zero​width", "password1").isLeft, "format char")
    assert(a.register("system", "password1") == Left("Name is not allowed by site settings"))
    assert(a.register("admin", "password1").isLeft)
    assert(a.register("ok name", "password1").isRight, "regular spaces are fine")
    assert(a.register("ok name", "password2").isLeft, "duplicate name")
  }

  test("changePassword re-salts; changeAuth promotes; delete removes; list is sorted") {
    val a = freshAuth()
    a.register("carol", "first-pass-1")
    a.register("bob-o", "other-pass-1")
    assert(a.changePassword("carol", "second-pass-2") == Right(()))
    assert(a.login("carol", "first-pass-1") == Left("Password incorrect"))
    assert(a.login("carol", "second-pass-2").isRight)
    assert(a.changeAuth("carol", Auth.Admin) == Right(()))
    assert(a.login("carol", "second-pass-2") == Right(Identity("carol", "admin")))
    assert(a.changePassword("ghost", "x" * 10).isLeft)
    assert(a.list() == Vector("bob-o", "carol"))
    a.delete("bob-o")
    assert(a.list() == Vector("carol"))
    assert(!a.exists("bob-o"))
  }

  test("identity ownership: same author or admin") {
    assert(Identity("alice", "regular").owns("alice"))
    assert(!Identity("alice", "regular").owns("bob"))
    assert(Identity("root-admin", "admin").owns("anyone"))
  }

  test("dot-only names cannot traverse: delete(\"..\") touches no other account") {
    // delete/exists/profile take RAW names with no validation gate in
    // front — the name encoding itself must make upward resolution
    // impossible ('.' is percent-encoded, so authorDir("..") is the
    // literal segment "%2E%2E", not the parent)
    val a = freshAuth()
    a.register("keep-me", "password-1")
    a.register("also-keep", "password-2")
    a.delete("..")
    a.delete(".")
    a.delete("../../etc")
    assert(a.list() == Vector("also-keep", "keep-me"), "no account may be collateral")
    assert(a.login("keep-me", "password-1").isRight)
    assert(!a.exists(".."))
  }

  // ---- HTTP enforcement ----

  private def withAuthedApi(f: (String, HttpClient, Auth) => Unit): Unit = {
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-http-auth").toString)
    store.dataset("alice", "d1").create()
    val auth = freshAuth()
    auth.register("alice", "alice-pass-1")
    auth.register("mallory", "mallory-pass")
    auth.register("site-admin", "admin-pass-99")
    auth.changeAuth("site-admin", Auth.Admin)
    val api = new HttpApi(store, authOpt = Some(auth)).start()
    try f(s"http://127.0.0.1:${api.boundPort}", HttpClient.newHttpClient(), auth)
    finally api.stop()
  }

  private def basic(user: String, pass: String): String =
    "Basic " + Base64.getEncoder.encodeToString(s"$user:$pass".getBytes("UTF-8"))

  private def put(c: HttpClient, url: String, body: String, headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .PUT(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    c.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("record writes: 401 anonymous, 401 non-owner, 200 owner, 200 admin; reads open") {
    withAuthedApi { (base, c, _) =>
      val url = s"$base/datasets/alice:d1/records/r1"
      val anon = put(c, url, """{"x":1}""")
      assert(anon.statusCode == 401)
      assert(anon.headers.firstValue("WWW-Authenticate").isPresent)
      assert(put(c, url, """{"x":1}""", "Authorization" -> basic("mallory", "mallory-pass")).statusCode == 401)
      assert(put(c, url, """{"x":1}""", "Authorization" -> basic("alice", "alice-pass-1")).statusCode == 200)
      assert(put(c, s"$base/datasets/alice:d1/records/r2", """{"y":2}""",
        "Authorization" -> basic("site-admin", "admin-pass-99")).statusCode == 200)
      // reads need no credentials (reference leaves GETs unguarded)
      val got = c.send(HttpRequest.newBuilder(URI.create(url)).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      assert(got.statusCode == 200)
      // DELETE is a write
      val del = c.send(HttpRequest.newBuilder(URI.create(url)).DELETE.build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode == 401)
    }
  }

  test("ownerRequired routes answer 403; bad basic header answers 400") {
    withAuthedApi { (base, c, _) =>
      // collection DELETE: 403 for the non-owner (ownerRequired semantics)
      val del = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/"))
        .header("Authorization", basic("mallory", "mallory-pass"))
        .DELETE.build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode == 403)
      // malformed credentials: 400, the middleware's contract (auth.js:24-26)
      val bad = put(c, s"$base/datasets/alice:d1/records/r9", """{"x":1}""",
        "Authorization" -> "Basic !!!not-base64!!!")
      assert(bad.statusCode == 400)
      val wrongPass = put(c, s"$base/datasets/alice:d1/records/r9", """{"x":1}""",
        "Authorization" -> basic("alice", "wrong-password"))
      assert(wrongPass.statusCode == 400)
      assert(wrongPass.body.contains("Password incorrect"))
      // a non-Basic scheme is ignored → request proceeds anonymously → 401
      assert(put(c, s"$base/datasets/alice:d1/records/r9", """{"x":1}""",
        "Authorization" -> "Bearer sometoken").statusCode == 401)
    }
  }

  test("lens create requires login and ownership; POST /auth + /authors round-trip") {
    withAuthedApi { (base, c, _) =>
      val lensBody =
        """{"name":"idx","mapType":"javascript","code":"function map(p,d){output(p.recordID,1)}","inputs":["/datasets/alice:d1"]}"""
      val anon = put(c, s"$base/lenses/create", lensBody)
      assert(anon.statusCode == 401)
      // logged in, author defaults to the caller: mallory creates under mallory
      val asMallory = put(c, s"$base/lenses/create", lensBody,
        "Authorization" -> basic("mallory", "mallory-pass"))
      assert(asMallory.statusCode == 303)
      assert(asMallory.headers.firstValue("Location").get == "/lenses/mallory:idx/")
      // explicit author that is not owned → 403
      val forged = put(c, s"$base/lenses/create",
        lensBody.replace("\"name\":\"idx\"", "\"author\":\"alice\",\"name\":\"idx2\""),
        "Authorization" -> basic("mallory", "mallory-pass"))
      assert(forged.statusCode == 403)
      // POST /auth: login API form
      val login = c.send(HttpRequest.newBuilder(URI.create(s"$base/auth"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("""{"name":"alice","password":"alice-pass-1"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(login.statusCode == 200)
      assert(JsonCodec.decodeString(login.body) ==
        PoObj("author" -> PoStr("alice"), "auth" -> PoStr("regular")))
      // register over HTTP, then the new author appears in /authors/
      val reg = c.send(HttpRequest.newBuilder(URI.create(s"$base/auth"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString("""{"name":"dave-new","password":"dave-pass-12","register":true}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(reg.statusCode == 200)
      val authors = c.send(HttpRequest.newBuilder(URI.create(s"$base/authors/")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      assert(authors.statusCode == 200)
      val names = JsonCodec.decodeString(authors.body).asInstanceOf[PoArr].items
      assert(names.contains(PoStr("dave-new")) && names.contains(PoStr("alice")))
      // profile: auth level + collections
      val profile = c.send(HttpRequest.newBuilder(URI.create(s"$base/authors/mallory/")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      assert(profile.statusCode == 200)
      val p = JsonCodec.decodeString(profile.body).asInstanceOf[PoObj]
      assert(p.fields("auth") == PoStr("regular"))
      assert(p.fields("lenses") == PoArr(Vector(PoStr("idx"))))
    }
  }

  test("POST /auth ignores a stale Basic header: re-login after password change works") {
    withAuthedApi { (base, c, auth) =>
      assert(auth.changePassword("alice", "alice-new-pass9") == Right(()))
      // the client still sends the OLD cached header everywhere; the
      // login route must reach the body anyway or the client is locked
      // out forever (other routes keep the middleware's 400 contract)
      val relogin = c.send(HttpRequest.newBuilder(URI.create(s"$base/auth"))
        .header("Content-Type", "application/json")
        .header("Authorization", basic("alice", "alice-pass-1")) // stale
        .POST(HttpRequest.BodyPublishers.ofString("""{"name":"alice","password":"alice-new-pass9"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(relogin.statusCode == 200)
      assert(JsonCodec.decodeString(relogin.body) ==
        PoObj("author" -> PoStr("alice"), "auth" -> PoStr("regular")))
      // a GET with the stale header still answers the middleware 400
      val stale = c.send(HttpRequest.newBuilder(URI.create(s"$base/datasets/alice:d1/records/"))
        .header("Authorization", basic("alice", "alice-pass-1")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
      assert(stale.statusCode == 400)
    }
  }

  test("registration cannot claim an author namespace that already owns collections") {
    // data written before auth was enabled: a dataset exists under
    // "legacy" but no account does — an open register of that name
    // would hand a stranger write/delete over the orphaned data
    val store = new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-http-orphan").toString)
    store.dataset("legacy", "d1").create()
    val api = new HttpApi(store, authOpt = Some(freshAuth())).start()
    try {
      val base = s"http://127.0.0.1:${api.boundPort}"
      val c = HttpClient.newHttpClient()
      def reg(name: String): HttpResponse[String] =
        c.send(HttpRequest.newBuilder(URI.create(s"$base/auth"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"name":"$name","password":"grab-it-123","register":true}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      val grab = reg("legacy")
      assert(grab.statusCode == 400)
      assert(grab.body.contains("using this name already"))
      // an unclaimed name still registers fine
      assert(reg("fresh-name").statusCode == 200)
    } finally api.stop()
  }
}
