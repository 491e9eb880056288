package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._

/** Store + version semantics, pinning the reference's dataset fixtures
  * (FIXTURES.md F5; reference test/test-models-dataset.js). */
class StoreSpec extends AnyFunSuite {

  private def freshStore(): Store =
    new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-store").toString)

  test("create + one write: collection v1, record {version:1, hash, links:[]} (F5)") {
    val c = freshStore().dataset("alice", "d1").create()
    assert(c.meta.version == 0)
    val v = c.write("abc", PoObj("foo" -> PoStr("bar")))
    assert(v == 1)
    assert(c.meta.version == 1)
    val row = c.readRow("abc").get
    assert(row.version == 1)
    assert(row.hash.length == 64 && row.hash.forall(ch => "0123456789abcdef".contains(ch)))
    assert(row.links.isEmpty)
    assert(c.read("abc").get == PoObj("foo" -> PoStr("bar")))
  }

  test("merge of 2 new records onto 1 existing: v2, all present; scalar + bytes values ok (F5)") {
    val c = freshStore().dataset("alice", "d2").create()
    c.write("abc", PoObj("foo" -> PoStr("bar")))
    val v = c.writeEntries(Seq(
      WriteEntry("def", Some(PoInt(1))),
      WriteEntry("ghi", Some(PoBytes.fromString("hello")))), WriteMode.Merge)
    assert(v == 2)
    assert(c.list() == Seq("abc", "def", "ghi"))
    assert(c.read("def").get == PoInt(1))
    assert(c.read("ghi").get == PoBytes.fromString("hello"))
    // merged-in records carry the commit's version; untouched keeps v1
    assert(c.readRow("abc").get.version == 1)
    assert(c.readRow("def").get.version == 2)
  }

  test("overwrite drops unmentioned ids (F5)") {
    val c = freshStore().dataset("alice", "d3").create()
    c.write("a", PoInt(1)); c.write("b", PoInt(2)); c.write("c", PoInt(3))
    c.writeEntries(Seq(
      WriteEntry("abc", Some(PoInt(123))),
      WriteEntry("def", Some(PoInt(456)))), WriteMode.Overwrite)
    assert(c.list() == Seq("abc", "def"))
  }

  test("identical rewrite bumps collection version but NOT record version (F5 hash gate)") {
    val c = freshStore().dataset("alice", "d4").create()
    val value = PoObj("a" -> PoArr(Vector(PoInt(1), PoStr("x"))))
    c.write("abc", value)
    assert(c.meta.version == 1)
    c.write("abc", value) // identical content
    assert(c.meta.version == 2)
    assert(c.readRow("abc").get.version == 1) // hash-gated: unchanged
    c.write("abc", PoStr("different"))
    assert(c.meta.version == 3)
    assert(c.readRow("abc").get.version == 3)
  }

  test("record delete: id gone, version bumped; tombstone via null too (F5)") {
    val c = freshStore().dataset("alice", "d5").create()
    c.write("a", PoInt(1)); c.write("b", PoInt(2))
    val v = c.delete("a")
    assert(v == 3)
    assert(c.list() == Seq("b"))
    // merge with PoNull value also deletes (W2 semantics)
    c.writeEntries(Seq(WriteEntry("b", Some(PoNull))), WriteMode.Merge)
    assert(c.list().isEmpty)
  }

  test("overwrite rejects tombstones") {
    val c = freshStore().dataset("alice", "d6").create()
    intercept[IllegalArgumentException] {
      c.writeEntries(Seq(WriteEntry("x", None)), WriteMode.Overwrite)
    }
    intercept[IllegalArgumentException] {
      c.writeEntries(Seq(WriteEntry("x", Some(PoUndefined))), WriteMode.Overwrite)
    }
  }

  test("listing uses natural order (r2 < r10)") {
    val c = freshStore().dataset("alice", "d7").create()
    Seq("r10", "r2", "r1", "x", "r03").foreach(id => c.write(id, PoInt(1)))
    assert(c.list() == Seq("r1", "r2", "r03", "r10", "x"))
  }

  test("listIterator streams ids in natural order with start/limit pagination (S2)") {
    val c = freshStore().dataset("alice", "d7b").create()
    Seq("r10", "r2", "r1", "x", "r03").foreach(id => c.write(id, PoInt(1)))
    assert(c.listIterator().toSeq == c.list())
    // page 1, then resume from the last id seen (inclusive → drop 1)
    val page1 = c.listIterator(limit = Some(2)).toSeq
    assert(page1 == Seq("r1", "r2"))
    val page2 = c.listIterator(start = Some(page1.last)).drop(1).take(2).toSeq
    assert(page2 == Seq("r03", "r10"))
    val page3 = c.listIterator(start = Some(page2.last)).drop(1).toSeq
    assert(page3 == Seq("x"))
  }

  test("links column is populated from hash URLs in values (blob present)") {
    val s = freshStore()
    val c = s.dataset("alice", "d8").create()
    val hex = s.attachments.write("fake image bytes".getBytes)
    val url = s"hash://sha256/$hex?type=image/png"
    c.write("doc", PoObj("img" -> PoStr(url)))
    assert(c.readRow("doc").get.links == Seq(url))
  }

  test("write with a link to an absent blob rejects the whole batch (F5)") {
    val c = freshStore().dataset("alice", "d8b").create()
    val url = "hash://sha256/" + "ab" * 32 + "?type=image/png"
    intercept[IllegalArgumentException] {
      c.write("doc", PoObj("img" -> PoStr(url)))
    }
    assert(c.list().isEmpty)
  }

  test("drop removes the collection; recreate starts at v0") {
    val s = freshStore()
    val c = s.dataset("alice", "d9").create()
    c.write("a", PoInt(1))
    c.drop()
    assert(!c.exists)
    val c2 = s.dataset("alice", "d9").create()
    assert(c2.meta.version == 0)
    assert(c2.list().isEmpty)
  }

  test("author/collection enumeration (S5)") {
    val s = freshStore()
    s.dataset("bob", "z").create()
    s.dataset("alice", "a2").create()
    s.dataset("alice", "a10").create()
    assert(s.listAuthors("datasets") == Seq("alice", "bob"))
    assert(s.listCollections("datasets", "alice") == Seq("a2", "a10"))
  }

  test("DataPath parse/encode roundtrip") {
    val p = DataPath.parse("/datasets/alice:d1/records/r1").get
    assert(p == DataPath("datasets", "alice", "d1", Some("r1")))
    assert(p.encoded == "/datasets/alice:d1/records/r1")
    assert(DataPath.parse("/lenses/a:b").get == DataPath("lenses", "a", "b"))
    assert(DataPath.parse("/nope/a:b").isEmpty)
    assert(DataPath.parse("garbage").isEmpty)
  }

  test("DataPath rejects traversal and the reference's bad name chars") {
    // ".." as author/name would make Store.dir escape the store root
    // (ADVICE r2; reference dataset.js:31-34 validateConfig)
    intercept[IllegalArgumentException](DataPath("datasets", "..", ".."))
    intercept[IllegalArgumentException](DataPath("datasets", "a", "."))
    intercept[IllegalArgumentException](DataPath("datasets", "", "x"))
    intercept[IllegalArgumentException](DataPath("datasets", "a", "x" * 251))
    for (c <- "!*'();:@&=+$,/?%#[]\\")
      intercept[IllegalArgumentException](DataPath("datasets", "a", s"x${c}y"))
    // record ids are permissive (lens outputs can be arbitrary tokens)
    // but never path-ish
    intercept[IllegalArgumentException](DataPath("datasets", "a", "x", Some("../up")))
    intercept[IllegalArgumentException](DataPath("datasets", "a", "x", Some("..")))
    DataPath("datasets", "a", "x", Some("tok.en~with odd chars"))
    // parse is total: it refuses what construction refuses
    assert(DataPath.parse("/datasets/..:..").isEmpty)
    assert(DataPath.parse("/datasets/a:ok/records/..").isEmpty)
  }

  test("duplicate ids inside one batch: last wins") {
    val c = freshStore().dataset("alice", "d10").create()
    c.writeEntries(Seq(
      WriteEntry("x", Some(PoInt(1))),
      WriteEntry("x", Some(PoInt(2)))), WriteMode.Merge)
    assert(c.read("x").get == PoInt(2))
  }

  test("schema evolution: old-layout and future-layout snapshots stay readable") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val s = freshStore()
    val c = s.dataset("alice", "evo").create()
    c.write("seed", PoInt(0)) // v1 through the normal path

    // hand-write a v2 snapshot that is BOTH older and newer than this
    // engine at once: it LACKS the `links` column (pre-links layout)
    // and CARRIES an extra `future_col` a later engine might add —
    // exactly what a store surviving several engine versions holds
    val v1 = PoInt(41)
    val v2 = PoInt(42)
    val rows = Seq(
      ("a", 2L, graft.core.Cbor.hash(v1), graft.core.Cbor.encode(v1), "x"),
      ("b", 2L, graft.core.Cbor.hash(v2), graft.core.Cbor.encode(v2), "y"))
      .toDF("id", "version", "hash", "value", "future_col")
    val collDir = java.nio.file.Paths.get(s.root, "datasets", "alice", "evo")
    rows.coalesce(1).write.mode("overwrite").parquet(collDir.resolve("v2").toString)
    // swap the manifest to the hand-written snapshot
    val metaJson = new String(Files.readAllBytes(collDir.resolve("meta.json")), "UTF-8")
    Files.write(collDir.resolve("meta.json"),
      metaJson.replace("\"version\":1", "\"version\":2").getBytes("UTF-8"))

    // reads: unknown column ignored, missing links defaults to empty
    assert(c.read("b").get == PoInt(42))
    val row = c.readRow("a").get
    assert(row.links.isEmpty && row.version == 2L)
    assert(c.list() == Seq("a", "b"))

    // a normal engine commit on top of the mixed-layout snapshot works
    // and carries the old records forward in the CURRENT layout
    c.write("c", PoInt(3))
    assert(c.read("a").get == PoInt(41))
    assert(c.list() == Seq("a", "b", "c"))
    assert(c.records.toDF().columns.toSeq ==
      Seq("id", "version", "hash", "links", "value"))
  }

  test("crash mid-commit: an orphan snapshot dir is invisible and the next commit heals it") {
    val s = freshStore()
    val c = s.dataset("alice", "crash").create()
    c.write("a", PoInt(1)) // v1, the durable good state

    // simulate a writer dying AFTER the v2 snapshot write started but
    // BEFORE the manifest swap: a partial/garbage v2 dir exists, while
    // meta.json still points at v1 — the manifest gate means readers
    // must never look at it
    val collDir = java.nio.file.Paths.get(s.root, "datasets", "alice", "crash")
    Files.createDirectories(collDir.resolve("v2"))
    Files.write(collDir.resolve("v2").resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // not even parquet
    assert(c.meta.version == 1)
    assert(c.read("a").get == PoInt(1), "reads serve the manifest version, not the orphan")
    assert(c.list() == Seq("a"))

    // the next commit claims version 2 again: mode("overwrite")
    // replaces the orphan wholesale — no manual cleanup step exists or
    // is needed
    val v = c.write("b", PoInt(2))
    assert(v == 2)
    assert(c.meta.version == 2)
    assert(c.read("a").get == PoInt(1))
    assert(c.read("b").get == PoInt(2))
    assert(c.list() == Seq("a", "b"))
  }

  test("two Store instances on one root: concurrent merges serialize, no lost update") {
    // The dual-writer topology (ingest process + lens maintainer, or an
    // HTTP server plus a batch job): both writers read the manifest,
    // merge, and swap it. Unserialized, both would read v0, both write
    // a v1 snapshot, and the last manifest swap wins — one commit
    // silently vanishes. Store.withLock's JVM-global monitor (and, for
    // real processes, the OS file lock taken under it) makes the loser
    // wait, re-read the winner's manifest, and merge ON TOP of it.
    val root = SparkTestBase.tempDir("graft-store-xproc").toString
    val s1 = new Store(SparkTestBase.spark, root)
    val s2 = new Store(SparkTestBase.spark, root)
    s1.dataset("alice", "d1").create()
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(s: Store, id: String, v: Long): Thread = {
      val t = new Thread(() =>
        try { start.await(); s.dataset("alice", "d1").write(id, PoInt(v)); () }
        catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    val t1 = writer(s1, "r1", 1)
    val t2 = writer(s2, "r2", 2)
    start.countDown()
    t1.join(120000); t2.join(120000)
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    val c = s1.dataset("alice", "d1")
    assert(c.meta.version == 2, "both commits must land as distinct versions")
    assert(c.list().toSet == Set("r1", "r2"), "no commit may be lost to a manifest race")
    assert(c.read("r1").get == PoInt(1))
    assert(c.read("r2").get == PoInt(2))
  }

  test("writer monitors are interned per-use and retired after: no global growth") {
    // the monitor map is JVM-global; a server creating and dropping
    // collections for years (or this suite's thousands of temp stores)
    // must not accumulate an entry per collection ever locked
    val before = Store.writerLockCount
    val s = freshStore()
    (1 to 5).foreach { i =>
      val c = s.dataset("alice", s"tmp$i").create()
      c.write("r", PoInt(i))
      c.drop()
    }
    assert(Store.writerLockCount == before,
      "every writer-lock entry must be retired once its last holder releases")
  }

  test("a commit holds the OS file lock for its whole duration") {
    // Proof that the cross-PROCESS layer is real: notifyCommit fires as
    // the commit's last act, still inside withLock — at that moment a
    // second channel in this JVM must see the region locked
    // (OverlappingFileLockException), which is exactly the lock a
    // second process would block on. Outside the commit the lock must
    // be free, or every later writer process would hang.
    val s = freshStore()
    val c = s.dataset("alice", "locked").create()
    val lockPath = java.nio.file.Paths.get(s.root, "_locks",
      java.net.URLEncoder.encode("/datasets/alice:locked", "UTF-8") + ".lock")
    @volatile var duringCommit: Option[Boolean] = None
    s.onCommit { (_, _) =>
      if (duringCommit.isEmpty) {
        val ch = java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.WRITE)
        try duringCommit = Some(
          try { val l = ch.tryLock(); if (l != null) l.release(); false }
          catch { case _: java.nio.channels.OverlappingFileLockException => true })
        finally ch.close()
      }
    }
    c.write("r1", PoInt(1))
    assert(duringCommit.contains(true), "commit must hold the OS lock when it goes live")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val l = ch.tryLock()
      assert(l != null, "lock must be released once the commit returns")
      l.release()
    } finally ch.close()
  }
}
