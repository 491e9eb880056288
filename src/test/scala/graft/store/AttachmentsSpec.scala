package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._

/** Attachments (W8/W9), readPath (S4) and meta-VFS (S6). */
class AttachmentsSpec extends AnyFunSuite {

  private def freshStore(): Store =
    new Store(SparkTestBase.spark, SparkTestBase.tempDir("graft-att").toString)

  test("blob store: write/has/read, idempotent, content-addressed") {
    val s = freshStore()
    val hex = s.attachments.write("hello".getBytes)
    assert(hex == s.attachments.sha256hex("hello".getBytes))
    assert(s.attachments.has(hex))
    assert(new String(s.attachments.read(hex).get) == "hello")
    assert(s.attachments.write("hello".getBytes) == hex)
    assert(s.attachments.list() == Seq(hex))
  }

  test("GC deletes unreferenced blobs, keeps linked ones (anti-join on links)") {
    val s = freshStore()
    val live = s.attachments.write("live blob".getBytes)
    val dead = s.attachments.write("dead blob".getBytes)
    val c = s.dataset("a", "gc").create()
    c.write("r1", PoObj("file" -> PoStr(s.attachments.url(live, "text/plain"))))
    // graceMs=0 disables the hold window so the just-written orphan is
    // eligible; deletion runs executor-side (foreachPartition), the
    // driver only sees the count
    val deleted = s.attachments.gc(graceMs = 0)
    assert(deleted == 1)
    assert(s.attachments.has(live))
    assert(!s.attachments.has(dead))
  }

  test("GC deletes the tmp file a write left when it died before its rename") {
    val s = freshStore()
    val live = s.attachments.write("live blob".getBytes)
    s.dataset("a", "gc-tmp").create()
      .write("r1", PoObj("file" -> PoStr(s.attachments.url(live, "text/plain"))))
    val dead = s.attachments.sha256hex("upload that died".getBytes)
    val prefixDir = java.nio.file.Paths.get(s.root, "attachments", dead.substring(0, 2))
    java.nio.file.Files.createDirectories(prefixDir)
    val tmp = prefixDir.resolve(s"$dead.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.write(tmp, "upload that d".getBytes)
    // a tmp file is no blob: gc counts the blobs it deletes
    assert(s.attachments.gc(graceMs = 0) == 0)
    assert(!java.nio.file.Files.exists(tmp), "the stray tmp file is deleted")
    assert(s.attachments.has(live), "the linked blob is kept")
    assert(s.attachments.list() == Seq(live))
  }

  test("GC hold window: a just-written unlinked blob survives until the grace expires") {
    val s = freshStore()
    val uploaded = s.attachments.write("uploaded, not yet linked".getBytes)
    // default grace: the blob was written milliseconds ago → held
    assert(s.attachments.gc() == 0)
    assert(s.attachments.has(uploaded))
    // once the hold expires (grace 0) the orphan reclaims
    assert(s.attachments.gc(graceMs = 0) == 1)
    assert(!s.attachments.has(uploaded))
  }

  test("GC with a large hold set takes the anti-join path and deletes nothing held") {
    val s = freshStore()
    // >1000 holds flips the held-set filter from an In-expression to a
    // broadcast anti-join; all blobs are freshly held, so gc must spare
    // every one of them through that path
    val hexes = (0 until 1100).map(i => s.attachments.write(s"blob-$i".getBytes))
    assert(s.attachments.gc() == 0)
    assert(s.attachments.has(hexes.head) && s.attachments.has(hexes.last))
    // and with expired holds the same population reclaims fully
    assert(s.attachments.gc(graceMs = 0) == 1100)
  }

  test("GC hold race closed: write() serializes against a running gc() via the commit gate") {
    val s = freshStore()
    // take the gate's write side (what gc() holds for its whole run)
    val gcSide = s.gcGate.writeLock()
    gcSide.lock()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var hex: String = null
    val writer = new Thread(() => {
      hex = s.attachments.write("raced upload".getBytes)
      done.countDown()
    })
    writer.start()
    try {
      // while "gc" runs, the write must block — it cannot record its
      // hold after gc snapshotted the held set and still land on disk
      assert(!done.await(300, java.util.concurrent.TimeUnit.MILLISECONDS),
        "write() must not complete while the gc gate is held")
    } finally gcSide.unlock()
    assert(done.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "write() must proceed once gc releases the gate")
    assert(s.attachments.has(hex))
    // and the fresh hold now protects the blob from the next gc cycle
    assert(s.attachments.gc() == 0)
    assert(s.attachments.has(hex))
  }

  test("concurrent uploads of identical blobs all succeed and read back intact") {
    val s = freshStore()
    val rnd = new scala.util.Random(7)
    val blobs = (1 to 32).map { i =>
      val b = new Array[Byte](1 << 20); rnd.nextBytes(b); b(0) = i.toByte; b
    }
    val threads = 4
    // every thread reaches each blob together, so the uploads overlap
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => blobs.foreach { b =>
        barrier.await()
        try s.attachments.write(b)
        catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    ts.foreach(_.join(120000))
    assert(failures.isEmpty, s"${failures.size} uploads failed, first: ${failures.peek()}")
    blobs.foreach { b =>
      assert(java.util.Arrays.equals(s.attachments.read(s.attachments.sha256hex(b)).get, b))
    }
    assert(s.attachments.list().size == blobs.size)
  }

  test("cid: rewrite resolves uploads to hash URLs; missing cid rejects (W9)") {
    val s = freshStore()
    val hex = s.attachments.write("uploaded".getBytes)
    val files = Map("photo.jpg" -> (hex, "image/jpeg"))
    val in = PoObj(
      "img" -> PoStr("cid:photo.jpg"),
      "nested" -> PoArr(Vector(PoStr("cid:photo.jpg"), PoStr("not-a-cid"))),
      "keep" -> PoInt(5))
    val out = s.attachments.resolveContentIDs(in, files).asInstanceOf[PoObj]
    val url = s.attachments.url(hex, "image/jpeg")
    assert(out.fields("img") == PoStr(url))
    assert(out.fields("nested") == PoArr(Vector(PoStr(url), PoStr("not-a-cid"))))
    intercept[IllegalArgumentException] {
      s.attachments.resolveContentIDs(PoStr("cid:absent.png"), files)
    }
  }

  test("readPath unions collections and filters a single record (S4)") {
    val s = freshStore()
    val d1 = s.dataset("a", "x").create(); d1.write("r1", PoInt(1))
    val d2 = s.dataset("a", "y").create(); d2.write("r2", PoInt(2))
    val both = ReadPath.read(s, Seq(
      DataPath("datasets", "a", "x"), DataPath("datasets", "a", "y")))
    assert(both.count() == 2)
    assert(both.columns.toSeq == Seq("path", "id", "version", "hash", "links", "value"))
    val one = ReadPath.readRecord(s, DataPath("datasets", "a", "x", Some("r1")))
    assert(one.get == PoInt(1))
    assert(ReadPath.exists(s, DataPath("datasets", "a", "x", Some("r1"))))
    assert(!ReadPath.exists(s, DataPath("datasets", "a", "x", Some("nope"))))
  }

  test("meta-VFS serves the catalog through the same record shape (S6)") {
    val s = freshStore()
    s.dataset("alice", "d1").create()
    s.dataset("bob", "d2").create()
    s.lens(author = "alice", name = "l1").create()
    val metaPath = DataPath("meta", "system", "system")
    val df = ReadPath.read(s, metaPath)
    assert(df.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      MetaVfs.RecordNames.sorted)
    val authors = ReadPath.readRecord(s, metaPath.withRecord("authors")).get
    assert(authors == PoArr(Vector(PoStr("alice"), PoStr("bob"))))
    val stats = ReadPath.readRecord(s, metaPath.withRecord("stats")).get.asInstanceOf[PoObj]
    assert(stats.fields("datasets") == PoInt(2))
    assert(stats.fields("lenses") == PoInt(1))
    // a lens can read the meta-VFS like any collection (documented intent
    // the reference's WIP meta-vfs can't serve)
    assert(ReadPath.exists(s, metaPath.withRecord("formats")))
  }
}
