package graft.store

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._

/** Copy-on-write bucketed snapshots: identical semantics to the default
  * layout, but a merge commit rewrites only the touched id-buckets and
  * carries the rest forward at file level. */
class BucketedStoreSpec extends AnyFunSuite {

  private def freshStore(b: Int = 8): Store =
    new Store(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-bucket").toString, buckets = Some(b))

  test("semantics match the default layout: versions, hash gate, tombstones, listing") {
    val c = freshStore().dataset("a", "b1").create()
    assert(c.meta.version == 0 && c.list().isEmpty)
    c.write("r1", PoObj("x" -> PoInt(1)))
    c.write("r2", PoStr("two"))
    assert(c.meta.version == 2)
    assert(c.list() == Seq("r1", "r2"))
    assert(c.read("r1").get == PoObj("x" -> PoInt(1)))
    assert(c.readRow("r1").get.version == 1)
    // identical rewrite: hash gate holds across the bucketed path
    c.write("r1", PoObj("x" -> PoInt(1)))
    assert(c.meta.version == 3)
    assert(c.readRow("r1").get.version == 1)
    // tombstone deletes
    c.delete("r2")
    assert(c.list() == Seq("r1"))
    // overwrite drops unmentioned ids (full rewrite path)
    c.writeEntries(Seq(WriteEntry("zz", Some(PoInt(9)))), WriteMode.Overwrite)
    assert(c.list() == Seq("zz"))
  }

  test("merge rewrites only touched buckets; untouched carry as hardlinks") {
    val s = freshStore(b = 8)
    val c = s.dataset("a", "cow").create()
    // seed many ids so several buckets exist
    c.writeEntries((0 until 64).map(i =>
      WriteEntry(s"r$i", Some(PoInt(i.toLong)))), WriteMode.Merge)
    val v1 = s.dir(c.path).resolve("v1")
    assert(Files.isDirectory(v1))
    val bucketsV1 = Files.list(v1).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    assert(bucketsV1.size > 3, s"want several buckets, got $bucketsV1")

    // touch exactly one record
    c.write("r0", PoInt(1000))
    val v2 = s.dir(c.path).resolve("v2")
    val bucketsV2 = Files.list(v2).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    assert(bucketsV2 == bucketsV1)

    def filesOf(d: Path): Seq[Path] =
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

    // every untouched bucket's files are the SAME inode (hardlink carry)
    var carried = 0
    var rewritten = 0
    bucketsV1.foreach { bn =>
      val oldFiles = filesOf(v1.resolve(bn)).sortBy(_.getFileName.toString)
      val newFiles = filesOf(v2.resolve(bn))
      val sameInode = oldFiles.nonEmpty && newFiles.nonEmpty &&
        newFiles.forall(nf => oldFiles.exists(of => Files.isSameFile(of, nf)))
      if (sameInode) carried += 1 else rewritten += 1
    }
    assert(rewritten == 1, s"exactly the touched bucket rewrites (got $rewritten)")
    assert(carried == bucketsV1.size - 1, "all other buckets carry by hardlink")

    // data still correct after the carry
    assert(c.read("r0").get == PoInt(1000))
    assert(c.read("r63").get == PoInt(63))
    assert(c.list().size == 64)

    // one-record PUTs into one bucket coalesce its carried rows and the
    // new one into a single task: the bucket dir stays one file
    val r0Bucket = bucketsV1.find(bn => filesOf(v2.resolve(bn)).forall(nf =>
      !filesOf(v1.resolve(bn)).exists(Files.isSameFile(_, nf)))).get
    (1 to 3).foreach(i => c.write("r0", PoInt(1000L + i)))
    val live = s.dir(c.path).resolve(s"v${c.meta.version}")
    assert(filesOf(live.resolve(r0Bucket)).size == 1,
      s"$r0Bucket holds ${filesOf(live.resolve(r0Bucket))}")
    assert(c.read("r0").get == PoInt(1003))
    assert(c.list().size == 64)
  }

  test("lens output COW: incremental build rewrites only changed-output buckets") {
    val s = freshStore(b = 8)
    val d = s.dataset("sys", "docs2").create()
    // 64 records, each with a unique tag → 64 output ids spread over buckets
    d.writeEntries((0 until 64).map(i =>
      WriteEntry(s"r$i", Some(PoObj("tags" -> PoArr(Vector(PoStr(s"t$i"))))))),
      WriteMode.Merge)
    val lens = new graft.lens.Lens(s, "sys", "idx2",
      Seq(DataPath("datasets", "sys", "docs2")), graft.lens.TagIndexFn).create()
    lens.build() // full → lens v1
    val outDir = s.dir(DataPath("lenses", "sys", "idx2"))
    val v1 = outDir.resolve("v1")
    val bucketsV1 = Files.list(v1).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    assert(bucketsV1.size > 3, s"want several buckets, got $bucketsV1")

    // retag ONE record: t0 vanishes, t0x appears → at most two output
    // buckets change; every other bucket must carry forward by hardlink
    d.write("r0", PoObj("tags" -> PoArr(Vector(PoStr("t0x")))))
    lens.build() // incremental → lens v2, COW commit
    val v2 = outDir.resolve("v2")
    assert(Files.isDirectory(v2))
    def filesOf(p: Path): Seq[Path] =
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    var carried = 0
    var rewritten = 0
    bucketsV1.foreach { bn =>
      val oldFiles = filesOf(v1.resolve(bn))
      val newFiles = filesOf(v2.resolve(bn))
      val sameInode = oldFiles.nonEmpty && newFiles.nonEmpty &&
        newFiles.forall(nf => oldFiles.exists(of => Files.isSameFile(of, nf)))
      if (sameInode) carried += 1 else rewritten += 1
    }
    assert(rewritten <= 2, s"only t0/t0x buckets may rewrite (got $rewritten)")
    assert(carried >= bucketsV1.size - 2, "untouched buckets carry by hardlink")
    // semantics survive the carry: t0 vanished, t0x appeared, others intact
    val ids = lens.output.list()
    assert(!ids.contains("t0") && ids.contains("t0x") && ids.contains("t63"))
    assert(ids.size == 64)
    assert(lens.output.readRow("t1").get.version == 1,
      "unchanged outputs keep their version through the COW commit")
  }

  test("point lookup prunes to the id's bucket dir (r17)") {
    val s = freshStore(b = 8)
    val c = s.dataset("a", "pt").create()
    c.writeEntries((0 until 64).map(i =>
      WriteEntry(s"r$i", Some(PoInt(i.toLong)))), WriteMode.Merge)
    // correctness across many buckets
    (0 until 64 by 7).foreach(i => assert(c.read(s"r$i").get == PoInt(i.toLong)))
    assert(c.read("nope").isEmpty)
    // the scan's physical plan carries a bucket partition filter, so only
    // the id's bucket dir is listed/read (1/B of the snapshot's files)
    val plan = c.scanIds(Seq("r5")).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"expected a bucket partition filter in:\n${plan.take(2000)}")
  }

  test("readRows: one batched scan returns exactly the present ids (r18)") {
    val s = freshStore(b = 8)
    val c = s.dataset("a", "ptb").create()
    c.writeEntries((0 until 64).map(i =>
      WriteEntry(s"r$i", Some(PoInt(i.toLong)))), WriteMode.Merge)
    val want = (0 until 64 by 7).map(i => s"r$i")
    val got = c.readRows(want :+ "nope" :+ "alsonope")
    assert(got.map(_.id).sorted == want.sorted.map(identity))
    got.foreach { r =>
      assert(graft.core.Cbor.decode(r.value) ==
        PoInt(r.id.stripPrefix("r").toLong))
    }
    // batched results match the per-id path row for row
    want.foreach { id =>
      val one = c.readRow(id).get
      val batched = got.find(_.id == id).get
      assert(one.version == batched.version && one.hash == batched.hash)
    }
    assert(c.readRows(Seq.empty).isEmpty)
    // empty store
    val e = s.dataset("a", "ptb-empty").create()
    assert(e.readRows(Seq("x")).isEmpty)
  }

  test("bucketed store works through readPath, export and the lens pipeline") {
    val s = freshStore()
    val d = s.dataset("sys", "docs").create()
    d.write("abc", PoObj("tags" -> PoArr(Vector(PoStr("cat")))))
    d.write("def", PoObj("tags" -> PoArr(Vector(PoStr("cat"), PoStr("dog")))))
    val lens = new graft.lens.Lens(s, "sys", "idx",
      Seq(DataPath("datasets", "sys", "docs")), graft.lens.TagIndexFn).create()
    lens.build()
    assert(lens.output.list() == Seq("cat", "dog"))
    val entries = Export.entries(s, DataPath("lenses", "sys", "idx")).toVector
    assert(entries.length == 2)
    d.write("ghi", PoObj("tags" -> PoArr(Vector(PoStr("dog")))))
    lens.build() // incremental over bucketed snapshots
    assert(lens.output.read("dog").map(v =>
      v.asInstanceOf[PoSet].items.length).contains(2))
  }
}
