package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.codec.JsonCodec
import graft.core.{Cbor, NaturalOrder, PoInt, PoNull, PoObj, PoStr, PoUndefined, PoValue, RecordStructure}

/** One stored record row — the physical schema of every collection
  * snapshot. `value` is the insertion-order CBOR encoding of the document
  * (order is data: the reduce lattice is order-sensitive); `hash` is the
  * 64-hex sha256 of the canonical encoding; `links` are the discovered
  * `hash://sha256/...` attachment URLs.
  * (reference record meta: base-data-model.js:36-46)
  */
final case class RecordRow(id: String, version: Long, hash: String,
                           links: Seq[String], value: Array[Byte])

/** Small collection-level manifest. Per-record metadata lives as COLUMNS
  * in the parquet snapshot, not here — at 100 TB a records map in a
  * driver-side manifest is a scale-killer; the manifest stays O(1).
  * (reference keeps records inline in meta: base-data-model.js:26-59 —
  * same information, different placement.)
  */
final case class CollectionMeta(version: Long, created: Long, updated: Long,
                                memo: String)

/** An incoming write entry: `None` value = delete tombstone (the
  * reference's `undefined` record value, docs/api/datasets.md:46). */
final case class WriteEntry(id: String, value: Option[PoValue])

object Store {
  /** The snapshot parquet schema, pinned for every snapshot read: we
    * wrote these files, so paying a footer-inference Spark job per scan
    * (one ~20-60 ms job + driver gap PER `records`/`toDF` call — the
    * single largest fixed overhead in commit-heavy paths like lens
    * builds) buys nothing. Old snapshots missing a later-added column
    * (`links`) read as nulls under a pinned schema; compatProjection
    * coalesces the default in. Partition columns (`bucket` on bucketed
    * stores) are discovered from directory names and appended by Spark
    * independently of this schema. */
  val snapshotSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[RecordRow].schema

  /** Most ids a held commit ([[Commit.Held]]) inlines as an `IN (...)`
    * list: beyond this, the literal list bloats the plan and the frame
    * form's one full-outer join is the better trade. HTTP PUT/DELETE
    * batches are 1-a-few ids; bulk ingest arrives as a DataFrame and
    * never hits this. The same cap bounds the incremental lens delta a
    * build holds on the driver (`LensBuild.build`). */
  private[graft] val MaxCommitInList = 1024

  /** The version rule of every commit, datasets and lenses alike
    * (reference: base-data-model.js:193-196): a record keeps its
    * previous version when its content hash did not move, and otherwise
    * takes the commit's `newVersion`. `prev` is the record's previous
    * (version, hash), None for a new id. [[gateCol]] is the same rule
    * over a join's previous-row columns; the two change together. */
  private[graft] def gate(prev: Option[(Long, String)], hash: String, newVersion: Long): Long =
    prev.collect { case (v, h) if h == hash => v }.getOrElse(newVersion)

  /** [[gate]] as a Column over the nullable `old_version`/`old_hash` of
    * a join against the previous snapshot. */
  private[store] def gateCol(hash: Column, newVersion: Long): Column =
    when(col("old_hash") === hash, col("old_version")).otherwise(lit(newVersion))

  /** (hash, links) of one stored value: the sha256 of its canonical
    * encoding and its `hash://` attachment links, each of which must be
    * in the attachment store under `attachmentsRoot` (reference:
    * base-data-model.js link validation) — else IllegalArgumentException.
    * A held commit runs it on the driver, a frame on executors. */
  private[store] def hashAndLinks(id: String, bytes: Array[Byte],
                                  attachmentsRoot: String): (String, Seq[String]) = {
    val v = Cbor.decode(bytes)
    val links = RecordStructure.listHashURLs(v)
    links.foreach { link =>
      val ok = RecordStructure.hashOf(link).exists { hex =>
        Files.exists(Paths.get(attachmentsRoot, hex.substring(0, 2), hex))
      }
      if (!ok) throw new IllegalArgumentException(
        s"attachments missing for links: $link (record $id)")
    }
    (Cbor.hash(v), links)
  }

  /** Record id validation (reference: dataset.js:20-25). */
  def validateId(id: String): Unit = {
    require(id != null && id.nonEmpty, "recordID must be a non-empty string")
    require(id.length <= 10000, s"recordID too long (${id.length} > 10000)")
  }

  /** One JVM-global writer monitor per `canonicalRoot|collectionPath`
    * (see [[Store.withLock]]): all Store instances in this process
    * serialize a collection's commits through one monitor before any of
    * them touches the per-JVM OS file lock. Entries are refcounted and
    * removed when the last interested thread releases — a long-lived
    * JVM that creates and drops many stores/collections (a multi-tenant
    * server, this repo's own test suite) must not accumulate monitors
    * forever. `refs == -1` marks an entry mid-removal; acquirers that
    * observe it help remove and re-intern. */
  private[store] final class WriterEntry {
    val refs = new java.util.concurrent.atomic.AtomicInteger(0)
    /** reentrant hold depth; guarded by `synchronized` on this entry */
    var depth = 0
  }

  private val writerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, WriterEntry]()

  private[store] def acquireWriterEntry(key: String): WriterEntry = {
    var out: WriterEntry = null
    while (out == null) {
      val e = writerLocks.computeIfAbsent(key, _ => new WriterEntry)
      val r = e.refs.get()
      if (r < 0) writerLocks.remove(key, e) // being retired: help and retry
      else if (e.refs.compareAndSet(r, r + 1)) out = e
      // else: lost the increment CAS to a CONCURRENT ACQUIRER — retry on
      // the SAME entry. The pre-round-7 code fell into the remove arm
      // here, evicting a LIVE entry whose holder was inside its critical
      // section; the next acquirer then minted a fresh entry (fresh
      // monitor) for the same key and met the holder at FileChannel.lock,
      // which throws OverlappingFileLockException for same-JVM overlap
      // instead of queueing. That was the once-in-many-runs concurrent-
      // write flake (needs ≥3 threads hitting one key with a CAS
      // collision mid-commit); RecoverySpec now pins the invariant with
      // a dedicated contention hammer.
    }
    out
  }

  private[store] def releaseWriterEntry(key: String, e: WriterEntry): Unit =
    if (e.refs.decrementAndGet() == 0 && e.refs.compareAndSet(0, -1))
      writerLocks.remove(key, e)

  /** visible for the leak spec */
  private[store] def writerLockCount: Int = writerLocks.size()
}

/** The one natural-order pagination plan, shared by every listing
  * surface ([[Collection.listIterator]] and the HTTP records route):
  * project the codegen'd natural key, filter `start` (inclusive by
  * natural order — a pager passes the last id it saw and skips one
  * row), sort, and push `limit` INTO the plan so it compiles to
  * TakeOrderedAndProject (per-partition top-k + tiny merge) instead of
  * a full global sort the iterator then abandons. */
object Listing {
  def naturalPage(df: DataFrame, start: Option[String],
                  limit: Option[Int]): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val keyed = df.withColumn("nk", expr("natural_key(id)"))
    val paged = start.fold(keyed)(s =>
      keyed.filter(col("nk") >= lit(NaturalOrder.naturalKey(s))))
    val sorted = paged.orderBy(col("nk"))
    limit.fold(sorted)(sorted.limit).drop("nk")
  }
}

/** Collection store rooted at a local/dfs directory.
  *
  * Layout: `root/<source>/<author>/<name>/v<N>/` parquet snapshot per
  * collection version, plus `meta.json` naming the current version —
  * commit is write-new-snapshot then atomically swap the manifest
  * (the Spark analogue of the reference's tmp + rename dance,
  * fs/raw.js:152-197). Writers serialize per collection via a two-layer
  * lock — a JVM-global monitor plus an OS file lock in `root/_locks/`
  * (the reference's named in-memory locks, fs/objects.js:127, upgraded
  * to multi-process) — so concurrent writer PROCESSES on one root can't
  * lose a commit to a manifest race; Spark jobs inside a commit stay
  * fully parallel.
  *
  * Every write — a dataset PUT, a bulk ingest, a lens build's output —
  * goes through ONE commit operator, [[Collection.commit]], the only
  * code that knows the version rule ([[Store.gate]]), how untouched
  * rows carry and how a snapshot is bucketed. It takes three forms,
  * chosen by what the caller holds: held rows of at most
  * [[Store.MaxCommitInList]] ids ([[Commit.Held]]), a change frame
  * ([[Commit.Frame]]) or the whole new content ([[Commit.Replace]]).
  * Every read of old rows, by readers and commits alike, is one
  * bucket-pruned scan ([[Collection.scanIds]]).
  *
  * `buckets = Some(B)`: copy-on-write snapshots hash-partitioned into B
  * id-buckets. A held or frame commit rewrites ONLY the buckets
  * containing its ids and carries untouched buckets forward by
  * hardlink/copy — at 100 TB a single-record write touches 1/B of the
  * data instead of rewriting the collection wholesale (the reference
  * rewrites its whole archive per commit, base-data-model.js:302-316 —
  * faithful semantics, deliberately not a faithful I/O profile). Reads
  * prune to bucket directories via the partition column.
  */
final class Store(val spark: SparkSession, val root: String,
                  val buckets: Option[Int] = None) {
  import spark.implicits._

  /** Key for the JVM-global writer monitors: two Store instances on the
    * same root (HTTP server + LensMaintainer sharing a JVM, or a test
    * harness) must share ONE monitor per collection, not one per
    * instance — OS file locks are per-JVM, so a second instance reaching
    * for the file lock concurrently would throw
    * OverlappingFileLockException instead of waiting. `toRealPath` (the
    * root dir is created first so it always resolves) rather than
    * `toAbsolutePath`: two instances addressing one root through a
    * symlink alias must still intern the SAME monitor, or they'd meet
    * at the OS lock and crash instead of queueing. */
  private val rootKey = {
    val p = Paths.get(root)
    try { Files.createDirectories(p); p.toRealPath().toString }
    catch { case _: java.io.IOException => p.toAbsolutePath.normalize.toString }
  }

  /** `root/_locks/<urlencoded collectionPath>.lock` — a sibling of the
    * source dirs (never enumerated as an author namespace; outlives
    * `drop()` so re-create races still serialize). */
  private def lockFile(path: DataPath): Path =
    Paths.get(root, "_locks",
      java.net.URLEncoder.encode(path.collectionPath, "UTF-8") + ".lock")

  /** Commit listeners: (path, newVersion) — the change feed that drives
    * cascading lens rebuilds (reference: update-events.js:7-14). */
  private val listeners = scala.collection.mutable.ArrayBuffer[(DataPath, Long) => Unit]()
  def onCommit(f: (DataPath, Long) => Unit): Unit = synchronized { listeners += f }
  private[store] def notifyCommit(path: DataPath, version: Long): Unit =
    listeners.synchronized(listeners.toVector).foreach(f => f(path, version))

  /** content-addressed blob store for hash:// links (W8/W9) */
  lazy val attachments: AttachmentStore = new AttachmentStore(this)

  def collection(path: DataPath): Collection = new Collection(this, path)
  def collection(source: String, author: String, name: String): Collection =
    collection(DataPath(source, author, name))
  def dataset(author: String, name: String): Collection =
    collection("datasets", author, name)
  def lens(author: String, name: String): Collection =
    collection("lenses", author, name)

  private[graft] def dir(path: DataPath): Path =
    Paths.get(root, path.source, path.author, path.name)

  /** List authors or an author's collections under a source (reference:
    * auth.js:202-208, base-data-model.js:90-100). */
  def listAuthors(source: String): Seq[String] = listDir(Paths.get(root, source))
  def listCollections(source: String, author: String): Seq[String] =
    listDir(Paths.get(root, source, author)).filter { n =>
      Files.exists(Paths.get(root, source, author, n, "meta.json"))
    }
  private def listDir(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Seq.empty
    else graft.core.Fs.list(p).iterator.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted(NaturalOrder)

  /** Writer exclusion for a collection, across THREADS and PROCESSES.
    *
    * Two layers, both required: the JVM-global monitor serializes every
    * thread of every Store instance in this process (per-instance maps
    * would let two instances on one root race); the OS advisory lock on
    * [[lockFile]] then makes a second PROCESS block until this commit's
    * manifest swap lands. Because `meta` is read inside this lock and
    * the manifest swap is its last act, the loser of the race re-reads
    * the winner's version and merges on top of it — no lost update
    * (previously documented as a single-writer-process premise in
    * ChangeFeed's scaladoc; now enforced). The lock spans one commit —
    * prepare job through manifest swap — matching the reference's named
    * in-memory locks (fs/objects.js:127) upgraded to multi-process.
    *
    * Reads never touch this: the manifest swap is atomic, so readers see
    * the old or the new version, never a torn one.
    *
    * A filesystem without `FileChannel.lock` support (some network
    * mounts) degrades to JVM-only serialization — same guarantee the
    * store had before. On a real cluster the store root is a shared
    * POSIX mount (local/NFSv4); object-store deployments would swap
    * this seam for a coordination service.
    *
    * `private[graft]` (not `[store]`): a lens build takes this lock on
    * its OUTPUT collection around the whole map→spool→reduce pipeline,
    * not just the final commit — the compute-cache staging dirs are
    * shared paths, so build-level exclusion is what makes two
    * maintainer processes safe (LensBuild.build). */
  private[graft] def withLock[A](path: DataPath)(f: => A): A = {
    val key = rootKey + "|" + path.collectionPath
    val entry = Store.acquireWriterEntry(key)
    try entry.synchronized {
      if (entry.depth > 0) { // reentrant: e.g. a lens build's nested commit
        entry.depth += 1
        try f finally entry.depth -= 1
      } else {
        var ch: java.nio.channels.FileChannel = null
        var fl: java.nio.channels.FileLock = null
        try {
          val lf = lockFile(path)
          Files.createDirectories(lf.getParent)
          ch = java.nio.channels.FileChannel.open(lf,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          fl = ch.lock() // blocks while another PROCESS holds a commit
        } catch {
          // An interrupt mid-acquisition must FAIL the commit, not
          // silently drop the cross-process guarantee: both exceptions
          // are IOExceptions and would otherwise match the degrade arm.
          case e @ (_: java.nio.channels.FileLockInterruptionException |
                    _: java.nio.channels.ClosedByInterruptException) =>
            if (ch != null) ch.close()
            throw e
          case _: java.io.IOException | _: UnsupportedOperationException =>
            if (ch != null) { ch.close(); ch = null } // lock-less FS: JVM-only exclusion
        }
        entry.depth = 1
        try f
        finally {
          entry.depth = 0
          if (fl != null) fl.release()
          if (ch != null) ch.close()
        }
      }
    } finally Store.releaseWriterEntry(key, entry)
  }

  /** gc-vs-commit gate (reference: attachments.js hold/validate): every
    * commit holds the read side from link validation through manifest
    * swap; attachment GC takes the write side, so a blob can never be
    * deleted between a commit validating its link and the snapshot going
    * live. Read side is shared — concurrent commits don't serialize on
    * each other, only against a running GC. */
  private[store] val gcGate = new java.util.concurrent.locks.ReentrantReadWriteLock()
  private[store] def withCommitGate[A](f: => A): A = {
    val l = gcGate.readLock(); l.lock()
    try f finally l.unlock()
  }
}

sealed trait WriteMode
object WriteMode {
  /** Upsert: unmentioned ids survive, tombstones delete. (W2) */
  case object Merge extends WriteMode
  /** Replace-all: unmentioned ids drop, tombstones rejected. (W3) */
  case object Overwrite extends WriteMode
}

/** What one [[Collection.commit]] writes, in the form the caller
  * already holds. */
private[graft] sealed trait Commit
private[graft] object Commit {
  /** At most `Store.MaxCommitInList` ids held on the driver: each id in
    * `ids` ends as its row in `rows`, or is deleted when it has none.
    * The rows' versions are already gated: the caller read the ids'
    * previous rows through [[Collection.scanIds]] and applied
    * [[Store.gate]]. */
  final case class Held(ids: Seq[String], rows: Seq[RecordRow]) extends Commit
  /** A change frame of (id, hash, links, value, tombstone): a tombstone
    * deletes its id, a row upserts it, and an id holding both keeps the
    * row. Every other id carries. */
  final case class Frame(change: DataFrame) extends Commit
  /** The whole new content, (id, hash, links, value): every id it does
    * not hold is dropped. */
  final case class Replace(rows: DataFrame) extends Commit
}

final class Collection(val store: Store, val path: DataPath) {
  private val spark = store.spark
  import spark.implicits._

  private def dir: Path = store.dir(path)
  private def metaFile: Path = dir.resolve("meta.json")
  /** Snapshots `v{N}` behind `meta.json`; the previous one is kept, as
    * the reference keeps its `.backup`. */
  private def snapshots = new Generations(dir, "v", keep = 2)
  private def snapshotDir(v: Long): Path = snapshots.dirOf(v)

  def exists: Boolean = Files.exists(metaFile)

  def meta: CollectionMeta = MetaJson.read(metaFile)

  /** W1: new empty collection at version 0. The v0 snapshot dir stays
    * EMPTY (no parquet write): [[records]] gates on hasParquet and
    * serves a LocalRelation for a fresh collection, so the empty-file
    * write was a pure Spark-job tax on every create (~50-100 ms each —
    * lens builds and tests create collections constantly). */
  def create(memo: String = ""): Collection = store.withLock(path) {
    require(!exists, s"collection ${path.encoded} already exists")
    Files.createDirectories(dir)
    val now = System.currentTimeMillis()
    Files.createDirectories(snapshotDir(0))
    MetaJson.write(metaFile, CollectionMeta(0, now, now, memo))
    this
  }

  private def hasParquet(d: Path): Boolean = {
    def walk(p: Path): Boolean =
      if (Files.isDirectory(p))
        graft.core.Fs.list(p).iterator.exists(walk)
      else p.getFileName.toString.endsWith(".parquet")
    Files.isDirectory(d) && walk(d)
  }

  /** On-disk bytes of the current snapshot's parquet files — metadata
    * only (file sizes, no data read). Sizes the lens compute-cache's
    * scale-adaptive partitioning. */
  private[graft] def currentSnapshotBytes: Long = {
    def walk(p: Path): Long =
      if (Files.isDirectory(p)) graft.core.Fs.list(p).iterator.map(walk).sum
      else if (p.getFileName.toString.endsWith(".parquet"))
        try Files.size(p) catch { case _: Throwable => 0L }
      else 0L
    val d = snapshotDir(meta.version)
    if (Files.isDirectory(d)) walk(d) else 0L
  }

  /** Read-compat projection over a raw snapshot frame. A 100 TB store
    * lives across engine versions, so the snapshot schema is a
    * CONTRACT with two evolution rules, both pinned by StoreSpec:
    *  - extra columns (written by a NEWER engine, e.g. `bucket`, or any
    *    future annotation column) are ignored — this projection selects
    *    only what it understands;
    *  - columns this engine added over time default when an OLDER
    *    snapshot lacks them (`links` defaults to empty — a pre-links
    *    snapshot has no attachment references by construction).
    * New columns MUST be added here with a default, never by widening
    * the bare select — that is what keeps old snapshots readable. */
  private def compatProjection(df: DataFrame): DataFrame = {
    val withLinks =
      if (df.columns.contains("links"))
        // pinned-schema reads surface a missing column as nulls, not as
        // an absent column — coalesce the pre-links default in
        df.withColumn("links", coalesce(col("links"), array().cast("array<string>")))
      else df.withColumn("links", array().cast("array<string>"))
    withLinks.select("id", "version", "hash", "links", "value")
  }

  /** The one read of snapshot `version`, pinned-schema (see
    * [[Store.snapshotSchema]] — skips the per-call footer-inference
    * job): the rows of the `bucket=k` dirs in `buckets`, filtered on the
    * partition column so no other dir is listed or read; every row when
    * `buckets` is None or the snapshot is not laid out in bucket dirs
    * (an unbucketed store, a pre-bucketing snapshot). */
  private def snapshotRows(version: Long, buckets: Option[Seq[Long]]): DataFrame = {
    val d = snapshotDir(version)
    if (!hasParquet(d)) spark.emptyDataset[RecordRow].toDF()
    else {
      val full = spark.read.schema(Store.snapshotSchema).parquet(d.toString)
      compatProjection(buckets.filter(_ => full.columns.contains("bucket"))
        .fold(full)(ks => full.filter(col("bucket").isin(ks: _*))))
    }
  }

  /** Snapshot `version` is laid out in `bucket=k` dirs, so a commit can
    * rewrite some and carry the rest. */
  private def bucketDirs(version: Long): Boolean = {
    val d = snapshotDir(version)
    Files.isDirectory(d) &&
      graft.core.Fs.list(d).exists(_.getFileName.toString.startsWith("bucket="))
  }

  /** Current snapshot scan — S1. Columns: id, version, hash, links, value. */
  def records: Dataset[RecordRow] = snapshotRows(meta.version, None).as[RecordRow]
  def toDF: DataFrame = records.toDF()

  /** S2: record ids in natural order (reference sorts meta records
    * naturally: base-data-model.js:46). Sorts on the codegen'd
    * natural_key expression — a binary-sortable key, so distributed
    * range partitioning works on it at scale.
    *
    * DRIVER-MEMORY CONTRACT: materializes every id on the driver —
    * faithful to the reference's `list()` convenience
    * (base-data-model.js:125-127) and fine up to millions of ids, but a
    * billion-record collection belongs on [[listIterator]] (one
    * partition of ids on the driver at a time) or on [[records]]
    * directly (fully distributed). The HTTP listing route already
    * streams via the iterator path. */
  def list(): Seq[String] = {
    graft.expressions.GraftFunctions.register(spark)
    records.select(col("id")).orderBy(expr("natural_key(id)"))
      .select("id").as[String].collect().toSeq
  }

  /** Streaming/paginated form of [[list]]: ids in natural order, pulled
    * through `toLocalIterator` so the driver holds at most one partition
    * — the any-scale listing path. `start` resumes from an id
    * (inclusive, by natural order — a pager passes the last id it saw
    * and skips one row); `limit` caps the page. The sort still runs on
    * the cluster; pagination costs one ordered scan per page, not a
    * driver-side collect. */
  def listIterator(start: Option[String] = None,
                   limit: Option[Int] = None): Iterator[String] = {
    Listing.naturalPage(records.select(col("id")).toDF(), start, limit)
      .select("id").as[String].toLocalIterator().asScala
  }

  /** Driver-side bucket assignment for a batch of literal ids: the SAME
    * `Generations.bucketOf` the writer uses, evaluated over a LocalRelation —
    * the optimizer folds the projection (ConvertToLocalRelation), so
    * the collect is a local array copy, NO Spark job. Using the one
    * expression tree for writer and reader means they can never drift. */
  private def bucketsOf(ids: Seq[String], b: Int): Seq[Long] =
    ids.toDF("id").select(Generations.bucketOf("id", b).as("k"))
      .collect().map(_.getLong(0)).toSeq.distinct

  private def idIn(ids: Seq[String]): Column =
    if (ids.isEmpty) lit(false) else col("id").isin(ids: _*)

  /** S3: the current rows of `ids`, in one scan. On a bucketed store it
    * filters on the `bucket` partition column first — only the dirs of
    * the ids' hash buckets (driver-side [[bucketsOf]], no job) are
    * listed and read, 1/B of the snapshot for one id — and then on
    * `id IN (...)`, which pushes into those dirs' parquet scans. Behind
    * [[read]], [[readRow]], [[readRows]] and the previous-row lookup of
    * a held commit. */
  private[graft] def scanIds(ids: Seq[String]): Dataset[RecordRow] =
    snapshotRows(meta.version, store.buckets.map(bucketsOf(ids, _)))
      .filter(idIn(ids)).as[RecordRow]

  /** S3: point lookup. */
  def read(id: String): Option[PoValue] = readRow(id).map(r => Cbor.decode(r.value))

  def readRow(id: String): Option[RecordRow] =
    scanIds(Seq(id)).limit(1).collect().headOption

  /** S3 batched point lookup (VERDICT r17 Next #4): one [[scanIds]] for
    * a whole id batch instead of one Spark job per id — the q126
    * fixture ran ~50 sequential [[readRow]] round-trips whose per-job
    * overhead dominated its wall (jpct 36), and at sf1.0 made it the
    * single most expensive query. Returns only the ids present; order
    * unspecified. */
  def readRows(ids: Seq[String]): Seq[RecordRow] =
    if (ids.isEmpty) Seq.empty else scanIds(ids).collect().toSeq

  /** W4: single-record upsert. */
  def write(id: String, value: PoValue): Long =
    writeEntries(Seq(WriteEntry(id, Some(value))), WriteMode.Merge)

  /** W5: delete one record. */
  def delete(id: String): Long =
    writeEntries(Seq(WriteEntry(id, None)), WriteMode.Merge)

  /** W6: drop the whole collection. */
  def drop(): Unit = store.withLock(path) {
    graft.core.Fs.rmTree(dir)
  }

  private def attachmentsRoot: String = Paths.get(store.root, "attachments").toString

  /** A dataset write: under the writer lock and the gc gate (link
    * validation through manifest swap), on an existing collection. */
  private def writing[A](f: => A): A = store.withLock(path) { store.withCommitGate {
    require(exists, s"collection ${path.encoded} does not exist")
    f
  } }

  /** W2/W3 from the driver. Returns the new collection version.
    *
    * A merge of at most `Store.MaxCommitInList` ids commits in the held
    * form: the values hash and their links are checked here, one
    * [[scanIds]] job reads the previous (version, hash) of the written
    * ids, [[Store.gate]] stamps the versions, then the carry write.
    * Larger batches and overwrites go through [[writeEntriesDF]]. */
  def writeEntries(entries: Seq[WriteEntry], mode: WriteMode): Long = {
    entries.foreach { e =>
      Store.validateId(e.id)
      if (mode == WriteMode.Overwrite)
        require(e.value.isDefined,
          s"overwrite cannot contain tombstones (id ${e.id})")
      // a stored null/undefined root is a delete, not a value
      // (reference: base-data-model.js:151-153, docs/api/datasets.md:46)
    }
    val norm = entries.map { e =>
      val tomb = e.value.forall(v => v == PoNull || v == PoUndefined)
      if (mode == WriteMode.Overwrite)
        require(!tomb, s"overwrite cannot contain null/undefined values (id ${e.id})")
      (e.id, if (tomb) null else Cbor.encode(e.value.get), tomb)
    }
    // last write per id wins inside one batch (JS object-entry semantics)
    val dedup = scala.collection.mutable.LinkedHashMap[String, (String, Array[Byte], Boolean)]()
    norm.foreach(e => dedup(e._1) = e)
    val batch = dedup.values.toSeq
    if (mode == WriteMode.Overwrite || batch.sizeIs > Store.MaxCommitInList)
      writeEntriesDF(spark.createDataset(batch).toDF("id", "value", "tombstone"), mode)
    else writing {
      val upserts = batch.collect { case (id, bytes, false) =>
        val (hash, links) = Store.hashAndLinks(id, bytes, attachmentsRoot)
        (id, hash, links, bytes)
      }
      // deletes need no previous version: an all-delete batch skips the lookup
      val prev: Map[String, (Long, String)] =
        if (upserts.isEmpty) Map.empty
        else scanIds(upserts.map(_._1)).select("id", "version", "hash")
          .as[(String, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val v = nextVersion
      commit(Commit.Held(batch.map(_._1), upserts.map { case (id, hash, links, bytes) =>
        RecordRow(id, Store.gate(prev.get(id), hash, v), hash, links, bytes)
      }))
    }
  }

  /** DataFrame form of W2/W3: `in` has columns id STRING, value BINARY
    * (insertion-order CBOR), tombstone BOOLEAN. Hashing and link
    * validation run on executors inside the write, and a merge commits
    * in the frame form — no driver-side iteration, any scale. A missing
    * attachment fails the write, and since a snapshot only becomes live
    * on the manifest swap, the whole batch is rejected atomically (the
    * reference's semantics, base-data-model.js link validation, pinned
    * by test/test-models-dataset.js:147-169) in one pass.
    */
  def writeEntriesDF(in: DataFrame, mode: WriteMode): Long = writing {
    val root = attachmentsRoot
    val prep = in.select("id", "value", "tombstone")
      .as[(String, Array[Byte], Boolean)]
      .map { case (id, bytes, tomb) =>
        if (tomb) (id, "", Seq.empty[String], Array.empty[Byte], true)
        else {
          val (hash, links) = Store.hashAndLinks(id, bytes, root)
          (id, hash, links, bytes, false)
        }
      }.toDF("id", "hash", "links", "value", "tombstone")
    commit(mode match {
      case WriteMode.Merge => Commit.Frame(prep)
      case WriteMode.Overwrite => Commit.Replace(prep.filter(!col("tombstone")))
    })
  }

  /** The one commit operator of datasets and lenses (reference:
    * base-data-model.js:26-59, which lens materialization also runs
    * through, lens.js:106). The collection version increments once per
    * commit; a record keeps its version when its content hash did not
    * move ([[Store.gate]]). Returns the new version. Three forms, chosen
    * by what the caller holds:
    *  - [[Commit.Held]]: the untouched rows carry through a `NOT id IN`
    *    filter of the snapshot ∪ the held rows — no join, and no
    *    exchange when it rewrites one bucket or none;
    *  - [[Commit.Frame]]: ONE full-outer join against the old rows
    *    classifies every id — insert (frame only), update or delete
    *    (both sides), untouched carry (old only); [[Store.gateCol]]
    *    stamps the versions;
    *  - [[Commit.Replace]]: a left join against the old rows gates the
    *    versions; nothing carries.
    * On a bucketed store a held or frame commit reads and rewrites only
    * the `bucket=k` dirs of its ids — folded on the driver for held ids,
    * one distinct job over a frame (persisted for the commit, so it is
    * computed once) — and every other bucket dir carries forward from
    * the previous snapshot by hardlink. The new snapshot goes live by
    * the [[Generations]] protocol, then the change feed is notified.
    * Executor-side failures surface as the first
    * IllegalArgumentException in their cause chain, the API contract of
    * a rejected write. */
  private[graft] def commit(change: Commit): Long = store.withLock(path) { store.withCommitGate {
    val m = meta
    val newVersion = m.version + 1
    val cow = store.buckets.filter(_ => bucketDirs(m.version))
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val (rows, touched) = change match {
        case Commit.Held(ids, held) =>
          val touched = cow.map(bucketsOf(ids, _))
          (snapshotRows(m.version, touched).filter(!idIn(ids))
            .unionByName(spark.createDataset(held).toDF().coalesce(1)), touched)
        case Commit.Frame(unpinned) =>
          val frame = cow.fold(unpinned) { _ =>
            val p = unpinned.persist(StorageLevel.MEMORY_AND_DISK); pinned += p; p
          }
          val touched = cow.map(b =>
            frame.select(Generations.bucketOf("id", b)).distinct().as[Long].collect().toSeq)
          val old = snapshotRows(m.version, touched).select(col("id"),
            col("version").as("old_version"), col("hash").as("old_hash"),
            col("links").as("old_links"), col("value").as("old_value"))
          val inFrame = col("tombstone").isNotNull
          (frame.join(old, Seq("id"), "full_outer")
            .filter(!(inFrame && col("tombstone"))) // tombstones drop their id
            .select(col("id"),
              when(inFrame, Store.gateCol(col("hash"), newVersion))
                .otherwise(col("old_version")).as("version"),
              when(inFrame, col("hash")).otherwise(col("old_hash")).as("hash"),
              when(inFrame, col("links")).otherwise(col("old_links")).as("links"),
              when(inFrame, col("value")).otherwise(col("old_value")).as("value")), touched)
        case Commit.Replace(replace) =>
          val old = snapshotRows(m.version, None).select(col("id"),
            col("version").as("old_version"), col("hash").as("old_hash"))
          (replace.join(old, Seq("id"), "left")
            .select(col("id"), Store.gateCol(col("hash"), newVersion).as("version"),
              col("hash"), col("links"), col("value")), None)
      }
      snapshots.write(rows, newVersion, Some(m.version), store.buckets.map(b =>
        Generations.Partitions("bucket", "id", b, touched.map(_.toSet),
          narrow = change.isInstanceOf[Commit.Held])))
      snapshots.publish(metaFile,
        MetaJson.encode(m.copy(version = newVersion, updated = System.currentTimeMillis())),
        newVersion)
      store.notifyCommit(path, newVersion)
    } catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null && !c.isInstanceOf[IllegalArgumentException]) c = c.getCause
        throw (if (c != null) c else e)
    } finally pinned.foreach(_.unpersist(blocking = false))
    newVersion
  } }

  private[graft] def nextVersion: Long = meta.version + 1
}

/** The O(1) manifest's JSON form, through the one JSON codec. */
private object MetaJson {
  def encode(m: CollectionMeta): Array[Byte] =
    JsonCodec.encode(PoObj("version" -> PoInt(m.version),
      "created" -> PoInt(m.created), "updated" -> PoInt(m.updated), "memo" -> PoStr(m.memo)))

  def write(p: Path, m: CollectionMeta): Unit = Generations.atomicWrite(p, encode(m))

  def read(p: Path): CollectionMeta = {
    val bytes = Files.readAllBytes(p)
    val fields = JsonCodec.decode(bytes) match {
      case PoObj(fs) => fs
      case _ => Map.empty[String, PoValue]
    }
    def long(k: String): Long = fields.get(k) match {
      case Some(PoInt(n)) => n
      case _ => throw new IllegalStateException(
        s"bad meta.json: missing $k in ${new String(bytes, UTF_8)}")
    }
    val memo = fields.get("memo") match {
      case Some(PoStr(s)) => s
      case _ => ""
    }
    CollectionMeta(long("version"), long("created"), long("updated"), memo)
  }
}
