package graft.store

import java.net.{URLDecoder, URLEncoder}
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core._

/** Content-addressed attachment blob store (reference:
  * library/models/attachments.js): blobs keyed by sha256 hex, referenced
  * from documents via `hash://sha256/<hex>?type=<mime>` strings, garbage
  * collected by an anti-join of stored blob keys against every
  * collection's `links` column (reference attachments.js:161-195 — the
  * reference re-scans linking records; with links as a COLUMN the scan
  * is a column-pruned parquet read).
  */
final class AttachmentStore(store: Store) {

  private def root: Path = Paths.get(store.root, "attachments")

  /** Recently-written blobs held out of GC (reference attachments.js
    * hold/validate): an upload's blob lands before the record linking it
    * commits, so without a hold a concurrent GC could delete it in that
    * window. write() stamps the hash here; gc() skips holds younger than
    * its grace period and prunes the rest. Bounded by write rate ×
    * grace window, not by blob count. */
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def pathFor(hex: String): Path = {
    require(hex.length == 64 && hex.forall(c => "0123456789abcdef".contains(c)),
      s"bad attachment hash: $hex")
    root.resolve(hex.substring(0, 2)).resolve(hex)
  }

  def sha256hex(bytes: Array[Byte]): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(bytes)
    val sb = new StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Store a blob, returning its hash (idempotent). Written to a temp
    * file of its own then atomically renamed — same commit discipline as
    * snapshots; concurrent uploads of one blob each rename their own.
    *
    * Runs under the store's commit gate (read side): gc() holds the
    * write side for its whole run, so a write can never interleave with
    * a running GC. Without this, re-uploading a blob that sits on disk
    * as an expired-hold orphan while gc() is mid-run would record its
    * hold AFTER gc snapshotted the held set — gc would delete the file
    * after write() returned the hash, and the subsequent commit would
    * link a deleted blob. Concurrent writes share the read side, so
    * uploads never serialize on each other, only against a running GC. */
  def write(bytes: Array[Byte]): String = store.withCommitGate {
    val hex = sha256hex(bytes)
    held.put(hex, System.currentTimeMillis())
    val p = pathFor(hex)
    if (!Files.exists(p)) Generations.atomicWrite(p, bytes)
    hex
  }

  def has(hex: String): Boolean = Files.exists(pathFor(hex))
  def read(hex: String): Option[Array[Byte]] =
    if (has(hex)) Some(Files.readAllBytes(pathFor(hex))) else None

  /** Blob size + storage timestamp, if present (the cheap half of the
    * reference's attachment meta, attachments.js:58-63). */
  def stat(hex: String): Option[(Long, Long)] = {
    val p = pathFor(hex)
    if (!Files.exists(p)) None
    else Some((Files.size(p), Files.getLastModifiedTime(p).toMillis))
  }

  /** Record paths linking a blob (the reference meta's `linkers`,
    * attachments.js:58-63 — it maintains them incrementally; here they
    * are DERIVED from the links column, so they can never drift from the
    * records). One column-pruned scan of every collection's `links`,
    * filtered executor-side; the collect is bounded by the blob's actual
    * linker count. An admin/debug query, not a hot serving path. */
  def linkers(hex: String): Seq[String] = {
    val spark = store.spark
    import spark.implicits._
    val collections = for {
      source <- Seq("datasets", "lenses")
      author <- store.listAuthors(source)
      name <- store.listCollections(source, author)
    } yield store.collection(source, author, name)
    if (collections.isEmpty) return Seq.empty
    // ONE union job over all collections (the gc shape), not one Spark
    // job per collection — N collections should not mean N job launches
    collections.map { c =>
      c.toDF.select(col("id"), explode(col("links")).as("l"))
        .filter(col("l").contains(hex))
        .select(concat(lit(s"${c.path.collectionPath}/records/"), col("id")).as("p"))
    }.reduce(_ unionByName _).as[String].collect().toSeq.sorted
  }

  /** The canonical URL form for a stored blob. */
  def url(hex: String, mime: String): String = AttachmentStore.url(hex, mime)

  def list(): Seq[String] =
    if (!Files.isDirectory(root)) Seq.empty
    else graft.core.Fs.list(root).iterator.filter(Files.isDirectory(_))
      .flatMap(d => graft.core.Fs.list(d).iterator)
      .map(_.getFileName.toString).filter(_.length == 64).toSeq.sorted

  /** Blob inventory as a DataFrame: the driver only enumerates the 256
    * two-hex-char prefix directories; executors list each one, so the
    * full inventory (billions of blobs at 100 TB) never sits in driver
    * memory. Shared-filesystem semantics — the same premise snapshots
    * already rely on. */
  def inventoryDF: org.apache.spark.sql.DataFrame = inventory(tmpCutoffMs = None)

  /** [[inventoryDF]]; with `tmpCutoffMs` each prefix listing also
    * deletes the `*.tmp` files last modified at or before it: what a
    * write that died before its rename left behind. Only for gc(), which
    * holds the gate's write side, so no write() of this store is between
    * its tmp write and its rename; the cutoff (gc's grace window) spares
    * another process's upload in flight. */
  private def inventory(tmpCutoffMs: Option[Long]): org.apache.spark.sql.DataFrame = {
    val spark = store.spark
    import spark.implicits._
    val rootStr = root.toString
    if (!Files.isDirectory(root)) spark.emptyDataset[String].toDF("h")
    else {
      val prefixes = graft.core.Fs.list(root).iterator
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
      spark.createDataset(prefixes)
        .repartition(math.max(1, math.min(prefixes.size, 64)))
        .flatMap { pre =>
          val d = Paths.get(rootStr, pre)
          val names = graft.core.Fs.list(d).map(_.getFileName.toString)
          for (cutoff <- tmpCutoffMs; n <- names if n.endsWith(".tmp")) {
            val f = d.resolve(n)
            try {
              if (Files.getLastModifiedTime(f).toMillis <= cutoff) Files.deleteIfExists(f)
            } catch { case _: java.nio.file.NoSuchFileException => () }
          }
          names.filter(h => h.length == 64 && h.forall(c => "0123456789abcdef".contains(c)))
        }.toDF("h")
    }
  }

  /** GC: delete blobs referenced by no record in any collection.
    * Fully distributed (SURVEY §2.2 W8): the live set is a union of
    * column-pruned `links` reads over every snapshot → explode →
    * extract; the inventory DataFrame left-anti-joins it and the
    * surviving (dead) hashes are unlinked executor-side via
    * foreachPartition — no driver-side set at any point. Returns the
    * deleted count.
    *
    * Safety: takes the store's gc gate write lock (no commit is mid-
    * flight between link validation and manifest swap) and skips blobs
    * written within `graceMs` (the hold window — uploaded but possibly
    * not yet linked by a commit). Its inventory pass also deletes the
    * tmp files, older than `graceMs`, of writes that died before their
    * rename. */
  def gc(graceMs: Long = AttachmentStore.DefaultGraceMs): Long = {
    val spark = store.spark
    import spark.implicits._
    val gate = store.gcGate.writeLock(); gate.lock()
    try {
      val now = System.currentTimeMillis()
      // >=, not >: a hold expires once its age REACHES the grace window,
      // so gc(graceMs = 0) reliably means "no grace" even for a hold
      // stamped within the current millisecond
      held.entrySet().removeIf(e => now - e.getValue >= graceMs)
      val holding = held.keySet().asScala.toSet
      val collections = for {
        source <- Seq("datasets", "lenses")
        author <- store.listAuthors(source)
        name <- store.listCollections(source, author)
      } yield store.collection(source, author, name)
      val live: org.apache.spark.sql.DataFrame =
        if (collections.isEmpty) spark.emptyDataset[String].toDF("h")
        else collections.map(_.toDF.select(explode(col("links")).as("l")))
          .reduce(_ unionByName _)
          .select(regexp_extract(col("l"), "hash://sha256/([a-f0-9]{64})", 1).as("h"))
      val inv0 = inventory(tmpCutoffMs = Some(now - graceMs))
      // the held set is bounded by write rate × grace window, but that
      // can still be large on a busy cluster: a literal In-expression
      // with many thousands of entries bloats the plan (and codegen), so
      // past a threshold the holds become a broadcast anti-join instead
      val inv =
        if (holding.isEmpty) inv0
        else if (holding.size <= 1000)
          inv0.filter(!col("h").isInCollection(holding))
        else inv0.join(
          broadcast(spark.createDataset(holding.toSeq).toDF("h")),
          Seq("h"), "left_anti")
      val rootStr = root.toString
      val deleted = spark.sparkContext.longAccumulator("gc-deleted")
      inv.join(live, Seq("h"), "left_anti").as[String]
        .foreachPartition { (it: Iterator[String]) =>
          it.foreach { h =>
            if (Files.deleteIfExists(
                Paths.get(rootStr, h.substring(0, 2), h)))
              deleted.add(1)
          }
        }
      deleted.value
    } finally gate.unlock()
  }

  // (anti-join note: the live side is NOT distinct'd — left_anti
  // handles duplicate keys and skipping the distinct saves a shuffle
  // aggregation over the full link set)

  /** cid:→hash:// deep rewrite at ingest — instance convenience over
    * [[AttachmentStore.resolveContentIDs]] (the static form is what an
    * executor-side ingest map should capture: this class holds a Store
    * reference and is deliberately NOT Serializable). */
  def resolveContentIDs(v: PoValue, files: Map[String, (String, String)]): PoValue =
    AttachmentStore.resolveContentIDs(v, files)
}

object AttachmentStore {
  /** Default gc hold window for recently-written blobs: long enough for
    * any realistic upload→commit gap, short enough that orphaned uploads
    * reclaim on the next GC cycle. */
  val DefaultGraceMs: Long = 10 * 60 * 1000L

  /** The canonical content URL for a stored blob (pure — shared by the
    * instance API and executor-side rewrites). */
  def url(hex: String, mime: String): String =
    s"hash://sha256/$hex?type=${URLEncoder.encode(mime, "UTF-8")}"

  /** cid:→hash:// deep rewrite at ingest (reference:
    * record-structure.js:44-72 resolveContentIDs): whole strings starting
    * `cid:` resolve through the uploaded-files map to their content URL;
    * an unknown content id rejects the write. Static and pure so an
    * entry-building map over a corpus-sized DataFrame can run it
    * executor-side with only the (small, upload-batch-bounded) files map
    * in the task closure. */
  def resolveContentIDs(v: PoValue, files: Map[String, (String, String)]): PoValue = {
    def resolveStr(s: String): String =
      if (s.length >= 4 && s.substring(0, 4).equalsIgnoreCase("cid:")) {
        val cid = URLDecoder.decode(s.substring(4), "UTF-8")
        files.get(cid) match {
          case Some((hex, mime)) => url(hex, mime)
          case None => throw new IllegalArgumentException(
            s"File URLs reference missing attachments: $s")
        }
      } else s
    def walk(x: PoValue): PoValue = x match {
      case PoStr(s) => PoStr(resolveStr(s))
      case PoArr(items) => PoArr(items.map(walk))
      case s: PoSet => PoSet.fromSeq(s.items.map(walk))
      case PoObj(fields) =>
        PoObj(scala.collection.immutable.VectorMap.from(
          fields.map { case (k, fv) => resolveStr(k) -> walk(fv) }))
      case m: PoMap => PoMap(m.entries.map { case (k, mv) => (walk(k), walk(mv)) })
      case other => other
    }
    walk(v)
  }
}
