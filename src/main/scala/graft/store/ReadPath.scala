package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** Polymorphic scan — one record, a whole collection, or a list of
  * paths, across all three sources {datasets, lenses, meta}
  * (reference: library/models/read-path.js:6-49, dispatch :86-91).
  * Returns a uniform DataFrame(path, id, version, hash, links, value);
  * a recordID filter pushes to the parquet scan.
  */
object ReadPath {

  def read(store: Store, path: DataPath): DataFrame = read(store, Seq(path))

  def read(store: Store, paths: Seq[DataPath]): DataFrame = {
    require(paths.nonEmpty, "readPath of nothing")
    paths.map(one(store, _)).reduce(_ unionByName _)
  }

  private def one(store: Store, p: DataPath): DataFrame = {
    val base = p.source match {
      case "meta" => MetaVfs.frame(store, p)
      case "datasets" | "lenses" =>
        store.collection(DataPath(p.source, p.author, p.name)).toDF
      case other => throw new IllegalArgumentException(s"unknown source $other")
    }
    val withPath = base.withColumn("path",
      concat(lit(s"/${p.source}/${p.author}:${p.name}/records/"), col("id")))
      .select("path", "id", "version", "hash", "links", "value")
    p.recordID match {
      case Some(rid) => withPath.filter(col("id") === lit(rid))
      case None => withPath
    }
  }

  def exists(store: Store, p: DataPath): Boolean = p.source match {
    case "meta" => MetaVfs.exists(store, p)
    case "datasets" | "lenses" =>
      val c = store.collection(DataPath(p.source, p.author, p.name))
      c.exists && p.recordID.forall(rid => c.readRow(rid).isDefined)
    case _ => false
  }

  /** Decode one record's value: a collection's bucket-pruned point
    * lookup ([[Collection.read]]), or the meta entry computed alone. */
  def readRecord(store: Store, p: DataPath): Option[PoValue] = {
    require(p.recordID.isDefined, "readRecord needs a record path")
    val rid = p.recordID.get
    p.source match {
      case "meta" =>
        MetaVfs.checkPath(store, p)
        MetaVfs.readEntry(store, rid)
      case "datasets" | "lenses" =>
        store.collection(DataPath(p.source, p.author, p.name)).read(rid)
      case other => throw new IllegalArgumentException(s"unknown source $other")
    }
  }
}

/** The read-only virtual collection `/meta/system:system` exposing the
  * catalog (reference: library/models/meta-vfs.js:8-55): records
  * `authors`, `datasets`, `lenses`, `stats`, `settings`, `formats`.
  * Values are computed from the catalog at scan time and served through
  * the same RecordRow shape as real collections, so readPath and lenses
  * can consume them uniformly (the reference's meta-vfs lacking the
  * iterate interface is one of its known WIP bugs — we implement the
  * documented intent).
  */
object MetaVfs {
  val RecordNames: Seq[String] =
    Seq("authors", "datasets", "lenses", "stats", "settings", "formats")

  def exists(store: Store, p: DataPath): Boolean =
    p.author == "system" && p.name == "system" &&
      p.recordID.forall(RecordNames.contains)

  private def collectionsOf(store: Store, source: String): Seq[(String, String)] =
    for {
      author <- store.listAuthors(source)
      name <- store.listCollections(source, author)
    } yield (author, name)

  def readEntry(store: Store, record: String): Option[PoValue] = record match {
    case "authors" =>
      val authors = (store.listAuthors("datasets") ++ store.listAuthors("lenses"))
        .distinct.sorted(NaturalOrder)
      Some(PoArr(authors.map(PoStr.apply).toVector))
    case "datasets" | "lenses" =>
      Some(PoArr(collectionsOf(store, record).map { case (a, n) =>
        PoObj("path" -> PoStr(s"/$record/$a:$n/"),
          "author" -> PoStr(a), "name" -> PoStr(n))
      }.toVector))
    case "stats" =>
      Some(PoObj(
        "authors" -> PoInt((store.listAuthors("datasets") ++ store.listAuthors("lenses")).distinct.size.toLong),
        "datasets" -> PoInt(collectionsOf(store, "datasets").size.toLong),
        "lenses" -> PoInt(collectionsOf(store, "lenses").size.toLong)))
    case "settings" =>
      // the reference's documented caps (package.json:82-85)
      Some(PoObj(
        "lensTimeout" -> PoInt(50),
        "lensCodeSize" -> PoInt(5L * 1024 * 1024),
        "maxRecordSize" -> PoInt(20L * 1024 * 1024),
        "maxAttachmentSize" -> PoInt(1024L * 1024 * 1024)))
    case "formats" =>
      val exts = Seq("json", "jsonl", "cbor", "yaml", "yml")
      Some(PoObj(
        "extensions" -> PoArr(exts.map(PoStr.apply).toVector),
        "mediaTypes" -> PoArr(exts.flatMap(e =>
          graft.codec.Codec.byExtension(e).toSeq.flatMap(_.handles))
          .distinct.map(PoStr.apply).toVector)))
    case _ => None
  }

  /** Rejects (IllegalArgumentException) a path outside the one virtual
    * collection. */
  private[store] def checkPath(store: Store, p: DataPath): Unit =
    require(exists(store, p.copy(recordID = None)),
      s"meta source only serves /meta/system:system, got ${p.encoded}")

  /** The virtual collection as a RecordRow-shaped DataFrame. */
  def frame(store: Store, p: DataPath): DataFrame = {
    checkPath(store, p)
    val spark = store.spark
    import spark.implicits._
    val rows = RecordNames.flatMap { n =>
      readEntry(store, n).map { v =>
        RecordRow(n, 0L, Cbor.hash(v), RecordStructure.listHashURLs(v), Cbor.encode(v))
      }
    }
    spark.createDataset(rows).toDF()
  }
}
