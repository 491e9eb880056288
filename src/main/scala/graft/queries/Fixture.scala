package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.core.{Cbor, Fs, PoObj, PoStr}
import graft.lens.{Lens, MapFn}
import graft.store.{Collection, DataPath, Store}

/** Store seeding shared by the store and lens fixtures: a pid-scoped
  * scratch store per fixture, collections emptied of a previous run's
  * state, and the documents table committed as `{text}` records. */
private[queries] object Fixture {

  /** The scale-factor dir's name ("sf0.1"), which keys scratch roots. */
  def sfName(sfDir: String): String = Paths.get(sfDir).getFileName.toString

  /** A store on the pid-scoped scratch root `<prefix>-<sf>-<pid>`
    * ([[graft.core.Fs.pidScratch]]): concurrent processes never share
    * it, dead processes' roots are reaped, and one process reuses it
    * across runs. */
  def store(spark: SparkSession, sfDir: String, prefix: String,
            buckets: Option[Int] = None): Store =
    new Store(spark, scratch(sfDir, prefix), buckets)

  private def scratch(sfDir: String, prefix: String): String =
    Fs.pidScratch(s"$prefix-${sfName(sfDir)}")

  /** The pid-scoped scratch dir `<prefix>-<sf>-<pid>`, emptied, for a
    * fixture that must start from nothing on every call. Emptied before
    * use, not after: a fixture's returned frame may read what it leaves
    * there lazily. */
  def emptyScratch(sfDir: String, prefix: String): String = {
    val root = scratch(sfDir, prefix)
    Fs.rmTree(Paths.get(root))
    root
  }

  /** The documents table's `doc_id` and `field` columns. */
  def docs(spark: SparkSession, sfDir: String, field: String = "text"): DataFrame =
    Tables.load(spark, sfDir, "documents").select("doc_id", field)

  /** One document as a record entry `(id, {field: text}, live)`. */
  private def entry(id: Long, text: String, field: String = "text"): (String, Array[Byte], Boolean) =
    (id.toString, Cbor.encode(PoObj(field -> PoStr(text))), false)

  /** A `(doc_id, text)` frame as record entries, `edit` applied to each
    * text. */
  def entries(docs: DataFrame, edit: String => String = identity,
              field: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)].map { case (id, t) => entry(id, edit(t), field) }
      .toDF("id", "value", "tombstone")
  }

  /** q44's merge commit over a `(doc_id, text)` frame, three disjoint
    * touched subsets: doc_id % 13 == 2 deleted (tombstones), the other
    * doc_id % 7 == 0 updated (" graftupdate" appended, so the hash
    * changes), and the new docs 1000001..1000005. */
  def touchedDelta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val updates = entries(
      docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 2), _ + " graftupdate")
    val deletes = docs.filter(col("doc_id") % 13 === 2)
      .select(col("doc_id").cast("string")).as[String]
      .map(id => (id, Array.empty[Byte], true))
      .toDF("id", "value", "tombstone")
    val news = spark.range(1, 6)
      .as[Long].map(i => entry(1000000L + i, s"brand new graft doc $i"))
      .toDF("id", "value", "tombstone")
    updates.unionByName(deletes).unionByName(news)
  }

  /** The dataset `bench/<name>`, dropped if a previous run left it, then
    * created empty. */
  def freshDataset(store: Store, name: String): Collection = {
    val ds = store.dataset("bench", name)
    if (ds.exists) ds.drop()
    ds.create()
  }

  /** The lens `bench/<name>` over `inputs`, its output dropped if a
    * previous run left it (the compute cache and logs go with it), then
    * created: its first build maps every input. */
  def freshLens(store: Store, name: String, inputs: Seq[DataPath], fn: MapFn): Lens = {
    val lens = new Lens(store, "bench", name, inputs, fn)
    if (lens.output.exists) lens.output.drop()
    lens.create()
  }
}
