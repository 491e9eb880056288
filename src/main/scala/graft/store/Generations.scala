package graft.store

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.core.Fs

/** The one generation protocol of the engine's durable parquet data —
  * collection snapshots (`v{N}` behind `meta.json`) and lens compute
  * caches (`cache/g{N}` behind `cache/manifest.json`): write the new
  * generation, then atomically rename the pointer (the reference's tmp +
  * rename dance, fs/raw.js:152-197). Three steps, run under the writer
  * lock of the collection that owns `dir`:
  *  1. [[write]] generation `<prefix>N` — plain parquet, or `col=k`
  *     partitions with the untouched ones of the generation it derives
  *     from carried by hardlink;
  *  2. [[publish]] the manifest naming N (a unique tmp file, then
  *     `ATOMIC_MOVE`) — the only step that makes N live;
  *  3. prune every generation outside the `keep` newest up to N (inside
  *     [[publish]]).
  *
  * Crash windows: a death before the manifest rename leaves an orphan
  * (possibly partial) `<prefix>N` dir and at most a stray manifest tmp
  * file. Readers go through the manifest, which still names the last
  * good generation, so neither is ever read; the next write of N
  * replaces the orphan wholesale (`mode("overwrite")`) and its publish
  * deletes the tmp file and prunes what is left. A death inside the
  * prune leaves a half-deleted generation the manifest no longer names —
  * equally invisible, and pruned by the next publish. A death after the
  * rename loses nothing of the data; a collection then only misses its
  * change-feed event, which a LensMaintainer heals at its next start or
  * at the input's next commit. StoreSpec ("crash mid-commit"),
  * RecoverySpec and LensCrashSpec pin these states. */
private[graft] final class Generations(dir: Path, prefix: String, keep: Int) {

  def dirOf(n: Long): Path = dir.resolve(s"$prefix$n")

  /** Step 1: write `df` as generation `n`, derived from generation `from`
    * (the live one the caller read). A plain generation compacts when
    * `from` is fragmented ([[Generations.compactIfFragmented]]); a
    * partitioned one is laid out one file per partition. */
  def write(df: DataFrame, n: Long, from: Option[Long],
            parts: Option[Generations.Partitions]): Unit = {
    val target = dirOf(n).toString
    parts match {
      case Some(p) =>
        val keyed = df.withColumn(p.column, Generations.bucketOf(p.key, p.n))
        // every partition lands in exactly one task, so it is one file,
        // never tasks × partitions tiny files (the write-side clustering
        // Iceberg calls distribution-mode=hash). Narrow rows of ONE
        // rewritten partition need no shuffle for that: coalescing them
        // into one task writes the same one file. A join keeps the
        // shuffle, or it would run in one task.
        (if (p.narrow && p.rewrite.exists(_.size == 1)) keyed.coalesce(1)
         else keyed.repartition(col(p.column)))
          .write.mode("overwrite").partitionBy(p.column).parquet(target)
        for (f <- from; skip <- p.rewrite) Fs.carryPartitions(dirOf(f), dirOf(n), p.column, skip)
      case None =>
        from.fold(df)(f => Generations.compactIfFragmented(df, dirOf(f)))
          .write.mode("overwrite").parquet(target)
    }
  }

  /** Steps 2 and 3: make generation `live` the one `manifest` (whose
    * bytes are `json`) names, then prune every other generation but the
    * `keep - 1` before it, and the manifest tmp files a crash left
    * between a tmp write and its rename. Under the writer lock no other
    * writer of `manifest` can be mid-write. */
  def publish(manifest: Path, json: Array[Byte], live: Long): Unit = {
    Generations.atomicWrite(manifest, json)
    // unhidden tmp names are what earlier versions of atomicWrite left
    val tmpPrefix = s"${manifest.getFileName}."
    Fs.list(manifest.getParent).filter { p =>
      val n = p.getFileName.toString
      n.stripPrefix(".").startsWith(tmpPrefix) && n.endsWith(".tmp")
    }.foreach(Files.deleteIfExists)
    list.filter(g => g > live || g <= live - keep).foreach(g => Fs.rmTree(dirOf(g)))
  }

  private def list: Seq[Long] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Fs.list(dir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith(prefix)) n.drop(prefix.length).toLongOption.filter(_ >= 0) else None
    }
}

private[graft] object Generations {

  /** A partitioned generation: rows hashed on column `key` into `n`
    * `column=k` dirs. `rewrite = Some(ks)`: the rows hold only partitions
    * `ks`, and every other partition carries from the generation written
    * over. `narrow`: the rows are scans ∪ local rows, with no exchange. */
  final case class Partitions(column: String, key: String, n: Int,
                              rewrite: Option[Set[Long]], narrow: Boolean)

  /** The partition of each row — the one hash of writers and of the
    * readers that prune to a partition. */
  def bucketOf(key: String, n: Int): Column = pmod(xxhash64(col(key)), lit(n.toLong))

  /** Unbucketed generations compact (AQE rebalance before the write) only
    * when the previous generation exceeds this many parquet files —
    * amortized: the no-shuffle carry branch of a small-batch merge adds
    * ~1 file per commit, so commits between compactions pay ZERO
    * shuffles for the snapshot and every ~threshold-th commit pays one.
    * Production stores at 100 TB should be bucketed (file-level COW
    * carry); this bounds the unbucketed fallback's file count. */
  private val RebalanceFileThreshold = 24

  /** `df` with an AQE rebalance hint when the parquet dir `prev` (the
    * generation `df` replaces) holds more than [[RebalanceFileThreshold]]
    * files, else `df` as is. Shuffled results (overwrite ingest, frame
    * merges) are already AQE-coalesced to the advisory size, and a held
    * commit adds only ~1 file, so this compacts every ~N commits instead
    * of shuffling every commit. Read order is never contractual (every
    * listing surface sorts on the natural key at read). */
  private def compactIfFragmented(df: DataFrame, prev: Path): DataFrame = {
    val parquets =
      if (!Files.isDirectory(prev)) 0
      else Fs.list(prev).count(_.getFileName.toString.endsWith(".parquet"))
    if (parquets > RebalanceFileThreshold) df.hint("rebalance") else df
  }

  /** Replace file `p` with `bytes` atomically: write a tmp file of a
    * name unique to this call, then rename it over `p`. Concurrent
    * writers of one `p` each rename their own tmp file; readers see the
    * old or a new content, never a torn one. The tmp file is hidden
    * (`.<name>.<uuid>.tmp`), so a directory read by name prefix or by
    * Spark's file sources never lists it. */
  def atomicWrite(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
