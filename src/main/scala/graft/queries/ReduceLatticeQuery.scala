package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.lens.{MapContext, MapFn}
import graft.store.{DataPath, WriteMode}

/** Reduce-lattice BREADTH under the hard signal (SURVEY §2.5; reference:
  * library/utility/reduce.js:27-49, behavior pinned by
  * test/test-utility-reduce.js): the driver lens queries (q9/q49/q136)
  * exercise only the Set-union branch, so this lens's map emits values
  * that route through the lattice's exotic branches and the oracle
  * re-derives every merged result relationally:
  *  - `g<k>:date` — PoDate vs PoDate → most-future wins (date-max);
  *    the epoch formula is non-monotonic in doc_id so max ≠ last;
  *  - `g<k>:big`  — PoBigInt + PoBigInt → arbitrary-precision sum; the
  *    1e15 multiplier pushes every group's sum past Long.MaxValue, so a
  *    lattice that silently folded through Long would overflow and
  *    break the hash (DuckDB sums in HUGEINT);
  *  - `g<k>:bag`  — PoMap merged RECURSIVELY per key (lang → count),
  *    PoInt leaves summing — the map-merge branch;
  *  - `g<k>:arr`  — PoArr ++ PoArr depth-1 CONCAT in fold order — the
  *    array branch, order-sensitive like `mixed` (the concatenation
  *    sequence must be natural record order or the rendered list
  *    permutes);
  *  - `g<k>:obj`  — PoObj merged recursively ({n: 1, langs: {lang:
  *    1}}): the object branch through BOTH depths — int leaves sum at
  *    the top, the nested object's per-lang leaves sum one level down;
  *  - `g<k>:mixed` — values whose TYPE rotates (string / bool / URL by
  *    doc_id DIV nGroups mod 3): every adjacent pair is last-wins
  *    (mismatched types, and the same-type cases string/bool/url are
  *    last-wins too — never summing), so the merged result is exactly
  *    the value of the group's MAX doc_id. That makes the fold ORDER
  *    itself the thing under test: the distributed reduce must fold in
  *    natural record order (lens.js:204-215) or a different survivor
  *    (with a visibly different rendering) lands in the output.
  *
  * One commit, one full build — the breadth target is the ordered
  * distributed fold (flatMapSortedGroups: this MapFn is deliberately
  * NOT CommutativeMapFn), not incremental maintenance (q44/q138 own
  * that). Output is (id, out) strings; rendering per branch is fixed
  * (bag sorted by key so presentation order can't leak in). */
object ReduceLatticeQuery {

  val NGroups = 25

  final class LatticeFn extends MapFn {
    def map(ctx: MapContext): Unit = {
      val o = ctx.data.asInstanceOf[PoObj]
      val id = ctx.path.recordID.toLong
      val lang = o.fields("lang") match {
        case PoStr(l) => l
        case _ => return
      }
      val g = id % NGroups
      ctx.output(s"g$g:date", PoDate(((id * 37L) % 1000003L) * 1000L))
      ctx.output(s"g$g:big", PoBigInt(BigInt(id) * BigInt("1000000000000000")))
      ctx.output(s"g$g:bag", PoMap.of(PoStr(lang) -> PoInt(1L)))
      ctx.output(s"g$g:arr", PoArr(Vector(PoInt(id % 10))))
      ctx.output(s"g$g:obj", PoObj(
        "n" -> PoInt(1L),
        "langs" -> PoObj(lang -> PoInt(1L))))
      ctx.output(s"g$g:mixed", ((id / NGroups) % 3) match {
        case 0 => PoStr(s"s$id")
        case 1 => PoBool(id % 2 == 0)
        case _ => PoURL(s"u://$id")
      })
    }
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val store = Fixture.store(spark, sfDir, "graft-latq")
    Fixture.freshDataset(store, "docs-lat").writeEntriesDF(
      Fixture.entries(Parallelism.spread(Fixture.docs(spark, sfDir, "lang")), field = "lang"),
      WriteMode.Overwrite)
    val lens = Fixture.freshLens(store, "lattice-lat",
      Seq(DataPath("datasets", "bench", "docs-lat")), new LatticeFn)
    lens.build()

    lens.output.records.map { r =>
      val out = Cbor.decode(r.value) match {
        case PoDate(ms) => ms.toString
        case PoBigInt(v) => v.toString
        // sort by the KEY, not the rendered "k:v" string: the oracle's
        // string_agg ORDER BY lang compares keys, and the two orders
        // diverge when one key is a proper prefix of another
        // ("pt" vs "pt-br": ':' sorts between '-' and letters)
        case PoMap(entries) => entries.collect {
            case (PoStr(k), PoInt(n)) => (k, n)
          }.sortBy(_._1).map { case (k, n) => s"$k:$n" }.mkString(",")
        case PoArr(items) => items.collect { case PoInt(i) => i.toString }
          .mkString(",") // fold order preserved — NOT sorted
        case o: PoObj =>
          val n = o.fields("n") match { case PoInt(v) => v; case _ => -1L }
          val langs = o.fields("langs") match {
            case PoObj(fs) => fs.collect { case (k, PoInt(v)) => (k, v) }
              .toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(",")
            case _ => ""
          }
          s"n=$n;$langs"
        case PoStr(s) => s
        case PoBool(b) => b.toString
        case PoURL(u) => u
        case other => other.toString
      }
      (r.id, out)
    }.toDF("id", "out")
      .orderBy(col("id"))
  }
}
