package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core._

/** The commit operator's held form (`writeEntries`, at most
  * `Store.MaxCommitInList` ids) and frame form (`writeEntriesDF`) are two
  * paths for one semantics: twin collections that receive the same random
  * merge batches hold the same (id, version, hash, value) after every
  * commit, on an unbucketed and an 8-bucket store, and both match a plain
  * model of the values. An overwrite with the final contents (replace-all
  * form) then leaves every row, version included, as it was. A store
  * opened with buckets over an unbucketed snapshot commits without
  * dropping the rows it cannot carry by bucket dir. */
class CommitFormsSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def state(c: Collection): Map[String, (Long, String, PoValue)] =
    c.records.collect().map(r => r.id -> (r.version, r.hash, Cbor.decode(r.value))).toMap

  /** A frame holds no order, so it gets the batch as `writeEntries`
    * reads it: the last entry per id, null/undefined roots as
    * tombstones. */
  private def frameOf(batch: Seq[WriteEntry]) = {
    val last = scala.collection.mutable.LinkedHashMap[String, Option[PoValue]]()
    batch.foreach(e => last(e.id) = e.value)
    last.toSeq.map {
      case (id, Some(v)) if v != PoNull && v != PoUndefined => (id, Cbor.encode(v), false)
      case (id, _) => (id, null: Array[Byte], true)
    }.toDF("id", "value", "tombstone")
  }

  test("a bucketed store rewrites a snapshot without bucket dirs whole, losing no row") {
    val root = SparkTestBase.tempDir("graft-forms-layout").toString
    val plain = new Store(spark, root).dataset("a", "d").create()
    plain.writeEntries((1 to 20).map(i => WriteEntry(s"r$i", Some(PoInt(i.toLong)))), WriteMode.Merge)
    val bucketed = new Store(spark, root, Some(8)).dataset("a", "d")
    bucketed.write("r5", PoInt(-5))
    assert(bucketed.list().size == 20)
    assert(bucketed.read("r5").contains(PoInt(-5)) && bucketed.read("r6").contains(PoInt(6)))
    bucketed.writeEntriesDF(Seq(("r21", Cbor.encode(PoInt(21)), false)).toDF("id", "value", "tombstone"),
      WriteMode.Merge)
    assert(bucketed.list().size == 21)
    assert(bucketed.readRow("r7").get.version == 1)
  }

  Seq(None, Some(8)).foreach { buckets =>
    test(s"held and frame merges agree on random batches (buckets = $buckets)") {
      val store = new Store(spark, SparkTestBase.tempDir("graft-forms").toString, buckets)
      val held = store.dataset("a", "held").create()
      val frame = store.dataset("a", "frame").create()
      val rnd = new scala.util.Random(buckets.getOrElse(0) + 17)
      val model = scala.collection.mutable.Map[String, PoValue]()
      def value(k: Int): PoValue = PoObj("k" -> PoInt(k.toLong), "s" -> PoStr("v" * (k % 3)))
      def randomBatch(): Seq[WriteEntry] = Seq.fill(1 + rnd.nextInt(12)) {
        val known = model.keys.toVector
        rnd.nextInt(6) match {
          case 0 | 1 => WriteEntry(s"r${rnd.nextInt(60)}", Some(value(rnd.nextInt(5))))
          case 2 if known.nonEmpty => // identical rewrite
            val id = known(rnd.nextInt(known.size)); WriteEntry(id, Some(model(id)))
          case 3 => WriteEntry(s"r${rnd.nextInt(60)}", None)
          case 4 => WriteEntry(s"r${rnd.nextInt(60)}", Some(if (rnd.nextBoolean()) PoNull else PoUndefined))
          case _ => WriteEntry(s"r${rnd.nextInt(8)}", Some(value(rnd.nextInt(5)))) // repeats ids
        }
      }
      val big = (0 until Store.MaxCommitInList + 1).map(i => WriteEntry(s"big$i", Some(value(i))))
      val batches = Seq.fill(10)(randomBatch()) ++ Seq(big) ++ Seq.fill(4)(randomBatch())
      batches.zipWithIndex.foreach { case (batch, i) =>
        val vh = held.writeEntries(batch, WriteMode.Merge)
        val vf = frame.writeEntriesDF(frameOf(batch), WriteMode.Merge)
        assert(vh == i + 1 && vf == i + 1)
        batch.foreach {
          case WriteEntry(id, Some(v)) if v != PoNull && v != PoUndefined => model(id) = v
          case WriteEntry(id, _) => model.remove(id)
        }
        val h = state(held)
        assert(h == state(frame), s"batch $i: the held and frame twins differ")
        assert(h.view.mapValues(_._3).toMap == model.toMap, s"batch $i: the twins differ from the model")
      }
      // a version only moves with the content: every id's version is the
      // last batch that changed its value
      val settled = state(held)
      Seq(held, frame).foreach { c =>
        val v = c.writeEntries(settled.toSeq.map { case (id, (_, _, pv)) => WriteEntry(id, Some(pv)) },
          WriteMode.Overwrite)
        assert(v == batches.size + 1)
        assert(state(c) == settled, "an overwrite with the same contents keeps every version")
      }
    }
  }
}
