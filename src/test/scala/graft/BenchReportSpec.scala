package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.JsonCodec
import graft.core.PoObj

/** The stdout contract [[Bench.report]] writes: the guarded region
  * fits the tail capture, its `"part":"queries"` line decodes back to
  * the walls through [[BenchPrior.decodeQueriesLine]] (the decoder the
  * next round's prior uses), an oversized error map degrades the region
  * rather than overflowing it, and the artifact of record keeps its
  * fields. */
class BenchReportSpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"

  private def names(n: Int): Seq[String] = (1 to n).map(i => s"q${i}_synthetic").sorted

  /** Per query three passing reps (wall s, job s), fastest first. */
  private def results(ns: Seq[String], errs: Map[String, String] = Map.empty)
      : Seq[(String, Seq[(Double, Double)], Option[String])] =
    ns.zipWithIndex.map { case (n, i) =>
      val w = 0.1 + (i * 37 % 101) / 13.0
      (n, Seq(w, w * 1.1, w * 1.3).map(x => (x, x * 0.9)), errs.get(n))
    }

  private def report(ns: Seq[String], errs: Map[String, String] = Map.empty) =
    Bench.report(results(ns, errs), Seq.empty, Map.empty, 3, sf, cpus = 32)

  /** The stdout tail as a round artifact stores it: a JSON string field. */
  private def driverTail(lines: Seq[String]): String = {
    val tail = ("\n" * 40 + lines.mkString("", "\n", "\n")).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    }
    s"""{"n": 19, "rc": 0, "tail": "$tail"}"""
  }

  private def region(lines: Seq[String]): Int = lines.map(_.length + 1).sum

  test("the guarded region fits the tail budget and decodes to the walls") {
    assert(Bench.TailBudget == 1906)
    // 163 queries carry their walls at 1 dp; 20 leave room for 2 dp
    for ((n, dp) <- Seq(163 -> 1, 20 -> 2)) {
      val ns = names(n)
      val (_, guarded) = report(ns)
      assert(region(guarded) <= Bench.TailBudget, s"$n queries: ${region(guarded)} chars")
      val line = guarded.find(_.contains("\"part\":\"queries\""))
      assert(line.isDefined, s"$n queries: no queries line in $guarded")
      val got = BenchPrior.decodeQueriesLine(driverTail(guarded), sf, ns)
      assert(got.map(_.keySet).contains(ns.toSet))
      results(ns).foreach { case (q, runs, _) =>
        assert(math.abs(got.get(q) - runs.head._1) <= 0.5 / math.pow(10, dp) + 1e-9,
          s"$q: ${got.get(q)} vs ${runs.head._1} at $dp dp")
      }
    }
  }

  test("a growing errors map degrades to the slim line, then to the headline alone") {
    val ns = names(163)
    def layout(lines: Seq[String]): Int = lines match {
      case Seq(q, _) if q.contains("\"part\":\"queries\"") => 0
      case Seq(q) if q.contains("\"cross_round_movers\"") => 1
      case Seq(q) if q.contains("\"movers_n\"") => 2
      case Seq(h) if !h.contains("\"part\"") && h.contains("\"n_queries\"") => 3
      case other => fail(s"unexpected guarded region: $other")
    }
    // k errors of 200 chars plus one of m chars, on intermittently
    // failing queries (they keep their walls)
    val layouts = for (k <- 0 to 3; m <- 0 to 200 by 5) yield {
      val errs = ns.take(k).map(_ -> "x" * 200).toMap ++
        (if (m == 0) Map.empty else Map(ns(k) -> "y" * m))
      val (_, guarded) = report(ns, errs)
      val l = layout(guarded)
      if (l < 3) assert(region(guarded) <= Bench.TailBudget)
      else assert(errs.keys.forall(q => guarded.head.contains(s""""$q":""")),
        "the headline names every error")
      l
    }
    assert(layouts.head == 1, "163 error-free queries: the full 1-dp line alone")
    assert(layouts == layouts.sorted, "the layout never recovers as the errors grow")
    assert(layouts.contains(2) && layouts.last == 3)
  }

  test("the artifact JSON keeps every field") {
    val ns = names(163)
    val slow = ns(4)
    val (json, _) = Bench.report(results(ns), Seq((slow, 9.0, Seq(8.5, 8.7, 9.1))),
      Map(slow -> 0.5), 3, sf, cpus = 32)
    val obj = JsonCodec.decodeString(json).asInstanceOf[PoObj].fields
    assert(obj.keys.toSeq == Seq("metric", "value", "unit", "job_total", "med_total", "reps",
      "queries", "queries_med", "job_s", "runs", "job_runs", "remeasured",
      "cross_round_movers", "errors", "cpus", "sf"))
    Seq("queries", "queries_med", "job_s", "runs", "job_runs").foreach { k =>
      assert(obj(k).asInstanceOf[PoObj].fields.keys.toSeq == ns, k)
    }
    assert(obj("remeasured").asInstanceOf[PoObj].fields.keySet == Set(slow))
    assert(obj("cross_round_movers").asInstanceOf[PoObj].fields.keySet == Set(slow))
    assert(json.contains(""""cpus":32,"sf":"/data/sf0.1"}"""))
  }
}
