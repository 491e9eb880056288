package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line for the driver's BENCH_r{N}.json.
  *
  * Hygiene (VERDICT r1 #6/#9): a full warmup pass first absorbs JVM +
  * codegen + broadcast warmup so per-query numbers are comparable across
  * rounds, and the timed pass sinks to the `noop` datasource — a real
  * row-by-row materialization Catalyst cannot shortcut the way it can a
  * `count()` (which prunes aggregate columns and drops final sorts).
  *
  * Min-of-N (VERDICT r5 #2): each query is timed N times (default 3)
  * after warmup and reports the MIN. A single loaded-box hiccup on one
  * run can no longer poison the round's recorded number (BENCH_r05
  * recorded phantom 4-7x regressions on q36-q38 this way). All raw
  * runs are emitted under "runs" so drift is auditable.
  *
  * Job-time self-diagnosis (VERDICT r12 #3): alongside each wall time
  * the artifact records the SUM OF SPARK JOB DURATIONS for the same rep
  * ("job_s", scheduler-side timestamps via a job listener — the JOBLOG
  * aggregate BenchOne computes, always-on here). Two drift disputes in
  * two rounds were adjudicated by hand because wall time alone can't
  * show box contention; now the artifact carries the split. Reading it:
  * wall ≈ jobs = executor-bound; wall ≫ jobs on a query whose recorded
  * baseline had wall ≈ jobs = the DRIVER/box was contended (sbt, GC,
  * co-tenants), not a code regression; jobs themselves inflating with
  * byte-identical code = executor-side contention (CPU steal), also
  * environment. Fixture-heavy queries (per-request point lookups, zip
  * streaming) legitimately run wall > jobs — compare against the same
  * query's recorded split, not against zero. */
/** Prior-round per-query walls for [[Bench]]'s self-healing re-measure
  * (VERDICT r15 "what's wrong" #2). Provenance order (VERDICT r16
  * "what's wrong" #1 — the r16 prior was committed mid-session, so an
  * 18% cross-round level shift sailed through unremeasured):
  * explicit env override → the PREVIOUS ROUND's committed artifact
  * (`BENCH_rNN.json`, highest N whose dense positional "wj" line
  * matches this sf AND this exact query-name set via the nck CRC
  * guard — i.e. a number measured by the DRIVER at round end, never
  * by this session) → sf-scoped `BENCH_LATEST_<sf>.json` (may be
  * same-session; fallback only) → `target/bench.json` bootstrap.
  * Extraction is a targeted scan of machine-written shapes — no JSON
  * library exists in main scope, and the shapes are fixed. */
object BenchPrior {
  def latestPath(sfDir: String): String =
    s"BENCH_LATEST_${java.nio.file.Paths.get(sfDir).getFileName}.json"

  /** The files a bench run writes its JSON artifact to: the artifact of
    * record (`out`, default `target/bench.json`), the sf-scoped prior
    * BENCH_LATEST (a sf1.0 SCALING run must not become sf0.1's prior) and
    * its cpu-keyed copy (VERDICT r17 Next #2: the 32- and 8-core runs of
    * one round must not overwrite each other's artifact). A subset run
    * (`SPARK_GRAFT_BENCH_ONLY`) writes none of them: a subset total must
    * never become the artifact of record, a prior or a committed
    * BENCH_LATEST. */
  private[graft] def artifactPaths(subset: Boolean, out: Option[String], sfDir: String,
                                   cpus: Int): Seq[String] =
    if (subset) Seq.empty
    else Seq(out.getOrElse("target/bench.json"), latestPath(sfDir),
      latestPath(sfDir).stripSuffix(".json") + s"_c$cpus.json")

  def load(sfDir: String, names: Seq[String]): Map[String, Double] = {
    val explicit = sys.env.get("SPARK_GRAFT_BENCH_PRIOR")
      .flatMap(p => parse(p, sfDir = None))
    def round = latestRoundArtifact(sfDir, names)
    def latest = parse(latestPath(sfDir), sfDir = None)
    def bootstrap = parse("target/bench.json", sfDir = Some(sfDir))
    explicit.orElse(round).orElse(latest).orElse(bootstrap).getOrElse(Map.empty)
  }

  /** Decode the r18+ plain per-query tail line: `"part":"queries"` with
    * qNN-abbreviated names (the lineA/lineB spelling). Keys map back to
    * full names by unique `qNN` prefix against the registry; ambiguity
    * or an unknown key rejects the line (falls back to the wj decode /
    * BENCH_LATEST) rather than mis-attributing numbers. */
  private[graft] def decodeQueriesLine(
      raw: String, sfDir: String, names: Seq[String]): Option[Map[String, Double]] = {
    val s = raw.replace("\\\"", "\"")
    val want = java.nio.file.Paths.get(sfDir).getFileName.toString
    val byPrefix: Map[String, Seq[String]] =
      names.groupBy(_.takeWhile(_ != '_'))
    val lineRe = """"part":"queries"[^\n]*""".r
    lineRe.findAllMatchIn(s).flatMap { m =>
      val line = s.substring(math.max(0, s.lastIndexOf('{', m.start)), m.end)
      val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(line)
        .forall(_.group(1).endsWith(want))
      if (!sfOk) None
      else {
        val at = line.indexOf("\"queries\":{")
        if (at < 0) None
        else {
          val start = at + "\"queries\":{".length
          val end = line.indexOf('}', start)
          if (end < 0) None
          else {
            val re = """"([A-Za-z0-9_]+)":([0-9][0-9.]*)""".r
            val entries = re.findAllMatchIn(line.substring(start, end)).map { mm =>
              byPrefix.get(mm.group(1)).collect { case Seq(full) =>
                full -> mm.group(2).toDouble }
            }.toSeq
            if (entries.nonEmpty && entries.forall(_.isDefined))
              Some(entries.flatten.toMap)
            else None
          }
        }
      }
    }.nextOption()
  }

  /** Decode per-query walls out of the newest committed `BENCH_rNN.json`
    * round artifact. The driver's artifact carries our own stdout tail
    * (JSON-escaped), whose dense `"part":"wj"` line is positional over
    * the alpha-sorted passing query names — the embedded "nck" CRC of
    * the name list is the decode guard, so a renamed/added/dropped
    * query makes this source reject itself rather than mis-attribute
    * numbers (falls back to BENCH_LATEST). */
  private[graft] def latestRoundArtifact(
      sfDir: String, names: Seq[String]): Option[Map[String, Double]] =
    try {
      import scala.jdk.CollectionConverters._
      val rs = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        .iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.matches("BENCH_r\\d+\\.json"))
        .toSeq.sortBy(f => f.replaceAll("\\D", "").toInt)
      rs.reverseIterator
        .flatMap { f =>
          val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
          decodeQueriesLine(raw, sfDir, names)
            .orElse(decodeWjLine(raw, sfDir, names))
        }
        .nextOption()
    } catch { case _: Throwable => None }

  private[graft] def decodeWjLine(
      raw: String, sfDir: String, names: Seq[String]): Option[Map[String, Double]] = {
    // the wj line sits JSON-escaped inside the artifact's "tail"
    // string; one unescape level exposes it (its own payload is
    // names + integers — nothing that re-escapes)
    val s = raw.replace("\\\"", "\"")
    val want = java.nio.file.Paths.get(sfDir).getFileName.toString
    val alpha = names.sorted
    val crc = new java.util.zip.CRC32
    crc.update(alpha.mkString(",").getBytes("UTF-8"))
    val wantNck = f"${crc.getValue & 0xffff}%04x"
    val lineRe = """"part":"wj"[^\n]*?"sf":"([^"]*)"""".r
    // any complete copy works (printFinal emits the line twice); scan
    // all and keep the first that passes every guard
    lineRe.findAllMatchIn(s).flatMap { m =>
      val line = s.substring(math.max(0, s.lastIndexOf('{', m.start)), m.end)
      def field(name: String): Option[String] =
        (""""""" + name + """":"([^"]*)"""").r.findFirstMatchIn(line).map(_.group(1))
      def arr(name: String): Option[Seq[Double]] =
        (""""""" + name + """":\[([-0-9.,]*)\]""").r.findFirstMatchIn(line)
          .map(_.group(1).split(',').toSeq.filter(_.nonEmpty).map(_.toDouble))
      for {
        sf <- field("sf") if sf.endsWith(want)
        nck <- field("nck") if nck == wantNck
        wenc <- field("wenc")
        w <- arr("w") if w.size == alpha.size
        scale = if (wenc == "cs") 0.01 else 1.0
      } yield alpha.zip(w.map(_ * scale)).toMap
    }.nextOption()
  }

  /** None unless the file exists, parses, and (when `sfDir` is given)
    * its recorded "sf" ends with the same directory name. */
  private def parse(path: String, sfDir: Option[String]): Option[Map[String, Double]] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isRegularFile(p)) return None
      val s = java.nio.file.Files.readString(p)
      sfDir.foreach { d =>
        val want = java.nio.file.Paths.get(d).getFileName.toString
        val m = """"sf":"([^"]*)"""".r.findFirstMatchIn(s)
        if (!m.exists(_.group(1).endsWith(want))) return None
      }
      val at = s.indexOf("\"queries\":{")
      if (at < 0) return None
      val start = at + "\"queries\":{".length
      val end = s.indexOf('}', start)
      if (end < 0) return None
      val re = """"([A-Za-z0-9_]+)":([0-9][0-9.]*)""".r
      val out = re.findAllMatchIn(s.substring(start, end))
        .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
      if (out.isEmpty) None else Some(out)
    } catch { case _: Throwable => None }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(3))
    val spark = GraftSession.build() // SPARK_GRAFT_CPUS or all cores

    // scheduler-timestamped job-duration accumulator (contention-immune
    // at the measurement layer: j.time is stamped by the DAGScheduler,
    // not by when the listener thread gets around to the event)
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.put(j.jobId, j.time)
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(j.jobId)).foreach(t0 => jobMs.addAndGet(j.time - t0))
    })
    def flush(): Unit = // drain queued events so counter reads are rep-aligned
      org.apache.spark.GraftSparkShim.flushListenerBus(spark.sparkContext)

    def sink(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // SPARK_GRAFT_BENCH_ONLY (r18, probe tool): comma-separated name
    // PREFIXES — run only matching queries, preserving suite order, for
    // in-context regression bisection (a full 163-query run takes ~1 h;
    // reproducing a context-dependent regression like r17's q131 needs
    // the queries that precede it, not a fresh BenchOne JVM). The
    // driver never sets it; when set, the artifact files are NOT
    // written (a subset total must never become a prior or a committed
    // BENCH_LATEST).
    val onlyPrefixes = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    val names = SparkEntry.queries.keys.toSeq.sorted match {
      case all => onlyPrefixes match {
        case Some(ps) => all.filter(n => ps.exists(n.startsWith))
        case None => all
      }
    }
    names.foreach { n => try sink(n) catch { case _: Throwable => () } } // warmup
    // A failed query must be visible in the JSON (VERDICT r2 #9): its
    // time-to-exception is not a benchmark number, so it reports under
    // "errors" and is excluded from the total rather than improving it.
    // INTERMITTENT failures (some reps fail, some pass) must be visible
    // too — the min still reports under "queries", but the error lands
    // in "errors" with a marker, so a flaky regression can never be
    // recorded as a silently healthy number.
    def timedRuns(name: String, count: Int)
        : (Seq[(Double, Double)], Option[String]) = {
      var firstErr: Option[String] = None
      val runs = (1 to count).flatMap { _ =>
        flush()
        val j0 = jobMs.get()
        val t0 = System.nanoTime()
        try {
          sink(name)
          val wall = (System.nanoTime() - t0) / 1e9
          flush()
          Some((wall, (jobMs.get() - j0) / 1e3))
        } catch {
          case e: Throwable =>
            if (firstErr.isEmpty)
              firstErr = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
            None
        }
      }
      (runs, firstErr)
    }
    // (name, successful (wall, job) pairs, first error any rep hit)
    val sessionResults: Seq[(String, Seq[(Double, Double)], Option[String])] =
      names.map { name =>
        val (runs, firstErr) = timedRuns(name, reps)
        val err = firstErr.map(m =>
          if (runs.isEmpty) m else s"intermittent (${runs.size}/$reps runs passed): $m")
        (name, runs.sortBy(_._1), err)
      }
    // SELF-HEALING protocol (VERDICT r15 "what's wrong" #2): any query
    // whose session min-wall moved >1.3× (and >0.2 s absolute — sub-
    // noise shifts on 0.1 s queries are not regressions) above the
    // PRIOR round's recorded artifact gets an automatic second
    // min-of-N re-measure at the END of the suite, when the box has
    // calmed and the suite's own churn is done. Both numbers land in
    // the artifact ("remeasured": {q: {prior, session, re}}), and the
    // recorded per-query number becomes the min over ALL its timed
    // runs — a real measurement either way — so the round verdict can
    // adjudicate apparent regressions from the artifact alone.
    val priorWalls: Map[String, Double] = BenchPrior.load(sfDir, names)
    val suspects = sessionResults.collect {
      case (name, runs, _) if runs.nonEmpty && priorWalls.get(name).exists(p =>
        runs.head._1 > p * 1.3 && runs.head._1 - p > 0.2) => name
    }
    val remeasuredRuns: Map[String, Seq[(Double, Double)]] =
      suspects.map { name => name -> timedRuns(name, reps)._1.sortBy(_._1) }.toMap
    val results: Seq[(String, Seq[(Double, Double)], Option[String])] =
      sessionResults.map { case (name, runs, err) =>
        remeasuredRuns.get(name) match {
          case Some(re) if re.nonEmpty =>
            (name, (runs ++ re).sortBy(_._1), err)
          case _ => (name, runs, err)
        }
      }
    // truncate BEFORE escaping (truncating after can cut an escape
    // sequence in half → invalid JSON), then escape every control char
    def jstr(s: String) = "\"" + s.take(200).flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ok = results.filter(_._2.nonEmpty) // ≥1 passing run → has a min
    // ms precision, not raw double repr: 17-char doubles made the r6
    // JSON line long enough to hit the driver's log cap, truncating the
    // recorded artifact. 0.001 s is far below box noise anyway.
    def f(t: Double): String = f"$t%.3f"
    // min-wall rep carries the pair: its job sum is the one that
    // explains (or indicts) that wall number
    val qs = ok.map { case (k, ts, _) => "\"" + k + "\":" + f(ts.head._1) }
      .mkString("{", ",", "}")
    val js = ok.map { case (k, ts, _) => "\"" + k + "\":" + f(ts.head._2) }
      .mkString("{", ",", "}")
    val runs = ok.map { case (k, ts, _) =>
      "\"" + k + "\":" + ts.map(p => f(p._1)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val jruns = ok.map { case (k, ts, _) =>
      "\"" + k + "\":" + ts.map(p => f(p._2)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = f(ok.map(_._2.head._1).sum)
    val jobTotal = f(ok.map(_._2.head._2).sum)
    // the self-healing record: prior wall, the session's min, and the
    // end-of-suite re-measure runs (wall seconds)
    val remeas = suspects.map { name =>
      val session = sessionResults.find(_._1 == name).get._2.head._1
      val re = remeasuredRuns.getOrElse(name, Seq.empty).map(p => f(p._1))
      "\"" + name + "\":{" +
        s""""prior":${f(priorWalls(name))},"session":${f(session)},""" +
        s""""re":${re.mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    // cross-round movers that SURVIVED the remeasure (VERDICT r16 #1:
    // flag, don't absorb): recorded min over ALL runs still >1.5× the
    // previous round's committed number. These are the rows the next
    // verdict must adjudicate (code regression vs box drift) — the
    // artifact names them instead of burying them in the totals.
    val moverEntries = ok.collect {
      case (name, ts, _) if priorWalls.get(name).exists(p =>
        ts.head._1 > p * 1.5 && ts.head._1 - p > 0.2) =>
        "\"" + name + s"""":{"prior":${f(priorWalls(name))},"final":${f(ts.head._1)}}"""
    }
    val movers = moverEntries.mkString("{", ",", "}")
    // Median alongside min (VERDICT r17 Next #9): the recorded per-query
    // number is a min over all runs (remeasure adds runs only to SLOW
    // movers, so upward noise is debiased and downward kept); the median
    // quantifies that one-sided bias. Full per-query medians ride the
    // artifact of record; "med_total" (sum of medians) rides every
    // headline so the verdict can see the min-taking effect from the
    // tail alone.
    def median(ts: Seq[(Double, Double)]): Double = {
      val ws = ts.map(_._1).sorted
      val n = ws.size
      if (n % 2 == 1) ws(n / 2) else (ws(n / 2 - 1) + ws(n / 2)) / 2
    }
    val meds = ok.map { case (k, ts, _) => "\"" + k + "\":" + f(median(ts)) }
      .mkString("{", ",", "}")
    val medTotal = f(ok.map { case (_, ts, _) => median(ts) }.sum)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","job_total":$jobTotal,"med_total":$medTotal,"reps":$reps,"queries":$qs,"queries_med":$meds,"job_s":$js,"runs":$runs,"job_runs":$jruns,"remeasured":$remeas,"cross_round_movers":$movers,"errors":$errs,"cpus":${spark.sparkContext.defaultParallelism},"sf":"$sfDir"}"""
    // The artifact of record goes to its OWN file (VERDICT r7 #4: the
    // r7 log-tail capture started mid-line and lost q1/q10-q29 from the
    // checked-in BENCH json). stdout keeps the line for humans; the
    // driver (or anyone) can pick up target/bench.json whole. A full run
    // also writes the committed prior for next round's self-healing
    // re-measure and its cpu-keyed copy (see BenchPrior.artifactPaths).
    BenchPrior.artifactPaths(subset = onlyPrefixes.isDefined,
        sys.env.get("SPARK_GRAFT_BENCH_OUT"), sfDir, spark.sparkContext.defaultParallelism)
      .foreach { p =>
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(path,
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    // stdout gets SHORT self-contained lines (VERDICT r10 #5: the
    // round-10 single ~3.5 KB compact line still exceeded the driver's
    // bounded capture — BENCH_r10's recorded tail starts AND ends
    // mid-line, i.e. the window is ~2 KB and not line-aligned at
    // either edge). Defense: split the per-query map alphabetically
    // into two ~0.8 KB lines, each a complete JSON object carrying the
    // headline total ("part" says which half of the map it holds), and
    // abbreviate query names to their qNN prefix (full names + raw
    // reps live in target/bench.json, the artifact of record). The
    // print order makes any 2000-byte tail window over the stream
    // contain at least one WHOLE copy of each half, wherever a byte
    // cap or tail boundary lands.
    val shortQs = ok.map { case (k, ts, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f(ts.head._1) }
    val (qa, qb) = shortQs.splitAt((shortQs.size + 1) / 2)
    def part(tag: String, entries: Seq[String]) =
      s"""{"metric":"total","value":$total,"unit":"sec","job_total":$jobTotal,"reps":$reps,"part":"$tag","queries":${entries.mkString("{", ",", "}")},"errors":$errs,"sf":"$sfDir"}"""
    val lineA = part("a/2", qa)
    val lineB = part("b/2", qb)
    // Per-query JOB seconds as their own part lines (VERDICT r12 #3:
    // the artifact must self-diagnose box contention). Printed FIRST
    // within each set: the capture window is a ~2 KB TAIL, so the
    // wall-time lines + headline — the primary numbers — stay inside
    // it, and the job lines survive in the driver's full log / in
    // target/bench.json when the window clips.
    val shortJs = ok.map { case (k, ts, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f(ts.head._2) }
    val (ja, jb) = shortJs.splitAt((shortJs.size + 1) / 2)
    def jpart(tag: String, entries: Seq[String]) =
      s"""{"metric":"job_total","value":$jobTotal,"unit":"sec","wall_total":$total,"reps":$reps,"part":"$tag","job_s":${entries.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    val lineJA = jpart("ja/2", ja)
    val lineJB = jpart("jb/2", jb)
    // A ~140-byte headline (VERDICT r11 #8) — no per-query map at all,
    // so even the smallest line-aligned capture window parses the
    // total; job_total rides it, making the global wall-vs-jobs
    // contention check possible from the headline alone.
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","job_total":$jobTotal,"med_total":$medTotal,"reps":$reps,"n_queries":${ok.size},"errors":$errs,"sf":"$sfDir"}"""
    // One DENSE line carrying BOTH per-query wall AND job seconds
    // inside the driver's 2000-byte tail capture (VERDICT r13 #1/#2:
    // the ja/jb job lines print ahead of the wall lines and were
    // clipped out of BENCH_r13's recorded tail, so per-query
    // contention still couldn't be adjudicated from the artifact).
    // Names are elided to fit: "w"/"j" are POSITIONAL over the
    // passing queries sorted alphabetically by full name — the same
    // order as every "queries"/"job_s" map in this file and in
    // target/bench.json (qNN spellings in parts a/b). SELF-DESCRIBING
    // since r15 (VERDICT r14 "what's wrong" #1): the line carries a
    // guard against name-set drift — "first"/"last" are the first and
    // last FULL names of the alpha order and "nck" is the CRC32 (low
    // 16 bits, hex) of the full alpha name list joined by "," — so a
    // decoder can verify its reconstruction of the positional arrays
    // against the correctness registry instead of trusting it.
    // 2 dp keeps ~155 queries ≈ 1.7 KB; if growth pushes the line past
    // the budget, "j" degrades to integer PERCENT of wall
    // ("jenc":"pct", job_s ≈ w * j / 100) before "w" loses precision.
    def fd(t: Double): String = f"$t%.2f"
    val nameGuard = {
      val crc = new java.util.zip.CRC32
      crc.update(ok.map(_._1).mkString(",").getBytes("UTF-8"))
      val first = ok.headOption.map(_._1).getOrElse("")
      val last = ok.lastOption.map(_._1).getOrElse("")
      f""""first":"$first","last":"$last","nck":"${crc.getValue & 0xffff}%04x""""
    }
    def dense(wArr: String, wenc: String, jArr: String, jenc: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","job_total":$jobTotal,"reps":$reps,"part":"wj","n_queries":${ok.size},"order":"alpha",$nameGuard,"wenc":"$wenc","jenc":"$jenc","w":$wArr,"j":$jArr,"sf":"$sfDir"}"""
    val wSec = ok.map { case (_, ts, _) => fd(ts.head._1) }.mkString("[", ",", "]")
    val jSec = ok.map { case (_, ts, _) => fd(ts.head._2) }.mkString("[", ",", "]")
    val jPct = ok.map { case (_, ts, _) =>
      val w = ts.head._1
      (if (w <= 0) 0L else math.round(ts.head._2 / w * 100)).toString
    }.mkString("[", ",", "]")
    // "wenc":"cs" = wall as integer CENTISECONDS (w[i]/100 = seconds):
    // the tightest self-described encoding before precision loss
    val wCs = ok.map { case (_, ts, _) =>
      math.round(ts.head._1 * 100).toString }.mkString("[", ",", "]")
    // budget: the whole guarded region — headline + dense + a SECOND
    // headline copy + sbt's trailing "[success] Total time ..." — must
    // fit the ~2000-byte tail window with slack left for the newline
    // pad, so every window start lands on an empty line: hence 1450
    val denseWJ = Seq(
      dense(wSec, "sec", jSec, "sec"),
      dense(wSec, "sec", jPct, "pct"),
      dense(wCs, "cs", jPct, "pct")).find(_.length <= 1450)
      .getOrElse(dense(wCs, "cs", jPct, "pct"))
    // PLAIN per-query line for the driver (VERDICT r17 Next #2: PERF_r17
    // had per_query:{} — the driver does not decode the positional wj
    // line, so per-query walls never reached it). One JSON object, qNN-
    // abbreviated names (the established lineA/lineB spelling; unique-
    // prefix-decodable against the registry), values in PLAIN SECONDS.
    // Precision adapts to the window budget: the capture is the last
    // 100 lines AND the last 2000 chars of stdout (measured across
    // BENCH_r10..r17), so the guarded region — this line + a trailing
    // headline + sbt's "[success]" line — must stay under ~1990 chars.
    // The line carries every headline field, so a first-line parser
    // reads it as the headline and a per-query extractor finds the map.
    def qLine(dp: Int, slim: Boolean): String = {
      def fq(t: Double): String = if (dp >= 2) f"$t%.2f" else f"$t%.1f"
      val entries = ok.map { case (k, ts, _) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + fq(ts.head._1) }
        .mkString("{", ",", "}")
      val moverPart =
        if (slim) s""""movers_n":${moverEntries.size}"""
        else s""""cross_round_movers":$movers"""
      val mid = if (slim) s""""reps":$reps""" else
        s""""job_total":$jobTotal,"med_total":$medTotal,"reps":$reps,"n_queries":${ok.size}"""
      s"""{"metric":"total","value":$total,"unit":"sec",$mid,"part":"queries","queries":$entries,$moverPart,"errors":$errs,"sf":"$sfDir"}"""
    }
    // guarded-region layout: best variant that fits the window with the
    // sbt success line (~80 chars) and newlines accounted for. Prefer
    // per-query precision, then a trailing headline copy (last-JSON-line
    // parsers); degrade to the r17 region (headline+dense+headline) only
    // if even the slim 1-dp line cannot fit (e.g. a long error map —
    // a broken round, where the headline matters more than per-query).
    val tailBudget = 1990 - 84
    val qCands = Seq(qLine(2, slim = false), qLine(1, slim = false), qLine(1, slim = true))
    val guardedLines: Seq[String] =
      qCands.find(q => q.length + headline.length + 2 <= tailBudget)
        .map(q => Seq(q, headline))
        .orElse(qCands.find(_.length + 1 <= tailBudget).map(Seq(_)))
        .getOrElse(Seq(headline, denseWJ, headline))
    // the pad is a RUN OF EMPTY LINES ahead of the guarded region: the
    // ~2 KB tail window starts mid-stream, and any non-empty pad line
    // (r15 used a ==== bar) leaves a first tail line that is a
    // fragment no parser accepts (BENCH_r15 "parsed": null). With
    // newlines, the ragged start lands on an EMPTY line, so the first
    // non-empty line of any tail window over this region is a complete
    // headline. build.sbt routes forked-run stdout RAW (no "[info] "
    // framing) for the same reason.
    val pad = "\n" * 2200
    def printFinal(): Unit = {
      println(lineJA); println(lineJB)
      println(lineA); println(lineB)
      // the dense wj line stays for cross-round positional decoding of
      // OLD artifacts and full-log consumers; pre-pad, it clips out of
      // the bounded tail in favor of the plain queries line
      println(headline); println(denseWJ)
      print(pad)
      guardedLines.foreach(println)
      Console.out.flush()
    }
    // print order = reverse priority: the verbose per-name lines clip
    // first; the pad + headline + dense + headline own the tail window.
    printFinal()
    // release the kn-gate's last persisted model table (ADVICE r16)
    graft.ops.TextOps.releaseKnCache()
    spark.stop()
    printFinal()
  }
}
