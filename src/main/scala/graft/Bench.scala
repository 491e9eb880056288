package graft

import graft.obs.{Census, Profile}

/** Prior-round per-query walls for [[Bench]]'s self-healing re-measure
  * (VERDICT r15 "what's wrong" #2). Provenance order (VERDICT r16
  * "what's wrong" #1 — the r16 prior was committed mid-session, so an
  * 18% cross-round level shift sailed through unremeasured):
  * the PREVIOUS ROUND's committed artifact (`BENCH_rNN.json`, highest
  * N whose `"part":"queries"` line — or, in the r13–r17 artifacts, the
  * dense positional "wj" line — matches this sf AND this exact
  * query-name set; a number measured by the DRIVER at round end, never
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
    def latest = parse(latestPath(sfDir), sfDir = None)
    def bootstrap = parse("target/bench.json", sfDir = Some(sfDir))
    latestRoundArtifact(sfDir, names).orElse(latest).orElse(bootstrap).getOrElse(Map.empty)
  }

  /** Decode the r18+ plain per-query tail line: `"part":"queries"` with
    * qNN-abbreviated names. Keys map back to full names by unique `qNN`
    * prefix against the registry; ambiguity or an unknown key rejects
    * the line (falls back to the wj decode / BENCH_LATEST) rather than
    * mis-attributing numbers. */
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
    * (JSON-escaped); its `"part":"queries"` line is tried first, then
    * the dense `"part":"wj"` line of the r13–r17 artifacts (no run
    * writes it any more), positional over the alpha-sorted passing query
    * names — the embedded "nck" CRC of the name list is the decode
    * guard, so a renamed/added/dropped query makes this source reject
    * itself rather than mis-attribute numbers (falls back to
    * BENCH_LATEST). */
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
    // any complete copy works (the r13–r17 tails carry it twice); scan
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

/** Benchmark main — a round's BENCH_r{N}.json records the tail of its
  * stdout; the whole result goes to the artifact of record.
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
  * ("job_s", scheduler-side timestamps from [[graft.obs.Census]]). Two
  * drift disputes in two rounds were adjudicated by hand because wall
  * time alone can't show box contention; now the artifact carries the
  * split. Reading it: wall ≈ jobs = executor-bound; wall ≫ jobs on a
  * query whose recorded baseline had wall ≈ jobs = the DRIVER/box was
  * contended (sbt, GC, co-tenants), not a code regression; jobs
  * themselves inflating with byte-identical code = executor-side
  * contention (CPU steal), also environment. Fixture-heavy queries
  * (per-request point lookups, zip streaming) legitimately run wall >
  * jobs — compare against the same query's recorded split, not against
  * zero.
  *
  * Stdout carries one encoding: a pad of empty lines, then the guarded
  * region of [[report]] — the plain `"part":"queries"` line and the
  * headline. The dense positional `"part":"wj"` line of r13–r17 is no
  * longer written; [[BenchPrior]] still reads it from those committed
  * artifacts.
  *
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated name prefixes) runs only
  * the matching queries, in suite order, writes no artifact, and prints
  * to stderr the census profile of each query's fastest rep: one line
  * per Spark job and per stage, the job-count profile that tells
  * small-job-overhead floors (q44) apart from data-volume costs. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(3))
    val spark = GraftSession.build() // SPARK_GRAFT_CPUS or all cores

    def sink(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // the subset exists for in-context regression bisection (a full
    // 163-query run takes ~1 h; reproducing a context-dependent
    // regression like r17's q131 needs the queries that precede it).
    // The driver never sets it; when set, the artifact files are NOT
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
    def timedRuns(name: String, count: Int): (Seq[(Double, Profile)], Option[String]) = {
      var firstErr: Option[String] = None
      val runs = (1 to count).flatMap { _ =>
        try Some(Census.measure(spark.sparkContext) {
          val t0 = System.nanoTime()
          sink(name)
          (System.nanoTime() - t0) / 1e9
        })
        catch {
          case e: Throwable =>
            if (firstErr.isEmpty)
              firstErr = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
            None
        }
      }
      (runs.sortBy(_._1), firstErr)
    }
    // (name, successful (wall, profile) reps fastest first, first error any rep hit)
    val sessionResults: Seq[(String, Seq[(Double, Profile)], Option[String])] =
      names.map { name =>
        val (runs, firstErr) = timedRuns(name, reps)
        val err = firstErr.map(m =>
          if (runs.isEmpty) m else s"intermittent (${runs.size}/$reps runs passed): $m")
        (name, runs, err)
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
    val remeasuredRuns: Map[String, Seq[(Double, Profile)]] =
      suspects.map { name => name -> timedRuns(name, reps)._1 }.toMap
    val results: Seq[(String, Seq[(Double, Profile)], Option[String])] =
      sessionResults.map { case (name, runs, err) =>
        (name, (runs ++ remeasuredRuns.getOrElse(name, Nil)).sortBy(_._1), err)
      }
    if (onlyPrefixes.isDefined)
      results.foreach { case (name, runs, _) =>
        runs.headOption.foreach { case (wall, p) =>
          profileLines(name, wall, p).foreach(System.err.println)
        }
      }
    val withJobSeconds = results.map { case (name, runs, err) =>
      (name, runs.map { case (wall, p) => (wall, p.jobMs / 1e3) }, err)
    }
    val remeasured = suspects.map { name =>
      (name, sessionResults.find(_._1 == name).get._2.head._1,
        remeasuredRuns(name).map(_._1))
    }
    val (json, guardedLines) = report(withJobSeconds, remeasured, priorWalls, reps, sfDir,
      cpus = spark.sparkContext.defaultParallelism)
    // The artifact of record goes to its OWN file (VERDICT r7 #4: the
    // r7 log-tail capture started mid-line and lost q1/q10-q29 from the
    // checked-in BENCH json): the driver (or anyone) can pick up
    // target/bench.json whole. A full run also writes the committed
    // prior for next round's self-healing re-measure and its cpu-keyed
    // copy (see BenchPrior.artifactPaths).
    BenchPrior.artifactPaths(subset = onlyPrefixes.isDefined,
        sys.env.get("SPARK_GRAFT_BENCH_OUT"), sfDir, spark.sparkContext.defaultParallelism)
      .foreach { p =>
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(path,
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    // the pad is a RUN OF EMPTY LINES ahead of the guarded region: the
    // ~2 KB tail window starts mid-stream, and any non-empty pad line
    // (r15 used a ==== bar) leaves a first tail line that is a
    // fragment no parser accepts (BENCH_r15 "parsed": null). With
    // newlines, the ragged start lands on an EMPTY line, so the first
    // non-empty line of any tail window over this region is a complete
    // line. build.sbt routes forked-run stdout RAW (no "[info] "
    // framing) for the same reason.
    val pad = "\n" * 2200
    def printFinal(): Unit = {
      print(pad)
      guardedLines.foreach(println)
      Console.out.flush()
    }
    // printed again after spark.stop(), so shutdown logging on stdout
    // cannot push the region out of the tail window
    printFinal()
    // release the kn-gate's last persisted model table (ADVICE r16)
    graft.ops.TextOps.releaseKnCache()
    spark.stop()
    printFinal()
  }

  /** One rep's census profile as stderr lines: a header, then one line
    * per job (duration, tasks, stage names) and one per stage. */
  private def profileLines(name: String, wall: Double, p: Profile): Seq[String] =
    f"PROFILE $name wall=$wall%.3f s jobs=${p.jobs.size} job_s=${p.jobMs / 1e3}%.3f" +:
      (p.jobs.map(j => f"JOBLOG ${j.id}%4d ${j.ms}%6d ms tasks=${j.tasks}  ${j.name.take(240)}") ++
        p.stages.map(s => f"STAGELOG ${s.id}%4d run=${s.runMs}%6d ms tasks=${s.tasks} " +
          f"exec=${s.executorRunMs} ms  ${s.name.take(80)}"))

  /** Renders a bench run: the artifact JSON and the guarded stdout
    * region printed after the pad.
    *
    * @param results    per query, its passing reps as (wall s, job s)
    *                   fastest first, and the first error any rep hit
    * @param remeasured per re-measured query, its session min wall and
    *                   the walls of its re-measure reps
    * @param priorWalls the prior round's walls ([[BenchPrior.load]]) */
  private[graft] def report(results: Seq[(String, Seq[(Double, Double)], Option[String])],
                            remeasured: Seq[(String, Double, Seq[Double])],
                            priorWalls: Map[String, Double], reps: Int, sfDir: String,
                            cpus: Int): (String, Seq[String]) = {
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
    val remeas = remeasured.map { case (name, session, re) =>
      "\"" + name + "\":{" +
        s""""prior":${f(priorWalls(name))},"session":${f(session)},""" +
        s""""re":${re.map(f).mkString("[", ",", "]")}}"""
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
    val json = s"""{"metric":"total","value":$total,"unit":"sec","job_total":$jobTotal,"med_total":$medTotal,"reps":$reps,"queries":$qs,"queries_med":$meds,"job_s":$js,"runs":$runs,"job_runs":$jruns,"remeasured":$remeas,"cross_round_movers":$movers,"errors":$errs,"cpus":$cpus,"sf":"$sfDir"}"""
    // A ~140-byte headline (VERDICT r11 #8) — no per-query map at all,
    // so even the smallest line-aligned capture window parses the
    // total; job_total rides it, making the global wall-vs-jobs
    // contention check possible from the headline alone.
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","job_total":$jobTotal,"med_total":$medTotal,"reps":$reps,"n_queries":${ok.size},"errors":$errs,"sf":"$sfDir"}"""
    // PLAIN per-query line for the driver (VERDICT r17 Next #2). One JSON
    // object, names abbreviated to their qNN prefix (unique-prefix-
    // decodable against the registry; full names + raw reps live in the
    // artifact of record), values in PLAIN SECONDS. Precision adapts to
    // the window budget: the capture is the last 100 lines AND the last
    // 2000 chars of stdout (measured across BENCH_r10..r17), so the
    // guarded region — this line + a trailing headline + sbt's
    // "[success]" line — must stay under ~1990 chars. The line carries
    // every headline field, so a first-line parser reads it as the
    // headline and a per-query extractor finds the map.
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
    // parsers); degrade to the headline alone if even the slim 1-dp line
    // cannot fit (e.g. a long error map — a broken round, where the
    // headline matters more than per-query).
    val qCands = Seq(qLine(2, slim = false), qLine(1, slim = false), qLine(1, slim = true))
    val guardedLines: Seq[String] =
      qCands.find(q => q.length + headline.length + 2 <= TailBudget)
        .map(q => Seq(q, headline))
        .orElse(qCands.find(_.length + 1 <= TailBudget).map(Seq(_)))
        .getOrElse(Seq(headline))
    (json, guardedLines)
  }

  /** Chars of the guarded region, newlines included, that fit the
    * ~2000-char stdout tail capture with sbt's trailing "[success]"
    * line (~80 chars) and slack. */
  private[graft] val TailBudget = 1990 - 84
}
