package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // ERROR, not WARN: the driver's round artifact keeps only a ~2000-char
    // stdout TAIL, and at WARN the pinned global-window queries emit enough
    // `WindowExec: No Partition Defined` lines per pass to crowd every byte
    // of diagnostic JSON out of a partial/killed run's tail (a killed
    // run's rc=124 tail was 100% WindowExec spam). The JSON lines below are the only
    // stdout this process should produce.
    spark.sparkContext.setLogLevel("ERROR")
    // warmup absorbs JVM/codegen/parquet-footer startup cost so the
    // recorded per-query numbers approximate steady state: one scan-agg
    // query, plus the closure at the smallest sf (the BFS compiles many
    // unique plan shapes; first-run codegen otherwise lands on whichever
    // closure query sorts first)
    // noop sink executes the FULL physical plan — count() lets Catalyst
    // prune every projection, so a narrow scan→project query would be
    // timed as scan-only (this hid a 100× projection bug in simhash)
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // sf0.001 warmups compile the two iterative families' plan shapes
    // (BFS semi/anti joins; signature pipeline + CC label rounds) so
    // first-use codegen doesn't bill to whichever query sorts first.
    // One try PER warmup: a failure in one must not skip the others.
    def warm(q: String, dir: String): Unit =
      try SparkEntry.queries.get(q).foreach(f => run(f(spark, dir)))
      catch { case NonFatal(_) => () }
    warm("q1_agg", sfDir)
    warm("closure_extract", "/root/testdata/sf0.001")
    warm("dedup_clusters", "/root/testdata/sf0.001")
    spark.catalog.clearCache()
    // optional comma-separated query filter for local iteration; the
    // driver sets no filter and measures the full suite
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // n separated passes per query, MIN recorded: single-shot timings on a
    // busy host showed ≥2× per-query swings round-over-round that were pure
    // scheduling noise (minhash_pairs once recorded 6.9 s; re-measured
    // warm it is 1.5 s on the same code).
    // floored at 1: runs=0 would make min() throw on an empty sequence and
    // abort the whole suite.
    // DEFAULT 2 (was 3): at 310 queries the 3-pass suite's wall cost
    // outgrew the ~3600 s budget of a gate run (a 3-pass run was killed at
    // the hour mark with no JSON). Min-of-2 still discards one stalled
    // pass, and the canary block now answers the drift-vs-regression
    // question the third pass used to buy. Recorded numbers stay
    // comparable with the 142 s baseline: every recorded sample is
    // still a WARM min.
    // a typo'd value must name the variable, not abort after the warmups
    // with a bare NumberFormatException
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { s =>
        try s.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_BENCH_RUNS must be an integer pass count, got '$s'")
        }
      }.getOrElse(2))
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Two properties the recorded number must have, and how each is won:
    //
    // WARM — every timed run is immediately preceded by an UNTIMED
    // warmup of the same query. Spark's generated-class cache holds 100
    // plans and the JIT code cache is bounded, so nothing stays warm
    // across a 260+-query sweep; a fully interleaved timed sweep (tried
    // once) measured every query cold and inflated the suite a
    // uniform ~2.2× (word_counts 0.15→0.43 s with zero code diff) —
    // incomparable with the warm-recorded baseline the gate is set
    // against. Warmth must be re-established per query, right before
    // its timed run. WALL-BUDGET EXCEPTION: in passes ≥2, a query
    // whose best earlier-pass sample is already < WarmSkipSecs runs
    // timed-only. Pass 1 always produced one warm sample for it, so the
    // recorded MIN is warm regardless of how cold the later sample runs;
    // the ~200-query sub-second tail is half the suite's executions but
    // ~15% of its seconds, so this halves tail wall cost at zero
    // recorded-number risk.
    //
    // STALL-ROBUST — the suite runs as `runs` SEPARATED full passes,
    // and the recorded value is the MIN of a query's warm samples
    // across passes. Back-to-back samples share any transient host
    // stall: corr_matrix once recorded 25.8 s on all three
    // consecutive runs, and the identical code re-benched at 1.44 s
    // the next time. With passes minutes apart a stall lands in at most one
    // sample, and min — the standard interference-free estimator —
    // discards it. A consistent regression shows in BOTH samples, so
    // min still reports it.
    // HOST-DRIFT CANARY: a pinned 6-query block (diverse cheap plan
    // shapes: scan-agg, projection, text agg, top-k window, json,
    // running window) timed warm BEFORE the first pass and AFTER the
    // last. The code under the canary never changes within a session,
    // so canary_ratio = last/first is a pure host-speed signal: a
    // suite total that moved together with the canary is drift, one
    // that moved against a flat canary is a regression. The gate
    // number once moved 181→246→265 s across runs of an UNCHANGED tree;
    // this puts the disambiguating number in the artifact itself.
    val WarmSkipSecs = 0.5
    def timedWarm(name: String, block: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      // guide §1.5: label jobs so a UI/event-log reader can map stages
      // back to queries (thread-local; zero cost otherwise). The block
      // ("first"/"last") and phase (":warm"/":timed") land in the label
      // so an event-log reader can tell exactly which jobs produced the
      // recorded canary sums — an unphased label made warmups and the
      // two blocks indistinguishable.
      spark.sparkContext.setJobDescription(s"canary:$block:$name:warm")
      spark.catalog.clearCache()
      try run(fn(spark, sfDir)) catch { case NonFatal(_) => () }
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"canary:$block:$name:timed")
      val t0 = System.nanoTime()
      // a FAILED canary run must not contribute its near-zero elapsed
      // time to the block sum — that silently deflates one side of
      // canary_ratio and degrades the drift signal with no trace in the
      // artifact. None here excludes the query from BOTH blocks (the
      // ratio must compare identical work) and bumps canary_errors.
      try { run(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(_) => None }
    }
    def canaryBlock(block: String): Map[String, Option[Double]] =
      try CanaryQueries.filter(SparkEntry.queries.contains)
        .map(n => n -> timedWarm(n, block)).toMap
      // scope the labels to the block: jobs run after it (sweeps,
      // record writes) must not inherit the last canary's label
      finally spark.sparkContext.setJobDescription(null)
    val canaryFirst: Option[Map[String, Option[Double]]] =
      if (only.isEmpty) Some(canaryBlock("first")) else None
    def mkCanary(first: Map[String, Option[Double]],
                 last: Option[Map[String, Option[Double]]]): Canary = {
      val firstOk = first.collect { case (k, Some(v)) => k -> v }
      last match {
        case None =>
          Canary(firstOk.values.sum, None, first.size - firstOk.size)
        case Some(l) =>
          val lastOk = l.collect { case (k, Some(v)) => k -> v }
          // the ratio must compare identical work: a query that failed
          // in EITHER block is excluded from BOTH sums; canary_errors
          // counts the failed runs themselves
          val common = firstOk.keySet intersect lastOk.keySet
          Canary(common.toSeq.map(firstOk).sum,
                 Some(common.toSeq.map(lastOk).sum),
                 (first.size - firstOk.size) + (l.size - lastOk.size))
      }
    }
    def results(sweeps: Seq[Map[String, (Double, Option[String])]]) =
      queryList.map { case (name, _) =>
        val samples = sweeps.map(_(name))
        // any failed run fails the query — a flaky query must not hide
        // behind a clean min
        (name, samples.map(_._1).min, samples.flatMap(_._2).headOption)
      }
    var sweeps = Seq.empty[Map[String, (Double, Option[String])]]
    (1 to runs).foreach { pass =>
      // error samples are excluded: a query that FAILED fast (<0.5 s) in
      // pass 1 must not be warm-skipped in later passes — if the failure
      // was transient, its only successful sample would then be cold and
      // the artifact would carry a cold-outlier number for it
      val bestSoFar: Map[String, Double] =
        sweeps.flatten.collect { case (n, (t, None)) => (n, t) }
          .groupMapReduce(_._1)(_._2)(math.min)
      val sweep = queryList.map { case (name, fn) =>
        val skipWarm = pass > 1 && bestSoFar.get(name).exists(_ < WarmSkipSecs)
        // warmup and timed run each pay their own reads: no cached
        // tables/views leak from one into the other
        spark.catalog.clearCache()
        if (!skipWarm) {
          spark.sparkContext.setJobDescription(s"bench:$name:warm")
          try run(fn(spark, sfDir)) catch { case NonFatal(_) => () }
          spark.catalog.clearCache()
        }
        // :timed vs :warm in the label so an event-log reader can tell
        // which jobs contributed to the recorded sample
        spark.sparkContext.setJobDescription(s"bench:$name:timed")
        val t0 = System.nanoTime()
        val err = try { run(fn(spark, sfDir)); None }
                  catch { case NonFatal(e) => Some(e.toString.takeWhile(_ != '\n').take(200)) }
        name -> (((System.nanoTime() - t0) / 1e9, err))
      }.toMap
      // scope the per-query labels to the sweep: anything run after it
      // must not inherit the alphabetically-last query's label
      spark.sparkContext.setJobDescription(null)
      sweeps :+= sweep
      // checkpoint: a killed run must still leave a parseable number in
      // the captured stdout tail (a killed run once left only log spam). One
      // full JSON line per completed pass, flagged "partial" so the
      // driver/judge can't mistake it for the certified total; the real
      // final line below is always printed last.
      if (pass < runs)
        println(renderJson(results(sweeps), sfDir, runs,
          canaryFirst.map(mkCanary(_, None)), partialPass = Some(pass)))
    }
    val canary = canaryFirst.map(first => mkCanary(first, Some(canaryBlock("last"))))
    val json = renderJson(results(sweeps), sfDir, runs, canary)
    println(json)
    // Tail-truncation armor: the round
    // artifact keeps only a ~2000-char stdout TAIL, and sbt's [success]
    // epilogue prints AFTER this process exits — a tail capture can
    // decapitate the contract line (it did to BENCH_r15.json, costing
    // the next round its whole per-query PERF comparison). Mirror the final line
    // UNCONDITIONALLY to a scratch sidecar (BENCH_OUT.json — never the
    // committed, opt-in BENCH_LOCAL record) so the full line survives
    // any stdout truncation. Best-effort, like the record write.
    writeSidecar(json, outputDir(sys.props.get))
    // The driver's round artifact keeps only a ~2000-char stdout TAIL —
    // at 260+ queries most per-query entries fall off it (one run lost
    // all entries before 'r'). The repo-local copy is the durable record:
    // committed per round, it keeps round-over-round per-query
    // comparison possible from git history alone. Best-effort — a
    // read-only checkout must not fail the bench. FILTERED runs
    // (SPARK_GRAFT_BENCH_ONLY set) never touch it: a 2-query iteration
    // sweep must not clobber the committed full-suite record (it did,
    // twice — an sf1 sweep overwrote the reference).
    // OPT-IN ONLY: the write additionally requires
    // SPARK_GRAFT_BENCH_LOCAL=1 — the DRIVER's own full-suite gate run
    // executes in the repo dir with no filter, and once it silently
    // replaced the committed min-of-N record with its own
    // single-conditions number (provenance lost). The builder sets the
    // flag when promoting a run to the durable record; every other
    // invocation leaves the committed file untouched.
    if (shouldWriteLocal(only.isEmpty, sys.env.get))
      try java.nio.file.Files.writeString(
        outputDir(sys.props.get).resolve("BENCH_LOCAL.json"), json + "\n")
      catch { case NonFatal(_) => () }
    spark.stop()
  }

  /** JVM system property naming the directory the bench writes its
    * BENCH_OUT.json sidecar and BENCH_LOCAL.json record to. */
  val OutputDirProperty = "graft.bench.outputDir"

  /** Directory of both bench output files: [[OutputDirProperty]] when
    * set, else the working directory (`user.dir`). A forked or relocated
    * JVM can have a working directory outside the checkout, so a run
    * that must write into the checkout names it explicitly. `props`
    * reads system properties (a parameter so BenchJsonSpec can pin the
    * resolution without setting them).
    */
  def outputDir(props: String => Option[String]): java.nio.file.Path =
    java.nio.file.Paths.get(
      props(OutputDirProperty).orElse(props("user.dir")).getOrElse("."))

  /** Whether this run may overwrite the repo-local BENCH_LOCAL.json
    * record: only a FULL suite (no SPARK_GRAFT_BENCH_ONLY filter) that
    * EXPLICITLY opted in with SPARK_GRAFT_BENCH_LOCAL=1. Extracted so
    * BenchJsonSpec can pin both guards without running a suite.
    */
  def shouldWriteLocal(fullSuite: Boolean, env: String => Option[String]): Boolean =
    fullSuite && env("SPARK_GRAFT_BENCH_LOCAL").contains("1")

  /** Best-effort unconditional mirror of the final JSON contract line to
    * `<dir>/BENCH_OUT.json` — the tail-truncation armor. Scratch output
    * (overwritten every run, filtered or full), distinct from the
    * committed opt-in BENCH_LOCAL record; a read-only checkout must not
    * fail the bench, so write errors are swallowed. Extracted so
    * BenchJsonSpec can pin the write and the swallow without a suite.
    */
  def writeSidecar(json: String, dir: java.nio.file.Path): Unit =
    try java.nio.file.Files.writeString(
      dir.resolve("BENCH_OUT.json"), json + "\n")
    catch { case NonFatal(_) => () }

  /** The pinned drift-canary block: cheap, stable, shape-diverse
    * registry queries. MUST stay fixed across rounds — the cross-round
    * comparability of canary seconds is the whole point.
    */
  val CanaryQueries: Seq[String] = Seq(
    "q1_agg", "scalar_funcs", "word_counts",
    "topk_per_group", "json_extract", "window_running")

  /** Canary summary: block-sum before the first pass, optionally after
    * the last, and how many canary runs errored (errored queries are
    * excluded from BOTH sums so the ratio compares identical work).
    */
  final case class Canary(first: Double, last: Option[Double], errors: Int)

  /** One JSON result line. A failed query must NOT masquerade as a
    * near-zero timing: it goes into "errors" and is excluded from
    * "queries" and the total (BenchJsonSpec pins this).
    *
    * Key order matters for the DRIVER'S ARTIFACT, not the parser: the
    * round record keeps only the tail of stdout, so with 100+ per-query
    * entries a leading `"value"` gets truncated out of the certified
    * file. The headline total therefore comes LAST — the tail always
    * contains `..."metric":"total","value":N}` (BenchJsonSpec pins it).
    * Mid-run checkpoint lines carry `"partial":true,"pass":k` in the
    * same tail region for the same reason.
    */
  def renderJson(results: Seq[(String, Double, Option[String])], sfDir: String,
                 runs: Int = 1, canary: Option[Canary] = None,
                 partialPass: Option[Int] = None): String = {
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    // 3 dp: sub-millisecond digits are pure noise on a shared host, and
    // every digit costs tail budget in the driver's truncated capture
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val ok = results.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val errsJson =
      if (results.exists(_._3.nonEmpty))
        results.collect { case (k, _, Some(m)) => s"\"" + k + "\":\"" + esc(m) + "\"" }
          .mkString(""","errors":{""", ",", "}")
      else ""
    // canary lands in the TAIL region (after the per-query map) so the
    // driver's truncated capture keeps it alongside the total
    val canaryJson = canary.fold("") { c =>
      val lastPart = c.last.fold("") { l =>
        val ratio = if (c.first > 0) l / c.first else 1.0
        s""","canary_last":${r3(l)},"canary_ratio":${r3(ratio)}"""
      }
      val errPart = if (c.errors > 0) s""","canary_errors":${c.errors}""" else ""
      s""","canary_first":${r3(c.first)}$lastPart$errPart"""
    }
    val partialJson =
      partialPass.fold("")(p => s""","partial":true,"pass":$p""")
    s"""{"queries":$qs$errsJson,"sf":"$sfDir","runs":$runs$canaryJson$partialJson,"n_queries":${ok.size},"unit":"sec","metric":"total","value":${r3(total)}}"""
  }
}
