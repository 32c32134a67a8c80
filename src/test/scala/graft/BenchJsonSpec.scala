package graft

import org.scalatest.funsuite.AnyFunSuite

/** A broken bench query must surface as an "errors" entry — never as a
  * silently-recorded near-zero timing.
  */
class BenchJsonSpec extends AnyFunSuite {

  test("failed query lands in errors, not queries/total") {
    val json = Bench.renderJson(Seq(
      ("good", 1.5, None),
      ("broken", 0.01, Some("""java.lang.RuntimeException: boom "quoted"""")),
      ("fine", 0.5, None)), "/sf")
    assert(json.contains(""""good":1.500"""))
    assert(json.contains(""""value":2.000""")) // broken's 0.01 excluded
    assert(!json.contains(""""broken":0.01"""))
    assert(json.contains(""""errors":{"broken":"java.lang.RuntimeException: boom \"quoted\""}"""))
  }

  test("all-green run emits no errors field") {
    val json = Bench.renderJson(Seq(("q", 1.0, None)), "/sf")
    assert(!json.contains("errors"))
    assert(json.contains(""""q":1.000"""))
  }

  test("runs count is recorded and median is the middle timing") {
    assert(Bench.median(Seq(6.9, 1.5, 1.4)) == 1.5)
    assert(Bench.median(Seq(2.0, 1.0)) == 1.5)
    assert(Bench.median(Seq(3.0)) == 3.0)
    val json = Bench.renderJson(Seq(("q", 1.0, None)), "/sf", runs = 3)
    assert(json.contains(""""runs":3"""))
  }

  test("total is the LAST key — survives the driver's tail-only capture") {
    // the round artifact keeps ~2000 trailing chars of stdout; with 100+
    // queries a leading total is truncated away (this lost the r7 total)
    val json = Bench.renderJson(
      (1 to 150).map(i => (f"q$i%03d", 1.0, None)), "/sf", runs = 3)
    val tail = json.takeRight(120)
    assert(tail.contains("\"metric\":\"total\""))
    assert(tail.contains("\"value\":150.0"))
    assert(tail.contains("\"n_queries\":150"))
    assert(json.endsWith("}"))
  }

  test("canary block renders in the tail region, ratio = last/first") {
    val json = Bench.renderJson(
      (1 to 150).map(i => (f"q$i%03d", 1.0, None)), "/sf", runs = 3,
      canary = Some(Bench.Canary(2.0, Some(2.5), 0)))
    val tail = json.takeRight(200)
    assert(tail.contains(""""canary_first":2.000"""))
    assert(tail.contains(""""canary_last":2.500"""))
    assert(tail.contains(""""canary_ratio":1.250"""))
    // zero errors → no canary_errors key (tail budget)
    assert(!json.contains("canary_errors"))
    // total still the LAST key
    assert(json.takeRight(40).contains("\"value\":150.0"))
    // canary-less render (filtered runs) omits the fields entirely
    assert(!Bench.renderJson(Seq(("q", 1.0, None)), "/sf").contains("canary"))
  }

  test("a failed canary run surfaces as canary_errors, not a deflated sum") {
    val json = Bench.renderJson(Seq(("q", 1.0, None)), "/sf", runs = 2,
      canary = Some(Bench.Canary(1.8, Some(2.1), 1)))
    assert(json.contains(""""canary_errors":1"""))
    assert(json.contains(""""canary_first":1.800"""))
    // first-block-only canary (checkpoint line) renders without last/ratio
    val ckpt = Bench.renderJson(Seq(("q", 1.0, None)), "/sf", runs = 2,
      canary = Some(Bench.Canary(1.8, None, 0)))
    assert(ckpt.contains(""""canary_first":1.800"""))
    assert(!ckpt.contains("canary_last") && !ckpt.contains("canary_ratio"))
  }

  test("mid-run checkpoint line carries partial+pass in the tail, total last") {
    // a killed bench must leave a parseable per-pass line in the driver's
    // ~2000-char stdout tail (r14's kill left only log spam, no number)
    val json = Bench.renderJson(
      (1 to 150).map(i => (f"q$i%03d", 1.0, None)), "/sf", runs = 2,
      canary = Some(Bench.Canary(2.0, None, 0)), partialPass = Some(1))
    val tail = json.takeRight(160)
    assert(tail.contains(""""partial":true"""))
    assert(tail.contains(""""pass":1"""))
    assert(json.takeRight(60).contains("\"metric\":\"total\""))
    assert(json.takeRight(40).contains("\"value\":150.0"))
    // the certified final line never carries the flag
    assert(!Bench.renderJson(Seq(("q", 1.0, None)), "/sf").contains("partial"))
  }

  test("timings render at exactly 3 dp — the tail-budget contract") {
    val json = Bench.renderJson(Seq(
      ("a", 0.740762124, None), ("b", 10.043765014, None)), "/sf")
    assert(json.contains(""""a":0.741"""))
    assert(json.contains(""""b":10.044"""))
    // no full-precision double leaks into the line
    assert(!json.contains("0.740762124"))
  }

  test("BENCH_LOCAL write is opt-in: full suite AND the env flag") {
    // the driver's own full-suite gate run executes unfiltered in the
    // repo dir — at r15 it silently replaced the committed min-of-N
    // record. Only an explicit SPARK_GRAFT_BENCH_LOCAL=1 full run may
    // touch the committed file.
    val flagOn = Map("SPARK_GRAFT_BENCH_LOCAL" -> "1")
    assert(Bench.shouldWriteLocal(fullSuite = true, flagOn.get))
    // driver-style run: full suite, no flag → no write
    assert(!Bench.shouldWriteLocal(fullSuite = true, Map.empty[String, String].get))
    // filtered iteration run never writes, flag or not
    assert(!Bench.shouldWriteLocal(fullSuite = false, flagOn.get))
    // only the literal "1" opts in
    assert(!Bench.shouldWriteLocal(fullSuite = true,
      Map("SPARK_GRAFT_BENCH_LOCAL" -> "true").get))
  }

  test("sidecar mirrors the contract line verbatim and never throws") {
    // BENCH_r15's contract line was decapitated by the driver's
    // 2000-char stdout tail capture; the unconditional BENCH_OUT.json
    // sidecar is the armor — the full line must land on disk verbatim
    val json = Bench.renderJson(Seq(("q", 1.0, None)), "/sf")
    val tmp = java.nio.file.Files.createTempDirectory("bench-sidecar")
    try {
      Bench.writeSidecar(json, tmp)
      assert(java.nio.file.Files.readString(tmp.resolve("BENCH_OUT.json"))
        == json + "\n")
      // best-effort: an unwritable target (read-only checkout) must not
      // fail the bench
      Bench.writeSidecar(json, tmp.resolve("missing/nested/dir"))
    } finally {
      java.nio.file.Files.deleteIfExists(tmp.resolve("BENCH_OUT.json"))
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("both output files resolve through one directory: property, else user.dir") {
    val dir = (m: Map[String, String]) => Bench.outputDir(m.get)
    // an explicit directory wins over the working directory
    assert(dir(Map(Bench.OutputDirProperty -> "/out", "user.dir" -> "/cwd")) ==
      java.nio.file.Paths.get("/out"))
    // unset: the working directory, as before
    assert(dir(Map("user.dir" -> "/cwd")) == java.nio.file.Paths.get("/cwd"))
    assert(dir(Map.empty) == java.nio.file.Paths.get("."))
    // main() resolves both files through this one helper: the helper is
    // the only reader of user.dir
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala"))
    assert(src.split("\"user.dir\"", -1).length - 1 == 1)
  }

  test("rendered line is parseable JSON (driver ingests it verbatim)") {
    // minimal structural check without a JSON lib: balanced braces and the
    // escape rules keep quotes paired
    val json = Bench.renderJson(Seq(
      ("a", 0.1, None), ("b", 0.2, Some("msg with \"quote\" and \\slash"))), "/sf")
    assert(json.count(_ == '{') == json.count(_ == '}'))
    assert(json.count(_ == '"') % 2 == 0)
  }
}
