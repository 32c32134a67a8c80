package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit of DRIVER-SIDE materialization: every
  * `.collect()` in src/main must be a BOUNDED-METADATA collect
  * (centroids, codebooks, calendar rollups, transition matrices,
  * shortlists, schema/dim discovery, CLI presentation) — never corpus
  * rows. The audit pins the per-file call-site count: adding a collect
  * fails the build until the new site is reviewed and the pin updated
  * with its boundedness argument, which is how "no corpus rows ever
  * reach the driver" stays TRUE rather than aspirational as the
  * registry grows. (The plan-level complement lives in PlanAuditSpec;
  * this one catches the sites no registered query exercises.)
  */
class StaticAuditSpec extends AnyFunSuite {

  private val mainRoot = java.nio.file.Paths.get("src/main/scala")

  private def scalaFiles: Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(mainRoot)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  private def countIn(p: java.nio.file.Path, needle: String): Int = {
    val text = java.nio.file.Files.readString(p)
    var (n, i) = (0, text.indexOf(needle))
    while (i >= 0) { n += 1; i = text.indexOf(needle, i + 1) }
    n
  }

  // file -> reviewed .collect() call-site count; every entry's sites are
  // bounded metadata:
  //   Main            — CLI presentation of already-aggregated results
  //   ClosureExtractor— frontier COUNTS + config-query parameter tuples
  //                     + the fast-path limit-guarded take (one row
  //                     past fastPathBudget it aborts and hands its
  //                     last completed iteration to the distributed BFS)
  //   AnnIndex        — probe shortlist (k×nprobe rows)
  //   DedupQueries    — bm25-feedback doc shortlist (≤10 ids)
  //   EventQueries    — calendar rollup + attribution transition matrix
  //                     + burst-DP daily rollup (calendar-bounded)
  //   GraphQueries    — the literal-capped backbones for the driver
  //                     Kruskal (msf_backbone, ≤500 rows) and the
  //                     driver k-truss peel (k_truss, ≤2000 rows)
  //   KMeans          — k centroid sums per round (k = literal)
  //   SearchIndex     — query-term postings shortlist
  //   SimilarityQueries — centroids/codebooks/probe sets (literals)
  //   TextQueries     — merge tables / vocab shortlists (capped)
  //   ArtifactDiff    — per-table diff COUNTS
  //   JsonTableIO     — manifest rows (one per table)
  //   CoreQueries     — closure_delta + closure_delta_artifact baseline
  //                     KEY SETS (seed-bounded memos)
  //   OlapQueries     — pivot value discovery (|statuses| strings)
  private val collectPins: Map[String, Int] = Map(
    "graft/Main.scala" -> 4,
    "graft/closure/ClosureExtractor.scala" -> 3,
    "graft/ext/AnnIndex.scala" -> 1,
    "graft/ext/DedupQueries.scala" -> 1,
    "graft/ext/EventQueries.scala" -> 4,
    "graft/ext/GraphQueries.scala" -> 2,
    "graft/ext/KMeans.scala" -> 2,
    "graft/ext/SearchIndex.scala" -> 1,
    "graft/ext/SimilarityQueries.scala" -> 6,
    "graft/ext/TextQueries.scala" -> 5,
    "graft/io/ArtifactDiff.scala" -> 1,
    "graft/io/JsonTableIO.scala" -> 1,
    "graft/queries/CoreQueries.scala" -> 2,
    "graft/queries/OlapQueries.scala" -> 1)

  test("every driver-side .collect() site is pinned and reviewed") {
    val got = scalaFiles.map { p =>
      mainRoot.relativize(p).toString -> countIn(p, ".collect()")
    }.filter(_._2 > 0).toMap
    assert(got == collectPins,
      "collect() sites changed — review boundedness, then update the pin:\n" +
        (got.toSeq ++ collectPins.toSeq).distinct.sorted.mkString("\n"))
  }

  test("no unbounded driver-materialization idioms at all") {
    val banned = Seq(".collectAsList()", ".toLocalIterator", "rdd.collect")
    val hits = for {
      p <- scalaFiles; n <- banned if countIn(p, n) > 0
    } yield s"${mainRoot.relativize(p)}: $n"
    assert(hits.isEmpty, "banned driver-side idiom:\n" + hits.mkString("\n"))
  }

  private def filesWith(needle: String): Map[String, Int] =
    scalaFiles.map(p => mainRoot.relativize(p).toString -> countIn(p, needle))
      .filter(_._2 > 0).toMap

  // every entry point runs on Sessions.local(); a second builder or a
  // second SPARK_GRAFT_CPUS parse is how their settings drifted apart
  test("one session factory: SparkSession.builder only in Sessions") {
    assert(filesWith("SparkSession.builder") == Map(
      "graft/Sessions.scala" -> 1,
      // Scaladoc usage example for withExtensions, not a call
      "graft/functions/GraftExtensions.scala" -> 1))
  }

  test("SPARK_GRAFT_CPUS is read only by Sessions") {
    assert(filesWith("SPARK_GRAFT_CPUS").keySet == Set("graft/Sessions.scala"))
  }

  test("the closure fast-path budget has no env override") {
    assert(filesWith("GRAFT_CLOSURE_FAST_BUDGET").isEmpty)
  }

  // artifact and index commits share one atomic replace and one
  // recursive delete in graft.io; a second copy is how the manifest
  // writers drifted apart
  test("ATOMIC_MOVE only in the shared atomic replace") {
    assert(filesWith("ATOMIC_MOVE") == Map("graft/io/SegmentLog.scala" -> 1))
  }

  test("one recursive delete") {
    assert(filesWith("def deleteRecursively") ==
      Map("graft/io/SegmentLog.scala" -> 1))
  }

  test("no env-gated stderr tracers") {
    assert(filesWith("GRAFT_BFS_PROF").isEmpty)
    assert(filesWith("GRAFT_STREAM_PROF").isEmpty)
  }

  // Verify's per-query progress lines are the only stderr output
  test("System.err only in Verify") {
    assert(filesWith("System.err").keySet == Set("graft/Verify.scala"))
  }
}
