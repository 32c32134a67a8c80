package graft.ext

import java.nio.file.Files
import graft.SparkSpec

/** [[SearchIndex]] must (1) return exactly what the oracle-gated
  * from-scratch `bm25_search` returns for the same terms/k, and (2)
  * actually prune — a search may only touch the query terms' hash
  * buckets, not the whole vocabulary.
  */
class SearchIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("hash", "join", "vector", "scan")

  private def docs = graft.Tables(spark, dir, "documents")
    .select("doc_id", "text")

  test("index search == from-scratch bm25_search; scan prunes to term buckets") {
    val idxDir = Files.createTempDirectory("search-idx").toString
    val n = SearchIndex.build(docs, idxDir)
    assert(n > 0)

    val got = SearchIndex.search(spark, idxDir, terms, k = 20)
    val want = TextQueries.bm25Search(spark, dir)
    assert(got.collect().map(_.toSeq).toSeq ==
      want.collect().map(_.toSeq).toSeq)

    // pruning proof: the executed scan over the index reads only the
    // buckets the 4 terms hash into (≤4 of 16), never every bucket
    val df = SearchIndex.search(spark, idxDir, terms, k = 20)
    df.collect()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan)
      .filter(_.metrics.contains("numFiles"))
    val idxScan = scans.filter(_.metadata.get("Location")
      .exists(_.contains("search-idx"))).head
    val filesRead = idxScan.metrics("numFiles").value
    val allFiles = Files.walk(java.nio.file.Paths.get(s"$idxDir/search_index"))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    assert(filesRead > 0 && filesRead < allFiles,
      s"no pruning: read $filesRead of $allFiles files")
    assert(idxScan.metadata.get("PartitionFilters").exists(_.contains("bucket")))
  }
}
