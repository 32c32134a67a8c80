package graft.ext

import graft.SparkSpec

/** The guarantee `split_leakage_safe` exists for: no near-duplicate
  * candidate pair may straddle a fold boundary (a per-doc hash split
  * can and does put near-copies of training docs into eval).
  */
class SplitLeakageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("no near-dup candidate pair straddles folds; every doc gets exactly one fold") {
    val split = DedupQueries.splitLeakageSafe(spark, dir)
      .select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.Tables(spark, dir, "documents").count()
    assert(split.size == docs, "every document must be assigned")
    assert(split.values.toSet.subsetOf(Set("train", "valid", "test")))

    val pairs = DedupQueries.minhashPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    assert(pairs.nonEmpty, "fixture must produce candidate pairs")
    val leaking = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(leaking.isEmpty, s"near-dup pairs across folds: ${leaking.take(5).toSeq}")

    // and the per-doc baseline split genuinely lacks the guarantee on
    // this fixture — otherwise this spec proves nothing
    val byDoc = split.keySet.map(d => d ->
      (if (java.lang.Long.hashCode(d) % 10 < 8) "train" else "eval")).toMap
    // (illustrative per-doc split: any doc-keyed hash has some straddling
    // pair unless all pairs collide by luck; tolerate the lucky case by
    // only warning through assert message when it fires)
    val straddling = pairs.count { case (a, b) => byDoc(a) != byDoc(b) }
    info(s"per-doc hash split would straddle $straddling of ${pairs.length} candidate pairs")
  }
}
