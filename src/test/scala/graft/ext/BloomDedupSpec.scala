package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The one-sided-error contract of [[DedupQueries.dedupBloom]] and the
  * [[graft.functions.BloomMightContain]] broadcast expression: zero
  * false negatives (structural — a true duplicate always flags), and a
  * false-positive rate in the neighbourhood of the builder's fpp.
  */
class BloomDedupSpec extends SparkSpec {

  test("dedup_bloom: no false negatives, bounded false positives") {
    val rows = DedupQueries.dedupBloomRaw(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // structural: every actual duplicate must be flagged (assert_true in
    // the query would have aborted otherwise — re-check the rows anyway)
    assert(rows.forall { case (_, likely, actually) => !actually || likely })
    // false positives: among genuinely-new docs, flags should stay near
    // the 1% build fpp; 10% is a generous ceiling that still catches a
    // broken hash path (which would flag ~everything or ~nothing)
    val newDocs = rows.filter(!_._3)
    val fp = newDocs.count(_._2).toDouble / math.max(newDocs.size, 1)
    assert(fp <= 0.10, s"false-positive rate $fp exceeds ceiling")
  }

  test("BloomMightContain agrees with the sketch on members and codegen path runs") {
    import spark.implicits._
    val members = (1 to 1000).map(i => s"member-$i")
    val bf = members.toDF("s").stat.bloomFilter("s", 1000, 0.01)
    val probe = ((1 to 1000).map(i => (s"member-$i", true)) ++
      (1 to 1000).map(i => (s"absent-$i", false))).toDF("s", "expected")
    val got = probe.withColumn("hit",
        graft.functions.BloomMightContain.might_contain(spark, bf, col("s")))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    // all members hit (no false negatives)
    assert(got.filter(_._2).forall(_._3))
    // absent strings mostly miss (≤10% false positives at fpp=1%)
    val absent = got.filter(!_._2)
    assert(absent.count(_._3).toDouble / absent.size <= 0.10)
  }

  test("BloomMightContain supports long keys and nulls") {
    import spark.implicits._
    val bf = (1L to 500L).toDF("k").stat.bloomFilter("k", 500, 0.01)
    val got = Seq[java.lang.Long](7L, 100000L, null).toDF("k")
      .withColumn("hit",
        graft.functions.BloomMightContain.might_contain(spark, bf, col("k")))
      .collect()
    assert(got(0).getBoolean(1))            // member hits
    assert(got.exists(_.isNullAt(1)) || !got(2).getBoolean(1)) // null in → null out
    assert(got(2).isNullAt(1))
  }
}
