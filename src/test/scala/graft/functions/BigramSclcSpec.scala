package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native BigramSclc expression must agree exactly with (a) the
  * explode+groupBy histogram the DuckDB oracle runs, and (b) a direct
  * driver-side computation — on real corpus text and on adversarial
  * edge cases (repeats, multi-byte code points, supplementary-plane
  * characters where a UTF-16 char is NOT a code point).
  */
class BigramSclcSpec extends SparkSpec {

  private def referenceSclc(s: String): Long = {
    val cps = s.codePoints().toArray
    if (cps.length < 2) return 0L
    cps.sliding(2).map(w => (w(0), w(1))).toSeq.groupBy(identity).values
      .map { g =>
        val c = g.size.toLong
        c * math.floor(math.log(c.toDouble) * 1000000).toLong
      }.sum
  }

  test("expression == explode+groupBy histogram on the corpus") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 2)
    val viaExpr = docs
      .select(col("doc_id"), BigramSclc.bigramSclc(col("t")).as("sclc"))
    val viaGroupBy = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(expr(
        "c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)")).as("sclc"))
    val mismatches = viaExpr.as("a")
      .join(viaGroupBy.as("b"), Seq("doc_id"))
      .filter(col("a.sclc") =!= col("b.sclc")).count()
    assert(mismatches == 0)
    assert(viaExpr.count() > 0)
  }

  test("edge cases incl. supplementary-plane code points") {
    import spark.implicits._
    val cases = Seq(
      "aa", "ab", "aaaa", "abab", "the quick brown fox",
      "ééé", "日本語テキスト日本語",   // multi-byte BMP
      "a😀b😀a", // U+1F600 via surrogate pair
      "😀😀😀", // only supplementary cps
      " x  y ", "\t\n\t\n")
    val got = cases.toDF("t")
      .select(col("t"), BigramSclc.bigramSclc(col("t")).as("sclc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- cases)
      assert(got(s) == referenceSclc(s), s"mismatch for '$s'")
  }

  test("null and sub-bigram inputs") {
    import spark.implicits._
    val out = Seq(Some("a"), Some(""), None).toDF("t")
      .select(BigramSclc.bigramSclc(col("t")).as("sclc")).collect()
    assert(out(0).getLong(0) == 0L)
    assert(out(1).getLong(0) == 0L)
    assert(out(2).isNullAt(0))
  }
}
