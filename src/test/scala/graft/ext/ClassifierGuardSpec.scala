package graft.ext

import graft.SparkSpec

/** Degenerate-input guard for the classifier family: a zero-word
  * document (empty or whitespace-only text) divides the logit by
  * 2·n_words·1000 — unguarded, Spark's `div` returns NULL while the
  * DuckDB oracle's `//` ERRORS, the cross-engine divergence class the
  * r13 session swept elsewhere (kendall_tau, attribution_shapley).
  * The `greatest(denominator, 1)` guard must make every such document
  * score an exact 0 (logit_millis over no words is 0) in all four
  * consumers of the shared logit expression.
  */
class ClassifierGuardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-clsguard-").toString
    Seq(
      (1L, "", "en", "s1", 0L),
      (2L, "   ", "fr", "s1", 3L),
      (3L, "some ordinary english words here", "en", "s2", 32L),
      (4L, "plus encore de mots ordinaires", "fr", "s2", 30L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("zero-word docs score an exact 0 logit, never NULL") {
    val out = TextQueries.qualityClassifier(spark, dir)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L).foreach { id =>
      val r = byId(id)
      assert(!r.isNullAt(r.fieldIndex("logit")), s"doc $id logit NULL")
      assert(r.getDouble(r.fieldIndex("logit")) == 0.0, s"doc $id logit != 0")
    }
  }

  test("auc, lift curve, and calibration run NULL-free over zero-word docs") {
    val auc = TextQueries.classifierAuc(spark, dir).collect()
    assert(auc.nonEmpty && auc.forall(r => !r.anyNull), auc.mkString(","))
    val lift = TextQueries.liftCurve(spark, dir).collect()
    assert(lift.length == 5 && lift.forall(r => !r.anyNull), lift.mkString(","))
    val cal = TextQueries.classifierCalibration(spark, dir).collect()
    assert(cal.nonEmpty && cal.forall(r => !r.anyNull), cal.mkString(","))
  }
}
