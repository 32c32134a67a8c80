package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.CosineSimilarity.cosine_sim

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("native expression is bitwise-equal to the HOF formulation on real data") {
    val pairs = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(emb.select(col("vec_id").as("vid2"), col("embedding").as("e2"))
        .filter(col("vid2") < 20))
      .filter(col("vec_id") < 40)
    val hof = expr(
      """aggregate(zip_with(transform(embedding, x -> cast(x AS double)),
                            transform(e2, x -> cast(x AS double)),
                            (x, y) -> x * y), 0D, (acc, v) -> acc + v)
         / (sqrt(aggregate(transform(embedding, x -> cast(x AS double)), 0D, (acc, x) -> acc + x * x))
          * sqrt(aggregate(transform(e2, x -> cast(x AS double)), 0D, (acc, x) -> acc + x * x)))""")
    val diff = pairs.select(
        cosine_sim(col("embedding"), col("e2")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")) // bitwise double comparison
      .count()
    assert(diff == 0L)
  }

  test("nulls, length mismatch, and zero vectors yield null") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f, 3.0f))), // length mismatch
      (None, Some(Seq(1.0f))),                               // null input
      (Some(Seq(0.0f, 0.0f)), Some(Seq(0.0f, 0.0f)))         // zero norm
    ).toDF("a", "b")
    val out = df.select(cosine_sim(col("a"), col("b")).as("c")).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("self-similarity is 1.0 (within fp) and SQL registration works") {
    // the SQL function comes from GraftExtensions, the session extension
    // that registers it: its injected functions go into this live
    // session's registry (GraftExtensionsSpec builds a fresh session)
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
    })
    emb.limit(5).createOrReplaceTempView("emb5")
    val vals = spark.sql("SELECT cosine_sim(embedding, embedding) c FROM emb5")
      .collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("interpreted eval agrees with codegen") {
    // force interpreted path through a non-codegen context: eval directly
    val a = Seq(0.5f, -1.5f, 2.0f); val b = Seq(1.0f, 0.25f, -0.75f)
    val lit_a = org.apache.spark.sql.catalyst.expressions.Literal.create(a,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val lit_b = org.apache.spark.sql.catalyst.expressions.Literal.create(b,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val interp = CosineSimilarity(lit_a, lit_b).eval(null).asInstanceOf[Double]
    val viaDf = Seq((a, b)).toDF("a", "b")
      .select(cosine_sim(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(interp == viaDf)
  }
}
