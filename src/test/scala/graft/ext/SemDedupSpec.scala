package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Semantics and production-path gates for [[DedupQueries.semDedupCore]].
  *
  * The chain fixture pins the paper's drop rule — a member is dropped if
  * it is within eps of ANY earlier-ranked member, kept or not. A
  * kept-only greedy rule would keep the chain's far end; this spec fails
  * under that rule, so a refactor can't silently weaken the semantics.
  *
  * The KMeans test proves the trained-centroid production path through
  * the SAME core, gated on the two invariants that fully characterize
  * the output for ANY centroid set:
  *   (1) kept members of a cell are pairwise below eps (soundness: no
  *       near-dup pair survives in one cell), and
  *   (2) every dropped member has an earlier-ranked neighbor ≥ eps
  *       (no spurious drops).
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private val eps = 0.8

  test("chain fixture: drop-if-near-ANY-earlier, not near-kept-only") {
    // one centroid (1,0); angles 0°/30°/60° → cos(a,b)=cos(b,c)≈0.866 ≥
    // eps, cos(a,c)=0.5 < eps. Rank by cent_sim ASC: c, b, a.
    //   c: rank 1 → kept
    //   b: near c (0.866) → dropped
    //   a: near b only — b is DROPPED, but still counts → a dropped
    // (kept-only greedy would keep a: that outcome must fail here)
    val rad = math.Pi / 180
    def at(deg: Double): Seq[Double] = Seq(math.cos(deg * rad), math.sin(deg * rad))
    val base = Seq((1L, at(0)), (2L, at(30)), (3L, at(60)))
      .toDF("vec_id", "v")
    val cents = Seq((0L, at(0)))

    val out = DedupQueries.semDedupCore(base, cents, eps)
      .select("vec_id", "keep").as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 0, 2L -> 0, 3L -> 1))
  }

  test("KMeans-trained centroids: kept-pairwise-sound, no spurious drops") {
    val dir = "/root/testdata/sf0.001"
    val specEps = 0.3 // low enough that the synthetic corpus has drops
    val base = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .cache()
    val model = new KMeans().setK(8).setSeed(42L)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(base.withColumn("features", array_to_vector(col("v"))))
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }.toSeq

    val out = DedupQueries.semDedupCore(base, cents, specEps)
      .persist()
    val dropped = out.filter(col("keep") === 0).count()
    info(s"dropped $dropped of ${out.count()}")
    assert(dropped > 0, "eps too high for the fixture corpus — no drops")

    // reconstruct rank order exactly as the core does
    val ranked = out.join(base, Seq("vec_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cell")).orderBy(asc("cent_sim"), asc("vec_id"))))
    val pairs = ranked.select(col("cell"), col("rnk").as("rnk_b"),
        col("v").as("v_b"), col("vec_id").as("vec_b"), col("keep").as("keep_b"))
      .join(ranked.select(col("cell"), col("rnk").as("rnk_a"),
        col("v").as("v_a"), col("keep").as("keep_a")), Seq("cell"))
      .filter(col("rnk_a") < col("rnk_b"))
      .withColumn("near", round(SimilarityQueries.cosineExpr("v_a", "v_b"), 6) >= specEps)
      .persist()

    // (1) no kept pair within a cell is near
    assert(pairs.filter(col("keep_a") === 1 && col("keep_b") === 1 &&
      col("near")).count() === 0L)
    // (2) every dropped member has SOME earlier near neighbor
    val droppedNoWitness = pairs.filter(col("keep_b") === 0)
      .groupBy(col("vec_b")).agg(max(when(col("near"), 1).otherwise(0)).as("w"))
      .filter(col("w") === 0).count()
    assert(droppedNoWitness === 0L)
    pairs.unpersist(); out.unpersist(); base.unpersist()
    // semDedupCore persists its internal ranked projection (twice across
    // the two tests); the shared session would otherwise carry those
    // caches for the rest of the sbt run
    spark.catalog.clearCache()
  }
}
