package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over the `embeddings` table — the trainer
  * behind the IVF cell layout (SURVEY.md §2 ext tier; the reference's
  * extract pipeline has no learned component, so this is pure
  * LLM-pipeline tier: mover's closest analogue is none — cf.
  * `/root/reference` which delegates all semantics to PostgreSQL).
  *
  * The whole round is expressed so the DuckDB oracle can replay it
  * BITWISE, which is the hard part of putting iterative float training
  * under a hash gate:
  *
  *  - vectors are quantized ONCE to integers (`floor(x·10⁶)` as long), so
  *    every per-cluster sum is an exact, ORDER-FREE integer aggregate —
  *    the usual "float sum depends on partition order" nondeterminism is
  *    gone by construction, not by tolerance;
  *  - centroid means are one IEEE double division of those exact sums
  *    (`s.toDouble / n`) — deterministic on both engines;
  *  - squared-L2 distances are a SEQUENTIAL left fold over the dimension
  *    array (`aggregate(zip_with(...))` here, `list_reduce` in DuckDB):
  *    identical term values folded in identical order → bitwise-identical
  *    doubles, so even argmin TIES resolve the same way (strict
  *    lexicographic `(d, cell)` min vs `ORDER BY d, cell`);
  *  - empty cells carry their previous centroid forward (both sides).
  *
  * Scale shape (100 TB): each iteration is ONE map-side-combined shuffle
  * keyed `(cell, pos)` — the posexplode inflation is pipelined into the
  * partial aggregate, so the exchange carries at most
  * `partitions × k × dim` rows regardless of corpus size. Assignment is
  * a pure projection over a bounded centroid literal (k×dim = 512
  * doubles here); a production k would ride a broadcast variable, as
  * [[SimilarityQueries.assignCellStruct]]'s centroids do. The k×dim driver collect per
  * iteration is bounded by the model size, not the data — the same
  * bounded-literal convention as [[SimilarityQueries.centroidLit]].
  */
object KMeans {

  val K = 8
  val Iters = 3
  private val Scale = 1000000.0d

  /** `(vec_id, qv: array<long>)` — the integer-quantized corpus. `floor`
    * (not round) so there is no half-tie semantic to match across
    * engines; float→double widening is exact on both.
    */
  private[ext] def quantized(raw: DataFrame): DataFrame =
    raw.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> cast(floor(cast(x AS double) * $Scale) AS bigint))")
          .as("qv"))

  /** Nearest-centroid cell for integer vector column `qcol`: transform
    * scores each centroid exactly once into `(d, cell)` structs (HOF
    * lambdas get no common-subexpression elimination, so a comparison
    * that embedded the distance would recompute it), then `array_min`'s lexicographic
    * struct ordering IS the `ORDER BY d, cell` argmin, ties included.
    * Squares are never −0.0, and inputs are finite by construction, so
    * the fold is total.
    */
  private[ext] def nearestCell(cents: Seq[(Long, Seq[Double])], qcol: Column): Column = {
    // ONE literal array-of-structs + one transform lambda, not k unrolled
    // per-centroid expressions: the lambda body is generated once and
    // loops over the centroid array at runtime, keeping the codegen size
    // independent of k (the unrolled form compiled k copies of the
    // 64-dim fold and dominated wall time with Janino compilation).
    val centArr = typedLit(cents.sortBy(_._1))
    val scored = transform(centArr, c =>
      struct(
        aggregate(
          zip_with(qcol, c.getField("_2"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x).as("d"),
        c.getField("_1").as("cell")))
    array_min(scored).getField("cell")
  }

  /** One centroid update: exact integer sums per `(cell, pos)` (one
    * map-side-combined shuffle), collected as a bounded k×dim model, then
    * `s.toDouble / n` per dimension. Cells that captured no vectors keep
    * their previous centroid.
    */
  private[ext] def updateCentroids(q: DataFrame, cents: Seq[(Long, Seq[Double])])
      : Seq[(Long, Seq[Double])] = {
    val stats = q
      .withColumn("cell", nearestCell(cents, col("qv")))
      .select(col("cell"), posexplode(col("qv")))
      .groupBy("cell", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      // bounded driver collect: ≤ k×dim rows — model-sized, not data-sized
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byCell = stats.groupBy(_._1)
    cents.sortBy(_._1).map { case (cell, prev) =>
      byCell.get(cell) match {
        case Some(rows) =>
          val n = rows.head._4
          val m = rows.sortBy(_._2).map(t => t._3.toDouble / n).toSeq
          (cell, m)
        case None => (cell, prev)
      }
    }
  }

  /** `iters` assignment rounds with `iters − 1` centroid updates between
    * them; returns the FINAL assignment `(vec_id, cell)`. Init centroids
    * are the quantized vectors `vec_id < k` — the deterministic seed the
    * oracle replays (a production run would seed by k-means++ sampling;
    * the loop is seed-agnostic).
    */
  /** `iters − 1` updates from the deterministic seed over an
    * ALREADY-PERSISTED quantized corpus; returns the trained centroids
    * (quantized space: values are means of `floor(x·10⁶)` integers).
    */
  private[ext] def trainOn(qc: DataFrame, k: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    val init: Seq[(Long, Seq[Double])] = qc.filter(col("vec_id") < k)
      .select(col("vec_id"), col("qv")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).map(_.toDouble).toSeq))
      .sortBy(_._1)
    (1 until iters).foldLeft(init)((c, _) => updateCentroids(qc, c))
  }

  private[ext] def lloyd(q: DataFrame, k: Int, iters: Int): DataFrame = {
    val qc = q.persist()
    try {
      val trained = trainOn(qc, k, iters)
      // the final assignment is the query output: materialize it before
      // unpersisting the quantized corpus it reads
      qc.withColumn("cell", nearestCell(trained, col("qv")))
        .select(col("vec_id"), col("cell")).localCheckpoint()
    } finally qc.unpersist()
  }

  def kmeansTrain(spark: SparkSession, dir: String): DataFrame =
    lloyd(quantized(graft.Tables(spark, dir, "embeddings")), K, Iters)

  /** The oracle unrolls the 3 rounds as CTE blocks: same quantization,
    * same left-fold distance (`list_reduce` folds left like `aggregate`;
    * the missing 0-init is immaterial because `0.0 + x ≡ x` for the
    * non-negative squares), same `ORDER BY d, cell` tie-break, same
    * carry-forward on empty cells.
    */
  private def iterSql(i: Int): String = {
    val (prevC, a, s, c) = (s"c${i - 1}", s"a$i", s"s$i", s"c$i")
    s"""d$i AS (SELECT q.vec_id, c.cell,
       |      list_reduce(list_transform(list_zip(q.qv, c.m),
       |                  s -> (s[1] - s[2]) * (s[1] - s[2])), (a, b) -> a + b) AS d
       |    FROM q CROSS JOIN $prevC c),
       |$a AS (SELECT vec_id, cell FROM
       |      (SELECT vec_id, cell,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |       FROM d$i) WHERE rn = 1),
       |$s AS (SELECT a.cell, u.pos, CAST(SUM(u.qval) AS BIGINT) AS s, COUNT(*) AS n
       |    FROM $a a JOIN u USING (vec_id) GROUP BY 1, 2),
       |$c AS (SELECT p.cell, COALESCE(nm.m, p.m) AS m
       |    FROM $prevC p LEFT JOIN
       |      (SELECT cell, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS m
       |       FROM $s GROUP BY cell) nm USING (cell)),""".stripMargin
  }

  /** The training rounds as a reusable CTE prefix ending at the trained
    * centroid set `c{Iters−1} (cell, m)` — shared by [[kmeansTrainSql]]
    * and the trained-IVF oracle, so both replay the identical model.
    */
  private val kmeansCtePrefixSql: String = {
    val rounds = (1 until Iters).map(iterSql).mkString("\n")
    s"""q AS (
       |  SELECT vec_id,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |                        x -> CAST(floor(x * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |u AS (SELECT vec_id, unnest(qv) AS qval, generate_subscripts(qv, 1) AS pos FROM q),
       |c0 AS (SELECT vec_id AS cell, list_transform(qv, x -> CAST(x AS DOUBLE)) AS m
       |    FROM q WHERE vec_id < $K),
       |$rounds""".stripMargin
  }

  val kmeansTrainSql: String =
    s"""WITH $kmeansCtePrefixSql
       |dF AS (SELECT q.vec_id, c.cell,
       |      list_reduce(list_transform(list_zip(q.qv, c.m),
       |                  s -> (s[1] - s[2]) * (s[1] - s[2])), (a, b) -> a + b) AS d
       |    FROM q CROSS JOIN c${Iters - 1} c)
       |SELECT vec_id, cell FROM
       |  (SELECT vec_id, cell,
       |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |   FROM dF) WHERE rn = 1""".stripMargin

  /** IVF search over the TRAINED cells — the [[SimilarityQueries.annIvf]]
    * pipeline with learned centroids instead of the first-16 stand-ins,
    * closing the train→assign→probe loop under one oracle. Trained
    * centroids live in quantized space (×10⁶); cosine is scale-invariant,
    * so cell geometry is unchanged and both engines score the identical
    * scaled doubles. Same shapes as annIvf: assignment and probe lists
    * are pure projections over the bounded centroid model, broadcast to
    * the executors ([[SimilarityQueries.assignCellStruct]] and
    * [[SimilarityQueries.topProbeCells]]), and the probe join broadcasts
    * the query side.
    */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qc = quantized(graft.Tables(spark, dir, "embeddings")).persist()
    val trained = try trainOn(qc, K, Iters) finally qc.unpersist()
    val base = SimilarityQueries.vecs(spark, dir)
    val assigned = base
      .withColumn("cell",
        SimilarityQueries.assignCellStruct(spark, trained, col("v")).getField("cell"))
      .select(col("vec_id"), col("v"), col("cell"))
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .withColumn("cell",
        explode(SimilarityQueries.topProbeCells(spark, trained, col("qv"), 2)))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(SimilarityQueries.cosineExpr("qv", "v"), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val annIvfTrainedSql: String =
    s"""WITH $kmeansCtePrefixSql
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT cell AS cent_id, m AS cv FROM c${Iters - 1}),
       |assigned AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS arn
       |    FROM e CROSS JOIN c)
       |  WHERE arn = 1),
       |probes AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS prn
       |    FROM e CROSS JOIN c WHERE e.vec_id < 5)
       |  WHERE prn <= 2),
       |ranked AS (
       |  SELECT p.query_id, a.vec_id, a.cell,
       |    ROUND(list_cosine_similarity(p.qv, a.v), 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id
       |      ORDER BY ROUND(list_cosine_similarity(p.qv, a.v), 6) DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id != p.query_id)
       |SELECT query_id, rank, vec_id, cell, cos FROM ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** SIMPLIFIED SILHOUETTE of the trained k-means partition — the
    * cluster-quality readout over the same Lloyd's model the
    * [[kmeansTrain]] gate pins: per point, a = distance to its
    * assigned (nearest) centroid, b = distance to the second-nearest,
    * s = (b−a)/max(a,b) (the centroid-based simplification of
    * Rousseeuw 1987 — the exact silhouette's all-pairs a/b is
    * corpus-quadratic; the simplified form is the one computable at
    * 100 TB, one pass × k centroids). Cross-engine float contract:
    * distances are √ of the exact integer-quantized squared fold (IEEE
    * sqrt is correctly rounded, so both engines hold identical
    * doubles), each point's s is FLOORED to micros before any
    * accumulation, and the per-cell mean is an exact integer div — the
    * only order-sensitive float sum is eliminated.
    *
    * Scale: assignment + distance is a pure projection over the
    * bounded k×dim centroid literal (same crossover note as
    * [[nearestCell]]); one map-side-combined aggregation to k rows.
    * Training's bounded k×dim collects per round are model-sized, not
    * data-sized.
    */
  def silhouetteKmeans(spark: SparkSession, dir: String): DataFrame = {
    val qc = quantized(graft.Tables(spark, dir, "embeddings")).persist()
    val trained = try trainOn(qc, K, Iters) finally qc.unpersist()
    val centArr = typedLit(trained.sortBy(_._1))
    val scored = transform(centArr, c =>
      struct(
        aggregate(
          zip_with(col("qv"), c.getField("_2"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x).as("d"),
        c.getField("_1").as("cell")))
    quantized(graft.Tables(spark, dir, "embeddings"))
      .withColumn("sc", sort_array(scored))
      .select(col("sc").getItem(0).getField("cell").as("cell"),
        sqrt(col("sc").getItem(0).getField("d")).as("a"),
        sqrt(col("sc").getItem(1).getField("d")).as("b"))
      .withColumn("sm", expr(
        """CAST(FLOOR(CASE WHEN GREATEST(a, b) > 0
             THEN (b - a) / GREATEST(a, b) ELSE 0.0 END * 1000000)
           AS BIGINT)"""))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_points"), sum("sm").as("ssm"))
      .select(col("cell"), col("n_points"),
        (expr("ssm div n_points") / 1e6).as("silhouette"))
      .orderBy("cell")
  }

  val silhouetteKmeansSql: String =
    s"""WITH $kmeansCtePrefixSql
       |dF AS (SELECT q.vec_id, c.cell,
       |      list_reduce(list_transform(list_zip(q.qv, c.m),
       |                  s -> (s[1] - s[2]) * (s[1] - s[2])), (a, b) -> a + b) AS d
       |    FROM q CROSS JOIN c${Iters - 1} c),
       |r AS (SELECT vec_id, cell, d,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM dF),
       |ab AS (SELECT r1.vec_id, r1.cell,
       |      SQRT(r1.d) AS a, SQRT(r2.d) AS b
       |    FROM r r1 JOIN r r2 ON r1.vec_id = r2.vec_id
       |      AND r1.rn = 1 AND r2.rn = 2),
       |s AS (SELECT cell,
       |      CAST(FLOOR(CASE WHEN GREATEST(a, b) > 0
       |        THEN (b - a) / GREATEST(a, b) ELSE 0.0 END * 1000000)
       |        AS BIGINT) AS sm
       |    FROM ab)
       |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_points,
       |  (SUM(sm) // COUNT(*)) / 1e6 AS silhouette
       |FROM s GROUP BY cell
       |ORDER BY cell""".stripMargin

  def all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "kmeans_train" -> ((kmeansTrain _, kmeansTrainSql)),
    "ann_ivf_trained" -> ((annIvfTrained _, annIvfTrainedSql)),
    "silhouette_kmeans" -> ((silhouetteKmeans _, silhouetteKmeansSql))
  )
}
