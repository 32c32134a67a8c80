package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (SURVEY.md §2 ext tier).
  *
  *  - `knn_brute`: exact cosine top-k — the correctness baseline. The
  *    query set is tiny, so the join is a broadcast of the queries against
  *    a single scan of the corpus: at 100 TB this is the classic
  *    "broadcast the probes, scan the base" pattern (no shuffle of the
  *    base table at all).
  *  - `ann_ivf`: the scale path — IVF-style cell assignment (argmin over
  *    a fixed centroid set), probe the nearest `nprobe` cells only. Here
  *    centroids are a deterministic subset of vectors (vec_id < 16) so
  *    the DuckDB oracle can replay the exact assignment; production would
  *    train them with k-means (spark.ml) and keep the same assign/probe
  *    dataflow, plus a bucketed/partitioned-by-cell base table so a probe
  *    touches only its cells' files.
  *
  * Cosine is computed in double precision with a fixed fold order
  * (element order) in both engines, then rounded to 6 decimals — the
  * cross-engine float-determinism contract.
  */
object SimilarityQueries {

  /** Cosine similarity — native Catalyst expression with codegen
    * ([[graft.functions.CosineSimilarity]]): one fused loop, bitwise-equal
    * to the HOF formulation it replaced (CosineSimilaritySpec proves it).
    */
  def cosineExpr(a: String, b: String): Column =
    graft.functions.CosineSimilarity.cosine_sim(col(a), col(b))

  private[ext] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))

  /** The first `k` vectors (by vec_id) as a driver-side centroid set
    * `(cell_id, vector)`, sorted by cell id — bounded (nlist rows), the
    * same deterministic stand-in for trained k-means centroids that the
    * IVF oracle replays. Shared by [[annIvf]], [[annJoin]] and
    * [[DedupQueries.semDedup]].
    */
  private[ext] def centroidLit(base: DataFrame, k: Int): Seq[(Long, Seq[Double])] =
    base.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)

  /** A null vector reads as the empty array, which scores −2.0 against
    * every centroid (length mismatch), so it lands in the first cell by
    * cell id at −2.0 — the oracle's DESC-nulls-last order over an
    * all-null score column — instead of vanishing through
    * [[graft.functions.CentroidTopK]]'s null-in, null-out.
    */
  private def nullSafeVec(vcol: Column): Column =
    coalesce(vcol, typedLit(Seq.empty[Double]))

  /** `struct(cell, best)` of the nearest centroid: the top-1 of
    * [[graft.functions.CentroidTopK]] — a pure projection with ZERO
    * joins or exchanges over the corpus. Ties go to the smaller cell
    * id, as in the oracle's ORDER BY cos DESC, cent_id ASC.
    */
  private[graft] def assignCellStruct(spark: SparkSession,
      cents: Seq[(Long, Seq[Double])], vcol: Column): Column = {
    val top1 = element_at(
      graft.functions.CentroidTopK.centroid_topk(spark, cents, nullSafeVec(vcol), 1), 1)
    struct(top1.getField("cell").as("cell"), top1.getField("s").as("best"))
  }

  /** `array<bigint>` of the `nprobe` nearest cells for a query vector,
    * ordered score DESC then cell ASC — the probe-list dual of
    * [[assignCellStruct]].
    */
  private[graft] def topProbeCells(spark: SparkSession,
      cents: Seq[(Long, Seq[Double])], vcol: Column, nprobe: Int): Column =
    graft.functions.CentroidTopK.centroid_topk(spark, cents, nullSafeVec(vcol), nprobe)
      .getField("cell")

  /** Exact brute-force cosine top-5 for query vectors (vec_id < 5). */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = vecs(spark, dir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val knnBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    ROUND(list_cosine_similarity(q.qv, e.v), 6) AS cos
      |  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, cos FROM ranked
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** NDCG@10 of the brute-force cosine retrieval with LABEL-MATCH
    * relevance — the graded-ranking evaluation beside
    * [[annRecallReport]]'s set recall: a retrieved neighbor is relevant
    * iff it carries the query vector's `label`, DCG discounts positions
    * by 1/log₂(i+1), and the readout normalizes against the perfect
    * 10-hit list. Cross-engine float contract: the ten position
    * discounts are FIXED LITERAL micros (⌊10⁶/log₂(i+1)⌋ — no runtime
    * log anywhere), DCG is an exact integer sum of them, and NDCG is
    * one exact ppm division by the literal IDCG (4 543 554).
    *
    * Scale: identical to [[knnBrute]] — the bounded query panel
    * broadcasts, ranking is a per-query-partitioned window; the
    * discount/NDCG math is per-row scalar. (Production recall/NDCG
    * sweeps would rank via the IVF path; the brute ranking is the
    * ground truth this metric is DEFINED against.)
    */
  def annLabelNdcg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = vecs(spark, dir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .withColumn("rel",
        when(col("label") === col("qlabel"), 1L).otherwise(0L))
      .withColumn("disc", expr(
        """CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929
           WHEN 3 THEN 500000 WHEN 4 THEN 430676 WHEN 5 THEN 386852
           WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315464
           WHEN 9 THEN 301029 ELSE 289064 END"""))
      .groupBy("query_id", "qlabel")
      .agg(sum(expr("rel * disc")).as("dcg_units"),
        sum("rel").as("n_relevant_top10"))
      .select(col("query_id"), col("qlabel").as("label"),
        col("n_relevant_top10"),
        (expr("dcg_units * 1000000 div 4543554") / 1e6).as("ndcg10"))
      .orderBy("query_id")
  }

  val annLabelNdcgSql: String =
    """WITH e AS (SELECT vec_id, label,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
      |  FROM e WHERE vec_id < 5),
      |ranked AS (
      |  SELECT query_id, qlabel, vec_id, label,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY ROUND(list_cosine_similarity(qv, v), 6) DESC,
      |        vec_id) AS rank
      |  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
      |scored AS (
      |  SELECT query_id, qlabel,
      |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
      |    CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929
      |      WHEN 3 THEN 500000 WHEN 4 THEN 430676 WHEN 5 THEN 386852
      |      WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315464
      |      WHEN 9 THEN 301029 ELSE 289064 END AS disc
      |  FROM ranked WHERE rank <= 10)
      |SELECT query_id, qlabel AS label,
      |  CAST(SUM(rel) AS BIGINT) AS n_relevant_top10,
      |  (CAST(SUM(rel * disc) AS BIGINT) * 1000000 // 4543554) / 1e6
      |    AS ndcg10
      |FROM scored
      |GROUP BY query_id, qlabel
      |ORDER BY query_id""".stripMargin

  /** IVF-style ANN: assign every vector to its nearest of 16 fixed
    * centroids (vec_id < 16), then for each query (vec_id < 5) probe the
    * 2 nearest cells and rank top-5 within them.
    *
    * The centroid set is BOUNDED (nlist rows — 16 here, a few thousand in
    * production) and is collected to the driver, then broadcast to the
    * executors: cell assignment and the probe list are per-row top-k
    * projections ([[assignCellStruct]], [[topProbeCells]]) with ZERO
    * joins or exchanges over the corpus. (An earlier form crossJoined the
    * corpus against a broadcast centroid DataFrame and took argmin via a
    * row_number window, which planned an Exchange of the 16×-inflated
    * rows — correct, but not the plan you'd run at 100 TB.) Ties go to
    * the smaller cell id, as in the oracle's ORDER BY cos DESC, cent_id.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = vecs(spark, dir)
    // bounded driver-side collect (nlist=16 rows), like the J3 tuples
    val cents = centroidLit(base, 16)

    // cell assignment: per-row top-1 centroid, no shuffle
    val assigned = base
      .withColumn("cell", assignCellStruct(spark, cents, col("v")).getField("cell"))
      .select(col("vec_id"), col("v"), col("cell"))

    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(topProbeCells(spark, cents, col("qv"), 2)).as("cell"))

    // search only within probed cells
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val annIvfSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
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

  /** ANN JOIN — the corpus×corpus form of [[annIvf]]: EVERY query-side
    * vector (`vec_id % 10 == 0`, a corpus-scale side, not a fixed probe
    * set) finds its top-3 neighbors among the rest, through the same
    * IVF cell structure. This is the shape embedding-level cross-corpus
    * linkage runs at 100 TB — "for each new document, its nearest
    * existing documents" — where broadcasting the query side is no
    * longer an option.
    *
    * Plan: both sides get their cells from the ZERO-shuffle centroid
    * fold; the probe explode (top-2 cells/query) doubles only the query
    * side; then ONE shuffle join co-partitions both sides on `cell` —
    * the key space is nlist-bounded, so partition counts stay planned,
    * and a hot cell is the standard AQE-skew / salting case, not a
    * cartesian. Scoring is intra-partition; per-query top-3 is the one
    * further exchange (window on query_id). Nothing is ever
    * all-pairs: each query meets only its probed cells' members —
    * nprobe/nlist of the corpus.
    */
  def annJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = vecs(spark, dir)
    val cents = centroidLit(base, 16)
    val corpus = base.filter(col("vec_id") % 10 =!= 0)
      .withColumn("cell", assignCellStruct(spark, cents, col("v")).getField("cell"))
      .select(col("vec_id"), col("v"), col("cell"))
    val queries = base.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(topProbeCells(spark, cents, col("qv"), 2)).as("cell"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    corpus.join(queries, Seq("cell"))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val annJoinSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |corpus AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.v, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS arn
      |    FROM e CROSS JOIN c WHERE e.vec_id % 10 != 0)
      |  WHERE arn = 1),
      |probes AS (
      |  SELECT query_id, qv, cell FROM (
      |    SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS prn
      |    FROM e CROSS JOIN c WHERE e.vec_id % 10 = 0)
      |  WHERE prn <= 2),
      |ranked AS (
      |  SELECT p.query_id, a.vec_id, a.cell,
      |    ROUND(list_cosine_similarity(p.qv, a.v), 6) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY p.query_id
      |      ORDER BY ROUND(list_cosine_similarity(p.qv, a.v), 6) DESC, a.vec_id) AS rank
      |  FROM corpus a JOIN probes p ON a.cell = p.cell)
      |SELECT query_id, rank, vec_id, cell, cos FROM ranked
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** kNN CLASSIFICATION over the [[annJoin]] structure: every held-out
    * vector (`vec_id % 10 == 0`) takes the majority label of its top-3
    * IVF-probed neighbors (ties by smallest label — the
    * `min(struct(-cnt, label))` single-pass argmax, never a window),
    * and the row carries the vector's own label so accuracy is a
    * `sum(correct)/count` away. This is the eval loop a labeled
    * embedding store runs — same plan as the ANN join plus ONE
    * bounded aggregate over k·|queries| rows.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("query_id"), col("label").cast("long").as("actual"))
    val neigh = annJoin(spark, dir)
      .join(Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("nlabel")), Seq("vec_id"))
    neigh.groupBy("query_id", "nlabel").agg(count(lit(1)).as("cnt"))
      .groupBy("query_id")
      .agg(min(struct((-col("cnt")).as("nc"), col("nlabel").as("l"))).as("m"))
      .select(col("query_id"), col("m.l").as("predicted"))
      .join(broadcast(labels), Seq("query_id"))
      .select(col("query_id"), col("predicted"), col("actual"),
        (col("predicted") === col("actual")).as("correct"))
      .orderBy("query_id")
  }

  val knnClassifySql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |corpus AS (
      |  SELECT vec_id, label, v, cell FROM (
      |    SELECT e.vec_id, e.label, e.v, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS arn
      |    FROM e CROSS JOIN c WHERE e.vec_id % 10 != 0)
      |  WHERE arn = 1),
      |probes AS (
      |  SELECT query_id, qv, cell FROM (
      |    SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS prn
      |    FROM e CROSS JOIN c WHERE e.vec_id % 10 = 0)
      |  WHERE prn <= 2),
      |ranked AS (
      |  SELECT p.query_id, a.vec_id, CAST(a.label AS BIGINT) AS nlabel,
      |    ROW_NUMBER() OVER (PARTITION BY p.query_id
      |      ORDER BY ROUND(list_cosine_similarity(p.qv, a.v), 6) DESC, a.vec_id) AS rank
      |  FROM corpus a JOIN probes p ON a.cell = p.cell),
      |votes AS (
      |  SELECT query_id, nlabel, COUNT(*) AS cnt FROM ranked
      |  WHERE rank <= 3 GROUP BY query_id, nlabel),
      |pred AS (
      |  SELECT query_id, nlabel AS predicted FROM (
      |    SELECT query_id, nlabel,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY cnt DESC, nlabel) AS vr
      |    FROM votes) WHERE vr = 1)
      |SELECT p.query_id, p.predicted,
      |  CAST(e.label AS BIGINT) AS actual,
      |  p.predicted = CAST(e.label AS BIGINT) AS correct
      |FROM pred p JOIN e ON e.vec_id = p.query_id
      |ORDER BY p.query_id""".stripMargin

  /** ANN RECALL REPORT — the index-quality eval: for the 5 fixed probe
    * queries, exact brute-force top-5 vs the IVF nprobe=2 top-5, per-
    * query overlap and recall@5. This is the measurement that justifies
    * (or rejects) an index's nprobe/nlist setting before a fleet adopts
    * it; at 100 TB the brute side runs on a SAMPLE of queries exactly
    * like this fixed probe set, never the full query load. Recall is an
    * exact small rational (overlap/5) — no float hazard.
    */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(spark, dir)
      .select(col("query_id"), col("vec_id"))
    val ivf = annIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    // LEFT join, not semi: a query whose IVF list misses ALL brute
    // neighbors must report recall 0, not vanish
    brute.join(ivf, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id").agg(count(col("hit")).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        expr("(2 * n_overlap * 1000000 + 5) div 10 / 1e6").as("recall_at_5"))
      .orderBy("query_id")
  }

  val annRecallReportSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
      |brute AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, e.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY ROUND(list_cosine_similarity(q.qv, e.v), 6) DESC,
      |                 e.vec_id) AS rank
      |    FROM e CROSS JOIN q WHERE e.vec_id != q.query_id)
      |  WHERE rank <= 5),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
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
      |ivf AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT p.query_id, a.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY p.query_id
      |        ORDER BY ROUND(list_cosine_similarity(p.qv, a.v), 6) DESC, a.vec_id) AS rank
      |    FROM assigned a JOIN probes p ON a.cell = p.cell
      |    WHERE a.vec_id != p.query_id)
      |  WHERE rank <= 5)
      |SELECT b.query_id,
      |  CAST(COUNT(i.vec_id) AS BIGINT) AS n_overlap,
      |  (2 * COUNT(i.vec_id) * 1000000 + 5) // 10 / 1e6 AS recall_at_5
      |FROM brute b LEFT JOIN ivf i
      |  ON i.query_id = b.query_id AND i.vec_id = b.vec_id
      |GROUP BY b.query_id
      |ORDER BY b.query_id""".stripMargin

  /** Product quantization + asymmetric distance (Jégou et al., PAMI'11) —
    * the third ANN scale path next to IVF cells and sign-LSH bands, and
    * the memory form real billion-vector indexes ship: each vector is
    * m=4 sub-vector CODES (1 byte each here, 4 bytes total vs 256 for
    * fp32×64), and query-time distance is a table lookup, never a
    * full-vector float op against the corpus.
    *
    * Stages: codebook = sub-vectors of the first 16 vecs (deterministic,
    * so DuckDB replays the training; production swaps per-subspace
    * k-means, same dataflow) → encode: per (vector, subspace) argmin-L2
    * code via a shuffle-free fold over the 64-entry codebook literal →
    * LUT: per (query, subspace, code) exact sub-distance, query-side →
    * ADC: one map-side join of codes against the LUT and a (query, vec)
    * sum. The corpus is scanned once, never shuffled on vector contents —
    * the only exchange carries (query_id, vec_id, 4 rows of looked-up
    * doubles), with map-side partial agg collapsing them before the wire.
    * Sub-distances round at 6dp then sum as DECIMAL so the ADC total is
    * fold-order-free — the cross-engine float contract.
    */
  def pqTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = 4; val sub = dims / m; val k = 16
    val base = vecs(spark, dir)
    def subspaces(vcol: String, out: String) = expr(
      s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, slice($vcol, s * $sub + 1, $sub) AS $out))")
    // the codebook is BOUNDED (m×k = 64 sub-vectors) and lives driver-side
    // as a literal indexed by subspace, like the IVF centroids: the encode
    // stage is then a per-(vector, subspace) argmin-L2 FOLD — a pure
    // projection, where an earlier form joined a broadcast codebook DataFrame
    // and argmin'ed via a row_number window, planning an Exchange of the
    // k×-inflated corpus rows.
    val cbRows = centroidLit(base, k)
    val cbLit = typedLit((0 until m).map(s =>
      cbRows.map { case (code, v) => (code, v.slice(s * sub, (s + 1) * sub)) }))
    // native fused loop (graft.functions.SqL2): bitwise-equal to the
    // aggregate(zip_with(...)) fold it replaces (SqL2Spec), minus the
    // per-element interpreted lambda calls and the materialized
    // squared-difference array; round(.., 6) readout unchanged
    val l2c = (a: Column, b: Column) =>
      round(graft.functions.SqL2.sq_l2(a, b), 6)
    // SCORE FIRST, fold second: HOF lambdas get no common-subexpression
    // elimination, so embedding l2c in both the condition and the
    // result struct would run the
    // 16-dim distance twice per code. `transform` evaluates each distance
    // exactly once; strict < with codes in code order ≡ ORDER BY d2 ASC,
    // code ASC.
    val scoredCodes = transform(element_at(cbLit, col("s") + 1), c =>
      struct(c.getField("_1").as("code"),
             l2c(col("xs"), c.getField("_2")).as("d2")))
    val bestCode = aggregate(scoredCodes,
      struct(lit(-1L).as("code"), lit(Double.MaxValue).as("best")),
      (acc, c) =>
        when(c.getField("d2") < acc.getField("best"),
          struct(c.getField("code").as("code"), c.getField("d2").as("best")))
        .otherwise(acc)).getField("code")
    val codes = base
      .select(col("vec_id"), explode(subspaces("v", "xs")).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.xs").as("xs"))
      .withColumn("code", bestCode)
      .select(col("vec_id"), col("s"), col("code"))
    val lut = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), explode(subspaces("v", "qs")).as("e"))
      .select(col("query_id"), col("e.s").as("s"), col("e.qs").as("qs"))
      .select(col("query_id"), col("s"),
        explode(transform(element_at(cbLit, col("s") + 1), c =>
          struct(c.getField("_1").as("code"),
                 l2c(col("qs"), c.getField("_2")).as("d2")))).as("cd"))
      .select(col("query_id"), col("s"), col("cd.code").as("code"),
        col("cd.d2").as("d2"))
    val wRank = Window.partitionBy("query_id").orderBy(asc("adc"), asc("vec_id"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2").cast("decimal(18,6)")).cast("double").as("adc"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc"))
      .orderBy("query_id", "rank")
  }

  val pqTopkSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sub AS (SELECT unnest(range(0, 4)) AS s),
      |cb AS (
      |  SELECT s.s, e.vec_id AS code, e.v[s.s*16 + 1 : s.s*16 + 16] AS cv
      |  FROM e CROSS JOIN sub s WHERE e.vec_id < 16),
      |xs AS (
      |  SELECT e.vec_id, s.s, e.v[s.s*16 + 1 : s.s*16 + 16] AS xs
      |  FROM e CROSS JOIN sub s),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT x.vec_id, x.s, cb.code,
      |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s ORDER BY
      |        ROUND(list_sum(list_transform(range(1, 17),
      |          i -> (x.xs[i] - cb.cv[i]) * (x.xs[i] - cb.cv[i]))), 6) ASC,
      |        cb.code ASC) AS rn
      |    FROM xs x JOIN cb ON cb.s = x.s)
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT x.vec_id AS query_id, x.s, cb.code,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> (x.xs[i] - cb.cv[i]) * (x.xs[i] - cb.cv[i]))), 6) AS d2
      |  FROM xs x JOIN cb ON cb.s = x.s WHERE x.vec_id < 5),
      |adc AS (
      |  SELECT l.query_id, c.vec_id,
      |    CAST(SUM(CAST(l.d2 AS DECIMAL(18,6))) AS DOUBLE) AS adc
      |  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      |  WHERE c.vec_id != l.query_id
      |  GROUP BY l.query_id, c.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, adc,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
      |  FROM adc)
      |SELECT query_id, rank, vec_id, adc FROM ranked
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** IVF cells composed in FRONT of PQ+ADC re-rank — the production
    * billion-vector shape SCALE.md promises ("IVF cells composed in
    * front"): cell pruning cuts the candidate set to the probed
    * nprobe/nlist fraction, and within the surviving cells distance is
    * the 4-byte-code ADC lookup, never a full-vector float op. Compared
    * to [[pqTopk]] alone, the ADC exchange shrinks by the probe
    * fraction; compared to [[annIvf]] alone, the per-candidate cost
    * drops from a 64-dim cosine to 4 table lookups.
    *
    * ONE corpus pass computes BOTH the cell assignment (top-1 centroid,
    * [[assignCellStruct]]) and the PQ codes (argmin-L2
    * fold) in the same projection — the plan keeps pq_topk's two-scan
    * shape (corpus + filter-pushed query side) with zero extra reads.
    * The broadcast side is (query × probed-cell × subspace × code) LUT
    * rows — bounded, |Q|·nprobe·m·k. Same determinism contracts as the
    * parents: round-6 sub-distances summed as DECIMAL, ADC rank ties by
    * vec_id, cell/probe ties by cent_id.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy("query_id").orderBy(asc("adc"), asc("vec_id"))
    annIvfPqAdc(spark, dir)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell"), col("adc"))
      .orderBy("query_id", "rank")
  }

  val annIvfPqSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS arn
      |    FROM e CROSS JOIN c)
      |  WHERE arn = 1),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT e.vec_id AS query_id, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS prn
      |    FROM e CROSS JOIN c WHERE e.vec_id < 5)
      |  WHERE prn <= 2),
      |sub AS (SELECT unnest(range(0, 4)) AS s),
      |cb AS (
      |  SELECT s.s, e.vec_id AS code, e.v[s.s*16 + 1 : s.s*16 + 16] AS cv
      |  FROM e CROSS JOIN sub s WHERE e.vec_id < 16),
      |xs AS (
      |  SELECT e.vec_id, s.s, e.v[s.s*16 + 1 : s.s*16 + 16] AS xs
      |  FROM e CROSS JOIN sub s),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT x.vec_id, x.s, cb.code,
      |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s ORDER BY
      |        ROUND(list_sum(list_transform(range(1, 17),
      |          i -> (x.xs[i] - cb.cv[i]) * (x.xs[i] - cb.cv[i]))), 6) ASC,
      |        cb.code ASC) AS rn
      |    FROM xs x JOIN cb ON cb.s = x.s)
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT x.vec_id AS query_id, x.s, cb.code,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> (x.xs[i] - cb.cv[i]) * (x.xs[i] - cb.cv[i]))), 6) AS d2
      |  FROM xs x JOIN cb ON cb.s = x.s WHERE x.vec_id < 5),
      |adc AS (
      |  SELECT p.query_id, cd.vec_id, a.cell,
      |    CAST(SUM(CAST(l.d2 AS DECIMAL(18,6))) AS DOUBLE) AS adc
      |  FROM codes cd
      |  JOIN assigned a ON a.vec_id = cd.vec_id
      |  JOIN probes p ON p.cell = a.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.s = cd.s AND l.code = cd.code
      |  WHERE cd.vec_id != p.query_id
      |  GROUP BY p.query_id, cd.vec_id, a.cell),
      |ranked AS (
      |  SELECT query_id, vec_id, cell, adc,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
      |  FROM adc)
      |SELECT query_id, rank, vec_id, cell, adc FROM ranked
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** The full three-stage serving pipeline: IVF probe → PQ/ADC shortlist
    * → EXACT cosine re-rank. Stage 2's approximate distances cheaply cut
    * the probed cells down to a `shortK` shortlist; stage 3 fetches the
    * full vectors for ONLY those `|Q|·shortK` candidates and ranks by
    * exact cosine — the standard recall-restoring tail every production
    * ANN service runs (ADC quantization error never reorders the final
    * top-k because the exact pass has the last word).
    *
    * Plan shape: the stage-1/2 subtree is [[annIvfPq]]'s (one corpus
    * pass for cell+codes, broadcast probe-LUT); stage 3 is a SECOND
    * corpus scan joined to the broadcast shortlist on vec_id — at scale
    * that read is the point-lookup tier (the partitioned [[AnnIndex]]
    * layout serves it by cell), and it touches full vectors for only
    * shortK candidates per query, never the corpus.
    */
  def annRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortK = 15; val k = 5
    val base = vecs(spark, dir)
    val adc = annIvfPqAdc(spark, dir)
    val wShort = Window.partitionBy("query_id").orderBy(asc("adc"), asc("vec_id"))
    val short = adc
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortK)
      .select(col("query_id"), col("vec_id"), col("adc"))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    base.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"), col("adc"))
      .orderBy("query_id", "rank")
  }

  /** [[annIvfPq]]'s stage-1/2 dataflow up to the per-candidate ADC sums
    * (no top-k cut) — shared by the registered query (rank ≤ 5 there)
    * and [[annRerank]]'s wider shortlist.
    */
  private def annIvfPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val m = 4; val sub = dims / m; val kCodes = 16; val nprobe = 2
    val base = vecs(spark, dir)
    val cents = centroidLit(base, 16)
    val cbLit = typedLit((0 until m).map(s =>
      cents.take(kCodes).map { case (code, v) => (code, v.slice(s * sub, (s + 1) * sub)) }))
    // native fused loop (graft.functions.SqL2): bitwise-equal to the
    // aggregate(zip_with(...)) fold it replaces (SqL2Spec), minus the
    // per-element interpreted lambda calls and the materialized
    // squared-difference array; round(.., 6) readout unchanged
    val l2c = (a: Column, b: Column) =>
      round(graft.functions.SqL2.sq_l2(a, b), 6)
    def subspaces(vcol: String, out: String) = expr(
      s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, slice($vcol, s * $sub + 1, $sub) AS $out))")
    val scoredCodes = transform(element_at(cbLit, col("s") + 1), c =>
      struct(c.getField("_1").as("code"),
             l2c(col("xs"), c.getField("_2")).as("d2")))
    val bestCode = aggregate(scoredCodes,
      struct(lit(-1L).as("code"), lit(Double.MaxValue).as("best")),
      (acc, c) =>
        when(c.getField("d2") < acc.getField("best"),
          struct(c.getField("code").as("code"), c.getField("d2").as("best")))
        .otherwise(acc)).getField("code")
    val codes = base
      .withColumn("cell", assignCellStruct(spark, cents, col("v")).getField("cell"))
      .select(col("vec_id"), col("cell"), explode(subspaces("v", "xs")).as("e"))
      .select(col("vec_id"), col("cell"), col("e.s").as("s"), col("e.xs").as("xs"))
      .withColumn("code", bestCode)
      .select(col("vec_id"), col("cell"), col("s"), col("code"))
    // probes × LUT in ONE projection chain over ONE query-side scan:
    // the old form scanned the (filter-pushed) query rows twice —
    // once for the probe cells, once for the per-subspace code
    // distances — and joined the two inside the broadcast build. The
    // probe-cell explode and the subspace/code explodes compose
    // row-wise (|Q|·nprobe·m·k rows either way, identical columns and
    // d2 arithmetic), so chaining the generators yields the exact same
    // broadcast relation from one scan with no join (guide §2.4:
    // remove the exchange/join outright).
    val probeLut = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v"),
        explode(topProbeCells(spark, cents, col("v"), nprobe)).as("cell"))
      .select(col("query_id"), col("cell"), explode(subspaces("v", "qs")).as("e"))
      .select(col("query_id"), col("cell"), col("e.s").as("s"),
        col("e.qs").as("qs"))
      .select(col("query_id"), col("cell"), col("s"),
        explode(transform(element_at(cbLit, col("s") + 1), c =>
          struct(c.getField("_1").as("code"),
                 l2c(col("qs"), c.getField("_2")).as("d2")))).as("cd"))
      .select(col("query_id"), col("cell"), col("s"),
        col("cd.code").as("code"), col("cd.d2").as("d2"))
    codes.join(broadcast(probeLut), Seq("cell", "s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"), col("cell"))
      .agg(sum(col("d2").cast("decimal(18,6)")).cast("double").as("adc"))
  }

  val annRerankSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS arn
      |    FROM e CROSS JOIN c)
      |  WHERE arn = 1),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT e.vec_id AS query_id, c.cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ROUND(list_cosine_similarity(c.cv, e.v), 6) DESC, c.cent_id) AS prn
      |    FROM e CROSS JOIN c WHERE e.vec_id < 5)
      |  WHERE prn <= 2),
      |sub AS (SELECT unnest(range(0, 4)) AS s),
      |cb AS (
      |  SELECT s.s, e.vec_id AS code, e.v[s.s*16 + 1 : s.s*16 + 16] AS cv
      |  FROM e CROSS JOIN sub s WHERE e.vec_id < 16),
      |xs AS (
      |  SELECT e.vec_id, s.s, e.v[s.s*16 + 1 : s.s*16 + 16] AS xs
      |  FROM e CROSS JOIN sub s),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT x.vec_id, x.s, cb.code,
      |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s ORDER BY
      |        ROUND(list_sum(list_transform(range(1, 17),
      |          i -> (x.xs[i] - cb.cv[i]) * (x.xs[i] - cb.cv[i]))), 6) ASC,
      |        cb.code ASC) AS rn
      |    FROM xs x JOIN cb ON cb.s = x.s)
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT x.vec_id AS query_id, x.s, cb.code,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> (x.xs[i] - cb.cv[i]) * (x.xs[i] - cb.cv[i]))), 6) AS d2
      |  FROM xs x JOIN cb ON cb.s = x.s WHERE x.vec_id < 5),
      |adc AS (
      |  SELECT p.query_id, cd.vec_id,
      |    CAST(SUM(CAST(l.d2 AS DECIMAL(18,6))) AS DOUBLE) AS adc
      |  FROM codes cd
      |  JOIN assigned a ON a.vec_id = cd.vec_id
      |  JOIN probes p ON p.cell = a.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.s = cd.s AND l.code = cd.code
      |  WHERE cd.vec_id != p.query_id
      |  GROUP BY p.query_id, cd.vec_id),
      |short AS (
      |  SELECT query_id, vec_id, adc FROM (
      |    SELECT query_id, vec_id, adc,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS srank
      |    FROM adc)
      |  WHERE srank <= 15),
      |rr AS (
      |  SELECT s.query_id, s.vec_id, s.adc,
      |    ROUND(list_cosine_similarity(q.v, e.v), 6) AS cos
      |  FROM short s
      |  JOIN e ON e.vec_id = s.vec_id
      |  JOIN e q ON q.vec_id = s.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos, adc,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM rr)
      |SELECT query_id, rank, vec_id, cos, adc FROM ranked
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Symmetric int8 quantization per vector (max-abs scale — the storage
    * form a 100 TB embedding corpus actually ships: 4× smaller than fp32,
    * dequantize = q * scale / 127). One narrow projection, no shuffle
    * except the presentation sort; the scale survives as a column so the
    * quantization is invertible to within rounding. The verified output
    * carries the quantized vector as a scalar md5 fingerprint (`q_fp`) plus
    * its L1 mass — pandas can't sort/hash a raw array column, and the
    * fingerprint pins every element byte-for-byte anyway.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("scale",
        expr("greatest(array_max(transform(v, x -> abs(x))), cast(1e-12 AS double))"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        expr("transform(v, x -> cast(round(x / scale * 127.0, 0) AS int))").as("q"))
      .select(col("vec_id"), col("scale"),
        expr("md5(array_join(transform(q, x -> cast(x AS string)), ','))").as("q_fp"),
        expr("aggregate(q, 0L, (acc, x) -> acc + abs(x))").as("q_l1"))
      .orderBy("vec_id")
  }

  val embedQuantizeSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |  GREATEST(list_max(list_transform(v, x -> ABS(x))), 1e-12) AS scale
      |  FROM e),
      |q AS (SELECT vec_id, ROUND(scale, 6) AS scale,
      |  list_transform(v, x -> CAST(ROUND(x / scale * 127.0, 0) AS INT)) AS q
      |  FROM s)
      |SELECT vec_id, scale,
      |  md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')) AS q_fp,
      |  CAST(COALESCE(list_sum(list_transform(q, x -> ABS(x))), 0) AS BIGINT) AS q_l1
      |FROM q
      |ORDER BY vec_id""".stripMargin

  /** Sign-random-projection LSH near-dup pairs — the second ANN scale
    * path next to IVF: 16 deterministic Rademacher hyperplanes give every
    * vector a 16-bit sign signature; candidates share one of 4 bands of
    * 4 bits; exact cosine ≥ 0.35 verifies. Star-edge pairing per bucket
    * (the [[DedupQueries.jaccardPairs]] guard) keeps dense buckets linear.
    *
    * Candidate recall is the SRP collision curve: per-bit agreement
    * 1 − θ/π, so at this corpus's demo threshold (0.35 ≈ 69°, agreement
    * 0.62) a 4-bit band collides ~14% and any of 4 bands ~46%; at a TRUE
    * near-dup threshold (cos ≥ 0.9 ≈ 26°, agreement 0.86) the same
    * geometry gives ~55%/band and ~96% overall — production SRP dedup
    * runs tight thresholds with wider bands. As in [[DedupQueries]], the
    * emitted pairs are UNION-FIND EDGES (each member ↔ its bucket
    * representative), not an exhaustive enumeration — exhaustive
    * in-bucket pairing would need the minhash collect_list+cap form, and
    * 4-bit keys grow buckets ~n/16 with the corpus (production widens
    * keys as it widens thresholds).
    *
    * The plane matrix is a PURE FUNCTION of (plane, dim) via md5, so the
    * oracle rebuilds the identical ±1 entries in SQL; the Spark side bakes
    * them in as literals (computed once at plan build, zero per-row
    * hashing). Dot products fold left-to-right in both engines (Spark
    * `aggregate`, DuckDB `list_sum(list_transform(...))`) — the same
    * float-determinism contract as the cosine path.
    */
  private val nPlanes = 16
  private val dims = 64
  private[ext] def lshSign(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"lsh:$p:$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if (hex.charAt(0) <= '7') 1.0 else -1.0
  }
  private def planesLit: String =
    (0 until nPlanes).map { p =>
      (0 until dims).map(d => s"${lshSign(p, d)}D").mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")

  /** SRP 16-bit sign signature of column `v` — shared by the star-edge
    * pair generator here and the exhaustive-pairs near-dup operator in
    * [[DedupQueries.embedDupPairs]].
    */
  private[ext] def srpSigExprSql: String =
    s"""aggregate(sequence(0, ${nPlanes - 1}), 0L, (acc, p) -> acc + shiftleft(
         CASE WHEN aggregate(zip_with(v, $planesLit[p], (x, r) -> x * r),
           0D, (a, x) -> a + x) > 0
         THEN 1L ELSE 0L END, p))"""

  /** DuckDB replay of the signature (`e`, `sg` CTEs) for the oracles. */
  private[ext] val srpSigSqlCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sg AS (
      |  SELECT vec_id, v,
      |    CAST(list_sum(list_transform(range(0, $nPlanes), p ->
      |      CASE WHEN list_sum(list_transform(range(1, ${dims + 1}), d ->
      |          v[d] * (CASE WHEN substr(md5('lsh:' || CAST(p AS VARCHAR) || ':'
      |            || CAST(d - 1 AS VARCHAR)), 1, 1) <= '7'
      |            THEN 1.0 ELSE -1.0 END))) > 0
      |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS sig
      |  FROM e)""".stripMargin

  def embedLshPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist: (vec_id, v, sig) feeds banding and both verify joins once
    val e = vecs(spark, dir)
      .repartition(col("vec_id"))
      .withColumn("sig", expr(srpSigExprSql))
      .select("vec_id", "v", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val banded = e.select(col("vec_id"),
      explode(expr("transform(sequence(0, 3), " +
        "b -> struct(b AS band, shiftright(sig, b * 4) & 15 AS key))")).as("bb"))
      .select(col("vec_id"), col("bb.band"), col("bb.key"))
    val cand = banded
      .withColumn("vec_a", min(col("vec_id"))
        .over(Window.partitionBy(col("band"), col("key"))))
      .select(col("vec_a"), col("vec_id").as("vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("v_a")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("v_b")), Seq("vec_b"))
      .withColumn("cos0", cosineExpr("v_a", "v_b"))
      .select(col("vec_a"), col("vec_b"),
        explode(expr("filter(array(round(cos0, 6)), c -> c >= 0.35)")).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  // NOTE: srpSigSqlCtes is already margin-stripped — concatenate, never
  // re-interpolate it into a stripMargin block (its `||` concat operators
  // start lines and would be eaten as margins)
  val embedLshPairsSql: String =
    s"WITH $srpSigSqlCtes,\n" +
    s"""banded AS (
      |  SELECT vec_id, b.band, (sig >> (b.band * 4)) & 15 AS key
      |  FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
      |star AS (
      |  SELECT MIN(vec_id) OVER (PARTITION BY band, key) AS vec_a,
      |    vec_id AS vec_b
      |  FROM banded),
      |cand AS (SELECT DISTINCT vec_a, vec_b FROM star WHERE vec_a < vec_b)
      |SELECT c.vec_a, c.vec_b,
      |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
      |FROM cand c
      |JOIN e a ON a.vec_id = c.vec_a
      |JOIN e b ON b.vec_id = c.vec_b
      |WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Hybrid retrieval: BM25 lexical top-20 + dense cosine top-20 fused by
    * Reciprocal Rank Fusion (Cormack et al., SIGIR'09: score =
    * Σ 1/(k + rank), k=60) — the standard two-tower RAG retrieval shape
    * (sparse and dense legs retrieve independently; fusion needs only
    * RANKS, never comparable scores, which is why RRF survives engine
    * swaps where score normalization breaks).
    *
    * Scale shape: each leg is already the tuned operator — the lexical
    * leg is [[TextQueries.bm25Search]] (query-term-filtered token stream,
    * TakeOrdered top-k), the dense leg broadcasts ONE query vector
    * against a single corpus scan and TakeOrders top-k (the production
    * swap-in is [[annIvf]]'s probe path, identical downstream). Both
    * legs end at k=20 rows, so the fusion full-outer join and final
    * re-rank run on ≤40 rows regardless of corpus size — fusion cost is
    * O(k), the corpus is scanned once per leg and never shuffled.
    *
    * Determinism: ranks are integers; 1/(60+rank) is one IEEE double
    * division computed identically by both engines, the two-term sum is
    * rounded at 6dp before the final ORDER BY (ties — e.g. a doc ranked
    * r by one leg only vs another doc ranked r by the other leg only —
    * break on doc_id).
    */
  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextQueries.bm25Search(spark, dir)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val base = vecs(spark, dir)
    val qv = base.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val wDense = Window.orderBy(desc("cos"), asc("vec_id"))
    val dense = base.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
      .orderBy(desc("cos"), asc("vec_id")).limit(20)
      .withColumn("dense_rank", row_number().over(wDense).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60L) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60L) + col("dense_rank")), lit(0.0)), 6))
    val wFinal = Window.orderBy(desc("rrf"), asc("doc_id"))
    fused.orderBy(desc("rrf"), asc("doc_id")).limit(10)
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .select(col("rank"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), col("rrf"))
      .orderBy("rank")
  }

  val hybridSearchRrfSql: String = {
    // lexical leg: bm25_search's CTE chain verbatim, cut to (doc_id, rank)
    val bm25Ctes = TextQueries.bm25SearchSql
      .stripPrefix("WITH ").split("\nSELECT ")(0)
    s"""WITH $bm25Ctes,
      |lex AS (
      |  SELECT doc_id, lex_rank FROM (
      |    SELECT doc_id,
      |      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
      |    FROM sc ORDER BY score DESC, doc_id LIMIT 20)),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |dense AS (
      |  SELECT vec_id AS doc_id,
      |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS dense_rank
      |  FROM (
      |    SELECT e.vec_id, ROUND(list_cosine_similarity(q.qv, e.v), 6) AS cos
      |    FROM e CROSS JOIN q WHERE e.vec_id != 0
      |    ORDER BY cos DESC, vec_id LIMIT 20)),
      |fused AS (
      |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
      |    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
      |        + COALESCE(CAST(1 AS DOUBLE) / (60 + d.dense_rank), 0), 6) AS rrf
      |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
      |SELECT ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank,
      |  doc_id, lex_rank, dense_rank, rrf
      |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  /** [[AnnIndex]]'s partition-pruned search under the driver gate: the
    * index is built once per JVM per corpus (the
    * [[ClusterIndex.forCorpus]] compute-once discipline), then every
    * probe reads only its cells' files — and the result must hash-match
    * `ann_ivf`'s oracle, proving the persisted layout returns exactly
    * what the in-memory form does.
    */
  def annIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val cents = centroidLit(base, 16)
    val loc = graft.SparkUtil.oncePerJvm("ann-index", dir) { d =>
      AnnIndex.build(base, cents, d)
      ()
    }
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    AnnIndex.search(spark, loc, cents, probes, nprobe = 2, k = 5)
  }

  /** Contrastive hard-negative mining: for each probe vector, the top-5
    * most-similar vectors of a DIFFERENT label — the training-pair
    * construction for contrastive/metric learning (high-similarity
    * cross-class items are exactly the "hard" negatives a random sampler
    * almost never draws). Same scale shape as [[knnBrute]]: broadcast
    * the bounded probe set, ONE corpus scan, per-probe top-k window over
    * the probe-keyed exchange; the label filter rides the join
    * condition, so same-class rows never enter the exchange. At 100 TB
    * the probe set is a training batch (10²–10⁴ rows) — still a
    * broadcast — and the ranked window becomes per-probe TakeOrdered.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = vecs(spark, dir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val scored = base.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .withColumn("cos", round(cosineExpr("qv", "v"), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("label").as("neg_label"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val hardNegativesSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id, e.label,
      |    ROUND(list_cosine_similarity(q.qv, e.v), 6) AS cos
      |  FROM e CROSS JOIN q
      |  WHERE e.vec_id != q.query_id AND e.label != q.q_label),
      |ranked AS (
      |  SELECT query_id, vec_id, label, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, label AS neg_label, cos FROM ranked
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Per-label mean-pooled embeddings (class centroids / domain
    * vectors): the grouped VECTOR MEAN a pipeline computes for
    * prototype classifiers, SemDeDup-style cell seeds, or per-domain
    * steering vectors. Distributed shape: `posexplode` the vectors to
    * (label, pos, x) and partial-aggregate per (label, pos) — labels ×
    * dim result rows, ONE shuffle whose width is rows × dim scalars but
    * whose reduce side is bounded by the tiny result; at 100 TB this is
    * the standard centroid computation (map-side combine does almost
    * all the work; no vector ever crosses the wire whole). Exactness:
    * elements are quantized `floor(x·10⁶)` BIGINTs, so the per-cell
    * mass is an order-free exact sum and the mean is ONE IEEE division
    * of two integers — hash-identical in the DuckDB replay.
    */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame = {
    vecs(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(x * 1000000) AS bigint)")).as("mass"))
      .withColumn("mean_q", col("mass").cast("double") / col("n").cast("double"))
      .orderBy("label", "pos")
  }

  val embedCentroidsSql: String =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |x AS (SELECT label, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM e)
      |SELECT label, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS BIGINT) AS mass,
      |  CAST(CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS mean_q
      |FROM x
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** Embedding-norm QUALITY AUDIT: per-label vector-norm distribution —
    * the degenerate-embedding detector (zero/near-zero norms from
    * failed encoder calls, label-level norm drift from mixed encoder
    * versions) a pipeline runs before any cosine-based stage trusts the
    * table. Exactness via quantize-FIRST (the kmeans_train discipline):
    * each element becomes `floor(x·10⁶)` BIGINT before squaring, so the
    * per-vector sum of squares is an exact integer in ANY fold order,
    * the norm is one IEEE sqrt of that integer floored back to 10⁻⁶
    * units, and the per-label mass sums are order-free BIGINTs — the
    * only float emitted is the final mean division. Pure projection +
    * one label-keyed aggregate.
    */
  def embedNormAudit(spark: SparkSession, dir: String): DataFrame = {
    vecs(spark, dir)
      .withColumn("ssq", expr(
        """aggregate(v, 0L, (acc, x) ->
           |  acc + cast(floor(x * 1000000) AS bigint)
           |      * cast(floor(x * 1000000) AS bigint))""".stripMargin))
      .withColumn("norm_u", expr("cast(floor(sqrt(ssq)) AS bigint)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ssq") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm_u")).as("min_norm_u"),
        max(col("norm_u")).as("max_norm_u"),
        sum(col("norm_u")).as("mass"))
      .withColumn("mean_norm", round(
        col("mass").cast("double") / col("n").cast("double") / 1000000.0, 6))
      .orderBy("label")
  }

  val embedNormAuditSql: String =
    """WITH e AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (
      |  SELECT label,
      |    CAST(list_sum(list_transform(v, x ->
      |      CAST(FLOOR(x * 1000000) AS BIGINT)
      |        * CAST(FLOOR(x * 1000000) AS BIGINT))) AS BIGINT) AS ssq
      |  FROM e),
      |n AS (SELECT label, ssq,
      |    CAST(FLOOR(SQRT(ssq)) AS BIGINT) AS norm_u FROM q)
      |SELECT label, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN ssq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  MIN(norm_u) AS min_norm_u,
      |  MAX(norm_u) AS max_norm_u,
      |  CAST(SUM(norm_u) AS BIGINT) AS mass,
      |  ROUND(CAST(SUM(norm_u) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_norm
      |FROM n
      |GROUP BY label
      |ORDER BY label""".stripMargin

  private val MmrK = 8          // results to return
  private val MmrShortlist = 30 // relevance shortlist fed to the greedy
  // λ=0.5 as an exact binary double: rel − 0.5·maxsim is bit-identical
  // on both engines given the 6dp-rounded inputs
  private val MmrLambda = 0.5

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein, SIGIR'98) —
    * DIVERSIFIED top-k: greedily pick the candidate maximizing
    * `rel(c) − λ·max_{s∈selected} sim(c, s)`, so near-duplicates of an
    * already-selected result are pushed down. The retrieval pattern
    * every RAG stack runs after ANN.
    *
    * Scale shape: the corpus-scale stage is the RELEVANCE SHORTLIST
    * (here brute-force top-[[MmrShortlist]]; at 100 TB the ANN tier's
    * partition-pruned probe produces it), planned as TakeOrdered with
    * full tiebreaks. The greedy itself is inherently sequential but
    * runs on the BOUNDED shortlist: its ≤30 (rel) + ≤900 (pairwise
    * sim) 6dp-ROUNDED scores are computed IN SPARK (the
    * `round(cosine, 6)` parity contract knn_brute pins) and pulled to
    * the driver — a documented bounded collect, the centroid-literal
    * discipline. Score arithmetic past the rounding is plain IEEE
    * double ops, so the unrolled DuckDB greedy replays every selection
    * (including ties, broken by vec_id) bit-for-bit.
    */
  def mmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir)
    val q = base.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val cand = base.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), round(cosineExpr("qv", "v"), 6).as("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(MmrShortlist)
      .localCheckpoint(true)
    // pairwise 6dp sims among the bounded shortlist (≤ 30×30 rows)
    val a = cand.select(col("vec_id").as("a_id"), col("v").as("av"))
    val b = cand.select(col("vec_id").as("b_id"), col("v").as("bv"))
    val sims = a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), round(cosineExpr("av", "bv"), 6).as("sim"))
    val rels: Array[(Long, Double)] = cand.select("vec_id", "rel").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val simMap: Map[(Long, Long), Double] = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // greedy over rounded doubles only — the DuckDB unrolled replay
    // computes the identical rel − λ·max(sim) expression per step
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(rels.toIndexedSeq.sortBy { case (id, rel) => (-rel, id) }: _*)
    var rank = 0
    while (rank < MmrK && remaining.nonEmpty) {
      rank += 1
      val best = remaining.iterator.map { case (id, rel) =>
        val score =
          if (selected.isEmpty) rel
          else rel - MmrLambda * selected.iterator
            .map(s => simMap((id, s._1))).max
        (id, rel, score)
      }.minBy { case (id, _, score) => (-score, id) }
      selected += best
      remaining.remove(best._1)
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toDF("rank", "vec_id", "rel", "score")
  }

  val mmrDiversifySql: String = {
    val steps = (2 to MmrK).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT c.vec_id, c.rel, c.rel - $MmrLambda * MAX(p.sim) AS score,
         |    CAST($i AS BIGINT) AS rank
         |  FROM cand c
         |  JOIN pairs p ON p.a_id = c.vec_id
         |  JOIN sel${i - 1} s ON p.b_id = s.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY c.vec_id, c.rel
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1}
         |  UNION ALL SELECT vec_id FROM s$i),""".stripMargin
    }.mkString("\n")
    val union = (1 to MmrK).map(i => s"SELECT rank, vec_id, rel, score FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.v,
       |    ROUND(list_cosine_similarity(qv, v), 6) AS rel
       |  FROM e CROSS JOIN q WHERE e.vec_id != 0
       |  ORDER BY rel DESC, e.vec_id LIMIT $MmrShortlist),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
       |  FROM cand a JOIN cand b ON a.vec_id != b.vec_id),
       |s1 AS MATERIALIZED (
       |  SELECT vec_id, rel, rel AS score, CAST(1 AS BIGINT) AS rank
       |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |fin AS (
       |$union)
       |SELECT rank, vec_id, rel, score FROM fin ORDER BY rank""".stripMargin
  }

  private val CovDims = 8
  private val CovPairs: Seq[(Int, Int)] =
    for { i <- 0 until CovDims; j <- i until CovDims } yield (i, j)

  /** EMBEDDING COVARIANCE — the moment pass in front of whitening/PCA:
    * the upper-triangular covariance of the first [[CovDims]] embedding
    * dimensions (36 entries incl. variances) from ONE corpus
    * aggregate, the [[graft.queries.OlapQueries]] `corr_matrix`
    * discipline applied to ARRAY columns. Float elements are quantized
    * to integer MICROS first (`round(x·1e6)` — identical on both
    * engines), so every sum is order-free integer arithmetic — the
    * only way a float-element aggregate replays exactly under
    * arbitrary partitioning; cross-products accumulate as
    * DECIMAL(38,0) (a corpus-scale row count overflows BIGINT there),
    * and the covariance divides back by 1e12 in one final double step.
    * At 100 TB: one shuffle of 8 + 36 + 1 scalars, nothing else; the
    * eigen step on the resulting d×d matrix is bounded driver math
    * (the centroid-literal discipline).
    */
  def embedCovariance(spark: SparkSession, dir: String): DataFrame = {
    def m(i: Int) = s"cast(round(cast(embedding[$i] AS double) * 1000000) AS bigint)"
    val agg = Tables(spark, dir, "embeddings").agg(
      count(lit(1)).as("n"),
      (0 until CovDims).map(i => sum(expr(m(i))).as(s"s_$i")) ++
        CovPairs.map { case (i, j) =>
          sum(expr(s"cast(${m(i)} * ${m(j)} AS decimal(38,0))")).as(s"x_${i}_$j")
        }: _*)
    val rows = CovPairs.map { case (i, j) =>
      struct(lit(i).cast("long").as("dim_i"), lit(j).cast("long").as("dim_j"),
        round(((col(s"x_${i}_$j").cast("double")
          - col(s"s_$i").cast("double") * col(s"s_$j").cast("double") / col("n"))
          / col("n")) / 1e12, 6).as("cov"))
    }
    agg.select(col("n"), explode(array(rows: _*)).as("p"))
      .select(col("p.dim_i"), col("p.dim_j"), col("n"), col("p.cov"))
      .orderBy("dim_i", "dim_j")
  }

  val embedCovarianceSql: String = {
    def m(i: Int) =
      s"CAST(ROUND(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) AS BIGINT)"
    val sums = (0 until CovDims).map(i =>
      s"CAST(SUM(${m(i)}) AS BIGINT) AS s_$i").mkString(",\n    ")
    val crosses = CovPairs.map { case (i, j) =>
      s"CAST(SUM(CAST(${m(i)} * ${m(j)} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS x_${i}_$j"
    }.mkString(",\n    ")
    val rows = CovPairs.map { case (i, j) =>
      s"""SELECT CAST($i AS BIGINT) AS dim_i, CAST($j AS BIGINT) AS dim_j, n,
         |  ROUND(((CAST(x_${i}_$j AS DOUBLE)
         |    - CAST(s_$i AS DOUBLE) * CAST(s_$j AS DOUBLE) / n) / n)
         |    / 1e12, 6) AS cov
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $sums,
       |    $crosses
       |  FROM embeddings)
       |$rows
       |ORDER BY dim_i, dim_j""".stripMargin
  }

  private val StdDims = 16

  /** PER-DIMENSION FEATURE STATISTICS + OUTLIER AUDIT over the first
    * [[StdDims]] embedding dimensions — the standardization pass in
    * front of any distance-based model (a dimension with 100× the
    * variance silently owns every Euclidean distance): mean, std,
    * min/max, and the count of |x − μ| > 3σ outliers per dimension.
    * TWO corpus passes — moments, then the outlier count against the
    * broadcast moment row — and the outlier test itself is EXACT
    * integer arithmetic, cross-multiplied to kill the division AND the
    * square root: `(n·x − Σx)² > 9·n·(n·Σx² − (Σx)²)` over the
    * quantized grid (DECIMAL(38)/HUGEINT — widths proven past sf100);
    * std is displayed via the IEEE-exact sqrt, rounded 6dp.
    */
  def embedStandardize(spark: SparkSession, dir: String): DataFrame = {
    def m(i: Int) = s"cast(round(cast(embedding[$i] AS double) * 1000000) AS bigint)"
    val mom = Tables(spark, dir, "embeddings").agg(
      count(lit(1)).as("n"),
      (0 until StdDims).flatMap(i => Seq(
        sum(expr(m(i))).as(s"s_$i"),
        sum(expr(s"cast(${m(i)} * ${m(i)} AS decimal(38,0))")).as(s"q_$i"),
        min(expr(m(i))).as(s"mn_$i"),
        max(expr(m(i))).as(s"mx_$i"))): _*)
      // 1-row moment frame: checkpointed so the final plan references a
      // leaf — without this the aggregate subtree (and its corpus scan)
      // plans TWICE, once under the outlier crossJoin and once in the
      // output row (PlanAuditSpec)
      .localCheckpoint(true)
    val out = Tables(spark, dir, "embeddings")
      .crossJoin(broadcast(mom))
      .select((0 until StdDims).map(i => expr(
        s"""CASE WHEN
           |  cast(cast(n AS decimal(38,0)) * ${m(i)}
           |    - cast(s_$i AS decimal(38,0)) AS decimal(38,0))
           |  * cast(cast(n AS decimal(38,0)) * ${m(i)}
           |    - cast(s_$i AS decimal(38,0)) AS decimal(38,0))
           |  > 9 * cast(n AS decimal(38,0))
           |    * (cast(n AS decimal(38,0)) * q_$i
           |       - cast(s_$i AS decimal(38,0)) * cast(s_$i AS decimal(38,0)))
           |THEN 1L ELSE 0L END""".stripMargin).as(s"o_$i")): _*)
      .agg(sum(col("o_0")).as("no_0"),
        (1 until StdDims).map(i => sum(col(s"o_$i")).as(s"no_$i")): _*)
    val rows = (0 until StdDims).map(i =>
      struct(lit(i.toLong).as("dim"),
        expr(s"""CASE WHEN s_$i >= 0
                 THEN (2 * s_$i * 1000000 + n) div (2 * n)
                 ELSE -((2 * -s_$i * 1000000 + n) div (2 * n)) END / 1e12""")
          .as("mean"),
        expr(s"""round(sqrt(cast(cast(n AS decimal(38,0)) * q_$i
                 - cast(s_$i AS decimal(38,0)) * cast(s_$i AS decimal(38,0))
                 AS double)) / n / 1e6, 6)""").as("std"),
        expr(s"mn_$i / 1e6").as("min_v"),
        expr(s"mx_$i / 1e6").as("max_v"),
        col(s"no_$i").as("n_outliers")))
    mom.crossJoin(broadcast(out))
      .select(col("n"), explode(array(rows: _*)).as("p"))
      .select(col("p.dim"), col("n"), col("p.mean"), col("p.std"),
        col("p.min_v"), col("p.max_v"), col("p.n_outliers"))
      .orderBy("dim")
  }

  val embedStandardizeSql: String = {
    def m(i: Int) =
      s"CAST(ROUND(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) AS BIGINT)"
    val moms = (0 until StdDims).map(i =>
      s"""CAST(SUM(${m(i)}) AS BIGINT) AS s_$i,
         |    CAST(SUM(CAST(${m(i)} * ${m(i)} AS HUGEINT)) AS HUGEINT) AS q_$i,
         |    CAST(MIN(${m(i)}) AS BIGINT) AS mn_$i,
         |    CAST(MAX(${m(i)}) AS BIGINT) AS mx_$i""".stripMargin)
      .mkString(",\n    ")
    val outs = (0 until StdDims).map(i =>
      s"""CAST(SUM(CASE WHEN
         |  (CAST(n AS HUGEINT) * ${m(i)} - CAST(s_$i AS HUGEINT))
         |    * (CAST(n AS HUGEINT) * ${m(i)} - CAST(s_$i AS HUGEINT))
         |  > 9 * CAST(n AS HUGEINT)
         |    * (CAST(n AS HUGEINT) * q_$i
         |       - CAST(s_$i AS HUGEINT) * CAST(s_$i AS HUGEINT))
         |THEN 1 ELSE 0 END) AS BIGINT) AS no_$i""".stripMargin)
      .mkString(",\n    ")
    val rows = (0 until StdDims).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS dim, n,
         |  CASE WHEN s_$i >= 0
         |    THEN (2 * s_$i * 1000000 + n) // (2 * n)
         |    ELSE -((2 * -s_$i * 1000000 + n) // (2 * n)) END / 1e12 AS mean,
         |  ROUND(SQRT(CAST(CAST(n AS HUGEINT) * q_$i
         |    - CAST(s_$i AS HUGEINT) * CAST(s_$i AS HUGEINT) AS DOUBLE))
         |    / n / 1e6, 6) AS std,
         |  mn_$i / 1e6 AS min_v, mx_$i / 1e6 AS max_v, no_$i AS n_outliers
         |FROM j""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH mom AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $moms
       |  FROM embeddings),
       |o AS (
       |  SELECT
       |    $outs
       |  FROM embeddings CROSS JOIN mom),
       |j AS (SELECT * FROM mom CROSS JOIN o)
       |$rows
       |ORDER BY dim""".stripMargin
  }

  /** INTER-CLASS CENTROID DISTANCE MATRIX — how separated the label
    * clusters are in embedding space, the one-number-per-pair audit in
    * front of training a classifier on these labels (two classes whose
    * centroids nearly coincide will never separate linearly). The
    * EXACT form of "distance between means" without ever materializing
    * a mean: d(a,b)² = Σᵢ (sₐᵢ·n_b − s_bᵢ·nₐ)² / (nₐ·n_b)², where the
    * numerator is a pure DECIMAL(38)/HUGEINT fold over the per-label
    * quantized coordinate sums — the float division that makes means
    * engine-fragile is deferred to ONE final sqrt/division pair.
    * Corpus work: one posexplode aggregate to (label, pos) sums; the
    * pair matrix is labels²·dims bounded.
    */
  def centroidDistances(spark: SparkSession, dir: String): DataFrame = {
    val sums = Tables(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(expr("cast(round(cast(x AS double) * 1000000) AS bigint)"))
        .as("s"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sums.select(col("pos"), col("label").as("label_a"),
      col("s").as("sa"), col("n").as("na"))
    val b = sums.select(col("pos"), col("label").as("label_b"),
      col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(max("na").as("na"), max("nb").as("nb"),
        sum(expr("""(cast(sa AS decimal(38,0)) * nb
                     - cast(sb AS decimal(38,0)) * na)
                    * (cast(sa AS decimal(38,0)) * nb
                     - cast(sb AS decimal(38,0)) * na)""")).as("num"))
      .select(col("label_a"), col("label_b"), col("na"), col("nb"),
        expr("round(sqrt(cast(num AS double)) / (cast(na AS double) * nb) / 1e6, 6)")
          .as("centroid_dist"))
      .orderBy("label_a", "label_b")
  }

  val centroidDistancesSql: String =
    """WITH e AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ex AS (
      |  SELECT label, generate_subscripts(v, 1) - 1 AS pos,
      |    CAST(ROUND(unnest(v) * 1000000) AS BIGINT) AS q
      |  FROM e),
      |sums AS (
      |  SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ex GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    CAST(MAX(a.n) AS BIGINT) AS na, CAST(MAX(b.n) AS BIGINT) AS nb,
      |    SUM((CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)
      |      * (CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n))
      |      AS num
      |  FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT label_a, label_b, na, nb,
      |  ROUND(SQRT(CAST(num AS DOUBLE))
      |    / (CAST(na AS DOUBLE) * nb) / 1e6, 6) AS centroid_dist
      |FROM pairs
      |ORDER BY label_a, label_b""".stripMargin

  /** EMBEDDING OUTLIERS — the 20 vectors farthest from the GLOBAL
    * centroid: the junk-embedding detector at the vector level (failed
    * encoder calls, wrong-modality rows, adversarial inputs), next to
    * [[embedStandardize]]'s per-dimension view. Mean-free exactness as
    * in [[centroidDistances]]: dist²·n² = Σᵢ (n·qᵢ − sᵢ)² with the
    * per-dim sums shipped as a broadcast 1-row array — the squared
    * terms ride DECIMAL(38)/HUGEINT inside the fold (they pass 2⁶³ at
    * ~10⁴ rows), and the only floats are the final sqrt + display
    * division. One moment pass + one scoring pass; top-20 TakeOrdered.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val dims = 64
    def q = "cast(round(cast(x AS double) * 1000000) AS bigint)"
    val sums = Tables(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(sum(expr(q)).as("s"), count(lit(1)).as("n"))
      // collect_list order is NOT execution-stable: sort the structs
      // inside the aggregate, then project — position-true by key
      .agg(expr("transform(array_sort(collect_list(struct(pos, s))), p -> p.s)")
        .as("sarr"), max("n").as("n"))
      .localCheckpoint(true)
    Tables(spark, dir, "embeddings")
      .crossJoin(broadcast(sums))
      .select(col("vec_id"), col("label"), col("n"), expr(
        s"""aggregate(sequence(0, ${dims - 1}),
           |  cast(0 AS decimal(38,0)),
           |  (acc, i) -> acc +
           |    cast(n * cast(round(cast(embedding[i] AS double) * 1000000)
           |           AS bigint) - sarr[i] AS decimal(38,0))
           |    * (n * cast(round(cast(embedding[i] AS double) * 1000000)
           |           AS bigint) - sarr[i]))""".stripMargin).as("num"))
      .select(col("vec_id"), col("label"),
        expr("round(sqrt(cast(num AS double)) / n / 1e6, 6)")
          .as("dist_from_centroid"))
      .orderBy(desc("dist_from_centroid"), asc("vec_id")).limit(20)
  }

  val embedOutliersSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |x AS (
      |  SELECT generate_subscripts(v, 1) - 1 AS pos,
      |    CAST(ROUND(unnest(v) * 1000000) AS BIGINT) AS q
      |  FROM e),
      |sums AS (
      |  SELECT pos, CAST(SUM(q) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM x GROUP BY pos),
      |agg AS (
      |  SELECT list(s ORDER BY pos) AS sarr, MAX(n) AS n FROM sums),
      |scored AS (
      |  SELECT vec_id, label,
      |    list_sum(list_transform(range(1, 65), i ->
      |      CAST(n * CAST(ROUND(v[i] * 1000000) AS BIGINT) - sarr[i]
      |           AS HUGEINT)
      |      * (n * CAST(ROUND(v[i] * 1000000) AS BIGINT) - sarr[i])))
      |      AS num, n
      |  FROM e CROSS JOIN agg)
      |SELECT vec_id, label,
      |  ROUND(SQRT(CAST(num AS DOUBLE)) / n / 1e6, 6) AS dist_from_centroid
      |FROM scored
      |ORDER BY dist_from_centroid DESC, vec_id
      |LIMIT 20""".stripMargin

  private val PcaIters = 3

  /** PRINCIPAL COMPONENT via POWER ITERATION over the [[CovDims]]-dim
    * covariance block — PCA TRAINED IN-ENGINE under the hash gate, the
    * eigen sibling of [[graft.ext.KMeans]]: one corpus pass computes
    * the exact moment sums (the [[embedCovariance]] pass), the SCALED
    * covariance `n·Σxy − Σx·Σy` stays in DECIMAL(38,0) (eigenvectors
    * are scale-invariant, so the /n²·10¹² display normalization is
    * never needed), and [[PcaIters]] unrolled power steps run as pure
    * integer column arithmetic ON THE ONE-ROW AGGREGATE — matrix×vector
    * products in exact decimal, each iterate renormalized to ±10⁶ by
    * the max-|component| signed integer division. No join, no loop
    * job, no float until the final loading/Rayleigh display columns.
    * Output: the 8 loadings + the explained-variance ratio
    * (Rayleigh/trace, both exact decimals, one rounded double ratio).
    */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    def m(i: Int) = s"cast(round(cast(embedding[$i] AS double) * 1000000) AS bigint)"
    val agg = Tables(spark, dir, "embeddings").agg(
      count(lit(1)).as("n"),
      (0 until CovDims).map(i => sum(expr(m(i))).as(s"s_$i")) ++
        CovPairs.map { case (i, j) =>
          sum(expr(s"cast(${m(i)} * ${m(j)} AS decimal(38,0))")).as(s"x_${i}_$j")
        }: _*)
    def cCell(i: Int, j: Int): String = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      s"(cast(n AS decimal(38,0)) * x_${a}_$b" +
        s" - cast(s_$i AS decimal(38,0)) * cast(s_$j AS decimal(38,0)))"
    }
    var df = agg
    for (i <- 0 until CovDims; j <- i until CovDims)
      df = df.withColumn(s"c_${i}_$j", expr(cCell(i, j)))
    def cRef(i: Int, j: Int): String =
      if (i <= j) s"c_${i}_$j" else s"c_${j}_$i"
    // v0 = 10^6 on every axis; each step: w = C·v, v' = ±(|w|·10^6 div max|w|)
    var v: Seq[String] = Seq.fill(CovDims)("cast(1000000 AS decimal(38,0))")
    for (k <- 1 to PcaIters) {
      for (i <- 0 until CovDims)
        df = df.withColumn(s"w${k}_$i", expr(
          (0 until CovDims).map(j => s"${cRef(i, j)} * (${v(j)})")
            .mkString(" + ")))
      df = df.withColumn(s"mx$k", expr(
        s"greatest(${(0 until CovDims).map(i => s"abs(w${k}_$i)").mkString(", ")})"))
      for (i <- 0 until CovDims)
        df = df.withColumn(s"v${k}_$i", expr(
          s"""CASE WHEN mx$k = 0 THEN 0
             |WHEN w${k}_$i >= 0 THEN (w${k}_$i * 1000000) div mx$k
             |ELSE -((-w${k}_$i * 1000000) div mx$k) END""".stripMargin))
      v = (0 until CovDims).map(i => s"cast(v${PcaIters.min(k)}_$i AS decimal(38,0))")
    }
    // Rayleigh in scaled units: R = (v·Cv)/(v·v); ratio = R / trace(C)
    for (i <- 0 until CovDims)
      df = df.withColumn(s"wf_$i", expr(
        (0 until CovDims).map(j => s"${cRef(i, j)} * (${v(j)})").mkString(" + ")))
    df = df
      .withColumn("svw", expr((0 until CovDims)
        .map(i => s"(${v(i)}) * wf_$i").mkString(" + ")))
      .withColumn("svv", expr((0 until CovDims)
        .map(i => s"(${v(i)}) * (${v(i)})").mkString(" + ")))
      .withColumn("tr", expr((0 until CovDims)
        .map(i => s"c_${i}_$i").mkString(" + ")))
      .withColumn("explained_ratio", expr(
        """round(cast(svw AS double)
          |  / (cast(svv AS double) * cast(tr AS double)), 6)""".stripMargin))
    val rows = (0 until CovDims).map(i =>
      struct(lit(i.toLong).as("dim"),
        expr(s"v${PcaIters}_$i / 1e6").as("loading")))
    df.select(col("n"), col("explained_ratio"),
        explode(array(rows: _*)).as("p"))
      .select(col("p.dim"), col("p.loading"), col("explained_ratio"), col("n"))
      .orderBy("dim")
  }

  val pcaPowerSql: String = {
    def m(i: Int) =
      s"CAST(ROUND(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) AS BIGINT)"
    val sums = (0 until CovDims).map(i =>
      s"CAST(SUM(${m(i)}) AS BIGINT) AS s_$i").mkString(",\n    ")
    val crosses = CovPairs.map { case (i, j) =>
      s"CAST(SUM(CAST(${m(i)} * ${m(j)} AS HUGEINT)) AS HUGEINT) AS x_${i}_$j"
    }.mkString(",\n    ")
    def cRef(i: Int, j: Int): String =
      if (i <= j) s"c_${i}_$j" else s"c_${j}_$i"
    val cCells = (for (i <- 0 until CovDims; j <- i until CovDims) yield
      s"CAST(n AS HUGEINT) * x_${i}_$j" +
        s" - CAST(s_$i AS HUGEINT) * CAST(s_$j AS HUGEINT) AS c_${i}_$j")
      .mkString(",\n    ")
    var vRef: Seq[String] = Seq.fill(CovDims)("CAST(1000000 AS HUGEINT)")
    val iterCtes = new StringBuilder
    for (k <- 1 to PcaIters) {
      val ws = (0 until CovDims).map(i =>
        (0 until CovDims).map(j => s"${cRef(i, j)} * (${vRef(j)})")
          .mkString(" + ") + s" AS w${k}_$i").mkString(",\n    ")
      val mx = (0 until CovDims).map(i => s"ABS(w${k}_$i)").mkString(", ")
      val vs = (0 until CovDims).map(i =>
        s"""CASE WHEN mx$k = 0 THEN 0
           |WHEN w${k}_$i >= 0 THEN (w${k}_$i * 1000000) // mx$k
           |ELSE -((-w${k}_$i * 1000000) // mx$k) END AS v${k}_$i""".stripMargin)
        .mkString(",\n    ")
      iterCtes.append(
        s"""w$k AS (SELECT *,
           |    $ws
           |  FROM ${if (k == 1) "c" else s"i${k - 1}"}),
           |m$k AS (SELECT *, GREATEST($mx) AS mx$k FROM w$k),
           |i$k AS (SELECT *,
           |    $vs
           |  FROM m$k),
           |""".stripMargin)
      vRef = (0 until CovDims).map(i => s"CAST(v${k}_$i AS HUGEINT)")
    }
    val wf = (0 until CovDims).map(i =>
      (0 until CovDims).map(j => s"${cRef(i, j)} * (${vRef(j)})")
        .mkString(" + ") + s" AS wf_$i").mkString(",\n    ")
    val svw = (0 until CovDims).map(i => s"(${vRef(i)}) * wf_$i").mkString(" + ")
    val svv = (0 until CovDims).map(i => s"(${vRef(i)}) * (${vRef(i)})").mkString(" + ")
    val tr = (0 until CovDims).map(i => s"c_${i}_$i").mkString(" + ")
    val rows = (0 until CovDims).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS dim, v${PcaIters}_$i / 1e6 AS loading,
         |  explained_ratio, n FROM fin""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH mom AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $sums,
       |    $crosses
       |  FROM embeddings),
       |c AS (SELECT *,
       |    $cCells
       |  FROM mom),
       |${iterCtes.toString}
       |pre AS (SELECT *,
       |    $wf
       |  FROM i$PcaIters),
       |fin AS (SELECT *,
       |  ROUND(CAST($svw AS DOUBLE)
       |    / (CAST($svv AS DOUBLE) * CAST(($tr) AS DOUBLE)), 6)
       |    AS explained_ratio
       |  FROM pre)
       |$rows
       |ORDER BY dim""".stripMargin
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "mmr_diversify" -> ((mmrDiversify _, mmrDiversifySql)),
    "knn_brute" -> ((knnBrute _, knnBruteSql)),
    "ann_label_ndcg" -> ((annLabelNdcg _, annLabelNdcgSql)),
    "hard_negatives" -> ((hardNegatives _, hardNegativesSql)),
    "embed_norm_audit" -> ((embedNormAudit _, embedNormAuditSql)),
    "embed_centroids" -> ((embedCentroids _, embedCentroidsSql)),
    "ann_ivf" -> ((annIvf _, annIvfSql)),
    "ann_join" -> ((annJoin _, annJoinSql)),
    "knn_classify" -> ((knnClassify _, knnClassifySql)),
    "ann_recall_report" -> ((annRecallReport _, annRecallReportSql)),
    "ann_index_search" -> ((annIndexSearch _, annIvfSql)),
    "pq_topk" -> ((pqTopk _, pqTopkSql)),
    "ann_ivf_pq" -> ((annIvfPq _, annIvfPqSql)),
    "ann_rerank" -> ((annRerank _, annRerankSql)),
    "embed_quantize" -> ((embedQuantize _, embedQuantizeSql)),
    "embed_covariance" -> ((embedCovariance _, embedCovarianceSql)),
    "pca_power" -> ((pcaPower _, pcaPowerSql)),
    "embed_standardize" -> ((embedStandardize _, embedStandardizeSql)),
    "centroid_distances" -> ((centroidDistances _, centroidDistancesSql)),
    "embed_outliers" -> ((embedOutliers _, embedOutliersSql)),
    "hybrid_search_rrf" -> ((hybridSearchRrf _, hybridSearchRrfSql)),
    "embed_lsh_pairs" -> ((embedLshPairs _, embedLshPairsSql))
  )
}
