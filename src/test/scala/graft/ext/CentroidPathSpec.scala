package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.CosineSimilarity.cosine_sim

/** Pins the one nearest-centroid path — the broadcast-variable
  * [[graft.functions.CentroidTopK]] expression behind
  * `SimilarityQueries.assignCellStruct` and `topProbeCells` — against a
  * reference fold kept here: the centroid-literal HOF fold the operators
  * ran before (per-centroid `coalesce(nanvl(round(cosine, 6), −2), −2)`
  * scores over the centroids in cell-id order, a strict-`>` argmax for
  * the assignment, a (score DESC, cell ASC) comparator sort for the
  * probe lists). Cells, scores and probe lists must be identical; the
  * test names call the reference "the literal" and CentroidTopK "the
  * broadcast expression". The zero-norm case also carries a null vector.
  */
class CentroidPathSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def base = SimilarityQueries.vecs(spark, dir)

  private def cents: Seq[(Long, Seq[Double])] =
    base.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("v")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))

  private def refScored(cs: Seq[(Long, Seq[Double])], v: Column): Column =
    transform(typedLit(cs.sortBy(_._1)), c =>
      struct(c.getField("_1").as("cell"),
        coalesce(nanvl(round(cosine_sim(c.getField("_2"), v), 6), lit(-2.0)),
          lit(-2.0)).as("s")))

  private def refAssign(cs: Seq[(Long, Seq[Double])], v: Column): Column =
    aggregate(refScored(cs, v),
      struct(lit(-1L).as("cell"), lit(-3.0).as("best")),
      (acc, c) =>
        when(c.getField("s") > acc.getField("best"),
          struct(c.getField("cell").as("cell"), c.getField("s").as("best")))
        .otherwise(acc))

  private def refProbes(cs: Seq[(Long, Seq[Double])], v: Column, nprobe: Int): Column =
    slice(transform(
      array_sort(refScored(cs, v), (l, r) =>
        when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .when(l.getField("cell") < r.getField("cell"), -1)
        .when(l.getField("cell") > r.getField("cell"), 1)
        .otherwise(0)),
      c => c.getField("cell")), 1, nprobe)

  /** (vec_id, cell, best) per row, from a `struct(cell, best)` column. */
  private def assigned(df: org.apache.spark.sql.DataFrame, bc: Column) =
    df.withColumn("bc", bc)
      .select(col("vec_id"), col("bc.cell"), col("bc.best"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** (vec_id, probe list) per row. */
  private def probed(df: org.apache.spark.sql.DataFrame, cells: Column) =
    df.select(col("vec_id"), cells.as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq

  test("literal fold and broadcast expression assign identical cells and scores") {
    val cs = cents
    val got = assigned(base, SimilarityQueries.assignCellStruct(spark, cs, col("v")))
    assert(got.nonEmpty)
    assert(got === assigned(base, refAssign(cs, col("v"))))
  }

  test("literal sort and broadcast expression produce identical probe lists") {
    val cs = cents
    val q = base.filter(col("vec_id") < 5)
    val got = probed(q, SimilarityQueries.topProbeCells(spark, cs, col("v"), 3))
    assert(got.nonEmpty)
    assert(got === probed(q, refProbes(cs, col("v"), 3)))
  }

  test("nprobe > nlist yields all cells, both paths") {
    val cs = cents.take(3)
    val q = base.filter(col("vec_id") < 2)
    val got = probed(q, SimilarityQueries.topProbeCells(spark, cs, col("v"), 8))
    assert(got === probed(q, refProbes(cs, col("v"), 8)))
    assert(got.forall(_._2.size == 3))
  }

  test("zero-norm vectors land in the first cell on both paths (null-cosine → −2.0 contract)") {
    import spark.implicits._
    val cs = cents.take(4)
    val rows = Seq[(Long, Option[Seq[Double]])](
      (9001L, Some(Seq.fill(64)(0.0))),
      (9002L, Some(Seq.tabulate(64)(_.toDouble))),
      (9003L, None)).toDF("vec_id", "v")
    val got = assigned(rows, SimilarityQueries.assignCellStruct(spark, cs, col("v")))
    assert(got === assigned(rows, refAssign(cs, col("v"))))
    // every centroid scores −2.0, ties → lowest cent_id
    Seq(9001L, 9003L).foreach { id =>
      val row = got.find(_._1 == id).get
      assert(row._2 == cs.map(_._1).min && row._3 == -2.0)
    }
  }

  test("NaN vectors score the degenerate −2.0 on both paths (no crash, identical assignment)") {
    import spark.implicits._
    val cs = cents.take(4)
    // a NaN element makes every cosine NaN; it must score the −2.0
    // no-match rather than crash (BigDecimal.valueOf(NaN)) or diverge
    // (NaN's always-false comparisons)
    val rows = Seq(
      (9101L, Seq.fill(64)(Double.NaN)),
      (9102L, Double.NaN +: Seq.tabulate(63)(i => (i + 1).toDouble)),
      (9103L, Seq.tabulate(64)(_.toDouble))).toDF("vec_id", "v")
    val got = assigned(rows, SimilarityQueries.assignCellStruct(spark, cs, col("v")))
    assert(got === assigned(rows, refAssign(cs, col("v"))))
    val nanRow = got.find(_._1 == 9101L).get
    assert(nanRow._2 == cs.map(_._1).min && nanRow._3 == -2.0)
    assert(probed(rows, SimilarityQueries.topProbeCells(spark, cs, col("v"), 3)) ===
      probed(rows, refProbes(cs, col("v"), 3)))
  }

  test("AnnIndex built on the broadcast path equals the literal-path index") {
    val cs = cents
    val tmp = java.nio.file.Files.createTempDirectory("annidx").toString
    try {
      AnnIndex.build(base, cs, tmp)
      // read through the committed segment-log state (the root also
      // holds the manifest, so a direct root read no longer parses)
      val got = AnnIndex.rows(spark, tmp)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val want = assigned(base, refAssign(cs, col("v"))).map(r => (r._1, r._2))
      assert(got.nonEmpty)
      assert(got === want)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
