package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Top-k nearest IVF centroids for a vector — the one nearest-centroid
  * path behind [[graft.ext.SimilarityQueries.assignCellStruct]] (top-1
  * cell assignment) and [[graft.ext.SimilarityQueries.topProbeCells]]
  * (top-nprobe probe lists).
  *
  * The centroid matrix rides an executor [[Broadcast]] — shipped once per
  * executor, never serialized into the plan, so task binaries stay
  * bytes-sized at production IVF sizes (nlist 10⁴–10⁵ × dim 10²–10³) —
  * and the scoring loop is compiled Scala referenced from generated code
  * via `addReferenceObj`, so the expression still participates in
  * whole-stage codegen. Cell assignment is a pure projection: ZERO joins
  * or exchanges over the corpus. A HOF fold over a centroid literal
  * would not be cheaper even at nlist 16: `transform` and `aggregate`
  * are `CodegenFallback`, so their lambdas run interpreted per row and
  * per centroid (SCALE.md "IVF centroid scoring").
  *
  * Scoring contract (CentroidPathSpec pins it against a reference HOF
  * fold): score = round(cosine, 6) with HALF_UP
  * BigDecimal rounding (Spark's `round`), null cosine (zero-norm or
  * length mismatch) or a NaN/infinite one → −2.0, ranking by score DESC
  * then cell ASC (the oracle's ORDER BY cos DESC, cent_id). Returns the
  * top `k` as `array<struct<cell: bigint, s: double>>`, shorter iff
  * k > nlist.
  */
case class CentroidTopK(
    child: Expression,
    bc: Broadcast[(Array[Long], Array[ArrayData])],
    k: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cell", LongType, nullable = false),
                   StructField("s", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"centroid_topk expects array<float|double>, got $t")
    }

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    CentroidTopK.compute(bc.value, v.asInstanceOf[ArrayData], childIsFloat, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidBc", bc,
      classOf[Broadcast[_]].getName)
    val isF = childIsFloat
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.CentroidTopK.compute(
         |  (scala.Tuple2) $bcRef.value(), $v, $isF, $k);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidTopK =
    copy(child = newChild)
}

object CentroidTopK {

  /** Shared scoring kernel (also the codegen target — must stay public).
    * Insertion into a k-slot list ordered (s DESC, cell ASC); nlist ≥ k
    * in any sane configuration, so the O(nlist·k) worst case is the
    * probe-list case k = nprobe ≪ nlist.
    */
  def compute(cents: (Array[Long], Array[ArrayData]), a: ArrayData,
              aIsFloat: Boolean, k: Int): ArrayData = {
    val (cells, vecs) = cents
    val n = math.min(k, cells.length)
    val topCell = new Array[Long](n)
    val topS = new Array[Double](n)
    var filled = 0
    var c = 0
    while (c < cells.length) {
      val s = score(vecs(c), a, aIsFloat)
      val cell = cells(c)
      // find insertion point among the filled slots
      var pos = filled
      while (pos > 0 && (s > topS(pos - 1) ||
             (s == topS(pos - 1) && cell < topCell(pos - 1)))) pos -= 1
      if (pos < n) {
        val last = math.min(filled, n - 1)
        var j = last
        while (j > pos) { topCell(j) = topCell(j - 1); topS(j) = topS(j - 1); j -= 1 }
        topCell(pos) = cell; topS(pos) = s
        if (filled < n) filled += 1
      }
      c += 1
    }
    val rows = new Array[Any](filled)
    var i = 0
    while (i < filled) { rows(i) = InternalRow(topCell(i), topS(i)); i += 1 }
    new GenericArrayData(rows)
  }

  /** round(cosine, 6), with a null, NaN or infinite cosine → −2.0: NaN
    * elements (a corrupt embedding or centroid) make the quotient NaN,
    * and `BigDecimal.valueOf(NaN)` throws (CentroidPathSpec NaN case).
    */
  private def score(cent: ArrayData, a: ArrayData, aIsFloat: Boolean): Double = {
    val cos = CosineSimilarity.compute(cent, false, a, aIsFloat)
    if (cos == null || cos.isNaN || cos.isInfinite) -2.0
    else java.math.BigDecimal.valueOf(cos)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** `array<struct<cell, s>>` of the `k` nearest centroids of `v`. */
  def centroid_topk(spark: org.apache.spark.sql.SparkSession,
                    cents: Seq[(Long, Seq[Double])], v: Column, k: Int): Column = {
    val sorted = cents.sortBy(_._1)
    val bc = spark.sparkContext.broadcast((sorted.map(_._1).toArray,
      sorted.map(c => UnsafeArrayData.fromPrimitiveArray(c._2.toArray): ArrayData).toArray))
    ColumnBridge.column(CentroidTopK(ColumnBridge.expression(v), bc, k))
  }
}
