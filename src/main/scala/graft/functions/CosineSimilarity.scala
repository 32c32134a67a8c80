package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst expression for cosine similarity over `array<float>` /
  * `array<double>` columns — the custom-`Expression` tier (SURVEY.md §7.3
  * preference order (b)) for the similarity-search operators.
  *
  * Versus the HOF formulation (`aggregate(zip_with(...))`): one fused
  * loop, no intermediate product array, no lambda-function call overhead,
  * and float inputs are consumed without first materializing a casted
  * double array. The arithmetic is IDENTICAL (sequential left-to-right
  * double accumulation of `(double)a[i] * (double)b[i]`), so results are
  * bitwise-equal to the HOF version and the DuckDB
  * `list_cosine_similarity(CAST(... AS DOUBLE[]), ...)` oracle.
  *
  * Semantics: null input → null; length mismatch → null (defensive;
  * DuckDB errors instead, so oracle-checked queries must only compare
  * equal-length vectors); null elements read as 0.0; zero-norm → null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.compute(l.asInstanceOf[ArrayData], isFloat(left),
      r.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = (isFloat(left), isFloat(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
       |java.lang.Double $boxed = graft.functions.CosineSimilarity.compute($a, $af, $b, $bf);
       |if ($boxed == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $boxed.doubleValue(); }
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The one cosine loop — interpreted eval, generated code and
    * [[CentroidTopK]]'s centroid scoring all call it. Each side is read
    * as float or double per its flag; a null element reads as 0.0.
    * Returns null (boxed) on a length mismatch or a zero norm.
    */
  def compute(a: ArrayData, aIsFloat: Boolean,
              b: ArrayData, bIsFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else if (aIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else if (bIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Column-level entry point: `cosine_sim($"a", $"b")`. */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
