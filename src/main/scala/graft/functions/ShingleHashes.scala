package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native word-n-gram hasher for the shingle tier: the value of
  * `transform(sequence(1, size(words) - n + 1),
  *            i -> md5h60(concat_ws(' ', slice(words, i, n))))`
  * — i.e. per window of n consecutive words, the 60-bit md5 prefix
  * ([[Md5Prefix60]]) of the space-joined window — as ONE array
  * expression. The HOF formulation pays an interpreted lambda, a
  * slice allocation, and a concat_ws per POSITION; this walks the
  * word array once, reuses a single byte buffer, and runs inside
  * whole-stage codegen. `distinct = true` additionally dedups the
  * hashes IN FIRST-SEEN ORDER — exactly `array_distinct(...)` over
  * the same values, fused to skip the second pass.
  *
  * Inputs shorter than n words yield an empty array (the callers'
  * `size(words) >= n` filters make this unreachable, but the
  * expression must not throw). Null elements cannot occur in
  * `split()` output, the current only producer — but the declared
  * input type (`array<string>` with nullable elements) admits them,
  * so they are DEFINED rather than NPE: a null element contributes
  * nothing to its windows' joined strings, exactly `concat_ws`'s
  * null-skipping in the reference HOF form above.
  *
  * The DuckDB oracles keep the spelled-out md5 idiom; Md5FnSpec +
  * ShingleSpec pin value equality against the HOF form.
  */
case class ShingleHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes expects array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashes.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(words: ArrayData, n: Int, distinct: Boolean): GenericArrayData = {
    val len = words.numElements()
    if (len < n) return new GenericArrayData(new Array[Any](0))
    // pre-fetch the word bytes once (each word is hashed into n windows);
    // a null element stays null here and is skipped when joining — the
    // concat_ws semantics of the HOF form this expression replaces
    val wb = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      wb(i) = if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes
      i += 1
    }
    val md = digests.get()
    val out = new Array[Any](len - n + 1)
    val seen = if (distinct) new java.util.HashSet[java.lang.Long]() else null
    var m = 0
    var s = 0
    while (s <= len - n) {
      md.reset()
      var k = 0
      var joined = 0
      while (k < n) {
        val b = wb(s + k)
        if (b != null) {
          if (joined > 0) md.update(' '.toByte)
          md.update(b)
          joined += 1
        }
        k += 1
      }
      val d = md.digest()
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      h = h >>> 4
      if (seen == null || seen.add(h)) { out(m) = h; m += 1 }
      s += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  /** Column entry point: hashes of all n-word windows, in order. */
  def shingle_hashes(words: Column, n: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(words), n, distinct))
}
