package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Custom aggregate tier (SURVEY.md §7.3, the optional
  * `TypedImperativeAggregate`): top-k (score, id) pairs per group in ONE
  * aggregation pass — the partial/final split means each map task ships
  * at most k pairs per group instead of shuffling every row to a window
  * sort. For groups of n rows this is O(n·k) map-side work and O(k)
  * shuffle bytes per (task, group), versus the window formulation's full
  * shuffle + per-partition sort — the difference that matters when one
  * group holds a billion rows.
  *
  * Ordering: score DESC, id ASC tie-break — identical to the
  * `row_number` window oracle, so results hash-match it.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    ArrayBuffer.empty

  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def insert(buf: ArrayBuffer[(Double, Long)], v: (Double, Long)): Unit = {
    // k is small: sorted insertion, worst element dropped past k
    var i = buf.length
    while (i > 0 && better(v, buf(i - 1))) i -= 1
    if (i < k) {
      buf.insert(i, v)
      if (buf.length > k) buf.remove(buf.length - 1)
    }
  }

  override def update(buf: ArrayBuffer[(Double, Long)], input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val s = score.eval(input); val i = id.eval(input)
    if (s != null && i != null)
      insert(buf, (s.asInstanceOf[Number].doubleValue(), i.asInstanceOf[Number].longValue()))
    buf
  }

  override def merge(buf: ArrayBuffer[(Double, Long)],
      other: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    other.foreach(insert(buf, _)); buf
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(buf.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < n) { buf += ((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {
  /** `topk_by($"score", $"id", k)` → array<struct<score, id>> column. */
  def topk_by(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKByScore(
      ColumnBridge.expression(score),
      ColumnBridge.expression(id), k).toAggregateExpression())
}
