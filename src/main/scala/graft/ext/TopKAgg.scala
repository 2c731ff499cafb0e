package graft.ext

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, KernelColumns}
import org.apache.spark.sql.KernelColumns.expr
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded grouped TOP-K as an AGGREGATE: per group, keep the `k`
  * (value, id) entries with the largest value, ties to the smaller id.
  * The fourth custom `TypedImperativeAggregate` beside MinHash/CMS/KLL,
  * and the scale path the ranking-window form can't take: a
  * `row_number() OVER (PARTITION BY g ORDER BY v)` window sorts EVERY
  * row of every group through one exchange, while this buffer holds at
  * most k entries, truncates map-side before the shuffle (partial
  * aggregation), and merges in O(k) — per-group top-k over 100 TB
  * moves k rows per group through the exchange, not the group.
  *
  * Exact, not approximate: the (value DESC, id ASC) order is total, so
  * the result is independent of row order, partitioning, and merge
  * shape — an oracle reproduces it with a plain ranking window.
  */
case class TopKAgg(
    valueChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKAgg.Buffer] {

  require(k > 0 && k <= 1024, "k must be in 1..1024")

  override def children: Seq[Expression] = Seq(valueChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("val", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (valueChild.dataType, idChild.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (v, i) => TypeCheckResult.TypeCheckFailure(
        s"graft_topk_agg expects (double value, long id), got ($v, $i)")
    }

  override def createAggregationBuffer(): TopKAgg.Buffer =
    new TopKAgg.Buffer(k)

  override def update(buffer: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val v = valueChild.eval(input)
    val id = idChild.eval(input)
    if (v != null && id != null)
      buffer.insert(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKAgg.Buffer, other: TopKAgg.Buffer): TopKAgg.Buffer = {
    var i = 0
    while (i < other.size) {
      buffer.insert(other.vals(i), other.ids(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: TopKAgg.Buffer): Any =
    new GenericArrayData(
      (0 until buffer.size).map(i =>
        InternalRow(buffer.vals(i), buffer.ids(i))).toArray[Any])

  override def serialize(buffer: TopKAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putDouble(buffer.vals(i)); bb.putLong(buffer.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKAgg.Buffer(k)
    b.size = n
    var i = 0
    while (i < n) { b.vals(i) = bb.getDouble; b.ids(i) = bb.getLong; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(valueChild = newChildren(0), idChild = newChildren(1))
}

object TopKAgg {

  /** Sorted bounded buffer, best entry first ((val DESC, id ASC) — a
    * linear insertion sort: k is small by contract, and the common case
    * (row worse than the current k-th) is a single comparison against
    * the last slot.
    */
  final class Buffer(val k: Int) {
    val vals: Array[Double] = new Array[Double](k)
    val ids: Array[Long] = new Array[Long](k)
    var size: Int = 0

    /** True if (v, id) ranks strictly better than slot i.
      * `Double.compare`, not primitive `>`: it orders NaN greater than
      * every value (and -0.0 < 0.0), which is exactly Spark's double
      * ordering — so the aggregate stays equivalent to the ranking
      * window even on NaN inputs.
      */
    private def better(v: Double, id: Long, i: Int): Boolean = {
      val c = java.lang.Double.compare(v, vals(i))
      c > 0 || (c == 0 && id < ids(i))
    }

    def insert(v: Double, id: Long): Unit = {
      if (size == k && !better(v, id, k - 1)) return
      var pos = if (size == k) k - 1 else size
      if (size < k) size += 1
      while (pos > 0 && better(v, id, pos - 1)) {
        vals(pos) = vals(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
      }
      vals(pos) = v; ids(pos) = id
    }
  }

  /** Aggregate Column: the group's top `k` (val, id) structs, best
    * first by (val DESC, id ASC).
    */
  def topKAgg(value: Column, id: Column, k: Int): Column =
    KernelColumns.aggregate(TopKAgg(expr(value), expr(id), k))
}
