package graft.ext

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, KernelColumns}
import org.apache.spark.sql.KernelColumns.expr
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Mergeable COUNT-MIN sketch AGGREGATE (Cormode & Muthukrishnan,
  * public literature): a `depth × width` counter matrix; every item
  * increments one counter per row (bucket = a row-seeded hash mod
  * width), and a key's frequency estimate is the MIN of its counters —
  * never an underestimate, overestimate bounded by collisions. A
  * `TypedImperativeAggregate`, so partial sketches sum map-side and
  * MERGE across partitions: 100 TB of rows reduce to one
  * `depth × width` matrix without ever holding per-key state.
  *
  * Bucket hashing follows the portable md5 convention: with
  * width = 4096 = 16³, bucket(i, s) is exactly hex chars 13–15 of
  * md5(s + "#" + i) — the low 12 bits of the same 60-bit value
  * `Dedup.portableHash64` takes, so an oracle engine rebuilds every
  * counter (and therefore every estimate) with pure string ops.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(depth > 0 && depth <= 16, "depth must be in 1..16")
  require(width == 4096, "width is fixed at 4096 (= 16^3, three md5 hex chars)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_cms_agg expects a string item column, got $t")
  }

  @transient private lazy val md5 =
    java.security.MessageDigest.getInstance("MD5")

  /** Low 12 bits of the portable 60-bit md5 hash of s + "#" + row. */
  private def bucket(s: String, row: Int): Int = {
    md5.reset()
    val d = md5.digest((s + "#" + row).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    ((v >>> 4) & 0xfffL).toInt
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      var i = 0
      while (i < depth) {
        buffer(i * width + bucket(s, i)) += 1L
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData((0 until depth).map(i =>
      new GenericArrayData(
        java.util.Arrays.copyOfRange(buffer, i * width, (i + 1) * width))))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buffer.length)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(depth * width)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}

object CountMinAgg {
  val Width = 4096

  /** Aggregate Column: count-min sketch of the group's `item`s. */
  def cmsAgg(item: Column, depth: Int): Column =
    KernelColumns.aggregate(CountMinAgg(expr(item), depth, Width))

  /** Point-estimate of `key`'s frequency from a sketch column: min over
    * rows of the key's counter — same bucket derivation as the update
    * path (hex chars 13–15 of md5(key + "#" + row)).
    */
  def estimate(sketch: Column, key: Column, depth: Int): Column = {
    import org.apache.spark.sql.functions._
    val perRow = (0 until depth).map { i =>
      element_at(element_at(sketch, i + 1),
        conv(substring(md5(concat(key, lit("#" + i))), 13, 3), 16, 10)
          .cast("int") + 1)
    }
    least(perRow: _*)
  }

  /** Element-wise union of an array of STORED CMS sketches (each a
    * counter matrix) — pure Column fold, no re-aggregation pass: CMS
    * union IS entrywise addition, so a rollup that keeps one sketch
    * per partition/week answers any coarser grain by summing counter
    * matrices, and the merged sketch is EXACTLY the sketch a direct
    * whole-corpus build produces (counters are sums — the identity
    * q180's hash check rides on). The fold is over the collected
    * sketch rows of one group — bounded by the rollup grain
    * (weeks/partitions), not the data.
    */
  def mergeAll(sketches: Column, depth: Int): Column = {
    import org.apache.spark.sql.functions._
    val zero = typedlit(Seq.fill(depth)(Seq.fill(4096)(0L)))
    aggregate(sketches, zero,
      (acc, s) => zip_with(acc, s, (ra, rb) => zip_with(ra, rb, _ + _)))
  }
}
