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

/** Mergeable MinHash signature AGGREGATE: collapses a group's string
  * items into a `numHashes`-wide signature (per family, the min hash
  * over the group's set). A `TypedImperativeAggregate`, so partial
  * signatures combine map-side and MERGE across partitions/groups —
  * the property that lets 100 TB of (group, item) rows reduce to one
  * tiny sketch per group without ever materializing the sets.
  *
  * Estimated Jaccard between two groups = fraction of agreeing
  * signature slots (standard MinHash estimator). Duplicate items
  * change nothing (min is idempotent), making the aggregate
  * order- and multiplicity-insensitive — safe under retries and AQE
  * re-partitioning.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(numHashes > 0 && numHashes <= 512, "numHashes must be in 1..512")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_agg expects a string item column, got $t")
  }

  @transient private lazy val md5 =
    java.security.MessageDigest.getInstance("MD5")

  /** Portable 60-bit hash: the first 15 hex chars of md5(s + "#" + k)
    * as an integer — the same construction as `Dedup.portableHash64`,
    * so an oracle engine reproduces every slot with
    * `min(substring(md5(item || '#' || k), 1, 15))` (numeric min of a
    * 60-bit value ≡ lexicographic min of its fixed-width hex prefix).
    */
  private def hash64(s: String, seed: Long): Long = {
    md5.reset()
    val d = md5.digest((s + "#" + seed).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    // first 8 bytes big-endian, low nibble dropped = hex chars 1..15
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      var i = 0
      while (i < numHashes) {
        val h = hash64(s, i.toLong)
        if (h < buffer(i)) buffer(i) = h
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (other(i) < buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}

object MinHashAgg {

  /** Aggregate Column: minhash signature of the group's `item`s. */
  def minhashAgg(item: Column, numHashes: Int): Column =
    KernelColumns.aggregate(MinHashAgg(expr(item), numHashes))

  /** Estimated Jaccard from two signatures: agreeing slots / slots. */
  def estimatedJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)
  }
}
