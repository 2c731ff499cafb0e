package graft.ext

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, KernelColumns}
import org.apache.spark.sql.KernelColumns.expr
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable QUANTILE sketch AGGREGATE in the KLL/MRL compactor family
  * (Karnin–Lang–Liberty FOCS'16; Manku–Rajagopalan–Lindsay SIGMOD'98 —
  * public literature): values live in levels, level i items carrying
  * weight 2^i; when a level overflows its capacity `k` it is sorted
  * and every other item promotes one level up (rank error ± 2^i per
  * compaction, alternating start offsets so consecutive compactions
  * cancel). A `TypedImperativeAggregate`: partial sketches build
  * map-side and MERGE across partitions by level-wise concatenation +
  * re-compaction, so 100 TB of rows reduce to O(k·log(n/k)) doubles
  * per group — the quantile analogue of the CMS/MinHash aggregates,
  * and the mergeable counterpart of `percentile_approx`'s GK sketch
  * (whose per-group state Spark also merges, but which offers no
  * user-visible sketch value to store or union later).
  *
  * Unlike canonical KLL the compaction offset is DETERMINISTIC
  * (per-level alternation, not a coin flip), so a single-partition
  * run is exactly reproducible; across partition races only the rank
  * ERROR BOUND is guaranteed, which is what the q32-family contract
  * row checks.
  */
case class KllAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllAgg.Buffer] {

  require(k >= 8 && k <= 65536, "k must be in 8..65536")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = KllAgg.sketchType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_agg expects a double value column, got $t")
  }

  override def createAggregationBuffer(): KllAgg.Buffer = new KllAgg.Buffer(k)

  override def update(buffer: KllAgg.Buffer, input: InternalRow): KllAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllAgg.Buffer, other: KllAgg.Buffer): KllAgg.Buffer = {
    buffer.mergeIn(other)
    buffer
  }

  /** Flattened sketch, sorted by value: array<struct<v, w>>. */
  override def eval(buffer: KllAgg.Buffer): Any = {
    val items = buffer.flattened.sortBy(_._1)
    new GenericArrayData(items.map { case (v, w) => InternalRow(v, w) })
  }

  override def serialize(buffer: KllAgg.Buffer): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): KllAgg.Buffer =
    KllAgg.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllAgg =
    copy(child = newChildren.head)
}

/** RE-AGGREGATION over STORED sketches: merge a column of persisted
  * KLL sketch values (`array<struct<v,w>>`, [[KllAgg]]'s output) into
  * one sketch — the lifecycle that makes sketches worth storing in a
  * rollup at all: build per-partition/per-week sketches ONCE, keep
  * them in the materialized table, and answer any coarser-grain
  * quantile later by merging sketch rows instead of rescanning 100 TB
  * of raw values (the quantile analogue of `hll_union_agg`, which
  * Spark ships for HLL but not for its GK percentile state).
  *
  * Each stored item's power-of-two weight IS its level, so the
  * flattened form reconstructs the level structure losslessly and the
  * merge is [[KllAgg]]'s own level-wise concatenation + compaction —
  * re-aggregated error therefore composes exactly like first-build
  * merge error (the q178 contract bounds it end to end).
  */
case class KllMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllAgg.Buffer] {

  require(k >= 8 && k <= 65536, "k must be in 8..65536")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = KllAgg.sketchType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
      StructField(_, DoubleType, _, _), StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_merge_agg expects a kll sketch column " +
        s"(array<struct<v double, w bigint>>), got $t")
  }

  override def createAggregationBuffer(): KllAgg.Buffer = new KllAgg.Buffer(k)

  override def update(buffer: KllAgg.Buffer, input: InternalRow): KllAgg.Buffer = {
    val arr = child.eval(input)
    if (arr != null) {
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < a.numElements()) {
        val row = a.getStruct(i, 2)
        val v = row.getDouble(0)
        val w = row.getLong(1)
        require(w > 0 && (w & (w - 1)) == 0,
          s"sketch item weight must be a positive power of two, got $w")
        buffer.insertAt(v, java.lang.Long.numberOfTrailingZeros(w))
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: KllAgg.Buffer, other: KllAgg.Buffer): KllAgg.Buffer = {
    buffer.mergeIn(other)
    buffer
  }

  override def eval(buffer: KllAgg.Buffer): Any = {
    val items = buffer.flattened.sortBy(_._1)
    new GenericArrayData(items.map { case (v, w) => InternalRow(v, w) })
  }

  override def serialize(buffer: KllAgg.Buffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): KllAgg.Buffer =
    KllAgg.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllMergeAgg =
    copy(child = newChildren.head)
}

object KllAgg {
  val sketchType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)

  /** Level-structured sketch state. `flips` bit i holds the next
    * compaction's start offset for level i (the deterministic stand-in
    * for KLL's coin).
    */
  final class Buffer(val k: Int) {
    val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
    var flips: Long = 0L

    def insert(v: Double): Unit = {
      levels(0) += v
      if (levels(0).length >= k) compact(0)
    }

    /** Insert a value DIRECTLY at `level` (weight 2^level) — the
      * stored-sketch re-aggregation path ([[KllMergeAgg]]): a
      * persisted item's power-of-two weight is its level, so placing
      * it there reconstructs the level structure losslessly.
      */
    def insertAt(v: Double, level: Int): Unit = {
      while (levels.length <= level) levels += ArrayBuffer.empty[Double]
      levels(level) += v
      if (levels(level).length >= k) compact(level)
    }

    /** Sort level i, promote every other item of an even-length prefix
      * (alternating offset) to level i+1, cascade if that overflows
      * too. An odd-length level sets its largest item aside to REMAIN
      * at level i and compacts the even remainder, so total sketch
      * weight is preserved EXACTLY by every compaction.
      */
    private def compact(i: Int): Unit = {
      if (levels.length == i + 1) levels += ArrayBuffer.empty[Double]
      val sorted = levels(i).sortInPlace()
      val len0 = sorted.length
      val keepOne = len0 % 2 == 1
      val len = if (keepOne) len0 - 1 else len0
      val leftover = if (keepOne) sorted(len0 - 1) else 0.0
      val off = ((flips >>> i) & 1L).toInt
      flips ^= 1L << i
      var j = off
      while (j < len) {
        levels(i + 1) += sorted(j)
        j += 2
      }
      levels(i).clear()
      if (keepOne) levels(i) += leftover
      if (levels(i + 1).length >= k) compact(i + 1)
    }

    def mergeIn(other: Buffer): Unit = {
      var i = 0
      while (i < other.levels.length) {
        if (levels.length == i) levels += ArrayBuffer.empty[Double]
        levels(i) ++= other.levels(i)
        i += 1
      }
      i = 0
      while (i < levels.length) {
        if (levels(i).length >= k) compact(i)
        i += 1
      }
    }

    def flattened: Array[(Double, Long)] =
      levels.iterator.zipWithIndex.flatMap { case (lvl, i) =>
        val w = 1L << i
        lvl.iterator.map(v => (v, w))
      }.toArray

    def toBytes: Array[Byte] = {
      val n = levels.map(_.length).sum
      val bb = ByteBuffer.allocate(4 + 8 + 4 + levels.length * 4 + n * 8)
      bb.putInt(k)
      bb.putLong(flips)
      bb.putInt(levels.length)
      levels.foreach { lvl =>
        bb.putInt(lvl.length)
        lvl.foreach(bb.putDouble)
      }
      bb.array()
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      val bb = ByteBuffer.wrap(bytes)
      val b = new Buffer(bb.getInt)
      b.flips = bb.getLong
      val nLevels = bb.getInt
      b.levels.clear()
      (0 until nLevels).foreach { _ =>
        val len = bb.getInt
        val lvl = ArrayBuffer.empty[Double]
        (0 until len).foreach(_ => lvl += bb.getDouble)
        b.levels += lvl
      }
      b
    }
  }

  /** Aggregate Column: KLL quantile sketch of the group's values. */
  def kllAgg(value: Column, k: Int): Column =
    KernelColumns.aggregate(KllAgg(expr(value), k))

  /** Aggregate Column: one sketch merged from a column of STORED
    * sketches — the rollup-reaggregation path.
    */
  def kllMergeAgg(sketch: Column, k: Int): Column =
    KernelColumns.aggregate(KllMergeAgg(expr(sketch), k))

  /** Estimated p-quantile from a sketch column: the smallest sketch
    * value whose cumulative weight reaches ceil(p · totalWeight). Pure
    * Column ops over the (already value-sorted) sketch — usable in SQL
    * directly against a stored sketch, no re-aggregation.
    */
  def quantile(sketch: Column, p: Double): Column = {
    import org.apache.spark.sql.functions._
    require(p > 0.0 && p <= 1.0, "p must be in (0, 1]")
    val total = aggregate(sketch, lit(0L), (acc, x) => acc + x.getField("w"))
    val target = greatest(ceil(lit(p) * total), lit(1L))
    val zero = struct(lit(0L).as("cum"), lit(null).cast("double").as("ans"))
    val folded = aggregate(sketch, zero, (acc, x) => {
      val cum = acc.getField("cum") + x.getField("w")
      struct(
        cum.as("cum"),
        when(acc.getField("ans").isNull && cum >= target, x.getField("v"))
          .otherwise(acc.getField("ans")).as("ans"))
    })
    folded.getField("ans")
  }

  /** All `ps` quantiles from one sketch in a SINGLE cumulative pass
    * (array<double>, aligned with `ps`) — the per-row reporting shape:
    * one fold over the sketch regardless of how many quantiles a
    * consumer reads back.
    */
  def quantiles(sketch: Column, ps: Seq[Double]): Column = {
    import org.apache.spark.sql.functions._
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "each p must be in (0, 1]")
    val total = aggregate(sketch, lit(0L), (acc, x) => acc + x.getField("w"))
    val targets = array(ps.map(p => greatest(ceil(lit(p) * total), lit(1L))): _*)
    val zero = struct(
      lit(0L).as("cum"),
      array(ps.map(_ => lit(null).cast("double")): _*).as("ans"))
    val folded = aggregate(sketch, zero, (acc, x) => {
      val cum = acc.getField("cum") + x.getField("w")
      struct(
        cum.as("cum"),
        zip_with(acc.getField("ans"), targets, (a, t) =>
          when(a.isNull && cum >= t, x.getField("v")).otherwise(a)).as("ans"))
    })
    folded.getField("ans")
  }
}
