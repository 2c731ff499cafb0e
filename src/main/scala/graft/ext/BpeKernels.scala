package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.KernelColumns.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One greedy left-to-right application of a BPE merge rule (bx, by)
  * to a symbol array, as a codegen'd Catalyst Expression: a single
  * O(n) walk emitting the merged symbol wherever `syms[i] = bx ∧
  * syms[i+1] = by` (consuming both), the plain symbol otherwise.
  *
  * This replaces the higher-order `aggregate` fold formulation, which
  * was the hot spot of BPE training AND encoding: HOFs evaluate
  * interpreted (outside whole-stage codegen), and the fold's
  * `concat(out, array(x))` accumulator copies the output array per
  * element — O(n²) allocation per document per merge round. The
  * kernel is the SURVEY §7.3 escalation path (the same reasoning as
  * [[FloatCosineSimilarity]]): one allocation, one pass, stays inside
  * codegen. Semantics are pinned by ExtSpec's tie-break/self-pair
  * tests and by the q119/q120 oracles, which replay the merge loop in
  * SQL and hash-compare end to end.
  */
case class GreedyPairMerge(child: Expression, bx: String, by: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_merge_once expects array<string>, got $t")
  }

  @transient private lazy val ubx = UTF8String.fromString(bx)
  @transient private lazy val uby = UTF8String.fromString(by)
  @transient private lazy val merged = UTF8String.fromString(s"$bx $by")

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n < 2) return a
    val out = new Array[AnyRef](n)
    var i = 0
    var m = 0
    while (i < n) {
      val cur = a.getUTF8String(i)
      if (i + 1 < n && cur != null && cur.equals(ubx)) {
        val nxt = a.getUTF8String(i + 1)
        if (nxt != null && nxt.equals(uby)) {
          out(m) = merged; m += 1; i += 2
        } else { out(m) = cur; m += 1; i += 1 }
      } else { out(m) = cur; m += 1; i += 1 }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerge", this, classOf[GreedyPairMerge].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): GreedyPairMerge =
    copy(child = newChild)
}

/** Adjacent-pair enumeration of a symbol array as a codegen'd
  * Expression: `[s0..sn] → [(s0,s1), (s1,s2), …]` — the raw-count
  * stage of every BPE training round. Replaces the
  * `transform(sequence(…), struct(element_at…))` formulation, which
  * evaluated interpreted per element (HOFs sit outside whole-stage
  * codegen) and allocated a struct per lambda call through the
  * interpreter. One pass, one allocation, codegen'd.
  */
case class AdjacentPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", StringType, nullable = true),
      org.apache.spark.sql.types.StructField("y", StringType, nullable = true))),
      containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_adjacent_pairs expects array<string>, got $t")
  }

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](n - 1)
    var i = 0
    var prev = a.getUTF8String(0)
    while (i < n - 1) {
      val nxt = a.getUTF8String(i + 1)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, nxt))
      prev = nxt
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adjPairs", this, classOf[AdjacentPairs].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): AdjacentPairs =
    copy(child = newChild)
}

/** Column surface for the BPE kernels. */
object BpeKernels {

  /** Greedy single-rule merge over an `array<string>` symbol column. */
  def mergeOnce(syms: Column, bx: String, by: String): Column =
    column(GreedyPairMerge(expr(syms), bx, by))

  /** Adjacent (x, y) symbol pairs of an `array<string>` column. */
  def adjacentPairs(syms: Column): Column = column(AdjacentPairs(expr(syms)))
}
