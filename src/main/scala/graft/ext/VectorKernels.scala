package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.KernelColumns.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd cosine similarity over two `array<float>` columns in ONE
  * pass (dot + both norms in the same loop), with `doGenCode` so it
  * stays inside whole-stage codegen — no per-element boxing, unlike the
  * higher-order-function formulation (SURVEY.md §7.3: custom Expression
  * is the upgrade path when HOF throughput disappoints; it did — 25 s →
  * ~2 s on the sf0.1 pairwise query).
  */
case class FloatCosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine_f expects (array<float>, array<float>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = (double) $a.getFloat($i);
          double $yv = (double) $b.getFloat($i);
          $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Signed-random-projection (SRP) signature of a float vector: bit p of
  * the result is the sign of the dot product with pseudo-random
  * hyperplane p, whose ±1 components derive from splitmix64 of
  * (seed, p, i) — deterministic, no stored plane matrix, O(planes×dim)
  * per row, map-side only. Vectors with high cosine similarity agree on
  * most bits, so exact-signature (or banded) self-joins generate
  * near-dup candidates without any quadratic pass — the LSH-for-cosine
  * scale path (Charikar SRP-LSH, public literature).
  */
case class FloatSrpSignature(child: Expression, numPlanes: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(numPlanes > 0 && numPlanes <= 64, "numPlanes must be in 1..64")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_srp_sig expects array<float>, got $t")
  }

  /** Shared by interpreted eval and codegen (one virtual call per row —
    * the per-element loop stays primitive either way).
    */
  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        var z = seed + p.toLong * 1000003L + i.toLong + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        val v = a.getFloat(i).toDouble
        dot += (if ((z & 1L) == 1L) v else -v)
        i += 1
      }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srp", this, classOf[FloatSrpSignature].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): FloatSrpSignature =
    copy(child = newChild)
}

/** SimHash over a pre-hashed token array (`array<long>`): one pass
  * accumulates all `bits` sign-sums in a local counter array — the
  * higher-order-function formulation needs `bits` interpreted passes
  * over the same array. Bit b of the result is set iff more token
  * hashes have bit b set than clear (Charikar's simhash).
  */
case class LongArraySimhash(child: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(bits > 0 && bits <= 64, "bits must be in 1..64")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<long>, got $t")
  }

  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[LongArraySimhash].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): LongArraySimhash =
    copy(child = newChild)
}

/** Distinct word n-gram shingle hashes of a token array in ONE pass,
  * through the [[ShingleHasher]] the text kernel
  * [[TextShingleHashes]] shares: each shingle (n consecutive tokens
  * joined by a space) is hashed directly — the shingle string never
  * materializes, and dedup happens in a primitive long set. These are
  * the base hashes [[LongArrayMinhash]] mixes into a signature. Texts
  * shorter than n tokens yield one full-text shingle (same contract as
  * `Dedup.wordShingles`); a null token reads as empty. For callers
  * that already hold the token array (the novelty grams size-check
  * it); text alone goes through [[TextShingleHashes]].
  */
case class StringArrayShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects array<string>, got $t")
  }

  def compute(a: ArrayData): ArrayData = {
    val sh = new ShingleHasher
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) sh.add(null, 0L, 0)
      else {
        val t = a.getUTF8String(i)
        sh.add(t.getBaseObject, t.getBaseOffset, t.numBytes)
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sh.hashes(n))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this,
      classOf[StringArrayShingleHashes].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): StringArrayShingleHashes = copy(child = newChild)
}

/** Distinct word n-gram shingle hashes straight off a string's UTF-8
  * bytes: exactly `StringArrayShingleHashes(split(trim(text), "\\s+"),
  * n)` — the same values in the same first-occurrence order, null for
  * null — with no token array, no per-token `String` and no shingle
  * string. The tokenizer reproduces the chain it replaces byte for
  * byte: Spark's `trim` strips U+0020 only, and Java's
  * `split("\\s+", -1)` cuts at runs of ASCII `[ \t\n\x0B\f\r]`, so a
  * leading non-space whitespace gives a leading `""` token and a
  * trailing one a trailing `""`. Those bytes never occur inside a
  * multi-byte UTF-8 sequence, nor does a decoder swallow them into a
  * malformed one, so decoding each non-ASCII token on its own gives
  * the chars the whole-string decode gives it.
  */
case class TextShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_text_shingle_hashes expects string, got $t")
  }

  def compute(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    def byteAt(i: Int): Byte = Platform.getByte(base, off + i)
    def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
    var start = 0
    var end = text.numBytes
    while (start < end && byteAt(start) == ' ') start += 1
    while (end > start && byteAt(end - 1) == ' ') end -= 1
    val sh = new ShingleHasher
    var p = start
    while (p < end) {
      if (isSpace(byteAt(p))) {
        sh.add(base, off + start, p - start)
        p += 1
        while (p < end && isSpace(byteAt(p))) p += 1
        start = p
      } else p += 1
    }
    sh.add(base, off + start, end - start)
    UnsafeArrayData.fromPrimitiveArray(sh.hashes(n))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textShingleHashes", this,
      classOf[TextShingleHashes].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextShingleHashes =
    copy(child = newChild)
}

/** Distinct word n-gram shingle STRINGS of a token array in ONE
  * pass — the exact-string sibling of [[StringArrayShingleHashes]]
  * for consumers whose downstream needs the gram itself (novelty
  * joins against a reference gram set, gram frequency reports).
  * First-occurrence order matches `array_distinct(transform(...))`;
  * texts shorter than n tokens yield an EMPTY array (the strict
  * n-gram contract — no full-text fallback). Replaces the
  * interpreted `transform(sequence)+element_at+concat_ws+
  * array_distinct` chain, which is not codegen'd (HOFs) and
  * dominated the exact-novelty runtime 16× over its hashed twin.
  */
case class StringArrayShingles(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_strings expects array<string>, got $t")
  }

  def compute(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val ntok = a.numElements()
    val count = if (ntok < n) 0 else ntok - n + 1
    val seen = new java.util.HashSet[String](count * 2)
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](count)
    var len = 0
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      var emitted = false // concat_ws skips nulls WITHOUT a separator: (a,null,c) -> "a c"
      while (j < n) {
        if (!a.isNullAt(i + j)) {
          if (emitted) sb.append(' ')
          sb.append(a.getUTF8String(i + j).toString)
          emitted = true
        }
        j += 1
      }
      val s = sb.toString
      if (seen.add(s)) {
        out(len) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        len += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, len))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleStrings", this,
      classOf[StringArrayShingles].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): StringArrayShingles = copy(child = newChild)
}

/** md5-prefix BUCKETS of every word n-gram occurrence of a token
  * array, in ONE pass — the DSIR feature-hash kernel: for each of the
  * `size - n + 1` n-grams (multiplicity KEPT — this is a bag-of-buckets
  * language-model feature vector, not a dedup shingle set) emit
  * `substring(md5(concat_ws(' ', gram)), 1, prefixLen)`. Replaces the
  * interpreted `transform(sequence)+slice+concat_ws` HOF chain (HOFs
  * are CodegenFallback) followed by Spark's `md5` (full 32-char hex
  * materialization per occurrence, then substring): here the gram
  * bytes go straight into a per-row MessageDigest and only the prefix
  * chars materialize. Value-identical to the chain it replaces —
  * md5 of the UTF-8 gram bytes, lowercase hex — so the md5-prefix
  * oracle convention is untouched; pinned ≡ in PropertySpec.
  * Fewer than n tokens yields an EMPTY array (the `when(size < n)`
  * guard it replaces); null element semantics match concat_ws (skip,
  * no separator).
  */
case class StringArrayGramBuckets(child: Expression, n: Int, prefixLen: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, "gram size must be >= 1")
  require(prefixLen >= 1 && prefixLen <= 32, "prefixLen must be in 1..32")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_buckets expects array<string>, got $t")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val ntok = a.numElements()
    val count = if (ntok < n) 0 else ntok - n + 1
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](count)
    // one digest per ROW (compute runs concurrently across tasks —
    // MessageDigest is not thread-safe, and getInstance is cheap
    // relative to the per-gram digest work it amortizes)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    val nHex = prefixLen
    val nBytes = (nHex + 1) / 2
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      var emitted = false // concat_ws skips nulls WITHOUT a separator
      while (j < n) {
        if (!a.isNullAt(i + j)) {
          if (emitted) sb.append(' ')
          sb.append(a.getUTF8String(i + j).toString)
          emitted = true
        }
        j += 1
      }
      md.reset()
      val digest = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](nHex)
      var b = 0
      while (b < nBytes) {
        val v = digest(b) & 0xff
        hex(2 * b) = hexDigits(v >>> 4)
        if (2 * b + 1 < nHex) hex(2 * b + 1) = hexDigits(v & 0xf)
        b += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(
        new String(hex))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramBuckets", this,
      classOf[StringArrayGramBuckets].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): StringArrayGramBuckets = copy(child = newChild)
}

/** MinHash signature over pre-hashed shingles (`array<long>`): hash
  * family k is a splitmix64 mix of the base hash — one array walk
  * total.
  */
case class LongArrayMinhash(child: Expression, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(numHashes > 0 && numHashes <= 512, "numHashes must be in 1..512")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig_l expects array<long>, got $t")
  }

  def compute(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = a.getLong(i)
      var k = 0
      while (k < numHashes) {
        val h = Kernels.mix(base, k + 1L)
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashL", this, classOf[LongArrayMinhash].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): LongArrayMinhash =
    copy(child = newChild)
}

/** LSH band keys of a MinHash signature (`array<long>`) in ONE pass:
  * band b's key is a splitmix64 fold of its `rowsPerBand` signature
  * longs, seeded by b. Replaces the interpreted per-band
  * `md5(concat_ws(transform(slice(...))))` chain. Banding needs only
  * equality of band values, so a 64-bit key suffices: two different
  * bands share a key with P ≈ 2⁻⁶⁴, and callers verify every
  * candidate exactly. A band past the signature's end folds only the
  * elements it has (the `slice` contract); a null element reads as 0.
  */
case class LongArrayBandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(bands > 0 && rowsPerBand > 0, "bands and rowsPerBand must be positive")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_band_hashes expects array<long>, got $t")
  }

  def compute(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var i = b * rowsPerBand
      val end = math.min(i + rowsPerBand, n)
      while (i < end) {
        h = Kernels.mix(h ^ (if (a.isNullAt(i)) 0L else a.getLong(i)), 1L)
        i += 1
      }
      keys(b) = h
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandHashes", this, classOf[LongArrayBandHashes].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): LongArrayBandHashes =
    copy(child = newChild)
}

/** Exact Jaccard |A∩B| / |A∪B| over the DISTINCT elements of two
  * `array<long>` columns, by copy, sort and merge — the verify step of
  * the hashed-shingle dedups, replacing
  * `size(array_intersect(a, b)) / size(array_union(a, b))` and the two
  * `OpenHashSet`s those build per pair. A null element counts as one
  * value, as `array_intersect` counts it (index frames read back from
  * parquet have `containsNull = true`). Two empty arrays give null
  * where the interpreted form divides by zero; no caller can produce
  * them, since every text yields at least one shingle.
  */
case class LongArraySetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // both empty → null

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_set_jaccard expects (array<long>, array<long>), got ($l, $r)")
    }

  /** The non-null elements of `a`, sorted ascending. */
  private def sortedNonNull(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var len = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) { out(len) = a.getLong(i); len += 1 }
      i += 1
    }
    val s = if (len == n) out else java.util.Arrays.copyOf(out, len)
    java.util.Arrays.sort(s)
    s
  }

  def compute(a: ArrayData, b: ArrayData): Any = {
    val x = sortedNonNull(a)
    val y = sortedNonNull(b)
    var inter = 0
    var union = 0
    var i = 0
    var j = 0
    while (i < x.length || j < y.length) {
      val fromX = j == y.length || (i < x.length && x(i) <= y(j))
      val fromY = i == x.length || (j < y.length && y(j) <= x(i))
      val v = if (fromX) x(i) else y(j)
      if (fromX && fromY) inter += 1
      union += 1
      if (fromX) while (i < x.length && x(i) == v) i += 1
      if (fromY) while (j < y.length && y(j) == v) j += 1
    }
    val nullA = x.length < a.numElements()
    val nullB = y.length < b.numElements()
    if (nullA && nullB) inter += 1
    if (nullA || nullB) union += 1
    if (union == 0) null else java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("setJaccard", this, classOf[LongArraySetJaccard].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
        Object $tmp = $ref.compute($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Double) $tmp).doubleValue(); }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArraySetJaccard =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd negated squared L2 between two numeric vectors in ONE
  * pass — the PQ/ANN exact-referee geometry. Value-identical to the
  * interpreted `-aggregate(zip_with(a, b, (x, y) => (xd−yd)²), 0.0,
  * _+_)` chain it replaces (FeaturesSpec pins ≡): per-element cast to
  * double, left-to-right IEEE accumulation from 0.0, then negate —
  * including the chain's null semantics (length mismatch → zip_with
  * pads with null → null result; any null element → null; both empty
  * → −0.0). Accepts float or double arrays on either side
  * independently (the SQ8 search path scores float queries against
  * double reconstructions).
  */
case class FloatNegSquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs → null

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_neg_l2 expects two array<float|double>, got ($l, $r)")
    }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null // zip_with pads → null element
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(-s)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("negL2", this, classOf[FloatNegSquaredL2].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
        Object $tmp = $ref.compute($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Double) $tmp).doubleValue(); }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatNegSquaredL2 =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd product-quantization ENCODE: per subspace j of m, the
  * argmax-negL2 codebook centroid index over the j-th contiguous
  * `sub`-slice of the vector — all m·k·sub distance terms in one
  * compiled pass, with the codebooks living in ONE reference object
  * instead of m·k·sub plan literals (the interpreted
  * `transform(typedlit)+slice+zip_with+aggregate+array_position` chain
  * carried ~1k literals per encode tree, stopped codegenning, and
  * re-planned per action). Value-identical to the chain (FeaturesSpec
  * pins ≡): same left-to-right IEEE distance accumulation, same
  * first-max tie-break under Spark's total double ordering (NaN
  * largest), same null semantics — a subspace whose slice is short or
  * carries a null element yields a null code.
  */
case class FloatPqEncode(
    child: Expression, codebooks: IndexedSeq[IndexedSeq[Seq[Float]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty &&
    codebooks.head.head.nonEmpty, "codebooks must be m × k × sub, all non-empty")

  // matches the array(...cast(int)) chain it replaces (nullable elements)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode expects array<float>, got $t")
  }

  @transient private lazy val m = codebooks.length
  @transient private lazy val k = codebooks.head.length
  @transient private lazy val sub = codebooks.head.head.length
  // flat(((j·k)+c)·sub + i) = codebooks(j)(c)(i) as double (the chain
  // casts each centroid element to double before subtracting)
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](m * k * sub)
    var p = 0
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      require(cb.length == k, s"ragged codebooks: subspace $j has ${cb.length} centroids, expected $k")
      var c = 0
      while (c < k) {
        val cent = cb(c)
        require(cent.length == sub, s"ragged centroid: ($j,$c) has ${cent.length} dims, expected $sub")
        var i = 0
        while (i < sub) { a(p) = cent(i).toDouble; p += 1; i += 1 }
        c += 1
      }
      j += 1
    }
    a
  }

  // keep the m·k·sub floats out of plan STRINGS too (toString renders
  // productIterator by default — the codebooks would re-bloat every
  // explain/UI line the reference object just slimmed)
  override protected def flatArguments: Iterator[Any] =
    Iterator(child, s"codebooks<m=$m,k=$k,sub=$sub>")

  def compute(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val len = a.numElements()
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val off = j * sub
      var code: Any = null
      if (off + sub <= len) {
        var hasNull = false
        var t = 0
        while (t < sub) { if (a.isNullAt(off + t)) hasNull = true; t += 1 }
        if (!hasNull) {
          var best = 0
          var bestScore = 0.0
          var first = true
          var c = 0
          while (c < k) {
            var s = 0.0
            val cbOff = (j * k + c) * sub
            var i = 0
            while (i < sub) {
              val d = a.getFloat(off + i).toDouble - flat(cbOff + i)
              s += d * d
              i += 1
            }
            val score = -s
            // first-max under total ordering ≡ array_position(scores,
            // array_max(scores)): NaN compares largest, ties keep the
            // lowest index
            if (first || java.lang.Double.compare(score, bestScore) > 0) {
              bestScore = score; best = c; first = false
            }
            c += 1
          }
          code = java.lang.Integer.valueOf(best)
        }
      }
      out(j) = code
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[FloatPqEncode].getName)
    defineCodeGen(ctx, ev, a => s"(${classOf[ArrayData].getName}) $ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): FloatPqEncode =
    copy(child = newChild)
}

/** Codegen'd asymmetric-distance (ADC) score: −Σⱼ‖qⱼ −
  * centroidⱼ(codeⱼ)‖² over a full-precision query and a PQ code row —
  * the PQ search kernel, one compiled pass instead of m interpreted
  * slice+element_at+zip_with+aggregate subtrees each carrying k·sub
  * plan literals. Value-identical to the chain (FeaturesSpec pins ≡):
  * per-subspace distances accumulate left-to-right from the FIRST term
  * (the `reduce(_ + _)` shape — no 0.0 seed, preserving −0.0), inner
  * sums left-to-right from 0.0; a short query slice or null code
  * yields null; an out-of-range code throws like ANSI `element_at`.
  */
case class FloatAdcScore(
    left: Expression, // query_vec: array<float>
    right: Expression, // codes: array<int>
    codebooks: IndexedSeq[IndexedSeq[Seq[Float]]])
    extends BinaryExpression {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty &&
    codebooks.head.head.nonEmpty, "codebooks must be m × k × sub, all non-empty")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_adc_score expects (array<float>, array<int>), got ($l, $r)")
    }

  @transient private lazy val m = codebooks.length
  @transient private lazy val k = codebooks.head.length
  @transient private lazy val sub = codebooks.head.head.length
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](m * k * sub)
    var p = 0
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      require(cb.length == k, s"ragged codebooks: subspace $j has ${cb.length} centroids, expected $k")
      var c = 0
      while (c < k) {
        val cent = cb(c)
        require(cent.length == sub, s"ragged centroid: ($j,$c) has ${cent.length} dims, expected $sub")
        var i = 0
        while (i < sub) { a(p) = cent(i).toDouble; p += 1; i += 1 }
        c += 1
      }
      j += 1
    }
    a
  }

  // see FloatPqEncode: codebooks stay out of plan strings
  override protected def flatArguments: Iterator[Any] =
    Iterator(left, right, s"codebooks<m=$m,k=$k,sub=$sub>")

  def compute(qv: Any, cv: Any): Any = {
    val q = qv.asInstanceOf[ArrayData]
    val codes = cv.asInstanceOf[ArrayData]
    val qlen = q.numElements()
    val clen = codes.numElements()
    var total = 0.0
    var first = true
    var j = 0
    while (j < m) {
      if (j >= clen) // element_at(codes, j+1) beyond the array: ANSI throws
        throw new ArrayIndexOutOfBoundsException(
          s"adc_score: codes has $clen elements, subspace ${j + 1} requested")
      if (codes.isNullAt(j)) return null
      val c = codes.getInt(j)
      if (c < 0 || c >= k) // element_at(codebook, c+1) out of range: ANSI throws
        throw new ArrayIndexOutOfBoundsException(
          s"adc_score: code $c outside codebook range [0, $k)")
      val off = j * sub
      if (off + sub > qlen) return null // short slice → zip_with null pad
      var s = 0.0
      val cbOff = (j * k + c) * sub
      var i = 0
      while (i < sub) {
        if (q.isNullAt(off + i)) return null
        val d = q.getFloat(off + i).toDouble - flat(cbOff + i)
        s += d * d
        i += 1
      }
      val term = -s
      if (first) { total = term; first = false } else total += term
      j += 1
    }
    java.lang.Double.valueOf(total)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcScore", this, classOf[FloatAdcScore].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
        Object $tmp = $ref.compute($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Double) $tmp).doubleValue(); }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatAdcScore =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd argmax-cosine cell assignment: the nearest-centroid label
  * over a literal centroid table in ONE compiled pass — the k-means
  * assign step ([[graft.ext.Similarity.assignCells]] literal path),
  * which otherwise evaluates an interpreted `transform` over k
  * [[FloatCosineSimilarity]] calls and carries k·dim plan literals
  * into every consumer's analysis. Per-centroid arithmetic is
  * FloatCosineSimilarity's exactly (min-length loop, float→double per
  * element, dot/(√nx·√ny)); tie-break is first-max under Spark's total
  * double ordering (NaN largest) ≡ `array_position(scores,
  * array_max(scores)) − 1`. FeaturesSpec pins kernel ≡ chain.
  */
case class FloatCosineArgmax(child: Expression, centroids: IndexedSeq[Seq[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true // matches the cast(array_position…) chain

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_cos_argmax expects array<float>, got $t")
  }

  @transient private lazy val k = centroids.length
  @transient private lazy val flat: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  // centroid floats stay out of plan strings (see FloatPqEncode)
  override protected def flatArguments: Iterator[Any] =
    Iterator(child, s"centroids<k=$k,dim=${centroids.head.length}>")

  def compute(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val alen = a.numElements()
    var best = 0
    var bestScore = 0.0
    var first = true
    var c = 0
    while (c < k) {
      val cent = flat(c)
      val n = math.min(alen, cent.length) // FloatCosineSimilarity's contract
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xv = a.getFloat(i).toDouble
        val yv = cent(i).toDouble
        dot += xv * yv; nx += xv * xv; ny += yv * yv
        i += 1
      }
      val score = dot / (java.lang.Math.sqrt(nx) * java.lang.Math.sqrt(ny))
      if (first || java.lang.Double.compare(score, bestScore) > 0) {
        bestScore = score; best = c; first = false
      }
      c += 1
    }
    java.lang.Integer.valueOf(best)
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosArgmax", this, classOf[FloatCosineArgmax].getName)
    defineCodeGen(ctx, ev, a => s"((java.lang.Integer) $ref.compute($a)).intValue()")
  }

  override protected def withNewChildInternal(newChild: Expression): FloatCosineArgmax =
    copy(child = newChild)
}

/** Shared splitmix64-based hashing used by the string/long kernels. */
private[ext] object Kernels {
  def mix(base: Long, k: Long): Long = {
    var z = base + k * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The state a string hash starts from: the hash of "". */
  val hashInit: Long = 0x9E3779B97F4A7C15L

  /** One UTF-16 char folded into a string hash state. */
  def hashStep(h: Long, c: Char): Long = {
    var z = h ^ c.toLong
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The distinct values of `xs` in first-occurrence order (`xs` itself
    * when there are no repeats), through an open-addressing long set.
    */
  def distinct(xs: Array[Long]): Array[Long] = {
    val n = xs.length
    if (n < 2) return xs
    val bits = 65 - java.lang.Long.numberOfLeadingZeros(n.toLong) // 2^bits >= 2n
    val mask = (1 << bits) - 1
    val slots = new Array[Long](1 << bits)
    val used = new Array[Boolean](1 << bits)
    var len = 0
    var i = 0
    while (i < n) {
      val v = xs(i)
      var s = ((v * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (used(s) && slots(s) != v) s = (s + 1) & mask
      if (!used(s)) {
        used(s) = true
        slots(s) = v
        xs(len) = v
        len += 1
      }
      i += 1
    }
    if (len == n) xs else java.util.Arrays.copyOf(xs, len)
  }
}

/** Word n-gram shingle hashes over UTF-8 token spans — the core both
  * shingle-hash kernels share. Shingle i's hash folds
  * [[Kernels.hashStep]] from [[Kernels.hashInit]] over the chars of
  * tokens i..i+n-1 joined by one space, without building that string:
  * an all-ASCII token's bytes are its chars, and any other
  * token is decoded once, with `UTF8String.toString`'s handling of
  * malformed bytes. One instance serves one row.
  */
private[ext] final class ShingleHasher {
  private var ntok = 0
  private var bases = new Array[AnyRef](16)
  private var offsets = new Array[Long](16)
  private var lengths = new Array[Int](16)
  private var decoded = new Array[String](16) // null for an ASCII token

  /** Appends the token held in `len` bytes at `base` + `off`. */
  def add(base: AnyRef, off: Long, len: Int): Unit = {
    if (ntok == offsets.length) {
      val cap = ntok * 2
      bases = java.util.Arrays.copyOf(bases, cap)
      offsets = java.util.Arrays.copyOf(offsets, cap)
      lengths = java.util.Arrays.copyOf(lengths, cap)
      decoded = java.util.Arrays.copyOf(decoded, cap)
    }
    bases(ntok) = base
    offsets(ntok) = off
    lengths(ntok) = len
    var i = 0
    while (i < len && Platform.getByte(base, off + i) >= 0) i += 1
    decoded(ntok) = if (i == len) null else UTF8String.fromAddress(base, off, len).toString
    ntok += 1
  }

  private def fold(h0: Long, t: Int): Long = {
    var h = h0
    val s = decoded(t)
    var i = 0
    if (s == null) {
      val base = bases(t)
      val off = offsets(t)
      while (i < lengths(t)) {
        h = Kernels.hashStep(h, Platform.getByte(base, off + i).toChar)
        i += 1
      }
    } else {
      while (i < s.length) {
        h = Kernels.hashStep(h, s.charAt(i))
        i += 1
      }
    }
    h
  }

  /** Distinct shingle hashes, first occurrence first. Fewer than n
    * tokens give one shingle of them all; no tokens give none.
    */
  def hashes(n: Int): Array[Long] = {
    val count = if (ntok == 0) 0 else math.max(ntok - n + 1, 1)
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, ntok)
      var h = fold(Kernels.hashInit, i)
      var t = i + 1
      while (t < end) {
        h = fold(Kernels.hashStep(h, ' '), t)
        t += 1
      }
      out(i) = h
      i += 1
    }
    Kernels.distinct(out)
  }
}

/** Extension point for `--conf spark.sql.extensions=graft.ext.GraftExtensions`:
  * the one SQL-surface registration — `graft_cosine_f` for pure-SQL
  * users (`spark.sql("SELECT graft_cosine_f(a, b) ...")`) plus the
  * [[graft.plans.RewriteNotIn]] optimizer rule. The Column API needs no
  * registration: [[VectorKernels]] and the sketch aggregates bind their
  * expressions directly.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine_f"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[FloatCosineSimilarity].getName, "graft_cosine_f"),
      (exprs: Seq[Expression]) => FloatCosineSimilarity(exprs(0), exprs(1))))
    e.injectOptimizerRule(_ => graft.plans.RewriteNotIn)
  }
}

/** Column surface for the vector kernels: each builder binds its
  * expression directly, so the Column resolves in any session.
  */
object VectorKernels {

  /** Canonical cosine scorer as a VALUE — reference-comparable, so
    * [[graft.ext.Similarity.assignCells]] can recognize it and take
    * the [[FloatCosineArgmax]] kernel path. Identical to
    * [[cosineF]] (it IS cosineF) for every other consumer.
    */
  val CosineF: (Column, Column) => Column = (a, b) => cosineF(a, b)

  /** Cosine similarity of two float-vector columns. */
  def cosineF(a: Column, b: Column): Column =
    column(FloatCosineSimilarity(expr(a), expr(b)))

  /** SRP signature of a float-vector column (literal planes/seed). */
  def srpSig(v: Column, numPlanes: Int, seed: Int): Column =
    column(FloatSrpSignature(expr(v), numPlanes, seed.toLong))

  /** One-pass simhash over an `array<long>` of token hashes. */
  def simhashL(hashes: Column, bits: Int): Column =
    column(LongArraySimhash(expr(hashes), bits))

  /** Distinct n-gram shingle hashes of a token array (one pass, no
    * shingle-string materialization).
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    column(StringArrayShingleHashes(expr(tokens), n))

  /** [[shingleHashes]] of the text's [[Text.tokens]], hashed straight
    * off its UTF-8 bytes: no token array, no per-token strings.
    */
  def textShingleHashes(text: Column, n: Int): Column =
    column(TextShingleHashes(expr(text), n))

  /** Exact Jaccard of the distinct elements of two `array<long>`
    * columns (null when both are empty).
    */
  def setJaccard(a: Column, b: Column): Column =
    column(LongArraySetJaccard(expr(a), expr(b)))

  /** Distinct n-gram shingle STRINGS of a token array (one pass;
    * strict contract — fewer than n tokens yields an empty array).
    */
  def shingleStrings(tokens: Column, n: Int): Column =
    column(StringArrayShingles(expr(tokens), n))

  /** One-pass MinHash signature over pre-hashed shingles (`array<long>`). */
  def minhashSigL(hashes: Column, numHashes: Int): Column =
    column(LongArrayMinhash(expr(hashes), numHashes))

  /** One-pass LSH band keys of a MinHash signature: `bands` longs. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column(LongArrayBandHashes(expr(sig), bands, rowsPerBand))

  /** md5-prefix bucket of every word n-gram OCCURRENCE of a token
    * array (multiplicity kept) — the DSIR feature-hash kernel.
    */
  def gramBuckets(tokens: Column, n: Int, prefixLen: Int): Column =
    column(StringArrayGramBuckets(expr(tokens), n, prefixLen))

  /** One-pass negated squared L2 over two float/double vectors. */
  def negL2(a: Column, b: Column): Column =
    column(FloatNegSquaredL2(expr(a), expr(b)))

  /** One-pass PQ encode against codebooks held as one reference
    * object (m·k·sub constants OUT of the plan).
    */
  def pqEncodeCodes(
      vec: Column, codebooks: IndexedSeq[IndexedSeq[Seq[Float]]]): Column =
    column(FloatPqEncode(expr(vec), codebooks))

  /** One-pass ADC score of a full-precision query against a PQ code
    * row (codebooks as one reference object).
    */
  def adcScore(
      queryVec: Column, codes: Column,
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]]): Column =
    column(FloatAdcScore(expr(queryVec), expr(codes), codebooks))

  /** One-pass argmax-cosine label against a literal centroid table
    * (centroids as one reference object).
    */
  def cosineArgmax(
      vec: Column, centroids: IndexedSeq[Seq[Float]]): Column =
    column(FloatCosineArgmax(expr(vec), centroids))
}
