package graft.ext

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.KernelColumns.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{lit, lower, regexp_replace, trim}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization of a string column (NFC/NFD/NFKC/NFKD) as a
  * codegen'd Catalyst Expression over `java.text.Normalizer`.
  *
  * Spark has no built-in normalizer, and web-scale text arrives in
  * mixed composed/decomposed form — the same word can be byte-distinct
  * in two documents ("café" as U+00E9 vs "cafe" + U+0301), which
  * silently defeats every byte-keyed operator downstream (exact dedup,
  * vocab build, decontamination joins, fingerprints). Normalizing at
  * ingest is the canonical fix (every production tokenizer pipeline
  * NFC-normalizes first — e.g. SentencePiece's default).
  *
  * The kernel necessarily round-trips UTF8String → java.lang.String
  * (the JDK normalizer is String-based); it stays inside whole-stage
  * codegen, and the fast path `Normalizer.isNormalized` check skips
  * the allocation entirely for already-normal input — the overwhelming
  * case on real corpora, so the map pass is near-free at 100 TB.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"form must be one of NFC/NFD/NFKC/NFKD, got $form")

  @transient private lazy val normForm = Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_unicode_norm expects string, got $t")
  }

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, normForm)) s
    else UTF8String.fromString(Normalizer.normalize(str, normForm))
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unorm", this, classOf[UnicodeNormalize].getName)
    defineCodeGen(ctx, ev, a => s"$ref.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Column surface for Unicode text normalization + the composed
  * accent-fold cleanup used by corpus-normalization pipelines.
  */
object TextNorm {
  /** Unicode-normalize a string column to the given form. */
  def normalize(s: Column, form: String): Column =
    column(UnicodeNormalize(expr(s), form))

  /** Aggressive fold for match-keys (dedup, vocab, decontamination
    * joins): lowercase → NFD → strip combining marks → NFC →
    * collapse whitespace → trim. Equivalent to DuckDB/utf8proc
    * `strip_accents(lower(s))` on the mark-bearing plane (ñ→n, ç→c;
    * non-decomposable letters like ø pass through), so the two
    * engines produce byte-identical keys. Lowercasing runs FIRST so
    * special casings that emit combining marks (e.g. U+0130 → i +
    * U+0307) are folded by the mark strip instead of surviving it.
    */
  def foldText(s: Column): Column =
    trim(regexp_replace(
      normalize(regexp_replace(normalize(lower(s), "NFD"), "\\p{Mn}", ""), "NFC"),
      "\\s+", " "))

  /** American Soundex phonetic key (the public NARA algorithm,
    * H/W-collapse rule included) as a pure codegen'd column chain —
    * no UDF, and every step (translate + RE2-safe regexes: no
    * backreferences anywhere) replays verbatim in an external
    * engine. Pipeline: strip to A–Z; code letters (vowels→0, H/W→9
    * sentinel); DELETE 9s so H/W-separated equal codes become
    * adjacent (the rule naive implementations miss); collapse runs
    * per digit; delete 0s (vowels DO separate); drop the first
    * letter's own surviving code (it never survived if it was a
    * vowel or H/W); first letter + 3 zero-padded digits. Empty or
    * letterless input → NULL. The phonetic BLOCKING key for entity
    * resolution: "Tymczak"/"Tymzak" collide at T522 where exact and
    * edit-distance blocking both miss.
    */
  def soundex(s: Column): Column = {
    val up = regexp_replace(org.apache.spark.sql.functions.upper(s), "[^A-Z]", "")
    val coded = org.apache.spark.sql.functions.translate(up,
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "01230129022455012623019202")
    val no9 = regexp_replace(coded, "9", "")
    val collapsed = "0123456".foldLeft(no9) { (c, d) =>
      regexp_replace(c, s"$d{2,}", d.toString)
    }
    val no0 = regexp_replace(collapsed, "0", "")
    val firstCode = org.apache.spark.sql.functions.substring(coded, 1, 1)
    val tail = org.apache.spark.sql.functions.when(
      firstCode.isin("0", "9"), no0)
      .otherwise(org.apache.spark.sql.functions.substring(no0, 2, 1000000))
    org.apache.spark.sql.functions.when(
      org.apache.spark.sql.functions.length(up) === 0,
      lit(null).cast(StringType))
      .otherwise(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.substring(up, 1, 1),
        org.apache.spark.sql.functions.rpad(
          org.apache.spark.sql.functions.substring(tail, 1, 3), 3, "0")))
  }
}
