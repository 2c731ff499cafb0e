package graft.dq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DQDL-style rule engine (ref: glue/data_quality_dqdl.py:67-129) +
  * Deequ-style verification suite (ref: glue/data_quality_pydeequ.py:72-133),
  * as a plain Scala ADT compiling to Catalyst `Column` predicates —
  * library code, no custom Catalyst extension needed (SURVEY.md §7.3).
  *
  * Two evaluation modes, matching the reference:
  *  - dataset-level verdicts → check-results DataFrame (O-39/O-40)
  *  - row-level outcomes + routing (O-41): each row annotated
  *    Passed/Failed with the failing rule names, then split.
  *
  * Every rule evaluates in ONE query and one collect (the reference's
  * DQDL engine also single-passes): the scan aggregates and the
  * uniqueness-family fractions (one stacked two-level aggregate
  * covering every uniqueness column — N rules ≠ N scans) are crossed
  * as two single-row frames. The metric row that reaches the driver is
  * O(#rules), never O(data).
  */
sealed trait DqRule {
  def name: String
  def description: String
}

/** Schema-only check — no scan needed (O-40 `ColumnExists`). */
final case class ColumnExists(column: String) extends DqRule {
  val name = s"ColumnExists_$column"
  val description = s"ColumnExists $column"
}

/** All values non-null (O-40 `IsComplete`; Deequ `isComplete`). */
final case class IsComplete(column: String) extends DqRule {
  val name = s"IsComplete_$column"
  val description = s"IsComplete $column"
}

/** Completeness fraction above a threshold (O-40 `Completeness > x`). */
final case class CompletenessAbove(column: String, threshold: Double) extends DqRule {
  val name = s"Completeness_$column"
  val description = s"Completeness $column > $threshold"
}

/** Fraction of rows whose value occurs exactly once above a threshold
  * (O-40 `Uniqueness > x`; Deequ semantics — SURVEY.md §7.4.3).
  */
final case class UniquenessAbove(column: String, threshold: Double) extends DqRule {
  val name = s"Uniqueness_$column"
  val description = s"Uniqueness $column > $threshold"
}

/** Complete AND fully unique (O-40 `IsPrimaryKey`; Deequ `isUnique`). */
final case class IsPrimaryKey(column: String) extends DqRule {
  val name = s"IsPrimaryKey_$column"
  val description = s"IsPrimaryKey $column"
}

/** Per-row predicate over a column (O-40 `ColumnValues <expr>`). */
final case class ColumnValues(column: String, predicate: Column => Column, exprDesc: String)
    extends DqRule {
  val name = s"ColumnValues_${column}_$exprDesc"
  val description = s"ColumnValues $column $exprDesc"
}

/** Row count within bounds (O-40 `RowCount between lo and hi`;
  * Deequ `hasSize`; ref: glue/data_quality_dqdl.py:82).
  */
final case class RowCountBetween(lo: Long, hi: Long) extends DqRule {
  val name = s"RowCount_${lo}_$hi"
  val description = s"RowCount between $lo and $hi"
}

final case class RuleResult(rule: String, description: String, passed: Boolean, observed: Double)

object Rules {

  /** The reference's DQDL ruleset, ported verbatim
    * (ref: glue/data_quality_dqdl.py:67-87) — used as an executable
    * fixture in tests (SURVEY.md §5.2.5).
    */
  def referenceCryptoRuleset: Seq[DqRule] = {
    val cols = Seq("coin_id", "symbol", "name", "current_price", "market_cap")
    cols.map(ColumnExists(_)) ++
      cols.map(IsComplete(_)) ++
      Seq(
        IsPrimaryKey("coin_id"),
        ColumnValues("current_price", _ > 0, "gt_0"),
        ColumnValues("market_cap", _ > 0, "gt_0"),
        RowCountBetween(50, 150),
        CompletenessAbove("current_price", 0.95),
        CompletenessAbove("market_cap", 0.95),
        UniquenessAbove("coin_id", 0.99))
  }

  /** Dataset-level evaluation (O-39/O-40). One query computes every
    * metric: the single-row scan aggregate crossed with the uniqueness
    * fractions folded into one `column → fraction` map row. Returns
    * RuleResults (driver-side, O(#rules)).
    */
  def evaluate(df: DataFrame, rules: Seq[DqRule]): Seq[RuleResult] = {
    val schemaCols = df.columns.toSet

    // scanned metrics needed, keyed for dedup across rules
    case class Need(key: String, agg: Column)
    // try_divide: completeness of empty input is NULL (→ NaN), not an
    // ANSI divide-by-zero error
    def completeness(c: String) =
      Need(s"compl_$c", try_divide(count(col(c)).cast("double"), count(lit(1))))
    val needs = rules.flatMap {
      case ColumnExists(_) => Nil
      case IsComplete(c) => Seq(completeness(c))
      case CompletenessAbove(c, _) => Seq(completeness(c))
      case ColumnValues(c, p, d) =>
        Seq(Need(s"cv_${c}_$d", sum(when(p(col(c)), 0L).otherwise(1L)).cast("double")))
      case RowCountBetween(_, _) => Seq(Need("size", count(lit(1)).cast("double")))
      case IsPrimaryKey(c) => Seq(completeness(c))
      case UniquenessAbove(_, _) => Nil
    }.distinct

    val uniqCols = rules.collect {
      case UniquenessAbove(c, _) => c
      case IsPrimaryKey(c) => c
    }.distinct

    // one single-row frame per metric family; crossing them keeps the
    // whole ruleset to one query and one collect of one row
    val scanRow = Option.when(needs.nonEmpty)(df.agg(
      needs.head.agg.as(needs.head.key), needs.tail.map(n => n.agg.as(n.key)): _*))
    val uniqRow = Option.when(uniqCols.nonEmpty)(
      Analyzers.uniquenessFractions(df, uniqCols)
        .agg(map_from_entries(collect_list(struct(col("c"), col("u")))).as("__uniq")))
    val row = (scanRow ++ uniqRow).reduceOption(_.crossJoin(_)).map(_.head())

    def orNaN(v: Any): Double = Option(v).map(_.asInstanceOf[Double]).getOrElse(Double.NaN)
    val metricRow: Map[String, Double] = row.fold(Map.empty[String, Double])(r =>
      needs.map(n => n.key -> orNaN(r.getAs[Any](n.key))).toMap)
    // empty input → empty map; a missing or null fraction reads as NaN
    val uniqueness: Map[String, Double] =
      row.filter(_ => uniqCols.nonEmpty)
        .fold(Map.empty[String, Double])(r => r.getMap[String, Any](r.fieldIndex("__uniq"))
          .toMap.map { case (c, u) => c -> orNaN(u) })
        .withDefaultValue(Double.NaN)

    rules.map { rule =>
      val (passed, observed) = rule match {
        case ColumnExists(c) => (schemaCols.contains(c), if (schemaCols.contains(c)) 1.0 else 0.0)
        case IsComplete(c) =>
          val v = metricRow(s"compl_$c"); (v == 1.0, v)
        case CompletenessAbove(c, t) =>
          val v = metricRow(s"compl_$c"); (v > t, v)
        case ColumnValues(c, _, d) =>
          val bad = metricRow(s"cv_${c}_$d"); (bad == 0.0, bad)
        case RowCountBetween(lo, hi) =>
          val n = metricRow("size"); (n >= lo && n <= hi, n)
        case IsPrimaryKey(c) =>
          val compl = metricRow(s"compl_$c"); val u = uniqueness(c)
          (compl == 1.0 && u == 1.0, u)
        case UniquenessAbove(c, t) =>
          val u = uniqueness(c); (u > t, u)
      }
      RuleResult(rule.name, rule.description, passed, observed)
    }
  }

  /** Check-results DataFrame mirroring Deequ's
    * `checkResultsAsDataFrame` (ref: glue/data_quality_pydeequ.py:91).
    */
  def checkResults(
      spark: SparkSession,
      df: DataFrame,
      rules: Seq[DqRule],
      checkName: String = "DataQualityCheck",
      checkLevel: String = "Error"): DataFrame = {
    import spark.implicits._
    val results = evaluate(df, rules)
    val overall = if (results.forall(_.passed)) "Success" else "Error"
    results.map { r =>
      (checkName, checkLevel, overall, r.description,
        if (r.passed) "Success" else "Failure",
        // fixed %.4f (ROOT locale) so the message is engine-portable —
        // printf('%.4f', v) reproduces it in SQL oracles
        if (r.passed) ""
        else "observed=%.4f".formatLocal(java.util.Locale.ROOT, r.observed))
    }.toDF("check", "check_level", "check_status", "constraint",
      "constraint_status", "constraint_message")
  }

  /** DQ gate (O-71; ref: glue/data_quality_pydeequ.py:101-133 raises on
    * failure): Left(failed results) halts the pipeline, Right passes
    * the frame through.
    */
  def gate(df: DataFrame, rules: Seq[DqRule]): Either[Seq[RuleResult], DataFrame] = {
    val failed = evaluate(df, rules).filterNot(_.passed)
    if (failed.isEmpty) Right(df) else Left(failed)
  }

  /** O-41 row-level outcomes: annotate each row with
    * `DataQualityEvaluationResult` ("Passed"/"Failed") and the array of
    * failing row-rule names (ref: glue/data_quality_dqdl.py:89-106).
    * Only per-row rules (ColumnValues, IsComplete) participate — dataset
    * rules have no row granularity, as in DQDL.
    */
  def rowOutcomes(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    val rowRules: Seq[(String, Column)] = rules.collect {
      case r @ ColumnValues(c, p, _) => r.name -> (col(c).isNotNull && p(col(c)))
      case r @ IsComplete(c) => r.name -> col(c).isNotNull
    }
    require(rowRules.nonEmpty, "no row-level rules in ruleset")
    val failArr = filter(
      array(rowRules.map { case (n, pass) => when(!pass, lit(n)) }: _*),
      _.isNotNull)
    df.withColumn("DataQualityRulesFail", failArr)
      .withColumn(
        "DataQualityEvaluationResult",
        when(size(col("DataQualityRulesFail")) === 0, lit("Passed")).otherwise(lit("Failed")))
  }

  /** O-41 routing: passed→Silver, failed→DLQ, bookkeeping cols dropped
    * from the passed side (O-14; ref: glue/data_quality_dqdl.py:110-129).
    * Two complementary filters over one (cacheable) annotated frame
    * need no threads. The reference's ThreadPoolExecutor (O-70) exists
    * to overlap its independent sink writes; here that is
    * [[graft.pipeline.Pipeline.par]], which `Medallion.run` forks its
    * independent sinks on.
    */
  def route(annotated: DataFrame): (DataFrame, DataFrame) = {
    val passed = annotated
      .filter(col("DataQualityEvaluationResult").startsWith("Passed"))
      .drop("DataQualityEvaluationResult", "DataQualityRulesFail")
    val failed = annotated.filter(col("DataQualityEvaluationResult").startsWith("Failed"))
    (passed, failed)
  }
}
