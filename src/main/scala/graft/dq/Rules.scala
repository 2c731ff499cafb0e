package graft.dq

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * Dataset-level verdicts take one pass over the data for the whole
  * ruleset, as the reference's DQDL engine does, in either of two forms
  * over the same metric definitions and the same verdict function:
  *  - [[Rules.evaluate]]: one query and one collect. The scan
  *    aggregates and the uniqueness-family fractions (one stacked
  *    two-level aggregate covering every uniqueness column — N rules ≠
  *    N scans) are crossed as two single-row frames.
  *  - [[Rules.observe]]: no query at all. The metrics ride, as one
  *    `Observation`, on a plan the caller runs anyway (the medallion's
  *    dedup checkpoint), like Deequ's analyzers sharing one scan.
  * The metric row that reaches the driver is O(#rules), never O(data).
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

  /** The scanned metrics a ruleset needs, one aggregate per key (rules
    * that need the same metric share it). Both evaluation modes
    * aggregate exactly these columns.
    */
  private def scanMetrics(rules: Seq[DqRule]): Seq[(String, Column)] = {
    // try_divide: completeness of empty input is NULL (→ NaN), not an
    // ANSI divide-by-zero error
    def completeness(c: String) =
      s"compl_$c" -> try_divide(count(col(c)).cast("double"), count(lit(1)))
    rules.flatMap {
      case ColumnExists(_) | UniquenessAbove(_, _) => Nil
      case IsComplete(c) => Seq(completeness(c))
      case CompletenessAbove(c, _) => Seq(completeness(c))
      case ColumnValues(c, p, d) =>
        Seq(s"cv_${c}_$d" -> sum(when(p(col(c)), 0L).otherwise(1L)).cast("double"))
      case RowCountBetween(_, _) => Seq("size" -> count(lit(1)).cast("double"))
      case IsPrimaryKey(c) => Seq(completeness(c))
    }.distinctBy(_._1)
  }

  private def uniquenessColumns(rules: Seq[DqRule]): Seq[String] =
    rules.collect {
      case UniquenessAbove(c, _) => c
      case IsPrimaryKey(c) => c
    }.distinct

  /** The verdict of every rule, from the metrics by key: the scanned
    * ones, and each uniqueness fraction as `uniq_<column>`. A metric
    * that is missing or null reads as over zero rows: size 0, the
    * others NaN.
    */
  private def verdicts(
      rules: Seq[DqRule], schemaCols: Set[String], metrics: Map[String, Any]): Seq[RuleResult] = {
    def metric(k: String): Double = metrics.get(k).flatMap(Option(_))
      .fold(if (k == "size") 0.0 else Double.NaN)(_.asInstanceOf[Double])
    def uniqueness(c: String) = metric(s"uniq_$c")
    rules.map { rule =>
      val (passed, observed) = rule match {
        case ColumnExists(c) => (schemaCols.contains(c), if (schemaCols.contains(c)) 1.0 else 0.0)
        case IsComplete(c) =>
          val v = metric(s"compl_$c"); (v == 1.0, v)
        case CompletenessAbove(c, t) =>
          val v = metric(s"compl_$c"); (v > t, v)
        case ColumnValues(c, _, d) =>
          val bad = metric(s"cv_${c}_$d"); (bad == 0.0, bad)
        case RowCountBetween(lo, hi) =>
          val n = metric("size"); (n >= lo && n <= hi, n)
        case IsPrimaryKey(c) =>
          val compl = metric(s"compl_$c"); val u = uniqueness(c)
          (compl == 1.0 && u == 1.0, u)
        case UniquenessAbove(c, t) =>
          val u = uniqueness(c); (u > t, u)
      }
      RuleResult(rule.name, rule.description, passed, observed)
    }
  }

  /** Dataset-level evaluation (O-39/O-40). One query computes every
    * metric: the single-row scan aggregate crossed with the uniqueness
    * fractions folded into one `column → fraction` map row. Returns
    * RuleResults (driver-side, O(#rules)).
    */
  def evaluate(df: DataFrame, rules: Seq[DqRule]): Seq[RuleResult] = {
    val scans = scanMetrics(rules)
    val uniqCols = uniquenessColumns(rules)

    // one single-row frame per metric family; crossing them keeps the
    // whole ruleset to one query and one collect of one row
    val scanRow = Option.when(scans.nonEmpty)(df.agg(
      scans.head._2.as(scans.head._1), scans.tail.map { case (k, m) => m.as(k) }: _*))
    val uniqRow = Option.when(uniqCols.nonEmpty)(
      Analyzers.uniquenessFractions(df, uniqCols)
        .agg(map_from_entries(collect_list(struct(col("c"), col("u")))).as("__uniq")))
    val row = (scanRow ++ uniqRow).reduceOption(_.crossJoin(_)).map(_.head())

    val metrics = row.fold(Map.empty[String, Any]) { r =>
      val uniq = if (uniqCols.isEmpty) Map.empty[String, Any]
        else r.getMap[String, Any](r.fieldIndex("__uniq"))
      r.getValuesMap[Any](scans.map(_._1)) ++ uniq.map { case (c, u) => s"uniq_$c" -> u }
    }
    verdicts(rules, df.columns.toSet, metrics)
  }

  /** Observed evaluation: the ruleset's metrics ride on `df`'s own plan
    * through one [[org.apache.spark.sql.Observation]], so the action that
    * runs the returned frame (a checkpoint, a write) computes them and no
    * query of its own is needed. Uniqueness comes from a per-row
    * `count(1) over (partition by cast(c as string))` helper column,
    * dropped again above the observation; it gives the value of
    * [[evaluate]]'s stacked group-by. Call the returned reader only after
    * an action over the frame has succeeded: an observation whose plan
    * never ran blocks its reader forever.
    */
  def observe(df: DataFrame, rules: Seq[DqRule]): (DataFrame, () => Seq[RuleResult]) = {
    val schemaCols = df.columns.toSet
    val uniq = uniquenessColumns(rules).zipWithIndex.map { case (c, i) => c -> s"__dq_n$i" }
    val metrics = scanMetrics(rules) ++ uniq.map { case (c, n) =>
      s"uniq_$c" -> try_divide(
        sum(when(col(n) === 1, 1L).otherwise(0L)).cast("double"), count(lit(1)).cast("double"))
    }
    if (metrics.isEmpty) (df, () => verdicts(rules, schemaCols, Map.empty))
    else {
      val observation = Observation()
      val observed = uniq.foldLeft(df) { case (d, (c, n)) =>
          d.withColumn(n, count(lit(1)).over(Window.partitionBy(col(c).cast("string"))))
        }
        .observe(observation, metrics.head._2.as(metrics.head._1),
          metrics.tail.map { case (k, m) => m.as(k) }: _*)
        .drop(uniq.map(_._2): _*)
      // an action the optimizer proved empty drops the observation, and
      // the map comes back empty: zero rows
      (observed, () => verdicts(rules, schemaCols, observation.get))
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
    * failure) over results from either mode: Left(failed results) halts
    * the pipeline, Right passes the frame through.
    */
  def gate(df: DataFrame, results: Seq[RuleResult]): Either[Seq[RuleResult], DataFrame] = {
    val failed = results.filterNot(_.passed)
    if (failed.isEmpty) Right(df) else Left(failed)
  }

  /** O-41 row-level outcomes: annotate each row with
    * `DataQualityEvaluationResult` ("Passed"/"Failed") and the array of
    * failing row-rule names (ref: glue/data_quality_dqdl.py:89-106).
    * Only per-row rules (ColumnValues, IsComplete) participate — dataset
    * rules have no row granularity, as in DQDL. A null predicate passes.
    * The verdict reads the predicates, not the array, so [[route]]'s
    * passed side prunes the higher-order array and stays in codegen.
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
    val passed = rowRules.map { case (_, pass) => coalesce(pass, lit(true)) }.reduce(_ && _)
    df.withColumn("DataQualityRulesFail", failArr)
      .withColumn("DataQualityEvaluationResult", when(passed, lit("Passed")).otherwise(lit("Failed")))
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
