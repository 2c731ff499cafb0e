package graft.dq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val coins = Seq(
    ("btc", 100.0, 1000L),
    ("eth", 50.0, 500L),
    ("ada", -1.0, 200L), // bad price
    ("dot", 10.0, 100L),
    ("btc", 99.0, 999L) // duplicate coin_id
  ).toDF("coin_id", "current_price", "market_cap")

  test("Analyzers: metric values match hand-computed ground truth") {
    val out = Analyzers.run(coins, Seq(
      Analyzers.size,
      Analyzers.completeness("coin_id"),
      Analyzers.mean("current_price"),
      Analyzers.standardDeviation("current_price"),
      Analyzers.minimum("current_price"),
      Analyzers.maximum("current_price"),
      Analyzers.countDistinct("coin_id")),
      uniquenessCols = Seq("coin_id"))
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(out(("*", "Size")) == 5.0)
    assert(out(("coin_id", "Completeness")) == 1.0)
    assert(math.abs(out(("current_price", "Mean")) - 51.6) < 1e-9)
    assert(out(("current_price", "Minimum")) == -1.0)
    assert(out(("current_price", "Maximum")) == 100.0)
    assert(out(("coin_id", "CountDistinct")) == 4.0)
    // Deequ uniqueness = values occurring exactly once / total rows = 3/5
    assert(out(("coin_id", "Uniqueness")) == 0.6)
    // population stddev of (100, 50, -1, 10, 99)
    val vals = Seq(100.0, 50.0, -1.0, 10.0, 99.0)
    val m = vals.sum / 5
    val sd = math.sqrt(vals.map(v => (v - m) * (v - m)).sum / 5)
    assert(math.abs(out(("current_price", "StandardDeviation")) - sd) < 1e-9)
  }

  test("Rules.evaluate: dataset-level verdicts") {
    val rules = Seq(
      ColumnExists("coin_id"), ColumnExists("nope"),
      IsComplete("coin_id"),
      ColumnValues("current_price", _ > 0, "gt_0"),
      RowCountBetween(1, 10), RowCountBetween(6, 10),
      UniquenessAbove("coin_id", 0.99),
      IsPrimaryKey("coin_id"))
    val res = Rules.evaluate(coins, rules).map(r => r.rule -> r.passed).toMap
    assert(res("ColumnExists_coin_id"))
    assert(!res("ColumnExists_nope"))
    assert(res("IsComplete_coin_id"))
    assert(!res("ColumnValues_current_price_gt_0")) // ada has -1
    assert(res("RowCount_1_10"))
    assert(!res("RowCount_6_10"))
    assert(!res("Uniqueness_coin_id")) // 0.6 < 0.99
    assert(!res("IsPrimaryKey_coin_id")) // btc duplicated
  }

  test("Rules.evaluate: scan and uniqueness rules in one query, exact observed values") {
    val rules = Seq(
      ColumnExists("coin_id"),
      IsComplete("coin_id"),
      CompletenessAbove("current_price", 0.5),
      ColumnValues("current_price", _ > 0, "gt_0"),
      RowCountBetween(1, 10),
      UniquenessAbove("coin_id", 0.5),
      IsPrimaryKey("coin_id"))
    // evaluates in exactly one query; compares observed values by bits
    // so NaN matches NaN
    def check(df: org.apache.spark.sql.DataFrame, want: Seq[(Boolean, Double)]): Unit = {
      var res: Seq[RuleResult] = Nil
      val plans = executedPlans { res = Rules.evaluate(df, rules) }
      assert(plans.size == 1, s"${plans.size} query executions")
      def bits(rs: Seq[(String, Boolean, Double)]) =
        rs.map { case (n, p, v) => (n, p, java.lang.Double.doubleToLongBits(v)) }
      val got = res.map(r => (r.rule, r.passed, r.observed))
      assert(bits(got) == bits(rules.map(_.name).zip(want).map { case (n, (p, v)) => (n, p, v) }),
        s"got $got")
    }

    // coins: 5 complete ids, 3 occurring once; one non-positive price
    check(coins, Seq(
      (true, 1.0), (true, 1.0), (true, 1.0), (false, 1.0), (true, 5.0),
      (true, 0.6), (false, 0.6)))

    // empty input: completeness and uniqueness undefined, zero rows
    check(coins.filter(lit(false)), Seq(
      (true, 1.0), (false, Double.NaN), (false, Double.NaN), (false, Double.NaN),
      (false, 0.0), (false, Double.NaN), (false, Double.NaN)))

    // all-null id column: nothing complete, and the single null group
    // holds every row, so no value occurs exactly once
    check(coins.withColumn("coin_id", lit(null).cast("string")), Seq(
      (true, 1.0), (false, 0.0), (true, 1.0), (false, 1.0), (true, 5.0),
      (false, 0.0), (false, 0.0)))
  }

  test("Rules.observe: observed metrics equal Rules.evaluate, bit for bit") {
    object Plans extends AdaptiveSparkPlanHelper
    val rules = Seq(
      ColumnExists("coin_id"), ColumnExists("nope"),
      IsComplete("coin_id"), IsComplete("current_price"),
      CompletenessAbove("current_price", 0.5),
      ColumnValues("current_price", _ > 0, "gt_0"),
      ColumnValues("market_cap", _ >= 500, "ge_500"),
      RowCountBetween(1, 10),
      UniquenessAbove("coin_id", 0.5), IsPrimaryKey("coin_id"),
      // uniqueness over non-key columns
      UniquenessAbove("market_cap", 0.5), IsPrimaryKey("current_price"))
    def bits(rs: Seq[RuleResult]) =
      rs.map(r => (r.rule, r.passed, java.lang.Double.doubleToLongBits(r.observed)))
    def observedPlans(run: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val plans = executedPlans(run)
      assert(plans.size == 1, s"${plans.size} query executions")
      plans.filter(Plans.find(_)(_.isInstanceOf[CollectMetricsExec]).isDefined)
    }
    def check(what: String, df: DataFrame): Unit = {
      val (observed, results) = Rules.observe(df, rules)
      assert(observed.columns.toSeq == df.columns.toSeq, what)
      var rows = 0L
      // the metrics fire in the caller's own action
      assert(observedPlans { rows = observed.collect().length.toLong }.size == 1, what)
      assert(rows == df.count(), what)
      assert(bits(results()) == bits(Rules.evaluate(df, rules)), what)
    }

    check("coins", coins)
    check("all-null key", coins.withColumn("coin_id", lit(null).cast("string")))
    // every row filtered out at run time: the metrics fire over zero rows
    check("zero rows", coins.localCheckpoint().filter(col("market_cap") > 1000000L))
    check("provably empty input", coins.filter(lit(false)))
    // the caller's action is provably empty: the optimizer drops the
    // observation, no metric fires, and the reader sees zero rows
    val (observed, results) = Rules.observe(coins, rules)
    assert(observedPlans(observed.limit(0).collect()).isEmpty)
    assert(bits(results()) == bits(Rules.evaluate(coins.limit(0), rules)))
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(seed)
      def maybe[T](v: => T): Option[T] = if (r.nextInt(6) == 0) None else Some(v)
      // few distinct values, so duplicates and once-only values mix
      val rows = Seq.fill(1 + r.nextInt(60))((
        maybe(s"c${r.nextInt(25)}"), maybe(r.nextInt(40) - 5.0), maybe(r.nextInt(30) * 100L)))
      check(s"seed $seed", rows.toDF("coin_id", "current_price", "market_cap"))
    }
  }

  test("Rules.gate: fails the pipeline on violated Error-level rules") {
    assert(Rules.gate(coins, Rules.evaluate(coins, Seq(RowCountBetween(1, 10)))).isRight)
    val left = Rules.gate(coins,
      Rules.evaluate(coins, Seq(ColumnValues("current_price", _ > 0, "gt_0"))))
    assert(left.isLeft)
    assert(left.left.toOption.get.head.rule == "ColumnValues_current_price_gt_0")
  }

  test("rowOutcomes + route: per-row verdicts and disjoint split") {
    val rules = Seq(
      ColumnValues("current_price", _ > 0, "gt_0"),
      ColumnValues("market_cap", _ >= 500, "ge_500"))
    val annotated = Rules.rowOutcomes(coins, rules)
    val failed = annotated.filter(col("DataQualityEvaluationResult") === "Failed")
    assert(failed.count() == 2) // ada (both rules), dot (market_cap 100 < 500)
    val adaFails = annotated.filter(col("coin_id") === "ada")
      .select(concat_ws(",", col("DataQualityRulesFail"))).as[String].head()
    assert(adaFails ==
      "ColumnValues_current_price_gt_0,ColumnValues_market_cap_ge_500")
    val (passed, failedRows) = Rules.route(annotated)
    assert(passed.count() + failedRows.count() == 5)
    assert(!passed.columns.contains("DataQualityEvaluationResult"))
  }

  test("rowOutcomes: the verdict equals the one derived from the failing-rule array") {
    // `a < b` is null where either side is: a null predicate passes
    val nullable = Seq(None, Some(-1), Some(0), Some(1), Some(5))
    val rulesets = Seq(
      Seq(ColumnValues("a", _ > 0, "gt_0"), ColumnValues("a", _ < col("b"), "lt_b")),
      Seq(ColumnValues("a", _ < col("b"), "lt_b"), IsComplete("b")))
    for (seed <- Seq(1, 2, 3); rules <- rulesets) {
      val rnd = new scala.util.Random(seed)
      val df = (1 to 200).map(i => (i, nullable(rnd.nextInt(5)), nullable(rnd.nextInt(5))))
        .toDF("id", "a", "b")
      val fromArray = when(size(col("DataQualityRulesFail")) === 0, "Passed").otherwise("Failed")
      val verdicts = Rules.rowOutcomes(df, rules)
        .select(col("DataQualityEvaluationResult"), fromArray.as("from_array"))
        .as[(String, String)].collect().toSeq
      assert(verdicts.forall { case (v, a) => v == a }, s"seed $seed, ${rules.map(_.name)}")
      assert(verdicts.map(_._1).toSet == Set("Passed", "Failed"))
    }
  }

  test("route: the passed side runs inside whole-stage codegen") {
    val lineitem = Seq((1, 2.0, 0.01), (2, 50.0, 0.09), (3, -1.0, 0.0))
      .toDF("id", "l_quantity", "l_discount").persist()
    try {
      val (passed, _) = Rules.route(Rules.rowOutcomes(lineitem, Seq(
        ColumnValues("l_quantity", _ > 0, "gt_0"),
        ColumnValues("l_quantity", _ <= 45, "le_45"),
        ColumnValues("l_discount", _ <= 0.05, "le_005"))))
      assert(codegenGaps(passed) == ((Nil, Nil)), passed.queryExecution.executedPlan.toString)
      assert(passed.as[(Int, Double, Double)].collect().toSeq == Seq((1, 2.0, 0.01)))
    } finally { lineitem.unpersist(); () }
  }

  test("robustOutlierStats: MAD ignores the outlier the mean/stddev would absorb") {
    // group g: values clustered at 10 ± 1 plus one wild point. median=10,
    // adevs = {1,0,1,0,1,990} → mad=1; only the wild point exceeds 3*mad
    val df = Seq(("g", 9.0), ("g", 10.0), ("g", 11.0), ("g", 10.0),
      ("g", 9.0), ("g", 1000.0)).toDF("grp", "v")
    val r = Analyzers.robustOutlierStats(df, "grp", "v", 3.0)
      .as[(String, Long, Long, Double, Double)].head()
    assert(r == (("g", 6L, 1L, 10.0, 1.0)))
  }

  test("reference crypto ruleset gates like the reference's DQDL job") {
    // 60 clean unique coins → every rule passes (RowCount 50..150)
    val clean = (1 to 60).map(i => (s"coin_$i", s"c$i", s"name$i", i * 1.0, i * 1000000L))
      .toDF("coin_id", "symbol", "name", "current_price", "market_cap")
    assert(Rules.gate(clean, Rules.evaluate(clean, Rules.referenceCryptoRuleset)).isRight)
    // too few rows → RowCount rule fails
    val small = clean.limit(10)
    val failures =
      Rules.gate(small, Rules.evaluate(small, Rules.referenceCryptoRuleset)).left.toOption.get
    assert(failures.exists(_.rule == "RowCount_50_150"))
  }

  test("equalWidthHistogram: boundaries exact, max lands inside, constant column") {
    // values 0..99, 10 buckets over range 100 → bucket = v div 10 exactly
    val df = (0L to 99L).toDF("v")
    val h = Analyzers.equalWidthHistogram(df, "v", 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(h.length == 10)
    h.foreach { case (b, n, lo, hi) =>
      assert(n == 10L && lo == b * 10 && hi == b * 10 + 9)
    }
    // max value is inside the LAST bucket, never an overflow bucket
    assert(h.last._1 == 9L && h.last._4 == 99L)
    // skewed range: single distinct value → one bucket 0
    val const = Seq(7L, 7L, 7L).toDF("v")
    val hc = Analyzers.equalWidthHistogram(const, "v", 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(hc.toSeq == Seq((0L, 3L, 7L, 7L)))
  }

  test("Privacy: under-k classes flagged and exactly their rows suppressed") {
    import org.apache.spark.sql.functions.col
    // (id, city, age_band): one class of 3, one of 2, one singleton
    val df = Seq((1L, "a", 1), (2L, "a", 1), (3L, "a", 1),
      (4L, "b", 1), (5L, "b", 1), (6L, "c", 9)).toDF("id", "city", "band")
    val qi = Seq(col("city"), col("band"))
    val classes = Privacy.kAnonymityClasses(df, qi, k = 3)
      .as[(String, Int, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(classes(("a", 1)) == ((3L, false)))
    assert(classes(("b", 1)) == ((2L, true)))
    assert(classes(("c", 9)) == ((1L, true)))
    val kept = Privacy.enforceKAnonymity(df, qi, k = 3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
    // enforcement keeps the full row shape
    assert(Privacy.enforceKAnonymity(df, qi, 3).columns.toSeq ==
      Seq("id", "city", "band"))
    // k < 2 is rejected
    intercept[IllegalArgumentException] {
      Privacy.kAnonymityClasses(df, qi, 1)
    }
  }

  test("lDiversity: distinct-sensitive audit and one-shuffle enforcement agree") {
    // (a,1): 3 rows, 2 distinct users; (b,1): 3 rows, 3 users; (c,9): 1 row
    val df = Seq((1L, "a", 1, 10L), (2L, "a", 1, 10L), (3L, "a", 1, 20L),
      (4L, "b", 1, 1L), (5L, "b", 1, 2L), (6L, "b", 1, 3L),
      (7L, "c", 9, 5L)).toDF("id", "city", "band", "user")
    val qi = Seq(col("city"), col("band"))
    val classes = Privacy.lDiversityClasses(df, qi, col("user"), l = 3)
      .as[(String, Int, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(classes(("a", 1)) == ((3L, 2L, true)))
    assert(classes(("b", 1)) == ((3L, 3L, false)))
    assert(classes(("c", 9)) == ((1L, 1L, true)))
    val kept = Privacy.enforceLDiversity(df, qi, col("user"), l = 3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(4L, 5L, 6L))
    // enforcement keeps the full row shape
    assert(Privacy.enforceLDiversity(df, qi, col("user"), 3)
      .columns.toSeq == Seq("id", "city", "band", "user"))
    // NULL sensitive values never count as a value (dense_rank puts
    // them first; the any-null indicator subtracts them back out),
    // matching the audit's count(DISTINCT) semantics exactly
    val withNull = Seq((1L, "a", Option(1L)), (2L, "a", Option(2L)),
      (3L, "a", Option.empty[Long])).toDF("id", "city", "user")
    assert(Privacy.enforceLDiversity(
      withNull, Seq(col("city")), col("user"), 3).count() == 0)
    assert(Privacy.enforceLDiversity(
      withNull, Seq(col("city")), col("user"), 2).count() == 3)
    assert(Privacy.lDiversityClasses(
      withNull, Seq(col("city")), col("user"), 2)
      .head().getLong(2) == 2L)
  }

  test("skewReport: shares, ceil salt factor, top-N order") {
    // 6 rows on 'x', 2 on 'y', 1 on 'z': total 9, 3 keys
    val df = (Seq.fill(6)("x") ++ Seq.fill(2)("y") ++ Seq("z")).toDF("k")
    val r = Analyzers.skewReport(df, col("k"), topN = 2)
      .as[(String, Long, Long, Long)].collect().toSeq
    // x: share 6e6/9 = 666666 ppm; salts ceil(6·3/9) = 2
    // y: share 222222 ppm; salts ceil(6/9) = 1
    assert(r == Seq(("x", 6L, 666666L, 2L), ("y", 2L, 222222L, 1L)))
  }

  test("mutualInformation: zero for independence, ln 2 terms for a bijection") {
    val indep = Seq(("a", 0), ("a", 1), ("b", 0), ("b", 1)).toDF("x", "y")
    val r0 = Analyzers.mutualInformation(indep, col("x"), col("y"))
      .collect().map(_.getDouble(5))
    assert(r0.forall(_ == 0.0))
    val dep = Seq(("a", 0), ("a", 0), ("b", 1), ("b", 1)).toDF("x", "y")
    val r1 = Analyzers.mutualInformation(dep, col("x"), col("y"))
      .collect().map(_.getDouble(5)).toSeq
    // each cell: (2/4)·ln(2·4/(2·2)) = 0.5·ln 2 → 0.346574
    assert(r1 == Seq(0.346574, 0.346574))
  }

  test("tClosenessClasses: hand-computed EMD ppm, missing-value spine, degenerate m=1") {
    // global: v ∈ {0, 1}, 4 each (N=8, m=2).  A holds (3×0, 1×1):
    // cum diffs |3·8−4·4|=8, |4·8−8·4|=0 → t = 8·10⁶/(4·8·1) = 250000.
    // B mirrors it.
    val df = (Seq.fill(3)(("A", 0L)) ++ Seq(("A", 1L)) ++
      Seq(("B", 0L)) ++ Seq.fill(3)(("B", 1L))).toDF("cls", "v")
    val r = Privacy.tClosenessClasses(df, Seq(col("cls")), col("v"), 250000L)
      .orderBy("cls")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(r == Seq(("A", 4L, 2L, 250000L, false),
      ("B", 4L, 2L, 250000L, false)))
    // bound just below the exact t flips the multiplied-through verdict
    val r2 = Privacy.tClosenessClasses(df, Seq(col("cls")), col("v"), 249999L)
      .orderBy("cls").as[(String, Long, Long, Long, Boolean)].collect()
    assert(r2.forall(_._5))
    // full skew: each class holds only its own value → t = 1/2 exactly;
    // the spine must charge the MISSING value's flat-cumulative term
    val skew = Seq(("A", 0L), ("A", 0L), ("B", 1L), ("B", 1L)).toDF("cls", "v")
    val r3 = Privacy.tClosenessClasses(skew, Seq(col("cls")), col("v"), 250000L)
      .orderBy("cls").as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(r3 == Seq(("A", 2L, 2L, 500000L, true), ("B", 2L, 2L, 500000L, true)))
    // one global value: every class trivially matches, t = 0
    val one = Seq(("A", 7L), ("B", 7L)).toDF("cls", "v")
    val r4 = Privacy.tClosenessClasses(one, Seq(col("cls")), col("v"), 0L)
      .as[(String, Long, Long, Long, Boolean)].collect()
    assert(r4.forall(x => x._3 == 1L && x._4 == 0L && !x._5))
  }

  test("tCloseness two-phase cumulative histogram equals a global-window replay at 100k distinct values") {
    // regression for the continuous-sensitive scale edge: m ~ n must
    // not force a single-partition sort, and the two-phase range
    // decomposition must be EXACTLY the naive global cumsum
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 100000L).select(
      (col("id") % 7).cast("string").as("cls"),
      // 100k distinct doubles, deliberately not in id order
      (col("id") * 2654435761L % 1000003L).cast("double").as("v"))
    val got = Privacy.tClosenessClasses(df, Seq(col("cls")), col("v"), 500000L)
      .orderBy("cls")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    // naive replay with the global-window form (test-side oracle)
    val base = df.select(col("cls"), col("v").as("__v"))
    val wg = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val global = base.groupBy(col("__v")).agg(count(lit(1)).as("__gc"))
      .withColumn("__gcum", sum(col("__gc")).over(wg))
      .withColumn("__n_total", sum(col("__gc")).over(wAll))
      .withColumn("__m", count(lit(1)).over(wAll))
    val cv = base.groupBy(col("cls"), col("__v")).agg(count(lit(1)).as("__cc"))
    val classes = cv.groupBy(col("cls")).agg(sum(col("__cc")).as("class_size"))
    val wc = Window.partitionBy(col("cls")).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val dec = "DECIMAL(38,0)"
    val want = classes.crossJoin(broadcast(
        global.select(col("__v"), col("__gcum"), col("__n_total"), col("__m"))))
      .join(cv, Seq("cls", "__v"), "left")
      .withColumn("__cc", coalesce(col("__cc"), lit(0L)))
      .withColumn("__ccum", sum(col("__cc")).over(wc))
      .withColumn("__term", expr(
        s"abs(CAST(__ccum AS $dec) * __n_total - CAST(__gcum AS $dec) * class_size)"))
      .groupBy(col("cls"), col("class_size"), col("__n_total"), col("__m"))
      .agg(sum(col("__term")).as("__sum_term"))
      .withColumn("__den", expr(
        s"CAST(class_size AS $dec) * __n_total * greatest(__m - 1, 1)"))
      .select(col("cls"), col("class_size"), col("__m").as("n_values"),
        expr("CAST(((__sum_term * 1000000) - (__sum_term * 1000000) % __den) / __den AS BIGINT)").as("t_ppm"),
        expr(s"__sum_term * 1000000 > CAST(500000 AS DECIMAL(38,0)) * __den").as("at_risk"))
      .orderBy("cls")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == want)
    assert(got.map(_._3).distinct == Seq(100000L), "m must be the distinct-value count")
  }

  test("enforceLDiversity survives a single huge class with 100k distinct sensitive values") {
    val df = spark.range(0, 100000L).select(
      lit("onlyclass").as("cls"), col("id").cast("string").as("user"))
    assert(Privacy.enforceLDiversity(df, Seq(col("cls")), col("user"), 100000L)
      .count() == 100000L)
    assert(Privacy.enforceLDiversity(df, Seq(col("cls")), col("user"), 100001L)
      .count() == 0L)
    // null QI class must survive the null-safe join-back
    val withNull = Seq((null: String, "u1"), (null: String, "u2"),
      ("a", "u1")).toDF("cls", "user")
    val kept = Privacy.enforceLDiversity(withNull, Seq(col("cls")), col("user"), 2L)
      .collect()
    assert(kept.length == 2 && kept.forall(_.isNullAt(0)),
      "the 2-distinct null-QI class must be kept, the 1-distinct class dropped")
  }

  test("benfordReport: string-derived digits, exact shares, zero/null excluded") {
    val df = Seq[java.lang.Long](1L, 10L, 11L, 2L, 25L, 9L, 0L, null, -300L)
      .toDF("v")
    val r = Analyzers.benfordReport(df, col("v"))
      .orderBy("digit")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    // 7 audited (0 and null drop; -300 folds to |−300| → digit 3)
    assert(r.map(_._2).sum == 7L && r.forall(_._3 == 7L))
    val byDigit = r.map(x => x._1 -> x._2).toMap
    assert(byDigit(1) == 3L && byDigit(2) == 2L && byDigit(3) == 1L &&
      byDigit(9) == 1L && byDigit(4) == 0L)
    // exact truncating ppm and deviation vs the Benford constant
    val d1 = r.find(_._1 == 1).get
    assert(d1._4 == 3L * 1000000L / 7L && d1._5 == 301029L &&
      d1._6 == math.abs(d1._4 - 301029L))
  }

  test("categoryDrift: hand-computed PSI terms, one-sided categories finite") {
    val old = Seq("a", "a", "a", "b").toDF("c")
    val neu = Seq("a", "b", "b", "x").toDF("c") // 'x' absent from old
    val out = Analyzers.categoryDrift(old, neu, "c")
      .orderBy("category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // smoothing: V=3 union categories, denominators 4+3=7 each side
    def term(no: Long, nn: Long): Double = {
      val p = (no + 1).toDouble / 7; val q = (nn + 1).toDouble / 7
      BigDecimal((p - q) * math.log(p / q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.toSeq == Seq(
      ("a", 3L, 1L, term(3, 1)),
      ("b", 1L, 2L, term(1, 2)),
      ("x", 0L, 1L, term(0, 1))))
    // identical distributions → every term 0
    val same = Analyzers.categoryDrift(old, old, "c").collect()
    assert(same.forall(_.getDouble(3) == 0.0))
  }

  test("numericDrift: fixed-width binning with edge-bucket clamping") {
    val old = Seq(-5.0, 0.0, 9.9, 10.0, 99.0, 250.0).toDF("v")  // -5 clamps to 0
    val neu = Seq(5.0, 95.0).toDF("v")
    val out = Analyzers.numericDrift(old, neu, "v", 0.0, 100.0, 10)
      .orderBy("category").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // buckets of width 10: old → 0,0,0,1,9(x2: 99 and clamped 250); new → 0, 9
    assert(out.toSeq == Seq((0, 3L, 1L), (1, 1L, 0L), (9, 2L, 1L)))
  }

  test("ksDrift: hand-computed supremum, location, and exact numerator") {
    // old = {1, 3}, new = {2, 3}: F_old(1)=.5 F_new(1)=0 → D=.5 at v=1
    val old = Seq(1L, 3L).toDF("v")
    val neu = Seq(2L, 3L).toDF("v")
    val r = Analyzers.ksDrift(old, neu, "v").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((1L, 2L, 2L, 2L, 0.5)))
    // identical distributions → D = 0 (argmax ties to the lowest value)
    val same = Analyzers.ksDrift(old, old, "v").collect()(0)
    assert(same.getLong(1) == 0L && same.getDouble(4) == 0.0
      && same.getLong(0) == 1L)
    // bucket width 1 forces every value through the two-phase offset
    // path — same exact answer as the single-bucket default
    val tiny = Analyzers.ksDrift(old, neu, "v", bucketWidth = 1L).collect()(0)
    assert((tiny.getLong(0), tiny.getLong(1), tiny.getDouble(4))
      == ((1L, 2L, 0.5)))
  }
}
