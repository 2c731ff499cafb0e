package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  /** The reason-array form `Validate.annotate` replaced, kept as the
    * reference: a higher-order `filter` drops the nulls of the
    * non-matching `when`s.
    */
  private def annotateByArray(df: DataFrame, rules: Seq[ValidationRule]): DataFrame = {
    val reasons = filter(array(rules.map(r => when(r.bad, lit(r.reason))): _*), _.isNotNull)
    df.withColumn("__reasons", reasons)
      .withColumn("is_valid", size(col("__reasons")) === 0)
      .withColumn("error_reason", concat_ws(" | ", col("__reasons")))
      .drop("__reasons")
  }

  /** Rows drawn from each rule column's nulls, threshold values and
    * both sides of every threshold, for the crypto and the event rules.
    */
  private def randomFrame(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def dec(xs: String*): Seq[Option[BigDecimal]] = None +: xs.map(s => Some(BigDecimal(s)))
    val prices = dec("-1", "0", "0.005", "0.0099", "0.01", "0.5", "100")
    val caps = dec("0", "999999", "1000000", "5000000")
    val changes = dec("-20", "-15.01", "-15", "0", "10", "10.01", "25")
    val values = Seq(None, Some(-1.0), Some(0.0), Some(0.01), Some(0.049), Some(0.05), Some(1.0), Some(450.0), Some(451.0))
    val types = Seq(None, Some("error"), Some("view"), Some("click"))
    (1 to 400).map(i => (i.toLong, pick(prices), pick(caps), pick(changes), pick(values), pick(types)))
      .toDF("id", "current_price", "market_cap", "price_change_percentage_24h", "value", "event_type")
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  test("annotate equals the reason-array form on every rule subset, nulls and thresholds") {
    val crypto = Validate.cryptoRules
    val subsets = (0 until (1 << crypto.size)).map(m => crypto.indices.filter(i => (m >> i & 1) == 1).map(crypto))
    for (seed <- Seq(1, 2, 3); frame = randomFrame(seed); rules <- subsets :+ Jobs.eventRules) {
      val got = Validate.annotate(frame, rules)
      val want = annotateByArray(frame, rules)
      val what = s"seed $seed, rules ${rules.map(_.reason)}"
      assert(got.schema == want.schema, what)
      assert(got.columns.toSeq == frame.columns.toSeq ++ Seq("is_valid", "error_reason"), what)
      assert(rows(got) == rows(want), what)
    }
    // the event rules' `event_type === "error"` is null on a null type;
    // the frames carry such rows where no other rule fires, so a dropped
    // `coalesce` shows as a null `is_valid`
    val nullOnly = randomFrame(1).filter(col("event_type").isNull && col("value") > 0.05)
    assert(Validate.annotate(nullOnly, Jobs.eventRules).filter(col("is_valid")).count() > 0)
  }

  test("split, the projection and alerts run inside whole-stage codegen") {
    val batch = randomFrame(4).persist()
    try {
      val (good, bad) = Validate.split(batch, Validate.cryptoRules)
      val alerts = Validate.alerts(good, Validate.cryptoAlert)
      for ((name, df) <- Seq("good" -> good, "bad" -> bad, "alerts" -> alerts))
        assert(codegenGaps(df) == ((Nil, Nil)), s"$name: ${df.queryExecution.executedPlan}")
    } finally { batch.unpersist(); () }
  }
}
