package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sinks.Writers

/** Per-record validation, reason accumulation, good/bad routing and
  * threshold alerting (ref: streaming/consumer.py:21-24,47-57,86-92).
  *
  * Pure `DataFrame => DataFrame` column logic — usable identically in
  * batch and Structured Streaming (SURVEY.md §7.1 stream/Validate). The
  * reference evaluates these rules row-at-a-time in Python; here they
  * are plain Catalyst predicates with no higher-order function (see
  * [[Validate.annotate]]), so they run inside whole-stage codegen.
  * [[routeBatch]] is the one streaming body that lands the split.
  */
final case class ValidationRule(reason: String, bad: Column)

object Validate {

  /** Faithful port of the consumer's thresholds
    * (ref: streaming/consumer.py:21-24): Decimal literals so threshold
    * compares stay exact (SURVEY.md §7.4.7).
    */
  def cryptoRules: Seq[ValidationRule] = {
    def d(s: String) = lit(new java.math.BigDecimal(s))
    Seq(
      ValidationRule("Invalid or zero price", col("current_price").isNull || col("current_price") <= d("0")),
      ValidationRule("Price below threshold", col("current_price").isNotNull && col("current_price") > d("0") && col("current_price") < d("0.01")),
      ValidationRule("Market cap below threshold", col("market_cap").isNull || col("market_cap") < d("1000000")),
      ValidationRule("Extreme price drop", col("price_change_percentage_24h").isNotNull && col("price_change_percentage_24h") < d("-15")))
  }

  /** Alert predicate (ref: streaming/consumer.py:86): 24h change > +10%. */
  def cryptoAlert: Column = col("price_change_percentage_24h") > lit(new java.math.BigDecimal("10"))

  /** O-60: annotate rows with validity and the failure reasons, " | "-joined
    * in rule order (ref: streaming/consumer.py:63); a null rule does not fire.
    * `concat_ws` skips the non-matching `when`s, as the reference's
    * `error_reasons` list append does. There is no reason array: its
    * higher-order `filter` would keep the split's filter and projection
    * out of whole-stage codegen (ValidateSpec pins the plan).
    */
  def annotate(df: DataFrame, rules: Seq[ValidationRule]): DataFrame =
    df.withColumn("is_valid", !rules.foldLeft(lit(false))((any, r) => any || coalesce(r.bad, lit(false))))
      .withColumn("error_reason", concat_ws(" | ", rules.map(r => when(r.bad, lit(r.reason))): _*))

  /** O-61: good/bad routing — two complementary filters over one
    * (cacheable) annotated frame; in streaming, called inside
    * `foreachBatch` on the persisted batch.
    */
  def split(df: DataFrame, rules: Seq[ValidationRule]): (DataFrame, DataFrame) = {
    val annotated = annotate(df, rules)
    (annotated.filter(col("is_valid")), annotated.filter(!col("is_valid")))
  }

  /** O-62: threshold alerting (ref: streaming/consumer.py:86-92). */
  def alerts(df: DataFrame, alertPred: Column): DataFrame = df.filter(alertPred)

  /** O-61/O-62 as one exactly-once micro-batch body (ref:
    * streaming/consumer.py:59-102 routes good→DynamoDB, bad→DLQ+S3,
    * surges→SNS): persist the batch once, split it, land each side
    * under `root/good` and `root/bad` through
    * [[graft.sinks.Writers.idempotentBatchWrite]], and return the
    * count of alerting good rows. A replayed batch id overwrites its
    * own partitions, so a crash between the sink write and the
    * checkpoint commit lands nothing twice. Alerts are counted, not
    * stored: the reference publishes them, and the rows are in `good`.
    */
  def routeBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      rules: Seq[ValidationRule],
      alert: Column): Long = {
    batch.persist()
    try {
      val (good, bad) = split(batch, rules)
      Writers.idempotentBatchWrite(good, batchId, s"$root/good")
      Writers.idempotentBatchWrite(bad, batchId, s"$root/bad")
      alerts(good, alert).count()
    } finally { batch.unpersist(); () }
  }
}
