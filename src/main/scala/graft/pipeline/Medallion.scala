package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dq.Rules
import graft.etl.Transform
import graft.gold.Star
import graft.sinks.Writers

/** The reference's full batch pipeline, end-to-end in one process:
  * Bronze (inferred JSON) → typed Silver with DLQ + dedup → DQ gate →
  * Gold star schema — the four Glue jobs
  * (ref: Step Function/crypto-etl-pipeline.asl.json:5-76) as composed
  * DataFrame stages. State passes in-process; only the medallion layer
  * boundaries persist (Silver/Gold parquet), not every stage.
  *
  * The deduplicated Silver candidate is the single materialization
  * point: the transform stage computes it once with
  * `localCheckpoint(true)`, and the silver append, the fact overwrite,
  * `dim_coins` and `dim_date` all read that one frame instead of each
  * re-running the Bronze scan, the casts, the schema split and the
  * dedup window. The DQ gate runs no query at all: the ruleset's
  * metrics and the input row count ride on the checkpoint's own plan
  * as observations ([[Rules.observe]]), so the checkpoint job computes
  * them, and the gate and the empty-input guard read them from there.
  * `localCheckpoint`, not `persist`: the checkpoint keeps the
  * partitioning AQE coalesced the dedup shuffle to, while a cached plan
  * keeps every shuffle partition (AQE does not coalesce cached plans by
  * default), which doubles the files each day's silver and fact writes
  * commit.
  *
  * Independent sinks overlap through [[Pipeline.par]] at the two points
  * where the DAG forks: in transform, the DLQ append runs beside the
  * dedup checkpoint; in gold, the silver append, the fact overwrite,
  * the `dim_date` overwrite and the `dim_coins` merge run as four legs.
  * The legs are safe to overlap because every leg writes its own path
  * (`dlq`, `silver`, `fact_crypto_daily`, `dim_date`, `dim_coins`),
  * dynamic partition overwrite is a per-write option, not a session
  * conf, and each of these writes leaves its path as it was when a
  * failing sibling cancels it: an append or a dynamic overwrite
  * commits nothing until its job ends, and `dim_coins` is written into
  * a staging directory and swapped in ([[Writers.stagedOverwrite]]),
  * so its write never deletes the table it merges from. The DQ gate
  * still runs before gold. The notification record is the last step
  * and runs no Spark job: it is written in-process as one file
  * ([[Pipeline.runNotified]]), so the run ends when its last sink
  * commits.
  */
object Medallion {

  /** The run's in-process frames. No dims: a plan over `dim_coins` reads
    * files the run's swap moves away; read the written tables instead. */
  final case class Outputs(silver: DataFrame, dlq: DataFrame, fact: DataFrame)

  /** Cast projection spec Bronze → Silver
    * (ref: glue/data_transform_s3.py:113-126).
    */
  val silverSpec: Seq[(String, String, DataType)] = Seq(
    ("id", "coin_id", StringType),
    ("symbol", "symbol", StringType),
    ("name", "name", StringType),
    ("current_price", "current_price", DoubleType),
    ("market_cap", "market_cap", LongType),
    ("market_cap_rank", "market_cap_rank", IntegerType),
    ("total_volume", "total_volume", LongType),
    ("high_24h", "high_24h", DoubleType),
    ("low_24h", "low_24h", DoubleType),
    ("price_change_24h", "price_change_24h", DoubleType),
    ("price_change_percentage_24h", "price_change_percentage_24h", DoubleType),
    ("circulating_supply", "circulating_supply", DoubleType),
    ("total_supply", "total_supply", DoubleType))

  /** Run Bronze → Gold. `now` pins the metadata columns for
    * deterministic tests (SURVEY.md §7.4.1). DQ failures gate the
    * pipeline (Left), like the reference's verification raise
    * (ref: glue/data_quality_pydeequ.py:133).
    *
    * The stages compose through [[Pipeline.runNotified]] — the same
    * DAG runner (O-67: per-stage catch, short-circuit) plus the
    * terminal notification record (the ASL NotifySuccess/NotifyFailure
    * analogue, ref: Step Function/crypto-etl-pipeline.asl.json:77-96) —
    * so the orchestration layer itself sits on the verified path.
    */
  def run(
      spark: SparkSession,
      bronze: DataFrame,
      outDir: String,
      now: java.time.Instant,
      dqRules: Seq[graft.dq.DqRule] = Rules.referenceCryptoRuleset)
      : Either[StageFailure, Outputs] = {
    // Pipeline.run threads ONE frame through the DAG; the medallion
    // layers that fork off it (DLQ, the DQ verdicts) are captured as the
    // stages run and assembled into Outputs at the end.
    var dlq: DataFrame = null
    var silver: DataFrame = null
    var fact: DataFrame = null
    var dqResults: () => Seq[graft.dq.RuleResult] = null

    // Transform: projection + metadata + schema-enforcement split + dedup;
    // the DLQ append and the dedup checkpoint read disjoint halves of
    // the split, so they run as two legs
    val transform: Pipeline.Stage = df =>
      // no Bronze files: no schema to project and nothing to scan
      // (O-68, ref: glue/data_transform_s3.py:63-66)
      if (df.schema.isEmpty) Left(StageFailure("transform", "empty input"))
      else {
        val projected = Transform.withMetadata(
          Transform.castProjection(df, silverSpec), Some(now))
        val required = graft.schema.Schemas.cryptoRequired
        // only the dedup leg's half carries the count, so only the
        // checkpoint's query fills the observation
        val inputRows = Observation()
        val (valid, _) = Transform.schemaSplit(
          projected.observe(inputRows, count(lit(1)).as("n")), required)
        val (_, bad) = Transform.schemaSplit(projected, required)
        dlq = bad
        val (deduped, results) = Rules.observe(
          Transform.dedupLatest(
            // one shuffle on coin_id serves both the dedup window and the
            // primary-key window (a run holds one update_date)
            valid.repartition(col("coin_id")),
            partitionCols = Seq("coin_id", "update_date"),
            orderCols = Seq(col("last_updated_ts").desc, col("market_cap_rank").asc_nulls_last)),
          dqRules)
        val candidate = Pipeline.par(
          Writers.dlqAppend(bad, s"$outDir/dlq"), deduped.localCheckpoint(true))._2
        // par returned, so the checkpoint ran and filled both observations;
        // where planning or AQE proved the input empty, no count is reported
        if (inputRows.get.getOrElse("n", 0L) == 0L) Left(StageFailure("transform", "empty input"))
        else { dqResults = results; Right(candidate) }
      }

    // DQ gate (ref DQDL ruleset) on the metrics the checkpoint observed
    val dataQuality: Pipeline.Stage = df =>
      Rules.gate(df, dqResults()).left.map(failures =>
        StageFailure("data_quality",
          failures.map(f => s"${f.rule} (observed=${f.observed})").mkString("; ")))

    // Gold: silver append, fact and dim_date by dynamic partition
    // overwrite, and the staged dim_coins merge as four legs, one output
    // path each
    val gold: Pipeline.Stage = Pipeline.stage { s =>
      silver = s
      fact = s.withColumnRenamed("update_date", "date")
        .filter(col("coin_id").isNotNull)
      val dimCoinsPath = s"$outDir/dim_coins"
      // finish a swap a crash interrupted before the merge plans its
      // read: mid-swap the root is missing, the read would come back
      // empty, and the merge would drop every earlier coin
      Writers.recoverStagedSwap(spark, dimCoinsPath)
      val dimCoins = Star.mergeDim(
        Pipeline.readOrEmpty(spark, dimCoinsPath,
          StructType(Seq(
            StructField("coin_id", StringType),
            StructField("symbol", StringType),
            StructField("name", StringType)))),
        // mergeDim's keyed dropDuplicates already removes repeats
        s.select("coin_id", "symbol", "name"),
        Seq("coin_id"))
      // one partition per date: a run replaces only its own dates, so
      // earlier days keep their rows (the reference's union + distinct
      // at O(day) instead of O(history)), and a rerun is idempotent
      val dimDate = Star.dimDate(fact, "date")
      Pipeline.par(
        Pipeline.par(
          Writers.parquetAppendPartitioned(s, s"$outDir/silver", "update_date"),
          Writers.parquetDynamicOverwrite(fact, s"$outDir/fact_crypto_daily", "date")),
        Pipeline.par(
          Writers.parquetDynamicOverwrite(dimDate, s"$outDir/dim_date", "date"),
          Writers.stagedOverwrite(dimCoins, dimCoinsPath)))
      fact
    }

    Pipeline.runNotified(spark, "medallion", bronze,
      Seq("transform" -> transform, "data_quality" -> dataQuality, "gold" -> gold),
      s"$outDir/notifications")
      .map(_ => Outputs(silver, dlq, fact))
  }
}
