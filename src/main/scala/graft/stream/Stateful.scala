package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed event for stateful processing. */
final case class KeyedEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)

/** Keyed µs-time event for the streaming throttle. */
final case class ThrottleEvent(user_id: Long, ts_us: Long)

/** (key, hour) row for the streaming Holt smoother. */
final case class HourEvent(event_type: String, hr_s: Long)

/** Per-key Holt recursion state: seeded flag + scaled level/trend. */
final case class HoltState(seeded: Boolean, l: Long, b: Long)

/** One smoothed hour from the streaming Holt smoother. */
final case class HoltRow(key: String, hr_s: Long, n: Long,
    level_scaled: Long, trend_scaled: Long, forecast_scaled: Long)

/** Custom keyed state via `flatMapGroupsWithState` — the streaming
  * operator family the stateless reference never needed but the north
  * star mandates (SURVEY.md §2.10 NOT-PRESENT row).
  *
  * Use case: alert SUPPRESSION on top of O-62's threshold alert. The
  * reference's consumer re-alerts on every poll while a surge persists
  * (ref: streaming/consumer.py:86-92 has no memory); here state
  * remembers "already above threshold" per key across micro-batches and
  * emits only rising edges. State is one boolean per key — O(keys),
  * partitioned by the group key, exactly what a 1000-executor cluster
  * shards naturally.
  */
object Stateful {

  /** Emit an event only when its key's value crosses ABOVE the
    * threshold (rising edge); state persists across micro-batches.
    * Batch order within a group is not guaranteed → sort by event time
    * inside the group iterator.
    */
  def risingEdgeAlerts(
      spark: SparkSession,
      events: Dataset[KeyedEvent],
      threshold: Double): Dataset[KeyedEvent] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[KeyedEvent], state: GroupState[Boolean]) => {
          // getTime alone is millisecond-truncated; getNanos carries the
          // sub-ms part the µs-normalized event times (and the oracle's
          // epoch_ns ordering) distinguish
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var above = state.getOption.getOrElse(false)
          val out = Seq.newBuilder[KeyedEvent]
          sorted.foreach { e =>
            val now = e.value > threshold
            if (now && !above) out += e
            above = now
          }
          state.update(above)
          out.result().iterator
        })
  }

  /** One AvailableNow pass of [[risingEdgeAlerts]] over the events
    * table as a REAL stateful streaming query (memory sink), returning
    * the collected result. The state logic makes the result equal to
    * the batch lag-window formulation whatever the micro-batch
    * boundaries — which is exactly what the batch oracle checks.
    */
  def runRisingEdgeStream(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    Jobs.withShufflePartitions(spark, stateShufflePartitions) {
    import spark.implicits._
    val typed = graft.Tables.eventsStream(spark, dir)
      .selectExpr("event_id", "ts", "user_id", "value").as[KeyedEvent]
    Jobs.runToMemorySink(spark, risingEdgeAlerts(spark, typed, threshold),
      "graft_stateful_edges")
  }

  /** [[risingEdgeAlerts]] re-expressed on `transformWithState` — the
    * current-generation arbitrary-state API (SPIP in Spark 4): typed
    * named state handles (`ValueState`) with per-state TTL instead of
    * one opaque `GroupState` blob, timers, and a required RocksDB
    * state store (incremental checkpointing, state larger than
    * memory — the 100 TB state story). Same semantics as the
    * `flatMapGroupsWithState` form: one boolean per key, emit only
    * rising edges; q19c hash-checks it against the identical batch
    * lag-window oracle as q19b.
    */
  private class RisingEdgeProcessor(threshold: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedEvent, KeyedEvent] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var above: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      above = getHandle.getValueState[Boolean]("above",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[KeyedEvent] = {
      // ms + sub-ms nanos + id: matches the oracle's µs event-time order
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      var a = above.exists() && above.get()
      val out = Seq.newBuilder[KeyedEvent]
      sorted.foreach { e =>
        val now = e.value > threshold
        if (now && !a) out += e
        a = now
      }
      above.update(a)
      out.result().iterator
    }
  }

  /** Run `f` on the RocksDB state store — the provider
    * `transformWithState` requires — restoring the session's provider
    * afterwards.
    */
  private def withRocksDbState[T](spark: SparkSession)(f: => T): T =
    Jobs.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(f)

  /** One AvailableNow pass of the `transformWithState` rising-edge
    * processor (RocksDB state store — required by the API — scoped to
    * this run and restored after).
    */
  def runRisingEdgeStreamTws(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    Jobs.withShufflePartitions(spark, stateShufflePartitions) {
    withRocksDbState(spark) {
      import spark.implicits._
      val typed = graft.Tables.eventsStream(spark, dir)
        .selectExpr("event_id", "ts", "user_id", "value").as[KeyedEvent]
      val alerts = typed
        .groupByKey(_.user_id)
        .transformWithState(new RisingEdgeProcessor(threshold),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      Jobs.runToMemorySink(spark, alerts, "graft_stateful_tws")
    }
  }

  /** Rate-limit THROTTLE as a stream: keep an event only when it is at
    * least `cooldownUs` after the key's last KEPT event — the
    * recurrence whose anchor depends on every prior decision, which is
    * exactly what per-key streaming state is for: one Long anchor per
    * key carried across micro-batches ([[graft.ext.TimeSeries.throttle]]
    * is the batch twin, `flatMapSortedGroups` there, `transformWithState`
    * here). Rows within a batch sort by event time in the processor;
    * ACROSS batches correctness requires event-time-ordered arrival
    * (the replay harness's contiguous ascending slices — the same
    * contract as the changelog stream). A pipeline with late events
    * would buffer behind a watermark timer first.
    */
  private class ThrottleProcessor(cooldownUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ThrottleEvent, ThrottleEvent] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var anchor: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      anchor = getHandle.getValueState[Long]("anchor",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[ThrottleEvent],
        timerValues: TimerValues): Iterator[ThrottleEvent] = {
      val sorted = rows.toSeq.sortBy(_.ts_us)
      var a = if (anchor.exists()) anchor.get() else Long.MinValue
      val out = Seq.newBuilder[ThrottleEvent]
      sorted.foreach { e =>
        if (a == Long.MinValue || e.ts_us - a >= cooldownUs) {
          out += e
          a = e.ts_us
        }
      }
      anchor.update(a)
      out.result().iterator
    }
  }

  /** One AvailableNow pass of the throttle processor over an event-
    * slice replay dir (one file per micro-batch, RocksDB state store
    * scoped to the run). Returns the kept events.
    */
  def runThrottleStream(
      spark: SparkSession,
      inputDir: String,
      cooldownUs: Long,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    Jobs.withShufflePartitions(spark, stateShufflePartitions) {
    require(cooldownUs > 0, "cooldown must be positive")
    withRocksDbState(spark) {
      import spark.implicits._
      val typed = spark.readStream.schema(graft.schema.Schemas.events)
        .option("maxFilesPerTrigger", 1)
        .parquet(inputDir)
        .selectExpr("user_id", "unix_micros(ts) AS ts_us").as[ThrottleEvent]
      val kept = typed
        .groupByKey(_.user_id)
        .transformWithState(new ThrottleProcessor(cooldownUs),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      Jobs.runToMemorySink(spark, kept, "graft_stream_throttle")
    }
  }

  /** Holt level+trend smoothing as TRUE incremental streaming state —
    * unlike CUSUM (series-global μ and running min → snapshot
    * recompute is the only streaming form), Holt's recursion is a
    * per-key state machine: two scaled longs (level, trend) carried in
    * `transformWithState` ValueState are the ENTIRE cross-batch
    * memory, so a 100 TB event history costs O(keys) state, not
    * O(history) re-reads ([[graft.ext.TimeSeries.holtHourly]] is the
    * batch twin — identical truncating-long recursion, identical
    * output). Within a batch the processor counts its key's rows per
    * hour in memory (at production scale the hourly pre-aggregation
    * runs upstream of the state operator; here batches are event
    * slices, so per-key-per-batch rows are bounded) and folds the
    * recursion hour by hour. Cross-batch correctness requires
    * HOUR-ALIGNED event-time-ordered arrival — an hour must not
    * straddle two micro-batches, or its count would be split and the
    * recursion stepped twice (the replay harness cuts slices on hour
    * boundaries; a pipeline with late events would buffer behind a
    * watermark timer first — same contract family as the throttle).
    */
  private class HoltProcessor(scale: Long, alphaDen: Long, betaDen: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, HourEvent, HoltRow] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[HoltState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HoltState]("holt",
        org.apache.spark.sql.Encoders.product[HoltState], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[HourEvent],
        timerValues: TimerValues): Iterator[HoltRow] = {
      val counts = rows.foldLeft(Map.empty[Long, Long]) { (m, e) =>
        m.updated(e.hr_s, m.getOrElse(e.hr_s, 0L) + 1L)
      }.toSeq.sortBy(_._1)
      var s = if (st.exists()) st.get() else HoltState(false, 0L, 0L)
      val out = Seq.newBuilder[HoltRow]
      counts.foreach { case (hrS, n) =>
        val y = n * scale
        if (!s.seeded) s = HoltState(seeded = true, y, 0L)
        else {
          val lp = s.l
          val l2 = (lp + s.b) + (y - (lp + s.b)) / alphaDen
          val b2 = s.b + ((l2 - lp) - s.b) / betaDen
          s = HoltState(seeded = true, l2, b2)
        }
        out += HoltRow(key, hrS, n, s.l, s.b, s.l + s.b)
      }
      st.update(s)
      out.result().iterator
    }
  }

  /** One AvailableNow pass of the Holt processor over an hour-aligned
    * event-slice replay dir (one file per micro-batch, RocksDB state
    * store scoped to the run). Returns (key, hr, n, level_scaled,
    * trend_scaled, forecast_scaled) — the [[graft.ext.TimeSeries.holtHourly]]
    * schema, bit-equal by construction.
    */
  def runHoltStream(
      spark: SparkSession,
      inputDir: String,
      scale: Long = 1000000L,
      alphaDen: Long = 8L,
      betaDen: Long = 4L,
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): DataFrame =
    Jobs.withShufflePartitions(spark, stateShufflePartitions) {
    withRocksDbState(spark) {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, timestamp_seconds}
      val typed = spark.readStream.schema(graft.schema.Schemas.events)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(inputDir)
        .selectExpr("event_type",
          "CAST(date_trunc('hour', ts) AS LONG) AS hr_s").as[HourEvent]
      val smoothed = typed
        .groupByKey(_.event_type)
        .transformWithState(new HoltProcessor(scale, alphaDen, betaDen),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      Jobs.runToMemorySink(spark, smoothed, "graft_stream_holt")
        .select(col("key"), timestamp_seconds(col("hr_s")).as("hr"),
          col("n"), col("level_scaled"), col("trend_scaled"),
          col("forecast_scaled"))
    }
  }
}
