package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics over the event stream: per-key activity
  * profiles (derived embeddings), profile similarity search, and
  * gap-based sessionization.
  *
  * Profiles turn behavioral streams into fixed-dim vectors that the
  * similarity stack (cosine kernels, SRP/IVF blocking) consumes
  * unchanged — the bridge between the streaming half and the
  * vector-search half of the engine.
  */
object TimeSeries {

  /** 24-dim hour-of-day activity profile per key: avg(value) per hour
    * slot, 0 where the key has no events in that hour. One aggregation
    * pass (24 conditional aggregates — no pivot shuffle).
    */
  def hourlyProfile(events: DataFrame, keyCol: String, tsCol: String, valueCol: String): DataFrame = {
    val aggs = (0 until 24).map(h =>
      avg(when(hour(col(tsCol)) === h, col(valueCol))).as(s"h$h"))
    events.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(keyCol),
        array((0 until 24).map(h => coalesce(col(s"h$h"), lit(0.0))): _*).as("profile"))
  }

  /** Top-k most-similar keys per key by profile cosine (double-precision
    * HOF scoring — profiles are small and derived, precision beats the
    * float kernel here). Excludes self; deterministic ties by id.
    *
    * Pair generation is size-switched: at or below `maxBruteKeys` keys
    * the pairs come from the exact all-pairs theta-join (quadratic —
    * fine for bounded key sets, EXACT results); above it the quadratic
    * surface is refused and candidates come from SRP-LSH signature
    * buckets over the profile vectors (the [[Similarity.srpNearDupPairs]]
    * blocking, both directions), so the cost is bucket-bounded at any
    * key cardinality. The SRP route is approximate in the usual LSH
    * way: only candidate pairs are ranked, so a key's top-k can miss
    * low-similarity entries (high-cosine neighbours collide with
    * probability ≈ 1 at these defaults) — the right trade for the
    * 100 TB regime where the all-pairs join is simply not runnable.
    */
  def topKSimilarProfiles(
      profiles: DataFrame,
      keyCol: String,
      k: Int,
      maxBruteKeys: Long = 20000,
      srpPlanes: Int = 12,
      srpTables: Int = 8,
      numKeys: Option[Long] = None): DataFrame = {
    val a = profiles.select(col(keyCol).as("key_a"), col("profile").as("p_a"))
    val b = profiles.select(col(keyCol).as("key_b"), col("profile").as("p_b"))
    // the route guard needs the key count; callers that bounded their
    // input upstream pass `numKeys` to skip the guard job (profiles is
    // an aggregate output, so counting it re-runs that aggregation)
    val pairs =
      if (numKeys.getOrElse(profiles.count()) <= maxBruteKeys) {
        a.join(b, col("key_a") =!= col("key_b"))
      } else {
        val base = profiles.select(col(keyCol).as("id"),
          transform(col("profile"), _.cast("float")).as("vec"))
        val sigs = base.select(col("id"),
          posexplode(array((0 until srpTables).map(t =>
            VectorKernels.srpSig(col("vec"), srpPlanes, t)): _*))
            .as(Seq("table", "sig")))
        sigs.select(col("table"), col("sig"), col("id").as("key_a"))
          .join(sigs.select(col("table"), col("sig"), col("id").as("key_b")),
            Seq("table", "sig"))
          .filter(col("key_a") =!= col("key_b"))
          .select(col("key_a"), col("key_b"))
          .dropDuplicates("key_a", "key_b")
          .join(a, "key_a")
          .join(b, "key_b")
      }
    val dot = Similarity.dot(col("p_a"), col("p_b"))
    val sim = dot / (Similarity.norm(col("p_a")) * Similarity.norm(col("p_b")))
    val w = Window.partitionBy(col("key_a"))
      .orderBy(col("cos_sim").desc, col("key_b").asc)
    pairs
      .withColumn("cos_sim", round(sim, 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("key_a"), col("key_b"), col("cos_sim"), col("rank"))
  }

  /** Regularize an event stream onto a fixed time grid with
    * forward-fill — the resample step upstream of any model that wants
    * evenly-spaced series (and the inverse of sessionization): per key,
    * one row per `unit` bucket from the key's first to last event,
    * carrying `filled_v` (last observed bucket average) across gaps.
    *
    * Shape: bucket-aggregate (one keyed shuffle), per-key span
    * (map-side partial → same shuffle key), grid via `sequence` +
    * `explode` (map-side — the grid never materializes on the driver),
    * left join back on (key, bucket), then ONE window pass per key for
    * the forward fill. `last(_, ignoreNulls = true)` over an
    * unbounded-preceding frame is the codegen'd forward-fill idiom.
    * Grid size is bounded by span/unit per key — at 100 TB the grid is
    * still tiny relative to the events that produced it.
    *
    * `filled_v` is never null: a key's first grid bucket is its first
    * observed bucket by construction.
    */
  def resampleFill(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      unit: String = "hour"): DataFrame = {
    val b = events
      .select(col(keyCol).as("key"), date_trunc(unit, col(tsCol)).as("bucket"),
        col(valueCol).as("v"))
      .groupBy(col("key"), col("bucket"))
      .agg(round(avg(col("v")), 4).as("avg_v"), count(lit(1)).as("n_events"))
    val grid = b.groupBy(col("key"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("key"),
        explode(sequence(col("b0"), col("b1"), expr(s"interval 1 $unit")))
          .as("bucket"))
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(b, Seq("key", "bucket"), "left")
      .select(col("key"), col("bucket"),
        last(col("avg_v"), ignoreNulls = true).over(w).as("filled_v"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.as("is_gap"))
  }

  /** Sequential funnel: for each stage after the first, a user
    * converts iff they have a stage event STRICTLY after their
    * previous-stage conversion time and within `deadline` of it; the
    * conversion time is the earliest such event. Emits one row per
    * stage with the surviving user count and the step conversion rate.
    *
    * Shape: stage 1 is one keyed aggregation; each later stage is a
    * join (events ⋈ previous-stage times, both keyed on the user —
    * co-partitioned shuffles) followed by a keyed min. Stage counts
    * are 1-row aggregates combined with broadcast cross-joins — no
    * driver-side `.count()` loop, the whole funnel is one lazy plan.
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String],
      deadline: String): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select(col(userCol).as("user"), col(tsCol).as("ts"),
      col(typeCol).as("etype"))
    var stage = ev.filter(col("etype") === stages.head)
      .groupBy(col("user")).agg(min(col("ts")).as("t"))
    val counts = scala.collection.mutable.ArrayBuffer(
      stage.agg(count(lit(1)).as("n0")))
    stages.zipWithIndex.drop(1).foreach { case (s, i) =>
      stage = ev.filter(col("etype") === s)
        .join(stage.select(col("user"), col("t").as("t_prev")), "user")
        .filter(col("ts") > col("t_prev") &&
          col("ts") <= col("t_prev") + expr(s"interval $deadline"))
        .groupBy(col("user")).agg(min(col("ts")).as("t"))
      counts += stage.agg(count(lit(1)).as(s"n$i"))
    }
    val wide = counts.reduce(_.crossJoin(_))
    val rows = stages.zipWithIndex.map { case (s, i) =>
      struct(
        lit(i + 1).as("step"), lit(s).as("stage"), col(s"n$i").as("n_users"),
        (if (i == 0) lit(1.0)
         else round(col(s"n$i") / col(s"n${i - 1}"), 4)).as("conversion"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Per-user conversion TIMES for each funnel stage — the row-level
    * companion of [[funnel]] (same stage semantics: a user converts
    * at the earliest stage event strictly after their previous-stage
    * time and within `deadline` of it): (user, step, stage, t,
    * t_prev), t_prev null for step 1. This is what latency analytics
    * (time-to-convert percentiles, q182) need, which the count-only
    * funnel report can't provide. Same join shape as [[funnel]]: one
    * keyed aggregation per stage, user-co-partitioned joins.
    */
  def funnelStageTimes(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String],
      deadline: String): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select(col(userCol).as("user"), col(tsCol).as("ts"),
      col(typeCol).as("etype"))
    var cur = ev.filter(col("etype") === stages.head)
      .groupBy(col("user")).agg(min(col("ts")).as("t"))
      .select(col("user"), lit(1).as("step"), lit(stages.head).as("stage"),
        col("t"), lit(null).cast("timestamp").as("t_prev"))
    val frames = scala.collection.mutable.ArrayBuffer(cur)
    stages.zipWithIndex.drop(1).foreach { case (s, i) =>
      cur = ev.filter(col("etype") === s)
        .join(cur.select(col("user"), col("t").as("tp")), "user")
        .filter(col("ts") > col("tp") &&
          col("ts") <= col("tp") + expr(s"interval $deadline"))
        .groupBy(col("user"), col("tp")).agg(min(col("ts")).as("t"))
        .select(col("user"), lit(i + 1).as("step"), lit(s).as("stage"),
          col("t"), col("tp").as("t_prev"))
      frames += cur
    }
    frames.reduce(_.unionByName(_))
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event, counted as active in each later week they appear
    * (week_offset 0 = the cohort week itself). Two keyed shuffles
    * (first-seen agg + the activity join, both on the user) and one
    * final small aggregation; the single `countDistinct` compiles to a
    * partial-distinct aggregate, not an Expand.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ev = events.select(col(userCol).as("user"), col(tsCol).as("ts"))
    val first = ev.groupBy(col("user"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_ts"))
    ev.join(first, "user")
      .select(col("user"), col("cohort_ts"),
        (datediff(to_date(date_trunc("week", col("ts"))), to_date(col("cohort_ts")))
          / lit(7)).cast("int").as("week_offset"))
      .groupBy(to_date(col("cohort_ts")).as("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user")).as("n_active"))
  }

  /** Rolling z-score anomaly flags: each event scored against the
    * mean/stddev of its own trailing window (`lookback` rows including
    * itself) — the self-calibrating threshold that adapts to each
    * key's local level, where a global threshold misfires on
    * heterogeneous keys. Warm-up rows (fewer than `minObs` in the
    * window) and zero-variance windows are never flagged.
    *
    * One key-partitioned sort carries all three bounded-frame window
    * aggregates — bounded frames keep per-row cost O(1) amortized
    * (Spark maintains the frame incrementally), so the pass is linear
    * per key at any history length.
    */
  def rollingZScoreAnomalies(
      events: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      tieBreakCol: String, lookback: Int = 24, minObs: Int = 12,
      k: Double = 3.0): DataFrame = {
    val win = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieBreakCol).asc)
      .rowsBetween(-(lookback - 1), Window.currentRow)
    events
      .withColumn("roll_mean", avg(col(valueCol)).over(win))
      .withColumn("roll_std", stddev_samp(col(valueCol)).over(win))
      .withColumn("n_win", count(lit(1)).over(win))
      .withColumn("is_anomaly",
        col("n_win") >= minObs && col("roll_std") > 0 &&
          abs(col(valueCol) - col("roll_mean")) > col("roll_std") * k)
  }

  /** DEBOUNCE: flag events closer than `cooldown` to the PREVIOUS event
    * of their key — repeated-click / bot-burst suppression. One lag
    * window per key (one keyed shuffle); the comparison is timestamp −
    * timestamp ≥ INTERVAL, exact at microsecond resolution in any
    * engine. Note the semantics: the anchor is the previous event kept
    * OR dropped (debounce), not the previous KEPT event (throttle) —
    * throttle's running anchor is inherently sequential per key
    * (recursive), while debounce is one window over the same sort, and
    * for burst suppression the two agree on everything except events
    * that trickle at just-under-cooldown cadence.
    */
  def debounce(
      events: DataFrame, keyCols: Seq[String], tsCol: String,
      tieBreakCol: String, cooldown: String): DataFrame = {
    // kept is the output verdict column and __prev an internal working
    // column — an input already carrying either would be silently
    // clobbered, so refuse it loudly
    require(!events.columns.exists(Set("kept", "__prev")),
      "input must not already contain a kept or __prev column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieBreakCol).asc)
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("kept",
        col("__prev").isNull ||
          col(tsCol) - col("__prev") >= expr(s"INTERVAL $cooldown"))
      .drop("__prev")
  }

  /** TRUE throttle: keep an event only if it is at least `cooldownUs`
    * microseconds after the last KEPT event of its key. Unlike
    * [[debounce]] the anchor is the previous survivor, which makes the
    * recurrence inherently sequential per key — no window/lag
    * formulation exists (each decision depends on all prior
    * decisions). This is the documented LAST-RESORT tier: typed
    * `flatMapSortedGroups` hands each key's events in (ts, tieBreak)
    * order to a linear scan carrying one running anchor — one keyed
    * shuffle + sort, O(1) state per key, no driver involvement. Spark
    * sorts WITHIN each group; keys still process in parallel across
    * partitions, so the operator scales exactly like a window that
    * can't be expressed as one.
    *
    * Input is typed rows of (key, tsMicros, tieBreak); output is the
    * kept (key, tsMicros, tieBreak) rows.
    */
  def throttle(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long)],
      cooldownUs: Long): org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    require(cooldownUs > 0, "cooldown must be positive")
    import events.sparkSession.implicits._
    // sort exprs resolve against the Dataset's ACTUAL column names
    // (tuple encoders keep source-frame names) — address positionally
    val Array(_, tsName, tieName) = events.columns
    events
      .groupByKey(_._1)
      .flatMapSortedGroups(col(tsName), col(tieName)) {
        (_: Long, it: Iterator[(Long, Long, Long)]) =>
        var anchor = Long.MinValue
        it.filter { e =>
          val keep = anchor == Long.MinValue || e._2 - anchor >= cooldownUs
          if (keep) anchor = e._2
          keep
        }
      }
  }

  /** Gap-based sessionization with Spark's native `session_window`
    * (merge while the gap to the previous event is < `gap`): per-key
    * session stats. The oracle cross-validates these semantics against
    * a first-principles lag + cumulative-sum formulation.
    */
  def sessionStats(events: DataFrame, keyCol: String, tsCol: String, gap: String): DataFrame =
    events
      .groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))

  /** CUSUM changepoint detection (Page 1954) over hourly event
    * volume: the monitoring question "WHEN did the rate shift", which
    * a whole-corpus drift report (PSI/KS) can't answer. Upward CUSUM
    * with slack k and alarm threshold h, both derived from the series
    * mean μ (k = μ div slackDen, h = μ·thresholdMul) so the report is
    * self-calibrating.
    *
    * The textbook recursion S_t = max(0, S_{t−1} + x_t − μ − k) is
    * sequential — instead this uses the exact closed form
    * S_t = P_t − min(0, min_{j≤t} P_j) over deviation prefix sums
    * P_t, which is two plain WINDOWS (running sum, running min): no
    * recursion, no driver loop. Everything is scaled-integer
    * arithmetic (dev·1e6, truncating division for μ and k), so the
    * whole alarm series replays bit-for-bit in SQL.
    *
    * Scale: the hourly aggregation is the only corpus-sized pass; the
    * windows run over the O(#hours) series (bounded — a decade is
    * < 10⁵ rows), the same bounded-window class as the two-phase
    * prefix-sum offsets.
    */
  /** Per-key integer EWMA over hourly event counts — the smoothed
    * level a monitoring page plots beside [[cusumHourly]]'s alarms.
    * The recursion s_t = s_{t−1} + (n_t·scale − s_{t−1}) div alphaDen
    * (α = 1/alphaDen; all longs, division truncating toward zero on
    * both engines) is inherently sequential per key — each smoothed
    * value depends on every prior one — so no window formulation
    * exists and this is the documented last-resort tier
    * ([[throttle]]'s shape): `flatMapSortedGroups` hands each key's
    * hourly series in time order to a linear fold carrying one long.
    * One keyed shuffle + sort; keys smooth in parallel; the per-key
    * series is bounded by the time span (a decade < 10⁵ rows), so the
    * sequential scan is never the scale bottleneck. The integer
    * recursion replays exactly as a recursive CTE.
    *
    * Returns (key, hr, n, ewma_scaled), s_1 = n_1·scale.
    */
  def ewmaHourly(
      events: DataFrame, keyCol: String, tsCol: String,
      scale: Long = 1000000L, alphaDen: Long = 8L): DataFrame = {
    require(alphaDen >= 2, "alphaDen must be >= 2")
    val spark = events.sparkSession
    import spark.implicits._
    val hourly = events
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("hr"))
      .agg(count(lit(1)).as("n"))
      // hour-truncated timestamps are whole seconds — the long cast is
      // lossless and gives the fold a plain sortable column
      .select(col("key"), col("hr").cast("long").as("hr_s"), col("n"))
      .as[(String, Long, Long)]
    hourly.groupByKey(_._1)
      .flatMapSortedGroups(col("hr_s")) {
        (key: String, it: Iterator[(String, Long, Long)]) =>
          var s = Long.MinValue
          it.map { case (_, hrS, n) =>
            s = if (s == Long.MinValue) n * scale
                else s + (n * scale - s) / alphaDen
            (key, hrS, n, s)
          }
      }
      .toDF("key", "hr_s", "n", "ewma_scaled")
      .select(col("key"), timestamp_seconds(col("hr_s")).as("hr"),
        col("n"), col("ewma_scaled"))
  }

  /** Holt DOUBLE-exponential smoothing (Holt 1957): level + trend per
    * key over hourly volume — [[ewmaHourly]] tracks the level but
    * lags any sustained ramp by construction; Holt's second recursion
    * absorbs the ramp into an explicit trend term and emits the
    * one-step-ahead forecast (level + trend), the number a capacity
    * alert actually compares against. Integer recursions on scaled
    * longs with truncating division (the q167 discipline — Scala
    * `Long./` ≡ DuckDB `//` toward zero, already pinned by the EWMA
    * gate on negative deltas):
    *   l_t = (l+b) + (y − (l+b)) / alphaDen
    *   b_t = b + ((l_t − l_{t−1}) − b) / betaDen
    * seeded l_1 = y_1, b_1 = 0. Inherently sequential per key (the
    * throttle-class tier) → one typed sorted-group fold; the oracle
    * replays it as a recursive CTE.
    */
  def holtHourly(
      events: DataFrame, keyCol: String, tsCol: String,
      scale: Long = 1000000L, alphaDen: Long = 8L,
      betaDen: Long = 4L): DataFrame = {
    require(alphaDen >= 2, "alphaDen must be >= 2")
    require(betaDen >= 2, "betaDen must be >= 2")
    val spark = events.sparkSession
    import spark.implicits._
    val hourly = events
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("hr"))
      .agg(count(lit(1)).as("n"))
      .select(col("key"), col("hr").cast("long").as("hr_s"), col("n"))
      .as[(String, Long, Long)]
    hourly.groupByKey(_._1)
      .flatMapSortedGroups(col("hr_s")) {
        (key: String, it: Iterator[(String, Long, Long)]) =>
          var l = Long.MinValue
          var b = 0L
          it.map { case (_, hrS, n) =>
            val y = n * scale
            if (l == Long.MinValue) { l = y; b = 0L }
            else {
              val lp = l
              l = (lp + b) + (y - (lp + b)) / alphaDen
              b = b + ((l - lp) - b) / betaDen
            }
            (key, hrS, n, l, b, l + b)
          }
      }
      .toDF("key", "hr_s", "n", "level_scaled", "trend_scaled",
        "forecast_scaled")
      .select(col("key"), timestamp_seconds(col("hr_s")).as("hr"),
        col("n"), col("level_scaled"), col("trend_scaled"),
        col("forecast_scaled"))
  }

  /** Seasonal (hour-of-day) baseline spikes: each hourly count
    * compared against its key's OWN mean for that hour of day — the
    * calendar-aware threshold that doesn't page on the nightly batch
    * window ([[rollingZScoreAnomalies]] adapts to the recent level;
    * this adapts to the clock). Baselines are scaled-integer
    * truncating-division means, so the report is exact.
    *
    * Shape: the hourly aggregation is the only corpus-sized pass; the
    * profile is O(keys × 24) and broadcasts back onto the series.
    */
  def seasonalSpikes(
      events: DataFrame, keyCol: String, tsCol: String,
      scale: Long = 1000000L, spikeMul: Long = 2L): DataFrame = {
    require(spikeMul >= 1, "spikeMul must be >= 1")
    val hourly = events
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("hr"))
      .agg(count(lit(1)).as("n"))
    val profile = hourly
      .groupBy(col("key"), hour(col("hr")).as("hod"))
      .agg(expr(s"(sum(n) * $scale) div count(1)").as("baseline_scaled"))
    hourly.withColumn("hod", hour(col("hr")))
      .join(broadcast(profile), Seq("key", "hod"))
      .select(col("key"), col("hr"), col("n"), col("baseline_scaled"),
        (col("n") * scale > col("baseline_scaled") * spikeMul).as("is_spike"))
  }

  def cusumHourly(
      events: DataFrame, tsCol: String,
      scale: Long = 1000000L, slackDen: Long = 2L,
      thresholdMul: Long = 3L): DataFrame = {
    require(slackDen >= 1, "slackDen must be >= 1")
    require(thresholdMul >= 1, "thresholdMul must be >= 1")
    val counts = events
      .groupBy(date_trunc("hour", col(tsCol)).as("hr"))
      .agg(count(lit(1)).as("n"))
    val stats = counts.agg(sum(col("n")).as("tot"), count(lit(1)).as("nh"))
    val wSum = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(stats))
      .withColumn("__mu", expr(s"(tot * $scale) div nh"))
      .withColumn("__k", expr(s"__mu div $slackDen"))
      .withColumn("__dev", col("n") * scale - col("__mu") - col("__k"))
      .withColumn("__p", sum(col("__dev")).over(wSum))
      .withColumn("cusum_scaled",
        col("__p") - least(lit(0L), min(col("__p")).over(wSum)))
      .withColumn("alarm", col("cusum_scaled") > col("__mu") * thresholdMul)
      .select(col("hr"), col("n"), col("cusum_scaled"), col("alarm"))
  }
}
