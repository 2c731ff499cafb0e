package graft.stream

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sinks.Writers

/** Structured Streaming jobs re-expressing the reference's Lambda
  * architecture (ref: streaming/consumer.py, streaming/producer.py):
  * micro-batch validate → route → alert, plus the watermarked windowed
  * aggregates the north star mandates (SURVEY.md §2.10 NOT-PRESENT row).
  *
  * The Kinesis micro-batch boundary becomes the streaming trigger
  * (tests/verify: `Trigger.AvailableNow`, prod: `ProcessingTime`);
  * Lambda's at-least-once becomes checkpointing + idempotent sinks:
  * no foreachBatch runner appends, so a replayed batch rewrites its own
  * output (per-batch rows land through
  * [[graft.sinks.Writers.idempotentBatchWrite]]).
  * Every job launches through [[runAvailableNow]]; every job that
  * publishes versioned state runs [[runVersionedPublish]]'s
  * resume / replay-skip / publish loop.
  */
object Jobs {

  private val streamId = new AtomicInteger(0)

  /** The one AvailableNow launch: start the configured writer, drain
    * every input available at start, and block until the query stops
    * (rethrowing the query's failure, if any).
    */
  private def runAvailableNow(writer: DataStreamWriter[_]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Shared verify-path mechanics: run `df` as one AvailableNow pass
    * into a uniquely-named memory sink and return the collected table.
    * The memory sink is the VERIFY surface only — production jobs use
    * the parquet / foreachBatch runners with checkpoints.
    */
  private[stream] def runToMemorySink(
      spark: SparkSession, df: Dataset[_], namePrefix: String): DataFrame = {
    val name = s"${namePrefix}_${streamId.incrementAndGet()}"
    runAvailableNow(df.writeStream.format("memory").queryName(name).outputMode("append"))
    spark.table(name)
  }

  /** Exactly-once publish of versioned state — the one loop every
    * snapshot / merge-state stream runs. The file source under
    * `inputDir` is drained `filesPerTrigger` files per micro-batch, and
    * `publish(prevV, batch, batchId)` writes version `batchId` (merging
    * from `prevV`, -1 when nothing is published yet).
    * `<versionRoot>/v=<batchId>` is the version pointer and the replay
    * marker, so the publish writes it after every other write the
    * version depends on.
    *
    *  - resume: the pointer starts at the highest `v=<id>` under
    *    `versionRoot`, so a resumed checkpoint (the file source skips
    *    applied batches) merges into the last published version, never
    *    back into an initial base;
    *  - replay skip: a batch re-delivered after its version was
    *    published (a crash between the publish and the checkpoint
    *    commit, or a lost checkpoint) has `prevV >= batchId` and
    *    publishes nothing — re-merging would double-count, and would
    *    rewrite a version a reader may already hold;
    *  - the pointer moves only after `publish` returns, so a batch that
    *    fails mid-publish re-runs from the same base.
    *
    * Returns the last published version. A run that finds no input and
    * no published version fails loudly.
    */
  private def runVersionedPublish(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      checkpoint: String,
      versionRoot: String,
      filesPerTrigger: Int = 1)(publish: (Long, DataFrame, Long) => Unit): Long = {
    var lastV = Writers.listPartitionIds(spark, versionRoot, "v").lastOption.getOrElse(-1L)
    runAvailableNow(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (lastV < batchId) {
          publish(lastV, batch, batchId)
          lastV = batchId
        }
      }
      .option("checkpointLocation", checkpoint))
    require(lastV >= 0,
      s"no input files found under $inputDir and no published version under $versionRoot")
    lastV
  }

  /** Run `f` with the session conf `key` set to `value` (None: leave it
    * alone), restoring the prior value afterwards.
    */
  private[stream] def withConf[T](
      spark: SparkSession, key: String, value: Option[String])(f: => T): T =
    value match {
      case None => f
      case Some(v) =>
        val old = spark.conf.getOption(key)
        spark.conf.set(key, v)
        try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily set —
    * the state-store sizing knob for stateful streams: the partition
    * count is recorded in the checkpoint at the FIRST micro-batch and
    * cannot change afterwards, so streaming jobs size it to expected
    * key cardinality up front (a fleet-scale job wants many state
    * partitions; a bounded replay wants few — per-partition state
    * commits are pure overhead beyond the key count).
    */
  private[stream] def withShufflePartitions[T](
      spark: SparkSession, n: Option[Int])(f: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.map(_.toString))(f)

  /** Validation rules for the `events` testdata stream, same shape as
    * the crypto consumer's (ref: streaming/consumer.py:47-57).
    */
  def eventRules: Seq[ValidationRule] = Seq(
    ValidationRule("Invalid or zero value", col("value").isNull || col("value") <= 0),
    ValidationRule("Value below threshold", col("value").isNotNull && col("value") > 0 && col("value") < 0.05),
    ValidationRule("Error event", col("event_type") === "error"))

  /** Alert analogue of the +10% surge rule (ref: streaming/consumer.py:86). */
  def eventAlert: Column = col("value") > 450.0

  /** O-59/O-61: run the stateless validate-and-route pipeline as a real
    * Structured Streaming query over the events parquet, one
    * AvailableNow pass into a memory sink, and return the collected
    * result. Stateless transforms ⇒ streaming result ≡ batch result,
    * which is exactly what the driver's batch oracle checks.
    */
  def runValidationStream(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.Tables.eventsStream(spark, dir)
    val annotated = Validate.annotate(stream, eventRules)
      .withColumn("is_alert", eventAlert)
    runToMemorySink(spark, annotated, "graft_stream_validate")
  }

  /** Shared windowed-aggregation logic (15-min-style tumbling windows →
    * here 1h over the events table): identical code path for batch and
    * streaming, per the Lambda-architecture unification goal.
    * `slide` < window duration gives overlapping sliding windows
    * (SURVEY §2.10's "15-minute windows every 5 minutes"); None =
    * tumbling.
    */
  def windowedAgg(
      df: DataFrame,
      windowDuration: String = "1 hour",
      slide: Option[String] = None): DataFrame =
    df.groupBy(
      slide.fold(window(col("ts"), windowDuration))(
        s => window(col("ts"), windowDuration, s)).as("w"),
      col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // no avg column: a float average is summation-order-dependent
        // in its last bits and its rounding diverges across engines on
        // ~1/1000 groups; sum+count carry the same information exactly
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Output schema of [[runWindowedStream]]. */
  val windowedSchema: StructType =
    StructType(Seq(
      org.apache.spark.sql.types.StructField("window_start",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_value",
        org.apache.spark.sql.types.DoubleType)))

  /** Watermarked streaming variant of [[windowedAgg]] (O-66 note):
    * late data beyond `lateness` is dropped once the watermark passes.
    * Used by streaming tests with multi-batch file sources; not oracle
    * checked (watermark emission depends on batch boundaries).
    *
    * In append mode a window only emits once the watermark passes its
    * end — i.e. on a LATER batch. Callers re-run with the same
    * `checkpoint`+`outPath` after appending newer input files; each run
    * appends the windows the new data closed (parquet sink — the memory
    * sink cannot recover from a checkpoint).
    */
  def runWindowedStream(
      spark: SparkSession,
      inputDir: String,
      checkpoint: String,
      outPath: String,
      lateness: String = "10 minutes",
      windowDuration: String = "1 hour",
      slide: Option[String] = None,
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
      val schema = graft.schema.Schemas.events
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(inputDir)
      val agg = windowedAgg(stream.withWatermark("ts", lateness),
        windowDuration, slide)
      runAvailableNow(agg.writeStream
        .format("parquet")
        .option("path", outPath)
        .outputMode("append")
        .option("checkpointLocation", checkpoint))
      spark.read.schema(windowedSchema).parquet(outPath)
    }

  /** Streaming exact dedup with `dropDuplicatesWithinWatermark` — the
    * production streaming-dedup operator: keeps first-seen per key with
    * per-key state that the watermark EXPIRES (event time + `lateness`),
    * so state is bounded by the lateness horizon instead of growing
    * forever like plain `dropDuplicates` on a stream. Exercised over a
    * multi-file source (`maxFilesPerTrigger = 1`) so duplicate copies
    * arriving in LATER micro-batches hit cross-batch state, not
    * batch-local dedup.
    *
    * With `lateness` covering the input's full event-time span, no
    * record is late and no state expires mid-run, so the result is
    * exactly batch `dropDuplicates(keyCols)` — the deterministic
    * contract the oracle checks. Shorter lateness trades that equality
    * for bounded state: duplicates farther apart than the horizon pass
    * through (the documented at-least-once residue every large-scale
    * dedup accepts).
    */
  def runDedupStream(
      spark: SparkSession,
      inputDir: String,
      lateness: String,
      keyCols: Seq[String] = Seq("event_id"),
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
      val schema = graft.schema.Schemas.events
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(inputDir)
      val deduped = stream.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(keyCols)
      runToMemorySink(spark, deduped, "graft_stream_dedup")
    }

  /** Stream-stream interval join: clicks joined to the SAME user's
    * purchases landing in `(click_ts, click_ts + maxGap]` — the
    * canonical attribution join, run as a real two-source streaming
    * query. Both sides carry watermarks and the join condition bounds
    * event time in BOTH directions, so Spark derives state watermarks
    * and evicts buffered rows once no future match is possible — the
    * property that keeps join state bounded on an unbounded stream.
    *
    * With `lateness` covering the whole replayed span, nothing evicts
    * mid-run and the append-mode result is exactly the batch interval
    * join — the oracle contract. Production uses the same code with a
    * short lateness and bounded state.
    */
  def runIntervalJoinStream(
      spark: SparkSession,
      inputDir: String,
      lateness: String,
      maxGap: String,
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
      val schema = graft.schema.Schemas.events
      def side(etype: String, idAs: String, userAs: String, tsAs: String) =
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(inputDir)
          .filter(col("event_type") === etype)
          .select(col("event_id").as(idAs), col("user_id").as(userAs),
            col("ts").as(tsAs))
          .withWatermark(tsAs, lateness)
      val clicks = side("click", "click_id", "user_id", "click_ts")
      val purchases = side("purchase", "purchase_id", "p_user", "purchase_ts")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") > col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"interval $maxGap"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"))
      runToMemorySink(spark, joined, "graft_stream_ssjoin")
    }

  /** Watermarked streaming SESSION windows: gap-merged per-key
    * sessions that may grow across micro-batches (the state store
    * merges partial sessions when later events extend them) and emit
    * in append mode only once the watermark passes the session end —
    * the semantics q35 exercises in batch, run as a real stream.
    */
  def runSessionStream(
      spark: SparkSession,
      inputDir: String,
      gap: String,
      lateness: String,
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
      val schema = graft.schema.Schemas.events
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(inputDir)
      val agg = stream.withWatermark("ts", lateness)
        .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("sw.start").as("session_start"), col("sw.end").as("session_end"),
          col("user_id"), col("n_events"), col("sum_value"))
      runToMemorySink(spark, agg, "graft_stream_session")
    }

  /** Stream-static enrichment join: the event stream joined against a
    * STATIC dimension frame (broadcast — the dim never shuffles the
    * stream side, and Spark re-plans the static side per micro-batch,
    * so slowly-refreshed dims pick up new snapshots between batches).
    * Stateless ⇒ the streaming result equals the batch join, which is
    * what the oracle checks.
    */
  def runEnrichStream(
      spark: SparkSession,
      dir: String,
      dim: DataFrame,
      joinCols: Seq[String]): DataFrame = {
    val stream = graft.Tables.eventsStream(spark, dir)
    val enriched = stream.join(broadcast(dim), joinCols)
    runToMemorySink(spark, enriched, "graft_stream_enrich")
  }

  /** O-56 as a stream: key-value upsert sink — each micro-batch keeps
    * its latest record per key (event-time max), then merges into the
    * keyed table with last-write-wins (DynamoDB `put_item` semantics,
    * ref: streaming/consumer.py:72-83).
    */
  def runKvUpsertStream(
      spark: SparkSession,
      inputDir: String,
      tablePath: String,
      checkpoint: String,
      keyCol: String = "user_id"): Unit = {
    val schema = graft.schema.Schemas.events
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    runAvailableNow(stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = graft.etl.Transform.dedupLatestAgg(
          batch, Seq(keyCol), Seq(col("ts"), col("event_id")))
        Writers.kvUpsert(spark, latest, Seq(keyCol), tablePath)
      }
      .option("checkpointLocation", checkpoint))
  }

  /** INCREMENTAL CDC apply as a stream: each micro-batch of change
    * records merges into a versioned snapshot via
    * [[graft.etl.Transform.applyChangelog]] — MERGE INTO semantics
    * (I/U replace, D removes, highest sequence wins) applied
    * continuously, the streaming form of q79's batch apply. Every
    * batch writes a NEW `v=<batchId>` snapshot directory (never
    * read-and-overwrite the same files within a batch — that is a
    * correctness hazard on any filesystem), so the previous version
    * stays readable throughout and a crash mid-write never corrupts
    * the published snapshot. Returns the final version id; the caller
    * reads `snapshotPath/v=<returned>`.
    *
    * Correctness contract: cross-batch ordering must be non-decreasing
    * in `seqCol` per key (the order a CDC log delivers). Within a
    * batch any order is fine (max-seq wins); ACROSS batches an
    * out-of-order old change would overwrite a newer snapshot row,
    * because the snapshot retains payload only — a pipeline that can
    * receive late sequences keeps `seqCol` (and delete tombstones) in
    * the snapshot instead. In production the version pointer lives in
    * table metadata beside the checkpoint; here it re-derives from the
    * snapshot directory itself ([[runVersionedPublish]]): a RESUMED
    * checkpoint continues from the last published snapshot instead of
    * silently re-merging into `base`, a replayed batch whose version is
    * already published rewrites nothing, and a run whose checkpoint
    * already covers every change file returns the recovered version.
    */
  def runChangelogStream(
      spark: SparkSession,
      base: DataFrame,
      changesDir: String,
      changesSchema: StructType,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String,
      snapshotPath: String,
      checkpoint: String): Long =
    runVersionedPublish(spark, changesDir, changesSchema, checkpoint, snapshotPath) {
      (prevV, batch, batchId) =>
        val prev =
          if (prevV < 0) base
          else spark.read.parquet(s"$snapshotPath/v=$prevV")
        graft.etl.Transform.applyChangelog(prev, batch, keyCols, seqCol, opCol)
          .write.mode("overwrite").parquet(s"$snapshotPath/v=$batchId")
    }

  /** Storage geometry of [[runNearDupDedupStream]]'s persisted band
    * index: bucket ids are uniformly mixed 64-bit longs, so their top
    * 8 bits give a uniform 256-way partition prefix — (band, pb) has
    * ≤ 16·256 = 4096 combos, which is what bounds the per-trigger
    * touched-bucket driver hop.
    */
  private[stream] val NearDupBandPrefixVals = 256

  /** The partition-prefix of a 64-bit bucket id: its top 8 bits (0..255). */
  private[stream] def nearDupBucketPrefix(bucket: Column): Column =
    shiftrightunsigned(bucket, 56).cast("int")

  /** Pruned scan of a stored near-dup bands table: only `v <
    * beforeV` versions (replay safety — a re-run batch must not see
    * its own orphaned rows; `v` is a directory partition, pruned at
    * listing) and only the `band·256 + prefix` combos in `touchedBp`
    * — `bp` is a SORTED DATA column, so the single-column `In`
    * filter pushes to the parquet scan and prunes at ROW-GROUP
    * grain via min/max stats. Deliberately NOT a
    * `partitionBy(band, pb)` hive layout: 16·256 = 4096 directories
    * per batch turned the per-trigger listing + tiny-file writes
    * into the dominant cost (a measured 21× q139 regression);
    * sorted row groups give the same O(touched) read without any
    * directory explosion. Factored out so StreamSpec can pin the
    * pushed filter in the physical plan.
    */
  private[stream] def nearDupStoredBandScan(
      spark: SparkSession, bandsRoot: String,
      touchedBp: Seq[Int], beforeV: Long): DataFrame =
    spark.read.parquet(bandsRoot)
      .filter(col("v") < beforeV && col("bp").isin(touchedBp: _*))
      .select(col("band"), col("bucket"), col("corpus_id"))

  /** Id-hash prefix (0..255) of a stored doc row — the docs-side
    * analogue of [[nearDupBucketPrefix]]. Computed identically at
    * write (sorted data column) and read (pushed `In` filter), so
    * the verify join's doc scan prunes to the row groups holding the
    * batch's CANDIDATES instead of every doc ever admitted.
    */
  private[stream] def nearDupDocPrefix(id: Column): Column =
    pmod(xxhash64(id), lit(256)).cast("int")

  /** Pruned scan of the stored near-dup DOC table (the verify side):
    * same two-tier pruning as [[nearDupStoredBandScan]] — `v <
    * beforeV` at directory listing, the candidate id-prefix set as a
    * pushed single-column `In` on the SORTED `ip` data column at
    * row-group grain. `touchedIp` is bounded at 256 values by
    * construction (it's a byte-wide hash prefix), independent of
    * corpus or batch size.
    */
  private[stream] def nearDupStoredDocScan(
      spark: SparkSession, docsRoot: String,
      touchedIp: Seq[Int], beforeV: Long): DataFrame =
    spark.read.parquet(docsRoot)
      .filter(col("v") < beforeV && col("ip").isin(touchedIp: _*))
      .select(col("id"), col("sh"))

  /** Maintenance compaction for [[runNearDupDedupStream]]'s persisted
    * fingerprint index — the [[graft.ext.AnnIndex.compact]] discipline
    * applied to the near-dup store: every trigger appends an
    * `index/docs/v=<batchId>` and `index/bands/v=<batchId>` generation
    * forever, so at a production stream's 10⁵ triggers file listing
    * and parquet footer reads dominate the per-trigger scan (the same
    * failure shape as the measured 21× `partitionBy(band,pb)`
    * directory-explosion regression). This pass folds every PUBLISHED
    * generation (`v <=` the highest `kept/v=<id>`) into ONE
    * range-partitioned generation re-sorted on the pruning column
    * (`bp` / `ip` — row-group min/max stats stay tight), staged then
    * atomically swapped so a reader sees the old or the new table,
    * never a half-written one.
    *
    * Replay contract preserved: the folded generation keeps
    * `v = published`, and every future batch has `batchId >
    * published` (checkpointed batch ids are monotonic), so the
    * `v < batchId` read guard still admits it; ORPHANED generations
    * (`v > published` — a batch that crashed between its index and
    * marker writes) are carried across the swap untouched, so the
    * crash-replay guarantee ("a re-run batch never sees its own
    * orphaned rows") survives compaction. Must not run concurrently
    * with the stream itself (call between runs, or via
    * `compactEvery` which runs it inside the serialized foreachBatch).
    */
  def compactNearDupIndex(spark: SparkSession, workDir: String): Unit = {
    val published = Writers.listPartitionIds(spark, s"$workDir/kept", "v")
      .lastOption.getOrElse(-1L)
    if (published >= 0) {
      compactVersionedTable(spark, s"$workDir/index/docs", "ip", published)
      compactVersionedTable(spark, s"$workDir/index/bands", "bp", published)
    }
  }

  private def compactVersionedTable(
      spark: SparkSession, root: String, sortCol: String, published: Long): Unit = {
    Writers.recoverStagedSwap(spark, root)
    val gens = Writers.listPartitionIds(spark, root, "v")
    if (gens.count(_ <= published) <= 1) return // already one generation
    // orphaned (unpublished) generations ride across the swap untouched
    Writers.foldPartitionedStore(spark, root, "v",
      published, gens.filter(_ > published).toSeq, sortCol = Some(sortCol))
  }

  /** STREAMING corpus curation — the batch capstone's gate →
    * decontaminate → dedup front half as ONE incremental stream, so a
    * corpus can be curated as it lands instead of in a nightly batch:
    *
    *  - quality gate: the codegen'd [[graft.ext.Text.qualityLogit]]
    *    filter, stateless;
    *  - decontamination: EXACT and stateless — the benchmark's
    *    distinct shingle hashes ride the plan as one literal array
    *    (bounded by benchmark size, the same driver-hop class as the
    *    q93 bloom bytes) and `arrays_overlap` flags any doc sharing an
    *    n-gram. Self-flagging is intended here: a benchmark document
    *    ARRIVING IN THE CORPUS is contamination when curating
    *    training data. At benchmark sizes too big for a literal, the
    *    bloom gate (q93) pre-filters and only flagged docs pay an
    *    exact stream-static join — q100b's two-stage, which composes
    *    unchanged because both steps are per-row maps;
    *  - dedup: exact content dedup via fingerprint-keyed
    *    `dropDuplicatesWithinWatermark` — watermark-bounded state,
    *    cross-micro-batch (the q55 contract). Which copy of a
    *    duplicate survives is arrival-order-dependent; downstream
    *    aggregates must be content-derived (winner-independent) to be
    *    engine-checkable, which is exactly what q108 emits.
    */
  def runCurateStream(
      spark: SparkSession,
      inputDir: String,
      weights: Seq[Double],
      benchShingleHashes: Seq[Long],
      shingleSize: Int,
      lateness: String,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
      val schema = StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType, nullable = false)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inputDir)
      val curated = stream
        .filter(graft.ext.Text.qualityLogit(col("text"), weights) >= 0)
        .filter(!arrays_overlap(
          graft.ext.VectorKernels.textShingleHashes(col("text"), shingleSize),
          typedlit(benchShingleHashes)))
        .withColumn("fingerprint", graft.ext.Text.fingerprint(col("text")))
        .withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(Seq("fingerprint"))
      runToMemorySink(spark, curated, "graft_stream_curate")
    }

  /** INCREMENTAL PLAN RECOMPUTE — the streaming twin of the
    * corpus-global TrainPrep plans (epoch materialization, token
    * sharding): a mixture/shard plan is a property of the WHOLE corpus
    * (every document's repeat count and shard offset can shift when
    * new documents land), so the correct incremental form is not
    * per-row state but snapshot maintenance: each micro-batch appends
    * to a versioned corpus snapshot and re-derives the full plan from
    * it, publishing plan v=batchId. Because every plan operator is
    * deterministic in corpus CONTENT (md5 orders, no RNG, no
    * arrival-order dependence), the final published plan is
    * bit-identical to the batch computation over the same corpus —
    * which is exactly what q104b/q105b hash-check against the batch
    * oracles.
    *
    * 100 TB posture: recompute cost is O(corpus) per trigger — at
    * scale the trigger cadence is the dial (recompute at epoch/shard-
    * publish boundaries, not per-arrival; the snapshot append itself
    * stays O(batch)). The versioned corpus/plan layout runs
    * [[runVersionedPublish]]: a resumed checkpoint continues from the
    * highest published plan version, and a batch re-delivered after its
    * plan was published skips — re-appending would read
    * `corpus/v=batchId` as its own prev (an overwrite-while-reading
    * error) and duplicate the batch's rows.
    *
    * `filesPerTrigger` sets the micro-batch granularity. The
    * published plan at each version is a pure function of the corpus
    * accumulated so far, and consumers read only the LAST published
    * version — so results are identical at ANY granularity and
    * bench-facing callers coarsen it to cut per-trigger recompute
    * (the snapshot recompute is the whole per-trigger cost). Replay
    * safety is granularity-independent (batch ids and published
    * versions move together); StreamSpec pins the fine-grained form.
    */
  def runPlanRecomputeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String,
      planOf: DataFrame => DataFrame,
      filesPerTrigger: Int = 1): DataFrame = {
    require(filesPerTrigger >= 1, "filesPerTrigger must be >= 1")
    val v = runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt",
        s"$workDir/plan", filesPerTrigger) { (prevV, batch, batchId) =>
      val prev =
        if (prevV < 0) batch.limit(0)
        else spark.read.parquet(s"$workDir/corpus/v=$prevV")
      prev.unionByName(batch)
        .write.mode("overwrite").parquet(s"$workDir/corpus/v=$batchId")
      planOf(spark.read.parquet(s"$workDir/corpus/v=$batchId"))
        .write.mode("overwrite").parquet(s"$workDir/plan/v=$batchId")
    }
    spark.read.parquet(s"$workDir/plan/v=$v")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the streaming form of
    * [[graft.etl.Transform.mergeAggStates]]: each micro-batch computes
    * its own partial aggregate state (keyed counts/sums) and merges it
    * with the previous published state, publishing state v=batchId.
    * Work per trigger is O(batch + |state|) — DELTA-sized, never
    * O(corpus): the genuinely incremental contrast to
    * [[runPlanRecomputeStream]]'s snapshot recompute, available
    * exactly because algebraic measures form commutative monoids
    * (corpus-global plans don't). Versioned publish + the
    * published-version ≥ batchId replay skip give crash-safe
    * exactly-once, the established idempotence pattern.
    */
  def runAggMergeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String,
      stateOf: DataFrame => DataFrame,
      keyCols: Seq[String],
      measureCols: Seq[String]): DataFrame = {
    val v = runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt",
        s"$workDir/state") { (prevV, batch, batchId) =>
      val bState = stateOf(batch)
      val merged =
        if (prevV < 0) bState
        else graft.etl.Transform.mergeAggStates(
          Seq(spark.read.parquet(s"$workDir/state/v=$prevV"), bState),
          keyCols, measureCols)
      merged.write.mode("overwrite").parquet(s"$workDir/state/v=$batchId")
    }
    spark.read.parquet(s"$workDir/state/v=$v")
  }

  /** STREAMING inverted-index maintenance — the retrieval analogue of
    * [[runAggMergeStream]]: [[graft.ext.Text.bm25Index]]'s three
    * pieces kept fresh incrementally. Each micro-batch tokenizes ONLY
    * its own documents, appends per-batch postings and doc-length
    * partitions (`batch_id=<id>` overwrite — a replayed batch
    * overwrites itself, [[graft.sinks.Writers.idempotentBatchWrite]]'s
    * exactly-once contract), and merges the 1-row (n, sdl) stats
    * state (commutative-monoid sum, versioned publish `v=batchId`
    * with the published-version ≥ batchId replay skip). Work per
    * trigger is O(batch): document text is tokenized once, EVER — the
    * genuinely incremental contrast to snapshot-recompute streams —
    * and that is sound because per-doc postings/dl are independent
    * rows and stats is a monoid, so the union of batch partitions
    * equals a batch-built index over the same corpus exactly (q204
    * serves q136's oracle from it). Returns (postings, dl, stats)
    * read back from the published files.
    */
  def runBm25IndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String): (DataFrame, DataFrame, DataFrame) = {
    val v = runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt",
        s"$workDir/stats") { (prevV, batch, batchId) =>
      val (postings, dl, stats) =
        graft.ext.Text.bm25Index(batch, "doc_id", "text")
      Writers.idempotentBatchWrite(postings, batchId, s"$workDir/postings")
      Writers.idempotentBatchWrite(dl, batchId, s"$workDir/dl")
      val merged =
        if (prevV < 0) stats
        else graft.etl.Transform.mergeAggStates(
          Seq(spark.read.parquet(s"$workDir/stats/v=$prevV"), stats),
          Nil, Seq("n", "sdl"))
      merged.write.mode("overwrite").parquet(s"$workDir/stats/v=$batchId")
    }
    (spark.read.parquet(s"$workDir/postings"),
      spark.read.parquet(s"$workDir/dl"),
      spark.read.parquet(s"$workDir/stats/v=$v"))
  }

  /** STREAMING sketch maintenance — mergeable per-key quantile state
    * kept fresh forever: each micro-batch builds ITS OWN KLL sketch
    * per key (O(batch) — raw values are seen exactly once, ever),
    * then merges it with the published per-key sketch state via
    * [[graft.ext.KllAgg.kllMergeAgg]] (KLL merge runs the same
    * compaction the build does, so state stays O(k·log(n/k)) per key
    * no matter how much history streams past), publishing
    * `v=batchId` with the published-version ≥ batchId replay skip.
    * The quantile analogue of [[runAggMergeStream]]'s algebraic
    * counters — per trigger O(batch + |state|), never O(corpus),
    * because the sketch IS the corpus summary. Exact `n_rows` rides
    * the same state as a plain sum, so consumers can rank-verify the
    * sketch against raw data (q207's contract).
    */
  def runKllMergeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String,
      keyCol: String,
      valueCol: String,
      k: Int,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
    val v = runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt",
        s"$workDir/state") { (prevV, batch, batchId) =>
      val bSk = batch.filter(col(valueCol).isNotNull)
        .groupBy(col(keyCol))
        .agg(graft.ext.KllAgg.kllAgg(col(valueCol), k).as("sk"),
          count(lit(1)).as("n_rows"))
      val merged =
        if (prevV < 0) bSk
        else spark.read.parquet(s"$workDir/state/v=$prevV")
          .unionByName(bSk)
          .groupBy(col(keyCol))
          .agg(graft.ext.KllAgg.kllMergeAgg(col("sk"), k).as("sk"),
            sum(col("n_rows")).as("n_rows"))
      merged.write.mode("overwrite").parquet(s"$workDir/state/v=$batchId")
    }
    spark.read.parquet(s"$workDir/state/v=$v")
  }

  /** STREAMING KMV sketch maintenance — the bottom-k analogue of
    * [[runKllMergeStream]], with a STRONGER guarantee: "k smallest of
    * the union" is an exact, order-free merge, so the streamed
    * per-group signature is BIT-EQUAL to a batch
    * [[graft.ext.Dedup.kmvSketch]] over the same corpus, whatever
    * the batch boundaries (q215 shares q208's oracle verbatim on the
    * served overlap). Each micro-batch sketches only its own rows
    * (distinct-hash + per-group top-k — O(batch)), then merges into
    * the published state with one array HOF per group
    * (sort ∘ union ∘ slice k): O(groups · k) per trigger. Versioned
    * publish `v=batchId` with the replay skip.
    */
  def runKmvMergeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String,
      groupCol: String,
      textCol: String,
      shingleSize: Int,
      k: Int,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
    val v = runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt",
        s"$workDir/state") { (prevV, batch, batchId) =>
      val bSk = graft.ext.Dedup.kmvSketch(
        batch, groupCol, textCol, shingleSize, k)
      val merged =
        if (prevV < 0) bSk
        else spark.read.parquet(s"$workDir/state/v=$prevV")
          .unionByName(bSk)
          .groupBy(col("grp"))
          .agg(slice(
            // distinct BEFORE the k-cut: the same shingle hash
            // arrives from every batch that contains it, and a
            // duplicated small hash would evict a real k-th value
            array_sort(array_distinct(flatten(collect_list(col("sig"))))),
            1, k).as("sig"))
      merged.write.mode("overwrite").parquet(s"$workDir/state/v=$batchId")
    }
    spark.read.parquet(s"$workDir/state/v=$v")
  }

  /** STREAMING CDC chunk store — [[graft.ext.Dedup.cdcChunks]] kept
    * fresh incrementally: chunking is per-doc (O(batch) map work —
    * text is chunked once, ever; chunks append under idempotent
    * `batch_id=` partitions) and the chunk-store dedup state (docs
    * per chunk text) is ALGEBRAICALLY mergeable because a document
    * never spans micro-batches, so per-batch distinct-doc counts sum
    * exactly — the [[runAggMergeStream]] monoid argument applied to
    * the chunk key. Versioned state publish + replay skip. Returns
    * (chunks-so-far, merged doc-frequency state).
    */
  def runCdcChunkStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String,
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): (DataFrame, DataFrame) =
    withShufflePartitions(spark, stateShufflePartitions) {
    val v = runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt",
        s"$workDir/state", filesPerTrigger) { (prevV, batch, batchId) =>
      val chunks = graft.ext.Dedup.cdcChunks(batch, "doc_id", "text")
      Writers.idempotentBatchWrite(chunks, batchId, s"$workDir/chunks")
      val bState = chunks.groupBy(col("chunk_text"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      val merged =
        if (prevV < 0) bState
        else graft.etl.Transform.mergeAggStates(
          Seq(spark.read.parquet(s"$workDir/state/v=$prevV"), bState),
          Seq("chunk_text"), Seq("n_docs_with"))
      merged.write.mode("overwrite").parquet(s"$workDir/state/v=$batchId")
    }
    (spark.read.parquet(s"$workDir/chunks").drop("batch_id"),
      spark.read.parquet(s"$workDir/state/v=$v"))
  }

  /** Streaming ingest into a persisted IVF-PQ index — FAISS `add` as
    * a stream: new vectors arrive in micro-batches; each batch is
    * assigned its coarse cell with FROZEN centroids
    * ([[graft.ext.Similarity.assignCells]] — the same arithmetic and
    * tie-break the batch build uses) and PQ-encoded with FROZEN
    * codebooks, both map-only passes, then appended to the
    * label-partitioned code table as
    * `codes/batch=<id>/label=<cell>/…` via per-batch dynamic
    * partition overwrite — a replayed micro-batch overwrites itself,
    * so the sink is exactly-once under retries
    * ([[graft.sinks.Writers.idempotentBatchWrite]]'s contract).
    * Because assignment and encoding are deterministic per row, the
    * streamed index is BIT-EQUAL to a batch build with the same
    * frozen quantizers, whatever the arrival order (q113's contract).
    *
    * 100 TB posture: no state store, no shuffle — every micro-batch
    * is a map pass plus a partitioned file append; search-side
    * partition pruning (label is still a partition column under the
    * batch level) is unchanged.
    */
  def runIndexIngestStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      centroids: IndexedSeq[Seq[Float]],
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]],
      indexDir: String,
      scorer: (Column, Column) => Column = graft.ext.Similarity.cosine,
      filesPerTrigger: Int = 1,
      stateShufflePartitions: Option[Int] = None): Unit =
    withShufflePartitions(spark, stateShufflePartitions) {
    require(filesPerTrigger >= 1, "filesPerTrigger must be >= 1")
    // codes already on disk were produced by SOME quantizer pair; a
    // resumed/new ingest with different centroids or codebooks would
    // silently mix incompatible codes into one table — refuse loudly
    // instead. (O(k·dim + m·k) read, nothing corpus-sized.) Existence
    // goes through the Hadoop FileSystem API so the guard holds on
    // object stores too, not just the local FS.
    val cbPath = new org.apache.hadoop.fs.Path(s"$indexDir/codebooks")
    val cbFs = cbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (cbFs.exists(cbPath)) {
      val prior = graft.ext.AnnIndex.readQuantizers(spark, indexDir)
      require(prior._2 == codebooks,
        s"ingest codebooks differ from the index's at $indexDir/codebooks — " +
          "a mixed-quantizer code table is unsearchable; use a fresh indexDir")
      require(prior._1 == centroids,
        s"ingest centroids differ from the index's at $indexDir/centroids")
    }
    graft.ext.AnnIndex.writeQuantizers(spark, centroids, codebooks, indexDir)
    // per-row deterministic map-only encode ⇒ the built index is
    // BIT-EQUAL at any micro-batch granularity (the q113 contract);
    // bench-facing callers coarsen filesPerTrigger to cut per-trigger
    // startup, StreamSpec pins the fine-grained replay form
    runAvailableNow(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val assigned = graft.ext.Similarity.assignCells(
          batch, idCol, vecCol, centroids, scorer)
        graft.ext.Features.pqEncode(assigned, idCol, vecCol, codebooks,
          carryCols = Seq("label"))
          .withColumnRenamed(idCol, "vec_id")
          .select(col("vec_id"), col("codes"), col("label"))
          .write.mode("overwrite").partitionBy("label")
          .parquet(s"$indexDir/codes/batch=$batchId")
      }
      .option("checkpointLocation", s"$indexDir/ckpt"))
  }

  /** Streaming ANN query serving — the SEARCH half of the index
    * lifecycle ([[runIndexIngestStream]] is the ADD half): queries
    * arrive as micro-batches and each batch runs IVF-ADC search
    * against a FROZEN on-disk index, landing results under
    * `outDir/results/batch_id=<id>/` through
    * [[graft.sinks.Writers.idempotentBatchWrite]] (a replayed batch
    * rewrites its own partition — exactly-once results under
    * crash/replay). The index loads ONCE before the stream starts
    * (quantizers are O(k·dim + m·k) driver-side literals; the code
    * table stays a lazy scan), so per-batch work is just the
    * probe-pruned search itself — the query-serving shape of a
    * production vector store.
    */
  def runQueryServeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (query_id, query_vec)
      indexDir: String,
      outDir: String,
      k: Int,
      nprobe: Int,
      stateShufflePartitions: Option[Int] = None,
      filesPerTrigger: Int = 1): Unit =
    withShufflePartitions(spark, stateShufflePartitions) {
    val index = graft.ext.AnnIndex.read(spark, indexDir)
    runAvailableNow(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Writers.idempotentBatchWrite(graft.ext.AnnIndex.searchTopK(index, batch, k, nprobe),
          batchId, s"$outDir/results")
      }
      .option("checkpointLocation", s"$outDir/ckpt"))
  }

  /** Classifier SERVING as a stream: documents arrive in micro-batches
    * and each is scored by the FROZEN trained weights via
    * [[graft.ext.Classifier.scoreMapOnly]] — one codegen'd map
    * expression, no shuffle, no state (the q121 "serve a frozen
    * index" pattern applied to the quality gate). Deterministic
    * per-row scoring under frozen weights means arrival order and
    * batch boundaries cannot matter: the streamed rows must be
    * bit-identical to one batch scoring pass, so the stream shares
    * the batch oracle outright.
    */
  def runClassifierServeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (doc_id, lang, text)
      label: Column,
      wScaled: Array[Long]): DataFrame = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inputDir)
    val scored = graft.ext.Classifier.scoreMapOnly(
      stream, "doc_id", "text", label, wScaled)
    runToMemorySink(spark, scored, "graft_classifier_serve")
  }

  /** Incremental near-dup corpus dedup as a stream — the streaming
    * twin of the q88b batch composition: each micro-batch is checked
    * against the kept corpus's PERSISTED FINGERPRINT INDEX with the
    * directional high-recall band join
    * ([[graft.ext.Dedup.minhashCandidatesAgainstBandRows]], then
    * [[graft.ext.Dedup.minhashVerifyCandidates]] —
    * O(batch × bands) map work + a bucket join, never corpus²), then
    * deduped within itself (LSH pairs → clusters → min-id canonical),
    * and the survivors land APPEND-ONLY under their own v=<batchId>
    * partition (idempotent per-batch overwrite — the published
    * partition is the replay marker, and the write stays O(new
    * survivors), never an O(corpus) snapshot rewrite).
    *
    * The kept side is INCREMENTAL in cost, not just in storage: each
    * batch appends its survivors' `(id, sh, sig)` index rows
    * ([[graft.ext.Dedup.minhashIndexRows]] — derived from the
    * batch's already-persisted fingerprint frame by a semi-join, so
    * survivor text is fingerprinted exactly once, ever) under
    * `index/docs/v=<batchId>`, AND their exploded LSH posting rows
    * ([[graft.ext.Dedup.minhashBandRows]]) under
    * `index/bands/v=<batchId>/`, sorted by a `bp = band·256 +
    * bucket-prefix` data column. The next trigger's band join
    * reads the BANDS table pruned to its own buckets: the batch's
    * distinct `bp` values are a bounded driver hop (≤ bands·256 =
    * 4096 rows by construction, independent of data), pushed as a
    * parquet `In` filter that prunes at row-group grain via the
    * sort's min/max stats — so the per-trigger stored-side scan is
    * O(touched buckets), not O(every fingerprint ever admitted),
    * with no hive-partition directory explosion (the
    * `partitionBy(band, pb)` form was a measured 21× regression —
    * 4096 directories per batch dominate on listing and tiny-file
    * writes). The doc shingle sets are only joined for verified
    * candidates. The kept corpus's text is never
    * re-tokenized/re-shingled/re-minhashed after its admitting
    * batch.
    *
    * Replay safety: the kept/v= partition is the LAST write (the
    * replay marker), and the stored-index reads filter `v < batchId`
    * — so a crash between the index and marker writes re-runs the
    * whole batch WITHOUT matching the batch against its own orphaned
    * fingerprints (which would silently drop every doc in the
    * replayed batch as a "duplicate" of itself). With batches
    * arriving in id order, keep-first equals the batch
    * min-id-per-cluster rule on clique-shaped duplicate groups —
    * which planted near-dup twins are — so the final snapshot shares
    * q88b's exact-Jaccard oracle.
    */
  def runNearDupDedupStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (doc_id, lang, text)
      workDir: String,
      compactEvery: Int = 0,
      stateShufflePartitions: Option[Int] = None): DataFrame =
    withShufflePartitions(spark, stateShufflePartitions) {
    val keptRoot = s"$workDir/kept"
    val docsRoot = s"$workDir/index/docs"
    val bandsRoot = s"$workDir/index/bands"
    // complete any compaction swap a crash interrupted BEFORE the first
    // trigger checks haveIndex — otherwise the stored index looks
    // missing and cross-batch dups would be silently admitted
    Writers.recoverStagedSwap(spark, docsRoot)
    Writers.recoverStagedSwap(spark, bandsRoot)
    val bands = 16; val rowsPerBand = 2
    runVersionedPublish(spark, inputDir, schema, s"$workDir/ckpt", keptRoot) {
        (prevV, batch, batchId) =>
      // phase tags: every action this body drives carries a
      // neardup:<phase> job description, so a job-level profile
      // (graft.tools.JobProfile) attributes the per-trigger cost
      def phase[A](name: String)(f: => A): A = {
        spark.sparkContext.setJobDescription(s"neardup:$name")
        try f finally spark.sparkContext.setJobDescription(null)
      }
      // fingerprint the batch ONCE — feeds the band join, the
      // verify join, and (semi-joined to survivors) the published
      // index rows
      val batchIdx = graft.ext.Dedup.minhashIndexRows(
          batch, "doc_id", "text", shingleSize = 3, numHashes = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // resolve through the Hadoop FS API like listPartitionIds does —
      // a java.io.File check is local-FS-only and would silently skip
      // the stored index (admitting cross-batch dups) on HDFS/S3
      val bandsHPath = new org.apache.hadoop.fs.Path(bandsRoot)
      val haveIndex = prevV >= 0 &&
        bandsHPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(bandsHPath)
      // with no stored index yet the whole batch survives the
      // cross-batch pass: no band join, verify or anti-join to plan
      val (s0, s0Idx) = if (!haveIndex) (batch, batchIdx) else {
        // the batch's distinct bp = band·256 + bucket-prefix
        // values — a BOUNDED driver hop (≤ bands·256 = 4096 rows
        // by construction, independent of batch or corpus size) —
        // become a pushed parquet In filter on the stored bands
        // table, so the stored-side scan prunes to touched
        // row groups instead of every fingerprint ever admitted.
        // v < batchId keeps a crash-replayed batch from matching
        // its own orphaned fingerprints (marker written last).
        val touched = phase("touched-bp")(graft.ext.Dedup
          .minhashBandRows(batchIdx, bands, rowsPerBand)
          .select((col("band") * NearDupBandPrefixVals +
            nearDupBucketPrefix(col("bucket"))).cast("int").as("bp"))
          .distinct().collect().map(_.getInt(0)).toSeq)
        val stored = nearDupStoredBandScan(spark, bandsRoot, touched, batchId)
        // two-phase verify: materialize the (small) candidate set
        // first, then prune the stored DOC scan to the candidates'
        // id-prefix row groups — the verify side stops being the
        // remaining O(corpus)-per-trigger read. The prefix hop is
        // bounded at 256 rows by construction.
        val cand = graft.ext.Dedup.minhashCandidatesAgainstBandRows(
            stored, batchIdx, bands, rowsPerBand)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val touchedIp = phase("candidates")(cand
          .select(nearDupDocPrefix(col("corpus_id")).as("ip"))
          .distinct().collect().map(_.getInt(0)).toSeq)
        val docs = nearDupStoredDocScan(spark, docsRoot, touchedIp, batchId)
        val verified = phase("verify")(
          graft.ext.Dedup.minhashVerifyCandidates(
            cand, docs, batchIdx, threshold = 0.5)
            .localCheckpoint(eager = true)) // realize before cand unpersists
        cand.unpersist()
        val s0 = batch.join(
          verified.select(col("batch_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        // in-batch pairs ride the ALREADY-persisted batch fingerprints
        // (semi-joined down to the cross-batch survivors) instead of
        // re-tokenizing/re-shingling/re-minhashing the batch text —
        // the 32-hash/16-band scheme has strictly higher candidate
        // recall than the old standalone 16/8 pass and every pair is
        // exact-Jaccard verified, so the pair set is unchanged
        (s0, batchIdx.join(
          s0.select(col("doc_id").as("id")), Seq("id"), "left_semi"))
      }
      // min-id-per-cluster closure via the bounded driver
      // union-find (distributed dupClusters above the pair cap) —
      // verified pair sets are sparse, and the propagation loop's
      // checkpoint/probe cascade was the trigger's dominant
      // scheduler cost
      val dropIds = phase("in-batch-clusters")(
        graft.ext.Clusters.dupDropIds(
          graft.ext.Dedup.minhashNearDupPairsFromIndex(
            s0Idx, bands, rowsPerBand, threshold = 0.5),
          "id_a", "id_b"))
      // materialized once: three publishes consume survivors, and
      // without the checkpoint each re-executes the batch-side
      // anti-join plan (s0 + drop set) as its own multi-stage job
      val survivors = phase("survivors")(
        s0.join(dropIds, Seq("doc_id"), "left_anti")
          .localCheckpoint(eager = true))
      // publish the survivors' fingerprints FIRST (docs + band
      // posting rows — both derived from the persisted batchIdx by
      // a semi-join, so survivor text is fingerprinted exactly
      // once, ever). Order matters for crash-safe replay: the
      // kept/v= partition below is the replay-skip marker
      // (runVersionedPublish's version root), so the index partitions
      // must land before it — a crash between the writes re-runs
      // the whole batch (all writes are idempotent partition
      // overwrites) and the v < batchId read filter above keeps
      // the re-run from seeing its own orphaned rows
      val survivorIdx = batchIdx.join(
        survivors.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      phase("publish-docs")(survivorIdx
        .withColumn("ip", nearDupDocPrefix(col("id")))
        .sortWithinPartitions(col("ip"))
        .write.mode("overwrite").parquet(s"$docsRoot/v=$batchId"))
      phase("publish-bands")(
        graft.ext.Dedup.minhashBandRows(survivorIdx, bands, rowsPerBand)
          .withColumn("bp", (col("band") * NearDupBandPrefixVals +
            nearDupBucketPrefix(col("bucket"))).cast("int"))
          .sortWithinPartitions(col("bp"))
          .write.mode("overwrite").parquet(s"$bandsRoot/v=$batchId"))
      // APPEND-ONLY publish, marker LAST: each batch lands only its
      // own survivors under v=<batchId> (idempotent overwrite of
      // its own partition) — the per-batch write is O(new
      // survivors), never an O(corpus) snapshot rewrite; readers
      // union the partitions
      phase("publish-kept")(survivors
        .write.mode("overwrite").parquet(s"$keptRoot/v=$batchId"))
      batchIdx.unpersist()
      // periodic index maintenance INSIDE the serialized foreachBatch
      // (triggers never overlap), after the marker write so the
      // compacted generation only ever folds published versions —
      // results are identical with or without it (StreamSpec pin)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        phase("compact")(compactNearDupIndex(spark, workDir))
    }
    spark.read.parquet(keptRoot).drop("v")
  }

  /** STREAMING perceptual-fingerprint index ingest — the multimodal
    * analogue of [[runBm25IndexStream]]: each micro-batch of binary
    * image payloads is decoded ONCE ([[graft.ext.Multimodal
    * .bmpDHashes]] — the disclosed imperative codec tier) and its
    * (id, dims, 60-bit dHash) rows land under their own `batch_id=`
    * partition ([[graft.sinks.Writers.idempotentBatchWrite]] — a
    * replayed batch overwrites itself with bit-identical rows, since
    * decode is deterministic). The payload bytes are never read
    * again: every downstream near-dup question (q202's banded
    * Hamming census, retrieval, dedup verdicts) runs on the
    * relational index — at 100 TB the binary column is touched
    * exactly once per image, the property that makes multimodal
    * dedup affordable as data lands. Returns the full index read
    * back from the partitions.
    */
  def runDHashIndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (media_id, payload, mime)
      workDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    runMediaIndexStream(spark, inputDir, schema, workDir,
      b => graft.ext.Multimodal.bmpDHashes(b.sparkSession, b, partitions = 4).toDF(), filesPerTrigger)

  /** [[runDHashIndexStream]]'s shape for AUDIO: WAV payloads decode
    * once per micro-batch ([[graft.ext.Multimodal.wavEnergyHashes]])
    * and their 60-bit energy-gradient fingerprints land under
    * idempotent `batch_id=` partitions — audio bytes are touched
    * exactly once per clip, ever.
    */
  def runWavHashIndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (media_id, payload, mime)
      workDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    runMediaIndexStream(spark, inputDir, schema, workDir,
      b => graft.ext.Multimodal.wavEnergyHashes(b.sparkSession, b, partitions = 4).toDF(), filesPerTrigger)

  /** [[runWavHashIndexStream]] generalized over
    * [[graft.ext.Multimodal.decodeAudio]]'s magic-byte dispatch: a
    * MIXED WAV/FLAC payload stream (the from-scratch lossless-FLAC
    * tier included) decodes once per micro-batch into the same
    * idempotent `batch_id=` fingerprint partitions.
    */
  def runAudioHashIndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (media_id, payload, mime)
      workDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    runMediaIndexStream(spark, inputDir, schema, workDir,
      b => graft.ext.Multimodal.audioEnergyHashes(b.sparkSession, b, partitions = 4).toDF(), filesPerTrigger)

  /** [[runDHashIndexStream]] generalized over
    * [[graft.ext.Multimodal.decodeImage]]'s magic-byte dispatch: a
    * MIXED BMP/JPEG payload stream decodes once per micro-batch
    * (the from-scratch baseline-JPEG tier included) into the same
    * idempotent `batch_id=` fingerprint partitions.
    */
  def runImageHashIndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (media_id, payload, mime)
      workDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    runMediaIndexStream(spark, inputDir, schema, workDir,
      b => graft.ext.Multimodal.imageDHashes(b.sparkSession, b, partitions = 4).toDF(), filesPerTrigger)

  /** [[runDHashIndexStream]]'s shape for VIDEO: raw clips decode once
    * per micro-batch ([[graft.ext.Multimodal.videoFrameHashes]] at
    * `stride`) and every sampled frame's dHash lands under idempotent
    * `batch_id=` partitions — the per-frame relational index every
    * downstream keyframe/sequence near-dup question runs on.
    */
  def runVideoHashIndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (media_id, payload, mime)
      workDir: String,
      stride: Int,
      filesPerTrigger: Int = 1): DataFrame =
    runMediaIndexStream(spark, inputDir, schema, workDir,
      b => graft.ext.Multimodal
        .videoFrameHashes(b.sparkSession, b, stride, partitions = 4).toDF(),
      filesPerTrigger)

  /** STREAMING WARC/WET ingest — the crawl-landing shape: each
    * micro-batch of WARC files (plain or gzip, incl. the
    * record-per-member layout) parses ONCE
    * ([[graft.sources.Warc.warcRecords]]) and its relational record
    * rows land under idempotent `batch_id=` partitions — crawl
    * bytes are decompressed exactly once, ever, as data arrives,
    * and every downstream text op (quality, dedup, tokenize) runs
    * on the relational store.
    */
  def runWarcIngestStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType, // (media_id, payload, mime)
      workDir: String,
      filesPerTrigger: Int = 1): DataFrame =
    runMediaIndexStream(spark, inputDir, schema, workDir,
      b => graft.sources.Warc.warcRecords(b.sparkSession, b, partitions = 4), filesPerTrigger)

  /** The shared STREAMING fingerprint-index ingest: each micro-batch
    * of binary media payloads is decoded ONCE by `fingerprint` (the
    * only pass that ever touches payload bytes) and its relational
    * fingerprint rows land under their own `batch_id=` partition
    * ([[graft.sinks.Writers.idempotentBatchWrite]] — a replayed batch
    * overwrites itself with bit-identical rows, since decode is
    * deterministic). Returns the full index read back from the
    * partitions; deterministic decode means streamed index ≡ batch
    * fingerprints row-for-row, so index consumers share their batch
    * twins' oracles verbatim.
    */
  private def runMediaIndexStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      workDir: String,
      fingerprint: DataFrame => DataFrame,
      filesPerTrigger: Int = 1): DataFrame = {
    // complete any interrupted compaction swap before new batches land
    // beside a stranded staging copy
    Writers.recoverStagedSwap(spark, s"$workDir/index")
    runAvailableNow(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Writers.idempotentBatchWrite(
          fingerprint(batch), batchId, s"$workDir/index")
      }
      .option("checkpointLocation", s"$workDir/ckpt"))
    val root = new org.apache.hadoop.fs.Path(s"$workDir/index")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no input files found under $inputDir")
    spark.read.parquet(s"$workDir/index").drop("batch_id")
  }

  /** STREAMING media ingest with DLQ routing — the O-61 dual-write
    * shape over BINARY payloads: each micro-batch runs the REAL WAV
    * parser ([[graft.ext.Multimodal.Wav]]); rows that parse land
    * their integer-exact features (+ byte length) on the good path,
    * rows that don't land on the DLQ with byte length only. Both
    * writes go through [[graft.sinks.Writers.idempotentBatchWrite]] —
    * O(batch), never a snapshot rewrite, and a replayed batch
    * overwrites its own `batch_id=` partition; the decode itself is the
    * disclosed per-partition imperative tier.
    */
  def runMediaDecodeStream(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      goodPath: String,
      dlqPath: String,
      checkpoint: String,
      filesPerTrigger: Int = 1): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(inputDir)
    runAvailableNow(stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val media = batch.persist()
        try {
          val feats = graft.ext.Multimodal
            .wavFeatures(spark, media, partitions = 4).toDF()
          val sized = media.select(
            col("media_id"), octet_length(col("payload")).as("n_bytes"))
          Writers.idempotentBatchWrite(
            sized.join(feats, Seq("media_id")), batchId, goodPath)
          Writers.idempotentBatchWrite(
            sized.join(feats.select(col("media_id")), Seq("media_id"), "left_anti"),
            batchId, dlqPath)
        } finally { media.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint))
  }

  /** O-61/O-62: the validate → route → alert stream over the events
    * parquet. Each micro-batch runs [[Validate.routeBatch]], so good
    * and bad rows land under `root/good` and `root/bad` in one
    * `batch_id=<id>` partition per batch: with the checkpoint, a batch
    * replayed after a crash overwrites its own output, and a restart
    * re-runs nothing already committed. Returns the run's alert count,
    * kept per batch id so a replayed batch replaces its count.
    */
  def runRoutingStream(
      spark: SparkSession,
      inputDir: String,
      root: String,
      checkpoint: String): Long = {
    val alerts = scala.collection.mutable.Map.empty[Long, Long]
    runAvailableNow(spark.readStream.schema(graft.schema.Schemas.events).parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        alerts(batchId) = Validate.routeBatch(batch, batchId, root, eventRules, eventAlert)
      }
      .option("checkpointLocation", checkpoint))
    alerts.values.sum
  }
}
