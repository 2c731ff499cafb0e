package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dq.{Analyzers, ColumnValues, Rules}
import graft.etl.Transform
import graft.ext.{Dedup, Features, Multimodal, Similarity, Text, TextNorm}
import graft.gold.Star
import graft.pipeline.Pipeline
import graft.stream.{Jobs, Validate}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query is deterministic: stable total-order
  * ORDER BY, literal dates, floating-point aggregates rounded
  * identically on both sides, column names aliased identically in the
  * Spark plan and the oracle SQL. Window tie-breaks include l_partkey /
  * l_suppkey because l_linenumber is NOT unique within l_orderkey in
  * this testdata.
  */
object SparkEntry {

  /** Scratch directory for the sink/stream queries (q18c, q40, q44,
    * q55, q62, q70, q96, q99), deleted recursively at JVM exit — the
    * result frame a query returns still READS from the directory after
    * the query function yields it, so deletion can only happen once the
    * session's terminal action is done; a shutdown hook is the earliest
    * safe point. Without this every verify/bench run left ~8 graft-q*
    * trees (sink data + RocksDB checkpoints) accumulating in /tmp.
    */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  /** ONE static hook for every scratch dir: registering a hook per dir
    * (the pre-r15 shape) accumulates hooks across a 308-query sweep and
    * — worse — throws IllegalStateException when a query allocates
    * scratch WHILE the JVM is already shutting down (the r14 SIGTERM
    * left 12 orphaned dirs exactly this way). A static hook registered
    * once at class-init can never hit that window, and late allocations
    * during shutdown merely join the registry unswept.
    */
  private val scratchSweeper: Thread = {
    val t = new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      scratchDirs.forEach { p =>
        try {
          if (Files.exists(p))
            Files.walk(p).sorted(Comparator.reverseOrder[Path]())
              .forEach(f => { Files.deleteIfExists(f); () })
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    })
    try Runtime.getRuntime.addShutdownHook(t)
    catch { case _: IllegalStateException => () } // class-init during shutdown
    t
  }

  private def tempDir(prefix: String): String = {
    // tmpfs-backed when available (see [[Scratch]]): streaming
    // checkpoints and sink dirs are thousands of tiny fsync'd files
    // plus atomic renames, paid per micro-batch otherwise
    val p = Scratch.tmpfsBase match {
      case Some(base) => java.nio.file.Files.createTempDirectory(base, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    scratchDirs.add(p)
    p.toString
  }

  /** Persist verifier-role intermediates for the span of `body`, then
    * release them: contract queries run several counting actions over
    * the same frames, and without a persist every action re-executes
    * the whole upstream build (k-means assignment, PQ encode, the ADC
    * cross join). The frame a contract query RETURNS is literal
    * booleans derived from those counts, so releasing before return
    * is safe — nothing cached leaks past the query.
    */
  private def withCached[T](frames: DataFrame*)(body: => T): T = {
    frames.foreach { f => f.persist(); () }
    try body finally frames.foreach { f => f.unpersist(); () }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Latest-snapshot-per-key → validate → aggregate: the essence of the
    * reference pipeline (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    q01DedupLatestAgg(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- ETL

  /** O-28 window dedup + O-11 null guard + O-29 agg + O-47 sort. */
  def q01DedupLatestAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val deduped = Transform.dedupLatest(
      li,
      partitionCols = Seq("l_orderkey"),
      orderCols = Seq(
        col("l_shipdate").desc, col("l_linenumber").desc,
        col("l_partkey").desc, col("l_suppkey").desc))
    deduped
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(col("l_returnflag"))
  }

  /** O-06/O-08: select + rename + cast projection. */
  def q02CastProjection(spark: SparkSession, dir: String): DataFrame =
    Transform.castProjection(Tables.orders(spark, dir), Seq(
      ("o_orderkey", "order_id", LongType),
      ("o_custkey", "cust_id", IntegerType),
      ("o_orderstatus", "status", StringType),
      ("o_totalprice", "total_price", DoubleType),
      ("o_orderdate", "order_date", DateType),
      ("o_orderpriority", "priority", StringType)))
      .orderBy(col("order_id"))

  /** O-07/O-26/O-27: schema-enforcement annotation over events with
    * deterministically injected nulls (the testdata has none).
    */
  def q03SchemaEnforce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("value",
        when(col("event_type") === "error", lit(null).cast(DoubleType)).otherwise(col("value")))
      .withColumn("user_id",
        when(col("event_id") % 13 === 0, lit(null).cast(LongType)).otherwise(col("user_id")))
    Transform.withValidity(ev, Seq("event_id", "ts", "user_id", "value"))
      .select(col("event_id"), col("is_valid"), col("error_reason"))
      .orderBy(col("event_id"))
  }

  // ----------------------------------------------------------------- DQ

  /** O-32..O-37 + exact-distinct: Deequ-style metrics in one agg pass,
    * plus O-34 Uniqueness (two-level agg).
    */
  def q04DqMetrics(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    Analyzers.run(li,
      Seq(
        Analyzers.size,
        Analyzers.completeness("l_orderkey"),
        Analyzers.completeness("l_quantity"),
        Analyzers.mean("l_extendedprice"),
        Analyzers.standardDeviation("l_quantity"),
        Analyzers.minimum("l_extendedprice"),
        Analyzers.maximum("l_extendedprice"),
        Analyzers.exactMedian("l_quantity"),
        Analyzers.countDistinct("l_orderkey")),
      uniquenessCols = Seq("l_orderkey"))
      .withColumn("value", round(col("value"), 4))
      .orderBy(col("instance"), col("name"))
  }

  /** O-40/O-41: DQDL row-level outcomes, aggregated per verdict. */
  def q05DqRowOutcomes(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      ColumnValues("l_quantity", _ > 0, "gt_0"),
      ColumnValues("l_quantity", _ <= 45, "le_45"),
      ColumnValues("l_discount", _ <= 0.05, "le_005"))
    Rules.rowOutcomes(Tables.lineitem(spark, dir), rules)
      .withColumn("failed_rules", concat_ws(",", col("DataQualityRulesFail")))
      .groupBy(col("DataQualityEvaluationResult"), col("failed_rules"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("DataQualityEvaluationResult"), col("failed_rules"))
  }

  // --------------------------------------------------------------- Gold

  /** O-16..O-24: dim_date scalar stack over distinct order dates. */
  def q06DimDate(spark: SparkSession, dir: String): DataFrame =
    Star.dimDate(Tables.orders(spark, dir), "o_orderdate").orderBy(col("date"))

  /** O-44: star join — fact ⋈ orders ⋈ customer ⋈ broadcast dims. */
  def q07StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(spark, dir)
      .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
    val fact = li.join(o, "l_orderkey").join(c, "o_custkey")
    Star.starJoin(fact, Seq((n, Seq("c_nationkey")), (r, Seq("n_regionkey"))))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** O-49: top-k by market-cap analogue (orders by total price). */
  def q08TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** O-42/O-45: partition-level upsert — anti-join + union, then verify
    * via an aggregate. Incoming = post-cutoff orders with reprices.
    */
  def q09Upsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val incoming = o
      .filter(col("o_orderdate").cast(DateType) >= lit("1999-01-01").cast(DateType))
      .withColumn("o_totalprice", col("o_totalprice") * 1.05)
    val merged = Star.upsert(o, incoming, Seq("o_orderdate"))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** O-43/O-46: dedup union (SQL UNION) of dim key sets. */
  def q10UnionDistinct(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.unionByName(s).distinct().orderBy(col("nationkey"))
  }

  // ----------------------------------------------- LLM-pipeline: dedup

  /** Exact dedup: canonical doc per content fingerprint. */
  def q11ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactCanonical(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("canonical_id"))

  /** Exact word-unigram Jaccard near-dup pairs — brute force on a
    * deterministic bounded sample (doc_id < 600): the quadratic exact
    * check is the validation baseline; the full corpus goes through the
    * LSH path (q13) whose cost is O(docs × bands), not O(docs²).
    */
  def q12JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardNearDupPairs(
      Tables.documents(spark, dir).filter(col("doc_id") < 600),
      "doc_id", "text", shingleSize = 1, threshold = 0.95)
      .orderBy(col("id_a"), col("id_b"))

  /** MinHash+LSH near-dup pairs (candidate generation + exact verify).
    * Precision is exact (every candidate is verified with true
    * Jaccard); recall is probabilistic in general, but equals 1 on the
    * verify dataset with these band parameters — so the oracle is the
    * full exact quadratic Jaccard, making the LSH path hash-checked
    * end-to-end (a recall regression would surface as a row mismatch).
    */
  def q13MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs (60-bit fingerprints, Hamming ≤ 3).
    * Pigeonhole blocking is lossless for distance ≤ maxDistance, and
    * the md5-derived token hashes are portable, so — unlike the
    * LSH-recall q13 — this query has an EXACT DuckDB oracle: the
    * oracle rebuilds every fingerprint from per-hex-digit bits of
    * md5(token) and takes the quadratic bit_count(xor) ≤ 3 pairs.
    */
  def q13bSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text",
      bits = 60, maxDistance = 3)
      .orderBy(col("id_a"), col("id_b"))

  // ------------------------------------------------ LLM-pipeline: text

  /** Text quality metrics: tokens, regex tokens, avg token length,
    * punctuation/stopword ratios, composite quality score.
    */
  def q14TextStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.tokenCount(t).as("n_tokens"),
      Text.regexTokenCount(t).as("n_regex_tokens"),
      round(Text.avgTokenLength(t), 4).as("avg_token_len"),
      round(Text.punctRatio(t), 4).as("punct_ratio"),
      round(Text.stopwordRatio(t), 4).as("stopword_ratio"),
      Text.qualityScore(t).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic vs the labeled lang column. */
  def q15LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("predicted_lang", Text.langId(col("text")))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))

  /** Content fingerprint per document. */
  def q16Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  // -------------------------------------------- LLM-pipeline: train prep

  /** Deterministic 80/10/10 corpus split by portable id-hash bucket
    * (md5-prefix, no RNG): per split, document count and an id checksum
    * — a membership change in ANY split hash-mismatches. Stability
    * across corpus versions is the point: a doc's split is a function
    * of its id alone.
    */
  def q46HashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.hashSplit(
      Tables.documents(spark, dir), "doc_id",
      Seq("train" -> 3277, "val" -> 3687, "test" -> 4096))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("split"))

  /** Contiguous sequence packing: per source shard, documents ordered
    * by id lay end-to-end and cut into 512-token bins (a doc belongs
    * to the bin holding its first token). Per (source, bin): docs,
    * tokens, and the bin's start check — the exact assembly map a
    * pretraining shard writer needs.
    */
  def q47PackSequences(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.packSequences(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          graft.ext.Text.tokenCount(col("text")).as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 512)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        min(col("start_offset")).as("bin_start"))
      .orderBy(col("source"), col("bin"))

  /** Deterministic per-language quota sample (8 docs per lang by
    * md5-hash rank, no RNG): the corpus-mixing step, fully
    * reproducible — the oracle rebuilds the identical sample.
    */
  def q49QuotaSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.quotaSample(
      Tables.documents(spark, dir), "lang", "doc_id", quota = 8)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  /** Benchmark decontamination: corpus docs sharing any word 5-gram
    * with a (pseudo-)benchmark subset (`doc_id % 50 = 0`), flagged via
    * a broadcast shingle semi-join; summarized per contamination flag
    * with an id checksum so any flag flip hash-mismatches.
    */
  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.TrainPrep.contaminatedDocs(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 5)
      .groupBy(col("contaminated"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("contaminated"))
  }

  // ------------------------------------------------------- Streaming

  /** O-60..O-62 batch semantics: validate + reasons + alert flag. */
  def q17ValidateEvents(spark: SparkSession, dir: String): DataFrame =
    Validate.annotate(Tables.events(spark, dir), Jobs.eventRules)
      .withColumn("is_alert", Jobs.eventAlert)
      .select(col("event_id"), col("is_valid"), col("error_reason"), col("is_alert"))
      .orderBy(col("event_id"))

  /** Tumbling-window aggregation (batch path of the shared logic). */
  def q18WindowHourly(spark: SparkSession, dir: String): DataFrame =
    Jobs.windowedAgg(Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding windows — 1 h every 15 min (SURVEY §2.10's slide
    * semantics): each event lands in 4 overlapping windows. Batch twin
    * of `runWindowedStream(slide = ...)`; the oracle replays the
    * overlap by cross-joining each event with its 4 bucket offsets.
    */
  def q18bWindowSliding(spark: SparkSession, dir: String): DataFrame =
    Jobs.windowedAgg(Tables.events(spark, dir), "1 hour", Some("15 minutes"))
      .orderBy(col("window_start"), col("event_type"))

  /** The WATERMARKED sliding-window stream itself (not just its batch
    * twin q18b): events replay as four contiguous time slices, one
    * file per micro-batch (`maxFilesPerTrigger = 1`), through
    * `runWindowedStream` with a 1 h window sliding every 15 min and a
    * 10 min watermark, append mode — so a window only lands in the
    * sink once the watermark closes it. Within one AvailableNow run
    * the final no-data flush batch advances the watermark to
    * max(event time) − lateness and a window whose end EQUALS the
    * watermark still emits (pinned empirically + by this oracle), so
    * the emitted set is exactly the q18b aggregate restricted to
    * `window_end ≤ max(ts) − 10 min` — a deterministic, hash-checkable
    * contract for the streaming path. Slices land oldest-first (strictly
    * increasing mod times), so no batch carries data older than the
    * watermark and nothing is dropped as late mid-run.
    */
  def q18cWindowStreamSliding(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q18c")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4)
    Jobs.runWindowedStream(spark, in, s"$tmp/ckpt", s"$tmp/out",
      lateness = "10 minutes", windowDuration = "1 hour", slide = Some("15 minutes"),
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .orderBy(col("window_start"), col("event_type"))
  }

  private def eventsForReplay(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))

  /** Event-time replay slicer: the slice index is the searchsorted
    * position of `ts` among `n` contiguous event-time cuts, so the
    * whole fan-out is ONE scan + one partitioned write
    * ([[writeSliceFilesByExpr]]) instead of one filter job per slice —
    * assignment `cuts(i) ≤ ts < cuts(i+1)` (last unbounded), one file
    * per slice with strictly increasing mod times (oldest first — so,
    * with `maxFilesPerTrigger = 1`, micro-batches replay in event-time
    * order and nothing arrives behind the watermark mid-run). Recipes
    * needing per-row multiplicity (q55's duplicate injection) build a
    * membership array over the same searchsorted index and go through
    * [[writeSliceFilesExploded]].
    */
  private def writeEventSlicesPlain(ev: DataFrame, tmp: String, n: Int,
      hourAligned: Boolean = false): String = {
    val bounds = ev.agg(min(col("ts")).cast(LongType).as("lo"),
      max(col("ts")).cast(LongType).as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cuts = (0 to n).map(i => lo + (hi - lo) * i / n)
      .map(c => if (hourAligned) c - java.lang.Math.floorMod(c, 3600L) else c)
    val tsl = col("ts").cast(LongType)
    val sliceExpr = (1 until n).reverse.foldLeft(lit(n - 1): Column)(
      (acc, i) => when(tsl < cuts(i), i - 1).otherwise(acc))
    writeSliceFilesByExpr(ev, sliceExpr, tmp, n)
  }

  /** One-pass variant of [[writeSliceFiles]] for the standard
    * `pmod(id, n)` slicing: the old path wrote each slice as its own
    * job over its own filter of the source, so a synth corpus (WARC
    * gzip, MPEG video/audio, FLAC — the codec-heavy media builders)
    * was recomputed once PER SLICE plus once more inside the stream's
    * oracle twin. Here the source is scanned exactly once and a
    * `partitionBy` write fans the slices out in one job; each slice
    * value lives in exactly one task (`repartition(n, slice)`), so
    * every slice dir holds one file, moved and mtime-staggered like
    * the old path so the file stream replays them in order.
    */
  private def writeSliceFilesByExpr(
      df: DataFrame, sliceExpr: Column, tmp: String, n: Int = 4): String =
    writeSlicedFrame(df.withColumn("__slice", sliceExpr.cast("int")),
      df.schema, df.sparkSession, tmp, n)

  /** Multiplicity-preserving sibling of [[writeSliceFilesByExpr]] for
    * the cross-slice replay recipes (q55's dup/carry-over injection):
    * `membership` is an `array<int>` of the slice ids each row lands
    * in (duplicates kept — a row listed twice in its own slice is an
    * exact in-batch duplicate). Still ONE scan + one partitioned
    * write where the per-slice form paid one filter job per slice
    * PLUS one source scan per union leg. Row ORDER within a slice
    * file differs from the union form — callers must be (and the
    * dedup/changelog consumers are) content-deterministic within a
    * batch.
    */
  private def writeSliceFilesExploded(
      df: DataFrame, membership: Column, tmp: String, n: Int = 4): String =
    writeSlicedFrame(
      df.select(df.columns.map(col) :+
        explode(membership.cast("array<int>")).as("__slice"): _*),
      df.schema, df.sparkSession, tmp, n)

  private def writeSlicedFrame(
      withSlice: DataFrame, rowSchema: StructType,
      spark: SparkSession, tmp: String, n: Int): String = {
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 600000
    withSlice
      .repartition(n, col("__slice"))
      .write.mode("overwrite").partitionBy("__slice").parquet(s"$tmp/sliced")
    (0 until n).foreach { i =>
      val dir = new java.io.File(s"$tmp/sliced/__slice=$i")
      val dst = new java.io.File(s"$in/part-$i.parquet")
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      if (parts.nonEmpty) java.nio.file.Files.move(parts.head.toPath, dst.toPath)
      else // empty slice: land an empty file so the stream still sees n batches
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rowSchema)
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/empty$i")
      if (!dst.exists()) {
        val p = new java.io.File(s"$tmp/empty$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(p.toPath, dst.toPath)
      }
      dst.setLastModified(t0 + i * 1000L)
      ()
    }
    in
  }

  /** O-59/O-61: the same validation executed as a REAL Structured
    * Streaming query (AvailableNow over the events parquet, memory
    * sink). Stateless ⇒ result ≡ q17's batch result, same oracle.
    */
  def q19StreamValidate(spark: SparkSession, dir: String): DataFrame =
    Jobs.runValidationStream(spark, dir)
      .select(col("event_id"), col("is_valid"), col("error_reason"), col("is_alert"))
      .orderBy(col("event_id"))

  /** Stateful streaming (flatMapGroupsWithState) as a driver-checked
    * query: rising-edge alert suppression — emit an event only when
    * its user's value crosses ABOVE the threshold. Runs as a REAL
    * AvailableNow streaming query with per-key state; the oracle is
    * the batch lag-window twin (state ≡ "previous value", whatever the
    * micro-batch boundaries), so the custom-state operator family gets
    * a hash-checked row like q19 does for the stateless path.
    */
  def q19bStatefulEdges(spark: SparkSession, dir: String): DataFrame =
    graft.stream.Stateful.runRisingEdgeStream(spark, dir, 200.0,
      stateShufflePartitions = Some(8))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** The SAME rising-edge semantics on `transformWithState` (typed
    * named state, RocksDB state store) — Spark 4's current-generation
    * arbitrary-state API beside q19b's `flatMapGroupsWithState`; same
    * batch lag-window oracle.
    */
  def q19cStatefulTws(spark: SparkSession, dir: String): DataFrame =
    graft.stream.Stateful.runRisingEdgeStreamTws(spark, dir, 200.0,
      stateShufflePartitions = Some(8))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** O-63: JSON payload parse with malformed-record routing. */
  def q20PropsJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("props",
        when(col("event_id") % 97 === 0, lit("not-json")).otherwise(col("props")))
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------- LLM-pipeline: similarity

  private def embQueries(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  /** Brute-force cosine top-k (exact ANN baseline), scored by the
    * codegen'd [[graft.ext.FloatCosineSimilarity]] kernel.
    */
  def q21SimTopK(spark: SparkSession, dir: String): DataFrame = {
    Similarity.bruteForceTopK(embQueries(spark, dir), Tables.embeddings(spark, dir), 5,
      scorer = graft.ext.VectorKernels.CosineF)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs above a threshold (codegen'd
    * kernel — the interpreted HOF path was 12× slower at sf0.1).
    * Exact and quadratic, so — mirroring q12's exact-Jaccard pattern —
    * it runs on a deterministic bounded sample (vec_id < 800), which
    * makes the broadcast build side safe; the full-corpus scale
    * surface is q22b's SRP-blocked path.
    */
  def q22CosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    Similarity.cosineNearDupPairs(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 800),
      "vec_id", "embedding", 0.4,
      scorer = graft.ext.VectorKernels.CosineF, broadcastBuild = true)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Full-corpus near-dup detection via SRP-LSH blocking — the 100 TB
    * path: no quadratic pass, candidates come from bucketed signature
    * joins, exact cosine verifies each candidate (precision is exact;
    * only recall is probabilistic). The synthetic embeddings have no
    * true near-dups (max pairwise cosine ≈ 0.51), so the corpus is
    * augmented with one deterministic perturbed twin per vector
    * (`x + 0.001·x²`, double math rounded back to float — IEEE-exact
    * and reproducible in the DuckDB oracle); the expected answer is
    * exactly the 〈original, twin〉 pairs. With 16-plane × 8-table
    * signatures at cos ≥ 0.9 the per-pair miss probability is ~1e-6,
    * and the oracle's exact all-pairs SQL confirms recall = 1 on this
    * dataset — a full hash-checked row for the LSH scale path.
    */
  def q22bSrpNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val twins = base.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => {
        val d = x.cast("double")
        (d + lit(0.001) * d * d).cast("float")
      }).as("embedding"))
    Similarity.srpNearDupPairs(base.unionByName(twins), "vec_id", "embedding", 0.9,
      planes = 16, tables = 8, scorer = graft.ext.VectorKernels.CosineF)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** IVF-style ANN over REAL k-means clusters (3 Lloyd iterations as
    * DataFrame ops, then probe the nearest clusters only). Approximate
    * → rows-only check; q21 is the exact oracle-checked baseline and
    * ExtSpec pins recall on planted clusters.
    */
  def q23IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val clustered = Similarity.kmeansLabels(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 10, iters = 3,
      scorer = graft.ext.VectorKernels.CosineF)
    Similarity.ivfTopK(clustered, embQueries(spark, dir), 5, 2,
      scorer = graft.ext.VectorKernels.CosineF)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall contract for the IVF path: recall@5 of cluster-probed
    * search against q21's exact brute force, computed in Spark
    * (deterministic: k-means init and probing are seeded). Probes half
    * the clusters (nprobe = 5 of k = 10) — the recall/cost dial — and
    * asserts ≥ 0.7 even on this ISOTROPIC synthetic corpus, the ANN
    * worst case (no cluster structure, so true neighbors scatter
    * across cells and recall shrinks with corpus size: measured 0.82
    * at sf0.01, 0.78 at sf0.1; ExtSpec pins recall 1 on clustered
    * fixtures, the realistic regime). Oracle is the expected TRUE row,
    * so a recall regression fails the correctness gate; q23 itself
    * stays rows-only.
    */
  def q23bIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val clustered = Similarity.kmeansLabels(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 10, iters = 3,
      scorer = graft.ext.VectorKernels.CosineF)
    val ivf = Similarity.ivfTopK(clustered, embQueries(spark, dir), 5, 5,
      scorer = graft.ext.VectorKernels.CosineF)
      .select(col("query_id"), col("vec_id"))
    val exact = q21SimTopK(spark, dir).select(col("query_id"), col("vec_id"))
    withCached(exact) {
      val hits = exact.join(ivf, Seq("query_id", "vec_id")).count()
      val total = exact.count()
      import spark.implicits._
      Seq(("ivf_recall_at_5_nprobe_half_ge_0.7", hits.toDouble / total >= 0.7))
        .toDF("metric", "ok")
    }
  }

  // ------------------------------------------- LLM-pipeline: multimodal

  /** Multimodal metadata: binary payload + in-plan byte length/sha256. */
  def q24MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text", "text/plain")
      .select(col("media_id"), col("mime"), col("n_bytes"), col("sha256"))
      .orderBy(col("media_id"))

  /** Stubbed decode/feature-extract over partitions (plumbing is real,
    * decoder is a deterministic fake). The typed `Dataset[MediaFeatures]`
    * (with the raw `array<float>` features) is the library surface; the
    * oracle-facing projection recovers the decoder's integer byte
    * histogram (`round(f_j * n_bytes)` inverts the float normalization
    * exactly — counts < 2^24 are lossless in a float) so every value is
    * hash-stable and reproducible in SQL.
    */
  def q25MultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(
      Tables.documents(spark, dir), "doc_id", "text", "text/plain")
    val decoded = Multimodal.decodeFeatures(spark, media, partitions = 8).toDF()
    val histCols = (0 until Multimodal.ByteHistogram.featureDim).map(j =>
      round(element_at(col("features"), j + 1) * col("n_bytes"))
        .cast(LongType).as(s"f$j"))
    decoded
      .select(Seq(col("media_id"), col("mime"), col("n_bytes")) ++ histCols: _*)
      .orderBy(col("media_id"))
  }

  /** O-25/O-29: per-month report aggregation. */
  def q26MonthlyReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("ship_month"))

  /** O-39: Deequ-style verification suite → check-results frame, full
    * `checkResultsAsDataFrame` shape including `constraint_message`
    * (fixed `%.4f` formatting keeps the message engine-portable).
    */
  def q27DqCheckResults(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      graft.dq.IsComplete("l_orderkey"),
      ColumnValues("l_quantity", _ > 0, "gt_0"),
      ColumnValues("l_discount", _ <= 0.05, "le_005"),
      graft.dq.RowCountBetween(50, 10000000),
      graft.dq.CompletenessAbove("l_extendedprice", 0.95),
      graft.dq.UniquenessAbove("l_orderkey", 0.99))
    Rules.checkResults(spark, Tables.lineitem(spark, dir), rules)
      .orderBy(col("constraint"))
  }

  /** O-12/O-42: anti-semijoin — orders with no lineitems, as a
    * distributed left_anti join (the reference's collect+isin replaced).
    */
  def q28AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val liKeys = Tables.lineitem(spark, dir).select(col("l_orderkey").as("o_orderkey"))
    o.join(liKeys, Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-outer join + null coalescing: per-order revenue, 0 for
    * orders with no lineitems.
    */
  def q29OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    Tables.orders(spark, dir)
      .join(rev, Seq("o_orderkey"), "left_outer")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("rev").isNull, 1L).otherwise(0L)).as("n_no_items"),
        round(sum(coalesce(col("rev"), lit(0.0))), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** SQL surface (§3.2's Athena analogue): the star-schema revenue
    * query expressed as `spark.sql` over registered views — the same
    * text an analyst would run; Catalyst plans it identically to q07.
    */
  def q31SqlStar(spark: SparkSession, dir: String): DataFrame =
    Sql.query(spark, dir,
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)

  /** Rollup aggregation (subtotal + grand-total rows). */
  def q30Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** O-38: HLL++ approximate distinct counts next to the exact values
    * (approximate → rows-only check; the exact columns are verified via
    * q04's CountDistinct).
    */
  def q32ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // sketches only — no exact count_distinct here: mixing several
    // exact distincts into one agg forces an Expand (row multiplier);
    // the exact values are oracle-checked in q04 already
    Analyzers.run(li, Seq(
      Analyzers.approxCountDistinct("l_orderkey"),
      Analyzers.approxCountDistinct("l_partkey"),
      Analyzers.approxQuantile("l_extendedprice", 0.5),
      Analyzers.approxQuantile("l_extendedprice", 0.95)))
      .orderBy(col("instance"), col("name"))
  }

  /** Error-bound contract for the sketch path (O-38): emits whether
    * each approximate result honors its sketch's guarantee, computed
    * entirely in Spark. The oracle is the expected TRUE rows — so a
    * sketch accuracy regression (Spark upgrade, accuracy-parameter
    * change) fails the driver gate instead of hiding behind a
    * rows-only check. Sketch VALUES stay rows-only in q32
    * (engine-internal by nature); this checks the contract.
    *
    * The quantile bound is on RANK, not value (q32c's formulation):
    * quantile sketches guarantee rank error — on small or gappy data
    * adjacent values can differ by more than any value tolerance while
    * the rank is exactly right, so a value-based bound fails on
    * correct output (observed at sf0.001). Exact distinct runs as a
    * two-level aggregate to avoid the Expand a multi-distinct agg
    * would force.
    */
  def q32bSketchBounds(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // rsd 0.02 under a 5% bound = a 2.5σ contract (deterministic per
    // dataset, ~1% of datasets would sit outside) — the default
    // rsd 0.05 made 5% a 1σ bound that legitimately failed at
    // sf0.001 (HLL error is data-dependent, not noise)
    val approx = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("acd"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("aq"))
    val exactDistinct = li.groupBy(col("l_orderkey")).agg(count(lit(1)))
      .agg(count(lit(1)).as("cd"))
    li.crossJoin(approx).crossJoin(exactDistinct) // 1-row sides — broadcast
      .agg(
        first(col("acd")).as("acd"), first(col("cd")).as("cd"),
        avg(when(col("l_extendedprice") <= col("aq"), 1.0).otherwise(0.0)).as("r50"))
      .select(explode(array(
        struct(lit("ApproxCountDistinct_l_orderkey_within_5pct").as("metric"),
          (abs(col("acd") - col("cd")) <= col("cd") * 0.05).as("ok")),
        struct(lit("ApproxQuantile_0.5_l_extendedprice_rank_within_2.5pct").as("metric"),
          (abs(col("r50") - 0.5) <= 0.025).as("ok"))))
        .as("r"))
      .select(col("r.metric"), col("r.ok"))
      .orderBy(col("metric"))
  }

  /** Rank-error contract for the KLL quantile-sketch aggregate (the
    * third custom TypedImperativeAggregate, `graft.ext.KllAgg`): build
    * ONE mergeable sketch of l_extendedprice, extract q50/q95 from the
    * sketch value with pure Column ops, then measure each estimate's
    * TRUE rank against the exact data — |rank(q̂_p)/n − p| must stay
    * within 2.5% (k = 256; observed ≈ 0.3%, so the margin catches a
    * real compactor regression, not noise). Same shape as q32b: the
    * oracle is the expected TRUE rows, so a sketch accuracy regression
    * fails the driver gate while the sketch VALUES stay
    * engine-internal.
    */
  def q32cKllBounds(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.KllAgg
    val li = Tables.lineitem(spark, dir)
    val qs = li.agg(KllAgg.kllAgg(col("l_extendedprice"), 256).as("sk"))
      .select(
        KllAgg.quantile(col("sk"), 0.5).as("q50"),
        KllAgg.quantile(col("sk"), 0.95).as("q95"))
    li.crossJoin(qs) // one 1-row side — broadcast
      .agg(
        avg(when(col("l_extendedprice") <= col("q50"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("l_extendedprice") <= col("q95"), 1.0).otherwise(0.0)).as("r95"))
      .select(explode(array(
        struct(lit("KLL_q50_l_extendedprice_rank_within_2.5pct").as("metric"),
          (abs(col("r50") - 0.5) <= 0.025).as("ok")),
        struct(lit("KLL_q95_l_extendedprice_rank_within_2.5pct").as("metric"),
          (abs(col("r95") - 0.95) <= 0.025).as("ok")))).as("r"))
      .select(col("r.metric"), col("r.ok"))
      .orderBy(col("metric"))
  }

  /** PER-GROUP quantile sketches — the grouped form of q32c and the
    * actual 100 TB use case: one mergeable KLL sketch per group key
    * (map-side partials per group under ObjectHashAggregate), each
    * group's median extracted from ITS OWN stored sketch, then rank-
    * verified inside its own group. The oracle derives the expected
    * group keys from the data (stronger than literal TRUE rows: a
    * missing or extra group also fails), with `ok` expected TRUE for
    * every group.
    */
  def q45GroupQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.KllAgg
    val li = Tables.lineitem(spark, dir)
    val sk = li.groupBy(col("l_returnflag"))
      .agg(KllAgg.kllAgg(col("l_extendedprice"), 256).as("sk"))
      .select(col("l_returnflag"), KllAgg.quantile(col("sk"), 0.5).as("q50"))
    li.join(broadcast(sk), "l_returnflag") // a #groups-row build side
      .groupBy(col("l_returnflag"))
      .agg(avg(when(col("l_extendedprice") <= col("q50"), 1.0).otherwise(0.0)).as("r50"))
      .select(col("l_returnflag"), (abs(col("r50") - 0.5) <= 0.025).as("ok"))
      .orderBy(col("l_returnflag"))
  }

  /** O-28 again via the aggregation scale path (`max_by`, map-side
    * partial combine — no window sort); result is identical to q01's
    * window form, so it shares q01's oracle.
    */
  def q33DedupAggPath(spark: SparkSession, dir: String): DataFrame =
    Transform.dedupLatestAgg(
      Tables.lineitem(spark, dir),
      partitionCols = Seq("l_orderkey"),
      maxKeyCols = Seq(col("l_shipdate"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")))
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(col("l_returnflag"))

  /** Time-series similarity: hour-of-day activity profiles per user →
    * cosine top-3 most-similar users (derived-embedding search).
    */
  def q34ProfileSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val profiles = graft.ext.TimeSeries.hourlyProfile(
      Tables.events(spark, dir), "user_id", "ts", "value")
    graft.ext.TimeSeries.topKSimilarProfiles(
      profiles.filter(col("user_id") < 20), "user_id", 3,
      numKeys = Some(20)) // bounded by the filter above — skip the guard job
      .orderBy(col("key_a"), col("rank"))
  }

  /** Gap-based sessionization via native session_window, cross-checked
    * against a lag+cumsum oracle.
    */
  def q35Sessionize(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.sessionStats(
      Tables.events(spark, dir), "user_id", "ts", "30 minutes")
      .orderBy(col("user_id"))

  /** Running window frames: cumulative revenue per customer over their
    * order history (rowsBetween unboundedPreceding..current).
    */
  def q36RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 100)
      .withColumn("running_total", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Heavy hitters: top-10 most frequent part keys (frequent-items
    * profiling). Two-phase count, then top-k via orderBy+limit — Spark
    * plans that as TakeOrderedAndProject (per-partition top-k, k-row
    * merge), NOT a global sort; at 100 TB the group count is billions
    * and a single-partition ranking window over it would be the
    * bottleneck. Ranks are assigned afterwards, and are safe because
    * the preceding limit bounds the window input to ≤ k rows.
    */
  def q37HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    rankedTopK(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n")),
      Seq(col("n").desc, col("l_partkey").asc), 10)
      .select(col("l_partkey"), col("n"), col("rank"))
      .orderBy(col("rank"))

  /** Bounded top-k with rank: orderBy+limit (TakeOrderedAndProject)
    * first, then row_number over the k surviving rows. The SAFEGUARD is
    * the limit — it bounds the window input to ≤ k rows, so the
    * single-partition ranking is over a constant-size frame no matter
    * the input scale. The partition key below still routes all ≤ k
    * rows to one partition (any constant does); it is column-derived
    * only so Catalyst can't fold the spec to empty, which would make
    * WindowExec log its "Moving all data to a single partition"
    * warning on every run — noise that could mask a real
    * single-partition regression elsewhere in a bench log.
    */
  private def rankedTopK(
      df: DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      k: Int): DataFrame = {
    val topk = df.orderBy(order: _*).limit(k)
    val part = pmod(xxhash64(col(topk.columns.head)), lit(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(part).orderBy(order: _*)
    topk.withColumn("rank", row_number().over(w))
  }

  /** Group-level set similarity via the mergeable MinHash AGGREGATE
    * (custom TypedImperativeAggregate): per-source token-set
    * signatures, then pairwise estimated Jaccard between sources.
    * Slot hashes follow the portable md5 convention, so the DuckDB
    * oracle reproduces every signature slot
    * (`min(substring(md5(tok || '#' || k), 1, 15))` per source × seed)
    * and the estimate matches hash-exactly — a full CORRECTNESS row
    * for a custom aggregate, not just a rows-only check.
    */
  private def sourceMinhashEstimates(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.MinHashAgg
    val items = Tables.documents(spark, dir)
      .select(col("source"), explode(Dedup.wordShingles(col("text"), 1)).as("token"))
      // min is idempotent, so pre-distincting (source, token) changes
      // nothing — but it collapses every repeated token before the 64
      // md5 hashes per item run (stopwords repeat across most docs)
      .distinct()
    val sigs = items.groupBy(col("source"))
      .agg(MinHashAgg.minhashAgg(col("token"), 64).as("sig"))
    val a = sigs.select(col("source").as("src_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("source").as("src_b"), col("sig").as("sig_b"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("est_jaccard",
        // k/64 has ≤ 6 decimal digits, so round(_, 6) is exact — no
        // engine-dependent tie-rounding (round 4 ties at k ≡ 2 mod 4)
        round(MinHashAgg.estimatedJaccard(col("sig_a"), col("sig_b")), 6))
      .select(col("src_a"), col("src_b"), col("est_jaccard"))
  }

  def q38SourceSimilarity(spark: SparkSession, dir: String): DataFrame =
    sourceMinhashEstimates(spark, dir).orderBy(col("src_a"), col("src_b"))

  /** AS-OF join (last-click attribution): each purchase gets the latest
    * click of the same user at-or-before its timestamp; oracle is
    * DuckDB's native ASOF LEFT JOIN.
    */
  def q39AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    graft.operators.AsofJoin.lastBefore(
      clicks, purchases,
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      payload = Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("asof_event_id").as("click_event_id"))
      .orderBy(col("event_id"))
  }

  /** RANGE (point-in-interval) join via bucket blocking — purchases
    * attributed to the click-SESSION whose reach they fall inside:
    * per-user click sessions (30-min gap) become intervals
    * [first click, last click + gap] (the trailing gap mirrors
    * `session_window`'s window end), purchases are points, and the
    * join runs on (user, time-bucket) + exact range verify instead of
    * the BNLJ a naive theta-join plans. The oracle rebuilds sessions
    * first-principles (lag + cumsum, the q35 pattern) and joins with
    * BETWEEN — so both the session semantics and the range-join
    * semantics are hash-checked.
    */
  def q50RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
    val sessions = clicks
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(min(col("ts")).as("s_start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("s_end"))
      .select(col("user_id"), col("s_start"), col("s_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.RangeJoin.pointInInterval(
      purchases, sessions, "user_id", "ts", "s_start", "s_end")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_in_session"),
        round(sum(col("value")), 2).as("v_in_session"))
      .orderBy(col("user_id"))
  }

  /** Heavy-hitter frequency estimation via the COUNT-MIN SKETCH
    * aggregate (second custom TypedImperativeAggregate): one
    * depth×4096 sketch summarizes all part-key frequencies, then the
    * exact top-10 keys read their estimates back out of it. Portable
    * md5 bucket hashing means the DuckDB oracle rebuilds every counter
    * and estimate — hash-checked, including the CMS overestimates.
    */
  def q41CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.CountMinAgg
    val li = Tables.lineitem(spark, dir)
    val sketch = li.agg(CountMinAgg.cmsAgg(col("l_partkey").cast("string"), 4).as("cms"))
    val topk = rankedTopK(
      li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n")),
      Seq(col("n").desc, col("l_partkey").asc), 10)
    topk.crossJoin(sketch) // one 128 KB sketch row — broadcast side
      .withColumn("n_est",
        CountMinAgg.estimate(col("cms"), col("l_partkey").cast("string"), 4))
      .select(col("l_partkey"), col("n"), col("n_est"), col("rank"))
      .orderBy(col("rank"))
  }

  /** O-51..O-58 write-path round trip: exercises the sinks end-to-end
    * and aggregates what comes back, so the writers get a hash-checked
    * CORRECTNESS row (a faithful round trip is value-preserving, so
    * the oracle computes the same aggregates from the source tables).
    *  - fact side: full orders written via DYNAMIC partition overwrite
    *    (O-52/O-54), then partition 'O' re-written with discounted
    *    prices — only the touched partition may change (mirrors q09's
    *    proven-stable `*0.9` + `round(sum)` shape);
    *  - DLQ side: error events through the `dt=/hour=` JSONL layout
    *    (O-55/O-58), read back via partition columns.
    */
  def q40SinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q40")
    // repartition by the partition column before a partitioned write —
    // the standard small-files guard: one task owns each output
    // partition instead of every task writing a sliver of each
    val orders = Tables.orders(spark, dir).repartition(col("o_orderstatus"))

    // one week of errors: exercises the hive layout without creating
    // hundreds of tiny hour= dirs on the bench path. The DLQ write is
    // independent of the fact-table writes (different dir, append mode;
    // their dynamic overwrite is a per-write option, not a session
    // conf), so it overlaps them as a second leg (guide §2.6): its
    // 168-dir commit was the single largest job in the query
    val errs = Tables.events(spark, dir).filter(col("event_type") === "error")
      .filter(col("ts") < lit("2024-01-08").cast(TimestampType))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val (fact, _) = Pipeline.par(
      {
        graft.sinks.Writers.parquetDynamicOverwrite(orders, s"$tmp/fact", "o_orderstatus")
        val patch = orders.filter(col("o_orderstatus") === "O")
          .withColumn("o_totalprice", col("o_totalprice") * 0.9)
        graft.sinks.Writers.parquetDynamicOverwrite(patch, s"$tmp/fact", "o_orderstatus")
        spark.read.parquet(s"$tmp/fact")
      },
      graft.sinks.Writers.badRecordsPartitioned(errs, "ts", s"$tmp/dlq"))
    // explicit schema: no inference pass over the many small JSONL files
    val dlqSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", LongType),
      org.apache.spark.sql.types.StructField("ts", StringType),
      org.apache.spark.sql.types.StructField("user_id", LongType),
      org.apache.spark.sql.types.StructField("value", DoubleType),
      org.apache.spark.sql.types.StructField("dt", StringType),
      org.apache.spark.sql.types.StructField("hour", StringType)))
    val dlq = spark.read.schema(dlqSchema).json(s"$tmp/dlq")

    val factAgg = fact.groupBy(col("o_orderstatus").cast("string").as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("v"))
      .select(lit("fact").as("side"), col("k"), col("n"), col("v"))
    val dlqAgg = dlq.groupBy(col("dt").cast("string").as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(lit("dlq").as("side"), col("k"), col("n"), col("v"))
    factAgg.unionByName(dlqAgg).orderBy(col("side"), col("k"))
  }

  /** Bucketed co-located join: both sides written `bucketBy` the join
    * key, then joined — on a bucketed layout the join needs NO exchange
    * on either side (BucketJoinSpec pins the zero-Exchange plan under
    * a disabled broadcast threshold; at this verify scale the small
    * side may still broadcast, which is also exchange-free on the
    * fact side). This is the ship-layout for Silver/Gold join keys at
    * 100 TB: shuffle once at write time, never again per query.
    */
  def q42BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // a fresh session can't overwrite a managed-table LOCATION left by
    // an earlier session (catalog is in-memory, the warehouse dir is
    // not): drop the catalog entry AND delete any stale location
    Seq("graft_q42_lineitem", "graft_q42_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_q42_lineitem")
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_q42_orders")
    spark.table("graft_q42_lineitem")
      .join(spark.table("graft_q42_orders"), Seq("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Salted two-stage aggregation — the skew pattern: a hot group key
    * first aggregates per (key, salt) so no single task absorbs the
    * whole key, then the tiny per-salt partials combine. Deterministic
    * salt (hash of a second column, not rand()) keeps the query
    * replayable; the result is EXACTLY the plain groupBy (the oracle
    * is the unsalted SQL), which is the point — same answer, bounded
    * per-task state under skew.
    */
  def q43SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(8)))
      .groupBy(col("l_suppkey"), col("salt"))
      .agg(sum(col("l_quantity")).as("partial_qty"), count(lit(1)).as("partial_n"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("partial_qty")), 2).as("sum_qty"),
        sum(col("partial_n")).as("n_rows"))
      .orderBy(col("l_suppkey"))

  /** The reference's actual PRODUCT — the four-stage chained pipeline
    * (ref: Step Function/crypto-etl-pipeline.asl.json:5-76) — as ONE
    * driver-checked query: a deterministic crypto-shaped bronze corpus
    * derived from `customer` lands as JSONL in two nested batch
    * prefixes, the recursive bronze scan (O-01..O-03) picks both up,
    * and `Medallion.run` chains transform (cast projection + schema
    * split + DLQ + dedup) → DQ gate (the reference's full DQDL
    * ruleset) → gold star writes through `Pipeline.runNotified`
    * (O-67..O-71). The result aggregates what actually LANDED on disk
    * (gold fact, DLQ JSONL, dim, notification), so every stage
    * boundary is inside the hash-checked surface.
    *
    * Fixture design (all sf-independent — bounded at c_custkey ≤ 120):
    * batch 1 has one tick per coin; batch 2 re-ticks every 7th coin
    * with a worse (higher) market_cap_rank and a +999 price that dedup
    * must discard. Every 10th coin has a null current_price, every
    * 13th a null market_cap → schema enforcement routes those to the
    * DLQ with per-field reasons, leaving 99 coins: inside the
    * reference ruleset's RowCount 50..150 gate at every SF.
    */
  def q44MedallionE2E(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q44")
    val base = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 120)
      .select(
        col("c_custkey").cast(LongType).as("k"),
        col("c_name").as("cname"),
        (abs(col("c_acctbal")) + 1.0).as("price"))

    def bronzeRecords(src: DataFrame, rankShift: Int, priceShift: Double): DataFrame =
      src.select(
        concat(lit("c"), col("k")).as("id"),
        concat(lit("SYM"), col("k")).as("symbol"),
        col("cname").as("name"),
        when(col("k") % 10 === 0, lit(null).cast(DoubleType))
          .otherwise(col("price") + priceShift).as("current_price"),
        when(col("k") % 13 === 0, lit(null).cast(LongType))
          .otherwise(col("k") * 1000).as("market_cap"),
        (col("k") + rankShift).cast(IntegerType).as("market_cap_rank"),
        (col("k") * 10).as("total_volume"),
        (col("price") + 1.0).as("high_24h"),
        (col("price") - 1.0).as("low_24h"),
        lit(1.5).as("price_change_24h"),
        lit(2.5).as("price_change_percentage_24h"),
        col("k").cast(DoubleType).as("circulating_supply"),
        col("k").cast(DoubleType).as("total_supply"))

    bronzeRecords(base, 0, 0.0)
      .coalesce(1).write.mode("overwrite").json(s"$tmp/landing/batch=1")
    bronzeRecords(base.filter(col("k") % 7 === 0), 1000, 999.0)
      .coalesce(1).write.mode("overwrite").json(s"$tmp/landing/batch=2")

    val bronze = graft.sources.Readers.jsonRecursive(spark, s"$tmp/landing")
    val out = graft.pipeline.Medallion.run(spark, bronze, s"$tmp/out",
      java.time.Instant.parse("2024-01-15T00:00:00Z")) match {
      case Right(o) => o
      case Left(f) => sys.error(s"medallion pipeline failed at ${f.stage}: ${f.reason}")
    }
    // Outputs (silver, dlq, fact) fully populated on Right
    require(Seq(out.silver, out.dlq, out.fact).forall(_ != null))

    // aggregate what landed on disk, not the in-memory frames
    val goldAgg = spark.read.parquet(s"$tmp/out/fact_crypto_daily")
      .groupBy(pmod(col("market_cap_rank"), lit(5)).cast(StringType).as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("current_price")), 2).as("v"))
      .select(lit("gold").as("side"), col("k"), col("n"), col("v"))
    val dlqSchema = StructType(Seq(
      StructField("raw_data", StringType),
      StructField("error_reason", StringType),
      StructField("timestamp", StringType),
      StructField("validation_type", StringType)))
    val dlqAgg = spark.read.schema(dlqSchema).json(s"$tmp/out/dlq")
      .groupBy(col("error_reason").as("k"))
      .agg(count(lit(1)).as("n"))
      .select(lit("dlq").as("side"), col("k"), col("n"), lit(0.0).as("v"))
    val dimAgg = spark.read.parquet(s"$tmp/out/dim_coins")
      .agg(count(lit(1)).as("n"))
      .select(lit("dim_coins").as("side"), lit("*").as("k"), col("n"), lit(0.0).as("v"))
    val noteSchema = StructType(Seq(
      StructField("pipeline", StringType), StructField("status", StringType),
      StructField("stage", StringType), StructField("reason", StringType)))
    val noteAgg = spark.read.schema(noteSchema).json(s"$tmp/out/notifications")
      .groupBy(col("status").as("k"))
      .agg(count(lit(1)).as("n"))
      .select(lit("notify").as("side"), col("k"), col("n"), lit(0.0).as("v"))
    goldAgg.unionByName(dlqAgg).unionByName(dimAgg).unionByName(noteAgg)
      .orderBy(col("side"), col("k"))
  }

  /** Duplicate CLUSTERS — the last mile of dedup: q12's exact-Jaccard
    * near-dup pairs closed into connected components (iterative
    * min-label propagation, one keyed shuffle per round), each doc
    * labeled with its cluster's min id, size, and the canonical flag a
    * keep-one-per-cluster pass would act on. The oracle computes the
    * same transitive closure with a recursive CTE.
    */
  def q51DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardNearDupPairs(
      Tables.documents(spark, dir).filter(col("doc_id") < 600),
      "doc_id", "text", shingleSize = 1, threshold = 0.95)
    // the STAR-contraction CC runs here (oracle-verified against the
    // recursive-CTE closure); dupClusters itself defaults to
    // propagation — see Clusters.dupClusters for the measured trade
    val comp = graft.ext.Clusters.connectedComponentsStar(pairs, "id_a", "id_b")
    val sizes = comp.groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Gap-fill resample: per-user hourly grid over each user's active
    * span, bucket averages forward-filled across empty hours. Output
    * carries no nullable column (`filled_v` is never null because a
    * key's first grid bucket is its first observed bucket).
    */
  def q52ResampleFill(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.resampleFill(
      Tables.events(spark, dir).filter(col("user_id") < 30),
      "user_id", "ts", "value", "hour")
      .orderBy(col("key"), col("bucket"))

  /** Top-3 TF-IDF terms per document (smoothed scikit-style IDF);
    * ranking compares the ROUNDED score with a term tie-break so the
    * order is engine-reproducible.
    */
  def q53TfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    Text.tfidfTopTerms(
      Tables.documents(spark, dir).filter(col("doc_id") < 600),
      "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** PII scrubbing over documents with deterministically injected
    * emails / phone numbers / SSNs / IPs (the corpus has none):
    * per-pattern counts on the raw text plus an md5 of the fully
    * redacted text, so the redaction OUTPUT itself — not just the
    * match counts — is inside the hash-checked surface.
    */
  def q54PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val pats = Text.piiPatterns.toMap
    val injected = Tables.documents(spark, dir)
      .filter(col("doc_id") < 600)
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-867-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" node at 192.168.1.77 up"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" ssn 123-45-6789 on file"))
          .otherwise(lit(""))).as("text"))
    injected.select(
      col("doc_id"),
      Text.piiCount(col("text"), pats("EMAIL")).cast(LongType).as("n_email"),
      Text.piiCount(col("text"), pats("PHONE")).cast(LongType).as("n_phone"),
      Text.piiCount(col("text"), pats("SSN")).cast(LongType).as("n_ssn"),
      Text.piiCount(col("text"), pats("IP")).cast(LongType).as("n_ip"),
      (length(col("text")) - length(Text.redactPii(col("text"))))
        .cast(LongType).as("chars_removed"),
      md5(Text.redactPii(col("text"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Streaming exact dedup (`dropDuplicatesWithinWatermark`) as a REAL
    * multi-batch stream: events replay as four time slices (two files
    * per micro-batch, oldest first), with duplicate copies injected
    * BOTH within a slice (every 3rd event — batch-local state) and
    * into the NEXT slice (every 5th event — cross-batch state; every
    * 15th gets both). Lateness covers the full event-time span, so
    * nothing is late, no state expires mid-run, and the deduped stream
    * is EXACTLY the original events table — the oracle aggregates that
    * table directly, with no mirror of the injection.
    */
  def q55StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q55")
    // one-pass replay synthesis (r16): the old per-slice unions paid
    // ~10 source scans (4 slices × 2-3 legs). Membership per event:
    // its own event-time slice j (searchsorted over the same cuts as
    // writeEventSlices), j AGAIN if event_id%3=0 (the in-batch exact
    // duplicate), and j+1 if event_id%5=0 and a next slice exists
    // (the cross-batch carry-over — slice i receives slice i−1's %5
    // rows, so slice 0 receives none). Same multiset per slice file;
    // the dedup consumer is content-deterministic within a batch.
    val ev = eventsForReplay(spark, dir)
    val n = 4
    val bounds = ev.agg(min(col("ts")).cast(LongType).as("lo"),
      max(col("ts")).cast(LongType).as("hi")).head()
    val cuts = (0 to n).map(i =>
      bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) * i / n)
    val tsl = col("ts").cast(LongType)
    val j = (1 until n).reverse.foldLeft(lit(n - 1): Column)(
      (acc, i) => when(tsl < cuts(i), i - 1).otherwise(acc))
    val in = writeSliceFilesExploded(ev,
      filter(array(
        j,
        when(col("event_id") % 3 === 0, j),
        when(col("event_id") % 5 === 0 && j < lit(n - 1), j + 1)),
        x => x.isNotNull),
      tmp, n)
    // the replay is bounded → few state partitions (per-partition state
    // commits are the dominant cost; a production stream sizes this up)
    graft.stream.Jobs.runDedupStream(spark, in, lateness = "40 days",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** CUBE over (returnflag, linestatus) — completes the grouping-sets
    * family next to q30's ROLLUP, with `grouping_id` disambiguating
    * aggregate-null from data-null rows (both engines use the same
    * first-column-is-MSB bitmask convention).
    */
  def q56Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().cast(IntegerType).as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Sequential conversion funnel view → click → purchase with a 24 h
    * step deadline — the testdata's per-user event streams produce a
    * real drop-off (every user views; only those with a click within a
    * day of their first view, then a purchase within a day of that
    * click, survive).
    */
  def q57Funnel(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.funnel(Tables.events(spark, dir),
      "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), deadline = "24 hours")
      .orderBy(col("step"))

  /** Weekly cohort retention over high-value activity (value > 200):
    * the threshold staggers first-seen weeks so the cohort matrix has
    * real shape (unfiltered, every user is first seen in week one).
    */
  def q58CohortRetention(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.cohortRetention(
      Tables.events(spark, dir).filter(col("value") > 200),
      "user_id", "ts")
      .orderBy(col("cohort_week"), col("week_offset"))

  /** SCD Type 2: each customer's order-priority history compressed
    * into versioned rows (valid_from / valid_to / version /
    * is_current) — one key-partitioned sort carries the lag
    * change-detection, the version numbers and the lead validity
    * close-out. Bounded to o_custkey < 200 for a stable row count
    * across SFs.
    */
  def q59Scd2(spark: SparkSession, dir: String): DataFrame =
    Star.scd2(
      Tables.orders(spark, dir).filter(col("o_custkey") < 200)
        .withColumn("o_orderdate", col("o_orderdate").cast(DateType)),
      keyCol = "o_custkey", attrCol = "o_orderpriority",
      effectiveCol = "o_orderdate", tieBreaks = Seq("o_orderkey"))
      .orderBy(col("o_custkey"), col("version"))

  /** Robust outlier profile per event type: median, MAD, and the
    * |x − med| > 3·MAD count — the heavy-tail-safe DQ rule beside
    * q04's mean/stddev profile.
    */
  def q60MadOutliers(spark: SparkSession, dir: String): DataFrame =
    Analyzers.robustOutlierStats(Tables.events(spark, dir), "event_type", "value", 3.0)
      .orderBy(col("event_type"))

  /** Pivot with an EXPLICIT value list (no extra distinct job to
    * discover columns — the form that scales): weekly value totals,
    * one column per event type.
    */
  def q61Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("week", to_date(date_trunc("week", col("ts"))))
      .groupBy(col("week"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))
      .orderBy(col("week"))

  /** Stream-stream interval join (click → purchase attribution within
    * 1 h) over the four-slice replay — a REAL two-source streaming
    * query with watermarks on both sides and a time-bounded join
    * condition (state stays bounded in production). Lateness covers
    * the replayed span, so the emitted pairs are exactly the batch
    * interval join the oracle runs.
    */
  def q62StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q62")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4)
    graft.stream.Jobs.runIntervalJoinStream(spark, in,
      lateness = "40 days", maxGap = "1 hour",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** ntile decile profile — the remaining window-rank family member
    * (row_number/rank/lag/lead are covered elsewhere). A global ntile
    * is inherently a single-partition sort, so like q37's top-k the
    * window input is BOUNDED first: TakeOrderedAndProject keeps the
    * top 1000 orders, ntile runs over ≤ 1000 rows (partitioned on a
    * non-foldable constant to keep WindowExec off the warning path).
    * Unbounded decile profiles belong to the KLL sketch (q32c/q45),
    * not to a global window. Tie-break on the unique key makes bucket
    * boundaries engine-identical.
    */
  def q63NtileDeciles(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(1000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(xxhash64(col("o_orderkey")), lit(1)))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    top
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("decile"))
  }

  /** Gaps-and-islands: each event opens a variable-length availability
    * interval (5 + floor(value) mod 56 minutes); overlapping intervals
    * merge per user into maximal islands, then per-user coverage
    * stats. `floor` before the modulo keeps the double→int conversion
    * engine-identical (DuckDB rounds bare casts, Spark truncates).
    */
  def q64IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(spark, dir)
      .filter(col("user_id") < 40)
      .select(col("user_id"), col("ts").as("s"),
        expr("timestampadd(MINUTE, 5 + CAST(floor(value) AS BIGINT) % 56, ts)").as("e"))
    graft.operators.Intervals.mergeIntervals(iv, "user_id", "s", "e")
      .groupBy(col("key").as("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(unix_timestamp(col("interval_end")) - unix_timestamp(col("interval_start")))
          .as("covered_sec"),
        max(unix_timestamp(col("interval_end")) - unix_timestamp(col("interval_start")))
          .as("longest_sec"))
      .orderBy(col("user_id"))
  }

  /** HLL sketch LIFECYCLE with the built-in DataSketches functions —
    * the pattern a 100 TB incremental pipeline runs: sketch each
    * partition once (`hll_sketch_agg` per week), STORE the binary
    * sketches, merge them later (`hll_union_agg`) instead of
    * re-scanning history. The weekly estimates and the merged-month
    * estimate are checked against exact distinct counts (5% contract
    * rows, q32b's pattern: the oracle recomputes the exact side and
    * expects TRUE on every bound).
    */
  def q66HllLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("week", to_date(date_trunc("week", col("ts"))))
    val weekly = ev.groupBy(col("week")).agg(
      hll_sketch_agg(col("user_id")).as("sk"),
      countDistinct(col("user_id")).as("exact_users"))
    val merged = weekly.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_total"))
    val exactTotal = ev.agg(countDistinct(col("user_id")).as("exact_total"))
    val weeklyOk = weekly.select(
      concat(lit("week_"), col("week").cast(StringType)).as("scope"),
      col("exact_users").as("n_exact"),
      (abs(hll_sketch_estimate(col("sk")) - col("exact_users"))
        <= col("exact_users") * 0.05).as("within_5pct"))
    val totalOk = merged.crossJoin(exactTotal).select(
      lit("total_merged").as("scope"),
      col("exact_total").as("n_exact"),
      (abs(col("est_total") - col("exact_total"))
        <= col("exact_total") * 0.05).as("within_5pct"))
    weeklyOk.unionByName(totalOk).orderBy(col("scope"))
  }

  /** Weighted corpus sampling: 20 docs per language, inclusion odds
    * proportional to a deterministic weight (1 + doc_id mod 5) — the
    * Efraimidis–Spirakis key reproduced digit-for-digit in the oracle
    * (13 md5 hex digits keep every step float-exact in both engines).
    */
  def q65WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.weightedSample(
      Tables.documents(spark, dir).filter(col("doc_id") < 600)
        .withColumn("weight", (lit(1) + col("doc_id") % 5).cast(DoubleType)),
      "lang", "doc_id", "weight", k = 20)
      .select(col("doc_id"), col("lang"), col("weight"))
      .orderBy(col("lang"), col("doc_id"))

  /** Z-order (Morton) values over (partkey, suppkey) buckets — the
    * two-column data-skipping sort key, bit-for-bit reproduced in the
    * oracle. The layout write itself (`Layout.zorderWrite`) is
    * exercised in LayoutSpec; here the KEY (the part an engine must
    * get exactly right) is in the hash-checked surface.
    */
  def q67Zorder(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        graft.ext.Layout.zValue(
          col("l_partkey") % 1024, col("l_suppkey") % 1024, 10).as("zval"))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))

  /** Bigram LM quality scores (perplexity-style filter): every doc
    * scored under the corpus-trained add-one-smoothed bigram model.
    */
  def q68BigramScores(spark: SparkSession, dir: String): DataFrame =
    Text.bigramLogProbScores(
      Tables.documents(spark, dir).filter(col("doc_id") < 600), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Rolling z-score anomalies: each event against its own trailing
    * 24-event window (min 12 observations) — bounded-frame window
    * aggregates on one key sort; per-user anomaly counts.
    */
  def q69RollingZscore(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.rollingZScoreAnomalies(
      Tables.events(spark, dir).filter(col("user_id") < 40),
      "user_id", "ts", "value", "event_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy(col("user_id"))

  /** Streaming session windows over the four-slice replay: sessions
    * merge across micro-batches in the state store and emit once the
    * watermark passes their end — the q18c watermark contract applied
    * to q35's session semantics; the oracle rebuilds sessions
    * first-principles (lag + cumsum) and keeps those the final
    * watermark closed.
    */
  def q70SessionStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q70")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4)
    graft.stream.Jobs.runSessionStream(spark, in,
      gap = "30 minutes", lateness = "10 minutes",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Fuzzy entity matching: part names corrupted with a deterministic
    * one-char deletion, re-matched to the clean catalog via
    * deletion-neighborhood blocking (exact hash join on variants —
    * never a quadratic fuzzy comparison). `self_found` is TRUE on
    * every row — the recall contract lives inside the hash-checked
    * output: every corrupted name recovers its own source among the
    * candidates.
    */
  def q71FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val clean = Tables.part(spark, dir).filter(col("p_partkey") < 500)
      .select(col("p_partkey"), col("p_name"))
    val cut = (col("p_partkey") % length(col("p_name"))).cast(IntegerType)
    val dirty = clean.select(col("p_partkey").as("dirty_key"),
      concat(col("p_name").substr(lit(1), cut),
        col("p_name").substr(cut + 2, length(col("p_name")) - cut - 1)).as("dirty"))
    Dedup.deletionNeighborhoodMatch(
      clean, "p_partkey", "p_name", dirty, "dirty_key", "dirty")
      .groupBy(col("dirty_key"))
      .agg(count(lit(1)).as("n_candidates"),
        min(col("clean_key")).as("best_key"),
        min(col("dist")).as("dist"),
        bool_or(col("clean_key") === col("dirty_key")).as("self_found"))
      .orderBy(col("dirty_key"))
  }

  /** Stream-static enrichment: the events stream joined to a static
    * user-tier dim (derived from customer keys, broadcast), aggregated
    * per (tier, event_type). Stateless ⇒ identical to the batch join
    * the oracle runs.
    */
  def q72StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"),
        (col("c_custkey") % 3).cast(IntegerType).as("tier"))
    graft.stream.Jobs.runEnrichStream(spark, dir, dim, Seq("user_id"))
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("tier"), col("event_type"))
  }

  /** Gopher-style repetition filters: per-doc distinct-token fraction,
    * top-bigram occupancy, and duplicate-trigram occupancy, plus the
    * keep/drop verdict — thresholds applied in exact integer
    * arithmetic (cross-multiplication), fractions a single IEEE
    * division each, so the whole filter policy hash-checks.
    */
  def q73RepetitionFilters(spark: SparkSession, dir: String): DataFrame =
    Text.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("distinct_frac"),
        when(col("n_tokens") >= 2,
          (col("top_bigram_cnt") * 2).cast(DoubleType) / col("n_tokens"))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(col("n_tokens") >= 3,
          col("dup_trigram_occ").cast(DoubleType) / (col("n_tokens") - 2))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        (col("n_distinct") * 10 > col("n_tokens") * 3 &&
          col("top_bigram_cnt") * 20 <= col("n_tokens") * 2 &&
          // guard like the fraction above: a doc too short to HAVE
          // trigrams can't fail the trigram clause
          (col("n_tokens") < 3 ||
            col("dup_trigram_occ") * 10 <= (col("n_tokens") - 2) * 3)).as("keep"))
      .orderBy(col("doc_id"))

  /** Overlapping context-window chunking (32-token chunks, stride 24):
    * every chunk's token count and content md5 — chunk boundaries and
    * payloads both hash-checked.
    */
  def q74ChunkDocs(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.chunkDocs(
      Tables.documents(spark, dir), "doc_id", "text", chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk_toks"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Salted skew join, forced onto sort-merge (the regime where salting
    * matters — a broadcast join never skews): events fact salted by
    * event id into 8 sub-keys, the 5-key type dim replicated 8×, then
    * the per-type aggregate — identical to the plain join the oracle
    * runs. PlanSpec pins the SMJ and the salt in the join keys.
    */
  def q75SaltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val dim = events.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")))
    graft.operators.SkewJoin.salted(
      events.select(col("event_id"), col("event_type"), col("value")),
      dim.hint("merge"), Seq("event_type"), col("event_id"), buckets = 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("w_sum"),
        round(sum(col("value") * col("w")), 2).as("weighted_value"))
      .orderBy(col("event_type"))
  }

  /** Shared planted-hot-key fixture for the q248 skew-evidence pair:
    * lineitem fanned ×16 (explode), join key `k` = 0 for 80% of rows
    * (the hot key) else 1..97 — an extreme single-VALUE skew. The
    * downstream aggregate is on the join key, the real-world shape
    * where AQE declines to split the skewed SMJ partition (splitting
    * would break the co-partitioning the agg reuses), so the stall is
    * genuinely AQE-resistant, not staged by disabling AQE.
    */
  private def skewFixture(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"))
      .withColumn("rep", explode(sequence(lit(1), lit(16))))
      .select(
        when(pmod(col("l_orderkey"), lit(10)) < 8, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(97)) + 1).as("k"),
        (col("l_orderkey") * 1000 + col("l_linenumber") * 100 + col("rep")).as("rid"),
        col("l_quantity").as("v"))
    val dim = spark.range(0, 98).select(col("id").as("k"),
      (col("id") * 7 % 13 + 1).as("w"))
    (fact, dim)
  }

  /** Skew-join evidence, SALTED half: the planted hot key spreads
    * across 32 salt buckets ([[graft.operators.SkewJoin.salted]]), so
    * no task owns 80% of the join. BENCH_r records this beside
    * [[q248bSkewUnsalted]] — the measured (not asserted) win of the
    * salting machinery under real skew; both halves share one oracle,
    * so the rewrite is also pinned semantics-preserving.
    */
  def q248SkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = skewFixture(spark, dir)
    graft.operators.SkewJoin.salted(
      fact, dim.hint("merge"), Seq("k"), col("rid"), buckets = 32)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("v") * col("w")).cast(LongType).as("wv"))
      .orderBy(col("k"))
  }

  /** Skew-join evidence, UNSALTED twin: the same join forced
    * sort-merge — one task sorts and joins the hot key's 80% share
    * (AQE leaves it: splitting the SMJ partition would break the
    * co-partitioning the downstream agg on `k` reuses). Identical
    * results; the bench line carries the stall.
    */
  def q248bSkewUnsalted(spark: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = skewFixture(spark, dir)
    fact.join(dim.hint("merge"), Seq("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("v") * col("w")).cast(LongType).as("wv"))
      .orderBy(col("k"))
  }

  /** AUTO-salted skew join ([[graft.operators.SkewJoin.auto]]) — the
    * measured decision q173's report only SUGGESTED, now wired into
    * the join: one keyed counting pass yields the hot key's
    * `suggested_salts`, and the join dispatches to the salted form
    * (suggested > 4, capped at 32) or the plain join (near-uniform).
    * Two legs on ONE oracle: the q248 planted-hot fixture (80% on key
    * 0 → auto must salt — suggested ≈ 79, capped 32) and a uniform
    * re-keying of the same rows (`k = l_orderkey % 98` → auto must
    * stay plain, buckets_used = 0). The oracle replays both
    * aggregates AND both decisions (the ⌈max·n_keys/total⌉ truncating
    * arithmetic) in closed form, so a drifted threshold, a wrong cap,
    * or a semantics-changing dispatch all fail the hash. The
    * `buckets_used` column is the decision evidence; SkewJoinSpec pins
    * plan shape (salt present iff salted).
    */
  def q249SkewAutoJoin(spark: SparkSession, dir: String): DataFrame = {
    val (hotFact, dim) = skewFixture(spark, dir)
    val uniFact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .withColumn("rep", explode(sequence(lit(1), lit(16))))
      .select(pmod(col("l_orderkey"), lit(98)).as("k"),
        (col("l_orderkey") * 1000 + col("l_linenumber") * 100 + col("rep")).as("rid"),
        col("l_quantity").as("v"))
    def leg(tag: String, fact: DataFrame, buckets: Int): DataFrame =
      graft.operators.SkewJoin.dispatch(
        fact, dim.hint("merge"), Seq("k"), col("rid"), buckets)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("v") * col("w")).cast(LongType).as("wv"))
        .withColumn("leg", lit(tag))
        .withColumn("buckets_used", lit(buckets))
    // decide() runs ONCE per leg and feeds both the evidence column
    // and the dispatch (SkewJoin.dispatch = auto's join half) — the
    // r12 shape paid the counting pass twice (decide-for-evidence +
    // auto's internal decide). The two legs' counting passes are
    // independent exact aggregations — overlap them (guide §2.6).
    // Measured NOTE: persisting the exploded fact for the two
    // remaining passes was tried and REVERTED — the explode pipelines
    // off the parquet scan at ~nothing, while forced materialization
    // cost +5.6 s across two full bench runs (12.7/15.4 s vs 7.1 s).
    val (bucketsHot, bucketsUni) = Pipeline.par(
      graft.operators.SkewJoin.decide(
        hotFact, Seq("k"), threshold = 4, maxBuckets = 32),
      graft.operators.SkewJoin.decide(
        uniFact, Seq("k"), threshold = 4, maxBuckets = 32))
    leg("hot", hotFact, bucketsHot)
      .unionByName(leg("uniform", uniFact, bucketsUni))
      .select(col("leg"), col("k"), col("n"), col("wv"), col("buckets_used"))
      .orderBy(col("leg"), col("k"))
  }

  /** Asymmetric 5-gram containment pairs (near-superset detection) over
    * the FULL document corpus: the inverted-index self-join form, both
    * directions, threshold in exact integer arithmetic. 5-gram shingles
    * are the df-prefilter in disguise for this tiny-vocabulary corpus:
    * 3-grams average df ≈ 10 (every shingle is a stop-shingle,
    * Σdf² ≈ 2.8M posting-list pairs), 5-grams average df ≈ 1.1
    * (Σdf² ≈ 0.28M) with the same planted near-supersets found — the
    * standard containment-shingle width trade (rarer shingles, same
    * signal, 10× less join work).
    */
  def q76ContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables.documents(spark, dir),
      "doc_id", "text", shingleSize = 5, minPct = 30)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("size_a"),
        col("containment"))
      .orderBy(col("id_a"), col("id_b"))

  /** Per-dimension min-max standardization of the embedding corpus:
    * exact corpus-wide stats (min/max have no accumulation order) +
    * scaled values for a bounded sample — a FLOAT pipeline that
    * hash-checks bit-for-bit, because every output is an exact
    * aggregate or a single IEEE subtract/divide away from one.
    */
  def q77MinmaxScale(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.ext.Features.minMaxScaleRows(
      emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      graft.ext.Features.dimMinMax(emb, "embedding"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** INCREMENTAL near-dup gate: the 10%-of-ids "new batch" LSH-matched
    * against the 90% "historical corpus" (batch×corpus band join only —
    * the corpus never re-pairs with itself), exact-Jaccard verified,
    * then a per-batch-doc verdict. The oracle recomputes the exact
    * inverted-index Jaccard join — LSH recall on the qualifying pairs
    * (all J ≥ 0.88 here) is what the hash check pins.
    */
  def q78IncrementalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m = Dedup.minhashNearDupAgainst(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("batch_id"))
      .orderBy(col("jaccard_sim").desc, col("corpus_id"))
    val best = m.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("batch_id"), col("corpus_id").as("best_match"),
        col("jaccard_sim").as("best_jac"))
    val counts = m.groupBy(col("batch_id")).agg(count(lit(1)).as("n_matches"))
    docs.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("batch_id"))
      .join(counts, Seq("batch_id"), "left_outer")
      .join(best, Seq("batch_id"), "left_outer")
      .select(col("batch_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("has_neardup"),
        col("best_match"), col("best_jac"))
      .orderBy(col("batch_id"))
  }

  /** CDC changelog apply (MERGE INTO semantics as one aggregation):
    * customer is the base snapshot; orders replay as a keyed changelog
    * (seq = orderkey; every 7th order a DELETE, every 11th an INSERT
    * under a shifted key, the rest UPDATEs) — the applied snapshot
    * summarized per segment. Updates/inserts land in segment 'CHANGED'
    * so survivors of each path are visible in the aggregate.
    */
  /** The customer snapshot + the orders-derived changelog shared by
    * q79 and q90 — ONE definition so the two queries (and their oracle
    * SQL, which mirrors this construction) can never drift apart.
    * Only a quarter of the key space churns: untouched base rows
    * surviving verbatim is half the contract.
    */
  private def cdcBase(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))

  private def cdcChanges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 4 === 0).select(
        when(col("o_orderkey") % 11 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        lit("CHANGED").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 7 === 0, lit("D"))
          .when(col("o_orderkey") % 11 === 0, lit("I"))
          .otherwise(lit("U")).as("op"))

  def q79CdcApply(spark: SparkSession, dir: String): DataFrame = {
    Transform.applyChangelog(cdcBase(spark, dir), cdcChanges(spark, dir),
      Seq("c_custkey"), "seq", "op")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .orderBy(col("c_mktsegment"))
  }

  /** Explicit GROUPING SETS — the arbitrary-subset form that ROLLUP
    * (q30) and CUBE (q56) are shorthands for: (flag, status), (status),
    * and grand total, skipping the (flag) slice to prove the list is
    * honored verbatim.
    */
  def q80GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().cast(IntegerType).as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Equal-width histogram of document sizes (20 buckets over n_chars):
    * the one-pass corpus-profiling job — bucket boundaries in exact
    * integer arithmetic, O(buckets) output at any corpus size.
    */
  def q81Histogram(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.equalWidthHistogram(
      Tables.documents(spark, dir), "n_chars", buckets = 20)
      .orderBy(col("bucket"))

  /** Debounce (burst suppression) per (user, event_type) with a
    * 10-minute cooldown: per event type, total vs surviving events —
    * the repeated-click filter as one lag window.
    */
  def q82Debounce(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.debounce(
      Tables.events(spark, dir), Seq("user_id", "event_type"),
      "ts", "event_id", cooldown = "10 minutes")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("event_type"))

  /** Grouped top-k WITHOUT a ranking window: the bounded-heap
    * `TopKAgg` aggregate keeps k entries per group, truncates map-side
    * before the shuffle, and merges in O(k) — per-group top-3 events by
    * value. Exact (total order value DESC, id ASC), so the oracle is a
    * plain ranking window; the plan is ObjectHashAggregate with partial
    * aggregation, not a WindowExec over every row.
    */
  def q83GroupedTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull) // aggregate skips nulls; pin it in the data
      .groupBy((col("user_id") % 50).as("bucket"))
      .agg(graft.ext.TopKAgg.topKAgg(col("value"), col("event_id"), 3).as("top"))
      .select(col("bucket"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("bucket"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("e.id").as("event_id"), col("e.val").as("value"))
      .orderBy(col("bucket"), col("rank"))

  /** Tokenizer vocab build: top-50 terms by corpus frequency with
    * deterministic contiguous ids ((count DESC, term ASC) rank) — two
    * engines mint identical ids, which the hash check proves.
    */
  def q84VocabBuild(spark: SparkSession, dir: String): DataFrame =
    Text.buildVocab(Tables.documents(spark, dir), "text", maxSize = 50)
      .orderBy(col("token_id"))

  /** Schema-evolution union: an old-schema slice (no priority column)
    * and a new-schema slice union by NAME with missing columns
    * null-filled — the schema-drift tolerance every long-lived
    * ingestion needs — then aggregate with the missing marker visible.
    */
  def q85SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val v1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val v2 = orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("<missing>")).as("priority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("priority"))
  }

  /** Linear quality-classifier inference (fastText-shape): fixed
    * weights over four exact text features; sigmoid score rounded 4
    * (the one transcendental), keep decision on the exact logit
    * (`z ≥ 0` — bit-reproducible, so the POLICY hash-checks unrounded).
    */
  def q86QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val z = Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("score"),
        (z >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Corpus tokenization under the built vocab (q84's op at maxSize=20
    * so OOV is real): tokens broadcast-join the vocab, OOV → −1, and
    * each doc's id sequence md5s in POSITION order — the
    * train-the-vocab-then-encode-the-corpus two-stage pipeline, both
    * stages deterministic.
    */
  def q87TokenizeCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = Text.buildVocab(docs, "text", maxSize = 20)
      .select(col("term"), col("token_id"))
    docs.select(col("doc_id"),
      posexplode(Text.tokens(col("text"))).as(Seq("pos", "term")))
      .join(broadcast(vocab), Seq("term"), "left_outer")
      .withColumn("tid", coalesce(col("token_id"), lit(-1L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            e => e.getField("tid").cast(StringType)))).as("ids_md5"))
      .orderBy(col("doc_id"))
  }

  /** Keep-one-per-cluster corpus materialization — dedup's actual
    * deliverable: q51's near-dup clusters drive an anti join that
    * drops every non-canonical member, and the SURVIVING corpus
    * aggregates per language. Cluster → canonical → filtered corpus in
    * one declarative chain.
    */
  def q88DedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 600)
    // drop-set only (no cluster table consumer): the driver union-find
    // fast path under its cap, ClustersSpec-pinned == the distributed
    // closure — saves the propagation loop's checkpoint/probe jobs
    val drops = graft.ext.Clusters.dupDropIds(
      Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        shingleSize = 1, threshold = 0.95),
      "id_a", "id_b")
    docs.join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  /** q88's deliverable on the SCALE path: the same keep-one-per-cluster
    * corpus, but near-dup pairs come from MinHash+LSH banding
    * (`O(docs × bands)` map work + a bucket join — the only dedup you
    * can run at 100 TB) instead of the exact all-pairs Jaccard join the
    * oracle recomputes. q13 pins pair-level LSH ≡ exact at these
    * settings (16 hashes / 8 bands → collision threshold ≈ 0.42, well
    * under the 0.5 verify cut); this row pins the COMPOSITION: LSH
    * pairs → connected components → canonical anti-join → surviving
    * corpus, hash-equal to the exact-path result end to end. FULL
    * corpus — no doc_id slice.
    */
  def q88bDedupCorpusLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // drop-set only: dupDropIds fast path (see q88)
    val drops = graft.ext.Clusters.dupDropIds(
      Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5),
      "id_a", "id_b")
    docs.join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  /** TRUE rate-limit throttle (anchor = last KEPT event, inherently
    * sequential per key — `flatMapSortedGroups`, the justified
    * last-resort tier): per user, distinct event times thinned to at
    * most one survivor per 6 h window chain. The oracle rebuilds the
    * anchor chain with a recursive CTE, so even the sequential
    * recurrence is hash-checked cross-engine.
    */
  def q89Throttle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).filter(col("user_id") < 12)
      .select(col("user_id"), col("ts")).distinct()
    val kept = graft.ext.TimeSeries.throttle(
      ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit(0L).as("tie")).as[(Long, Long, Long)],
      cooldownUs = 6L * 3600L * 1000000L)
      .groupBy(col("_1").as("user_id")).agg(count(lit(1)).as("n_kept"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .join(kept, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** Table-version diff (snapshot reconciliation): the CDC-applied
    * snapshot (q79's op) full-outer-joined against the original base on
    * the key, rows classified added / removed / changed / unchanged by
    * payload comparison — the regression-diff every pipeline migration
    * runs. One shuffle join; counts + key checksums per status.
    */
  def q90TableDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = cdcBase(spark, dir)
    val next = Transform.applyChangelog(base, cdcChanges(spark, dir),
      Seq("c_custkey"), "seq", "op")
    val a = base.select(col("c_custkey"),
      struct(col("c_mktsegment"), col("c_acctbal")).as("old_p"))
    val b = next.select(col("c_custkey"),
      struct(col("c_mktsegment"), col("c_acctbal")).as("new_p"))
    a.join(b, Seq("c_custkey"), "full_outer")
      .withColumn("status",
        when(col("old_p").isNull, lit("added"))
          .when(col("new_p").isNull, lit("removed"))
          .when(col("old_p") === col("new_p"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("key_sum"))
      .orderBy(col("status"))
  }

  /** Cross-table referential-integrity audit — the DQ family's missing
    * multi-table check: orphaned lineitems (no order) and orphaned
    * orders (no customer) via anti joins, reported beside the parent
    * row counts. On clean TPC-H-ish data both orphan counts are 0 —
    * the point: the AUDIT itself is the hash-checked artifact, and any
    * integrity regression in an ingest flips the row.
    */
  def q91IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    // one aggregation per relationship (rows + orphans in the same
    // pass), no driver-side counts
    def audit(child: DataFrame, childKey: String, parent: DataFrame,
        parentKey: String, label: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey).as("__k")).distinct()
          .withColumn("__p", lit(1)), col(childKey) === col("__k"), "left_outer")
        .agg(count(lit(1)).as("rows"),
          // a no-group agg over ZERO rows yields sum=NULL; the audit
          // must report 0 orphans for an empty child, like the oracle
          coalesce(sum(when(col("__p").isNull, 1L).otherwise(0L)), lit(0L))
            .as("orphans"))
        .select(explode(array(
          struct(lit(s"${label}_rows").as("check"), col("rows").as("n")),
          struct(lit(s"${label}_orphans").as("check"), col("orphans").as("n")))).as("e"))
        .select(col("e.check").as("check"), col("e.n").as("n"))
    audit(Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey", "lineitem")
      .unionByName(audit(Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey", "orders"))
      .orderBy(col("check"))
  }

  /** Sparse TF-IDF cosine near-dup pairs via the inverted-index
    * self-join — lexical-feature similarity beside shingle Jaccard
    * (q12) and dense-embedding cosine (q22); IDF crushes the
    * ubiquitous terms this tiny-vocab corpus is full of, so only
    * genuinely similar term profiles cross the threshold.
    */
  def q92TfidfCosine(spark: SparkSession, dir: String): DataFrame =
    Text.tfidfCosinePairs(
      Tables.documents(spark, dir).filter(col("doc_id") < 400),
      "doc_id", "text", threshold = 0.82)
      .orderBy(col("id_a"), col("id_b"))

  /** The `dfCap` scale path of q92, over the FULL corpus: this corpus
    * is 30 hot terms (df ≈ 77% of docs — Σdf² ≈ 450M posting-list
    * pairs at sf0.1, the quadratic blowup a real corpus's stop-words
    * produce) plus ONE rare discriminative term (df = 5%). Capping the
    * index at df ≤ n_docs/2 drops every hot term BEFORE the self-join
    * — Σdf² falls to (0.05·n)², ~7000× less join work — while norms
    * stay full-vocabulary, so surviving scores are exact lower bounds
    * of the true cosine and every pair sharing the rare term still
    * crosses the threshold. The cap is corpus-relative (`count()/2`,
    * one scalar driver hop at definition time, q96's max-seq class)
    * because an absolute cap cannot track corpus growth across SFs.
    */
  def q92bTfidfCosineCapped(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // cap stays Long: an Int cap overflows negative above ~4.3B docs,
    // silently emptying the index at exactly the scale dfCap exists for
    val cap = docs.count() / 2
    Text.tfidfCosinePairs(docs, "doc_id", "text",
      threshold = 0.05, dfCap = Some(cap))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Bloom-filter decontamination contract: the sub-linear probe must
    * flag EVERY exactly-contaminated document (bloom filters have no
    * false negatives — `n_missed` must be 0) with the false-positive
    * overshoot inside a 5% budget. The exact semi-join (q48's ground
    * truth, same benchmark slice and shingle width) rides along to
    * adjudicate, so the guarantee itself is hash-checked.
    */
  def q93BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val flagged = graft.ext.TrainPrep.bloomContaminatedDocs(
      docs, bench, "doc_id", "text", n = 5)
    val exact = graft.ext.TrainPrep.contaminatedDocs(
      docs, bench, "doc_id", "text", n = 5)
    flagged.join(exact, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated") && !col("flagged"), 1L).otherwise(0L))
          .as("n_missed"),
        (sum(when(!col("contaminated") && col("flagged"), 1L).otherwise(0L)) * 20
          <= count(lit(1))).as("fp_bound_ok"))
  }

  /** Temperature-scaled mixture weights per language (alpha = 0.5):
    * the multilingual re-balancing computation — low-resource languages
    * get sample_rate > 1, the dominant one < 1. All six decimals
    * hash-checked.
    */
  def q94MixtureWeights(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.mixtureWeights(
      Tables.documents(spark, dir), "lang", alpha = 0.5)
      .orderBy(col("lang"))

  /** Deterministic corpus shuffle into 8 shards: shard assignment and
    * within-shard order both md5-derived, verified by an order digest —
    * md5 over the comma-joined doc ids in position order — so the
    * EXACT permutation (not just the membership) hash-checks.
    */
  def q95ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.deterministicShuffle(
      Tables.documents(spark, dir), "doc_id", numShards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("doc_id")))),
            s => s.getField("doc_id").cast(StringType)),
          ",")).as("order_digest"))
      .orderBy(col("shard"))

  /** q79's CDC merge as a REAL incremental stream: the changelog
    * replays in four seq-ordered micro-batches (one file each,
    * oldest-first mod times) through `runChangelogStream`, each batch
    * merging into a versioned snapshot; the FINAL snapshot must equal
    * the one-shot batch apply — q79's oracle verbatim.
    */
  def q96StreamCdc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q96")
    val changes = cdcChanges(spark, dir)
    val mx = changes.agg(max(col("seq"))).head().getLong(0)
    // contiguous ascending seq ranges — the order a CDC log delivers,
    // which is runChangelogStream's cross-batch contract. One-pass
    // form (r16): slice = searchsorted(seq) over the same quarter
    // cuts (seq = o_orderkey ≥ 1, so the old `seq > 0` lower bound of
    // slice 0 admits every row, as here); the changelog merge keys on
    // (c_custkey, max seq), so within-batch row order is immaterial
    val in = writeSliceFilesByExpr(changes,
      (1 until 4).reverse.foldLeft(lit(3): Column)(
        (acc, i) => when(col("seq") <= mx * i / 4, i - 1).otherwise(acc)),
      tmp, 4)
    val v = Jobs.runChangelogStream(spark, cdcBase(spark, dir), in,
      changes.schema, Seq("c_custkey"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    // retention runs IN the oracle-checked path: superseded full
    // snapshots are deleted, the latest version must be untouched
    graft.sinks.Writers.pruneSnapshotVersions(spark, s"$tmp/snap", keep = 2)
    spark.read.parquet(s"$tmp/snap/v=$v")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .orderBy(col("c_mktsegment"))
  }

  /** Per-language token-budget fill: the greedy corpus-selection step —
    * each language admits its highest-quality documents (q86's exact
    * logit as the score) until a 3,000-token budget is hit. Both
    * regimes are exercised: small languages fit entirely, the dominant
    * one is cut mid-rank; prefix semantics make the cut reproducible.
    */
  def q97BudgetFill(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("quality",
        Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
    graft.ext.TrainPrep.budgetFill(
      docs, "lang", "doc_id", "quality", "n_tokens", budget = 3000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"))
      .orderBy(col("lang"))
  }

  /** SKIP-AND-CONTINUE budget fill (q97's knapsack-greedy sibling):
    * same per-language 3,000-token budget, but straddlers are skipped
    * and the scan continues, so every language packs to within one
    * doc-size of its budget (~2998/3000 here) where prefix fill stops
    * at the first straddler. Inherently sequential per group —
    * `flatMapSortedGroups`, the justified last-resort tier — and the
    * oracle rebuilds the ADMITTED chain with a correlated-min
    * recursive CTE (q89's verified pattern: recursion depth = number
    * of admitted docs, not corpus size).
    */
  def q97cBudgetFillSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("quality",
        Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
      .select(col("lang"), col("doc_id"), col("quality"), col("n_tokens"))
      .as[(String, Long, Double, Long)]
    graft.ext.TrainPrep.budgetFillSkip(docs, budget = 3000L)
      .toDF("lang", "doc_id", "quality", "n_tokens", "admitted_tokens", "admitted")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"))
      .orderBy(col("lang"))
  }

  /** GLOBAL token-budget fill (q97's single-target form): one 10k-token
    * budget over the whole corpus, languages competing in one global
    * (quality DESC, id ASC) order — the two-phase bucketed prefix sum
    * that never global-sorts. Per-language sums of the EXACT global
    * running totals hash-check, so every doc's global prefix value is
    * pinned (not just the admitted counts); a bucket-boundary error of
    * even one token anywhere in the corpus would flip `running_sum`.
    */
  def q97bBudgetFillGlobal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("quality",
        Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
    graft.ext.TrainPrep.budgetFillGlobal(
      docs, "doc_id", "quality", "n_tokens", budget = 10000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"),
        sum(col("running_tokens")).as("running_sum"))
      .orderBy(col("lang"))
  }

  /** Scalar uint8 vector quantization against corpus min/max stats: the
    * 4× storage cut for billion-vector ANN. Every code is order-free
    * IEEE arithmetic, so the EXACT code arrays hash-check via a
    * per-vector digest (plus sum/max as readable checks), not just
    * their statistics.
    */
  def q98QuantizeVectors(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.ext.Features.quantizeVectors(
      emb.filter(col("vec_id") < 200), "vec_id", "embedding",
      graft.ext.Features.dimMinMax(emb, "embedding"))
      .select(col("vec_id"),
        md5(array_join(transform(col("codes"), _.cast(StringType)), ","))
          .as("codes_digest"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        array_max(col("codes")).as("code_max"))
      .orderBy(col("vec_id"))
  }

  /** q89's rate-limit throttle as a REAL stateful stream: the per-key
    * last-kept anchor lives in `transformWithState` ValueState across
    * four event-time-ordered micro-batches; the kept set must equal the
    * batch `flatMapSortedGroups` recurrence — q89's recursive-CTE
    * oracle verbatim. (Duplicate (user, ts) pairs need no explicit
    * distinct in the stream: an equal-timestamp event is 0 µs after
    * the anchor and drops, which is the same kept set.)
    */
  def q99StreamThrottle(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q99")
    val in = writeEventSlicesPlain(
      eventsForReplay(spark, dir).filter(col("user_id") < 12), tmp, 4)
    val kept = graft.stream.Stateful
      .runThrottleStream(spark, in, cooldownUs = 6L * 3600L * 1000000L,
        stateShufflePartitions = Some(8))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept"))
    Tables.events(spark, dir).filter(col("user_id") < 12)
      .select(col("user_id"), col("ts")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .join(kept, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** CAPSTONE: the corpus-curation pipeline a training-data team runs
    * end-to-end, composed entirely from this library's operators —
    * quality gate (exact logit ≥ 0) → exact dedup (canonical min-id
    * per fingerprint; planted duplicate copies prove the stage works)
    * → benchmark decontamination (drop docs sharing any 5-gram with
    * the bench slice) → per-language token-budget fill (best-quality
    * first) → deterministic shard assignment. Every stage is a
    * map/keyed-shuffle/broadcast-join shape that was already verified
    * individually (q86, q11, q48, q97, q95); this row hash-checks
    * their COMPOSITION — the id_sum proves exactly which documents
    * survived all five gates and where they landed.
    */
  /** q100's five-stage pipeline over an arbitrary (doc_id, lang,
    * text) frame — factored out so the WARC-fronted capstone (q244)
    * runs the IDENTICAL plan on wire-recovered documents and shares
    * the oracle verbatim.
    */
  private def curateCorpusPipeline(docs: DataFrame): DataFrame = {
    // the source is referenced by the dup-plant union (twice), the
    // benchmark slice, and through every later stage — checkpoint it
    // once so the upstream (a parquet scan for q100, the full
    // gunzip → WARC → HTTP → HTML recovery for q244/q245) is walked
    // exactly once instead of per downstream reference
    val src = docs.localCheckpoint(true)
    // planted exact duplicates: every 40th doc re-enters under a high id
    val corpus = src.unionByName(src.filter(col("doc_id") % 40 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    // 1. quality gate on the exact logit; checkpointed too — the dedup
    // canonical aggregate, the dedup join, and decontamination each
    // reference it, and the logit is the pipeline's hottest expression
    val gated = corpus.withColumn("z",
      Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .filter(col("z") >= 0)
      .localCheckpoint(true)
    // 2. exact dedup — keep each fingerprint's canonical (min) id
    val canonIds = Dedup.exactCanonical(gated, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    val deduped = gated.join(canonIds, Seq("doc_id"))
    // 3. decontaminate against the benchmark slice of the ORIGINAL corpus
    val bench = src.filter(col("doc_id") % 50 === 0)
    val clean = deduped.join(
      graft.ext.TrainPrep.contaminatedDocs(deduped, bench, "doc_id", "text", 5)
        .filter(!col("contaminated")).select(col("doc_id")),
      Seq("doc_id"))
    // 4. per-language budget fill, best quality first
    val admitted = graft.ext.TrainPrep.budgetFill(
      clean.withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType)),
      "lang", "doc_id", "z", "n_tokens", budget = 3000L)
      .filter(col("admitted"))
    // 5. deterministic shard assignment, then the audit aggregate
    admitted
      .withColumn("shard", pmod(graft.ext.TrainPrep.splitBucket(col("doc_id")), lit(4)))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"), col("shard"))
  }

  def q100CurateCorpus(spark: SparkSession, dir: String): DataFrame =
    curateCorpusPipeline(Tables.documents(spark, dir))

  /** The crawl-to-corpus capstone: q100's five-stage curation run on
    * documents recovered FROM THE WARC WIRE — per-record gzip
    * members carrying `WARC-Identified-Content-Language` (the real
    * WET language field) — instead of the parquet column. Ingest is
    * lossless, so the final shard audit must equal q100's
    * BYTE-FOR-BYTE: one hash check pins the whole
    * decompress → parse → gate → dedup → decontaminate → budget →
    * shard path, the full journey a crawl actually takes into a
    * training set.
    */
  def q244WarcCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      // media-synth discipline: spread the gzip-encode leg across the
      // cores — the documents scan is one partition at these sizes
      .repartition(32)
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, text) =>
        val recs = Seq(graft.sources.Warc.WarcRecord("conversion",
          s"http://example.com/doc/$id", "2026-01-01T00:00:00Z",
          Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          Option(lang).getOrElse("")))
        val bytes = graft.sources.Warc.build(recs)
        Multimodal.MediaRecord(id, graft.ext.Gzip.compress(bytes), "application/warc")
      }).toDF()
    val docs = graft.sources.Warc.warcRecords(spark, media, partitions = 8)
      .filter(col("warc_type") === "conversion")
      .select(col("media_id").as("doc_id"),
        when(col("content_language") === "", null).otherwise(col("content_language"))
          .as("lang"),
        col("text"))
    curateCorpusPipeline(docs)
  }

  /** The capstone from RAW HTTP CAPTURES: real crawl processing
    * starts at WARC `response` records — an HTTP message (status
    * line, headers, chunked/Content-Length/connection-close body,
    * optional gzip Content-Encoding) wrapping an HTML page — not at
    * the pre-extracted WET text q244 consumes. Each doc rides a
    * DIFFERENT wire form by id (identity + Content-Length /
    * Transfer-Encoding: chunked split mid-body / gzip
    * Content-Encoding), the page is a minimal HTML shell, and
    * recovery is [[graft.sources.Warc.httpResponseDocs]] →
    * [[graft.ext.Text.htmlToText]] → q100's five-stage curation. The
    * corpus text is whitespace-normal and entity-free (a pinned
    * fixture property), so extraction is lossless and the final
    * shard audit shares q100's oracle BYTE-FOR-BYTE — one hash pins
    * gunzip → WARC walk → HTTP parse → dechunk → HTML extract →
    * gate → dedup → decontaminate → budget → shard.
    */
  def q245HttpWarcCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      // media-synth discipline: the HTTP-wire build + gzip legs are
      // the expensive encode; spread them off the single-file scan
      .repartition(32)
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, text) =>
        // charsets resolved on the executor: Charset instances are not
        // java-serializable and must not ride the closure
        val ascii = java.nio.charset.StandardCharsets.ISO_8859_1
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val html = "<html><head><title>doc " + id +
          "</title></head><body><p>" + Option(text).getOrElse("") +
          "</p></body></html>"
        val hb = html.getBytes(utf8)
        val http: Array[Byte] = (id % 3) match {
          case 0 =>
            (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
              s"Content-Length: ${hb.length}\r\n\r\n").getBytes(ascii) ++ hb
          case 1 =>
            val mid = hb.length / 2
            ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              "Transfer-Encoding: chunked\r\n\r\n" +
              Integer.toHexString(mid) + "\r\n").getBytes(ascii) ++
              hb.take(mid) ++
              ("\r\n" + Integer.toHexString(hb.length - mid) + "\r\n").getBytes(ascii) ++
              hb.drop(mid) ++ "\r\n0\r\n\r\n".getBytes(ascii)
          case _ =>
            val gz = graft.ext.Gzip.compress(hb)
            (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              s"Content-Encoding: gzip\r\nContent-Length: ${gz.length}\r\n\r\n")
              .getBytes(ascii) ++ gz
        }
        val recs = Seq(graft.sources.Warc.WarcRecord("response",
          s"http://example.com/doc/$id", "2026-01-01T00:00:00Z", http,
          Option(lang).getOrElse("")))
        Multimodal.MediaRecord(id,
          graft.ext.Gzip.compress(graft.sources.Warc.build(recs)),
          "application/warc")
      }).toDF()
    val docs = graft.sources.Warc.httpResponseDocs(spark, media, partitions = 8)
      .filter(col("status") === 200)
      .select(col("media_id").as("doc_id"),
        when(col("content_language") === "", null).otherwise(col("content_language"))
          .as("lang"),
        Text.htmlToText(col("text")).as("text"))
    curateCorpusPipeline(docs)
  }

  /** The capstone on the SCALE path: identical pipeline and — by
    * construction — identical final corpus to q100, with stage 3
    * swapped for [[graft.ext.TrainPrep.decontaminateTwoStage]]: a
    * bloom map-pass gate over every doc, the exact shingle join only
    * on the flagged sliver. Shares q100's oracle verbatim, so the
    * hash check pins that the sub-linear composition loses and gains
    * NOTHING vs the broadcast-everything exact path — the property
    * that lets a 100 TB run skip the full semi-join. (Stage 2 stays
    * exact-canonical; the LSH cluster path is verified standalone by
    * q88b.)
    */
  def q100bCurateCorpusScale(spark: SparkSession, dir: String): DataFrame = {
    // same materialize-once discipline as q100's curateCorpusPipeline
    // (r16): the source feeds the dup-plant union twice plus the
    // benchmark slice, and `gated` — whose qualityLogit is the
    // pipeline's hottest expression — feeds the dedup aggregate, the
    // dedup join, and (through it) both decontamination stages; without
    // the checkpoints each consumer re-scans and re-scores the corpus
    val docs = Tables.documents(spark, dir).localCheckpoint(true)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 40 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val gated = corpus.withColumn("z",
      Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .filter(col("z") >= 0)
      .localCheckpoint(true)
    val canonIds = Dedup.exactCanonical(gated, "doc_id", "text")
      .select(col("canonical_id").as("doc_id"))
    val deduped = gated.join(canonIds, Seq("doc_id"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val clean = deduped.join(
      graft.ext.TrainPrep.decontaminateTwoStage(deduped, bench, "doc_id", "text", 5)
        .filter(!col("contaminated")).select(col("doc_id")),
      Seq("doc_id"))
    val admitted = graft.ext.TrainPrep.budgetFill(
      clean.withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType)),
      "lang", "doc_id", "z", "n_tokens", budget = 3000L)
      .filter(col("admitted"))
    admitted
      .withColumn("shard", pmod(graft.ext.TrainPrep.splitBucket(col("doc_id")), lit(4)))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"), col("shard"))
  }

  /** SemDeDup (Abbas et al. 2023) over the twin-augmented corpus
    * (q22b's construction — the isotropic synthetic embeddings have no
    * natural near-dups, so each vector gets one IEEE-exact perturbed
    * twin at cos ≈ 0.9999). k-means (k = 10, deterministic farthest-
    * point init) blocks the pairwise pass into clusters; the oracle is
    * the EXACT global pairwise keep-rule, so the hash check also pins
    * that clustering split no near-dup pair on this corpus — twin
    * vectors score near-identically against every centroid, so they
    * co-cluster; recall loss would fail the row.
    */
  def q101SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val twins = base.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => {
        val d = x.cast("double")
        (d + lit(0.001) * d * d).cast("float")
      }).as("embedding"))
    Similarity.semanticDedup(base.unionByName(twins), "vec_id", "embedding",
      k = 10, iters = 3, threshold = 0.9,
      scorer = graft.ext.VectorKernels.CosineF)
      .orderBy(col("vec_id"))
  }

  /** Cross-document repeated spans (substring-level dedup, Lee et al.
    * 2022): maximal token ranges whose 7-grams occur in ≥ 2 distinct
    * documents — the boilerplate/template excision pass. Exact
    * string-keyed form; q102b is the hashed scale path on the same
    * oracle.
    */
  def q102RepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedNgramSpans(Tables.documents(spark, dir), "doc_id", "text",
      n = 7, minDocs = 2)
      .orderBy(col("doc_id"), col("start_tok"))

  /** q102 with `hashGrams = true` — the shuffle carries 8-byte
    * xxhash64 keys instead of 7-token strings. Same oracle as q102:
    * the hash check pins that hashing the join key changes nothing on
    * this corpus (a 64-bit collision needs billions of distinct
    * grams).
    */
  def q102bRepeatedSpansHashed(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedNgramSpans(Tables.documents(spark, dir), "doc_id", "text",
      n = 7, minDocs = 2, hashGrams = true)
      .orderBy(col("doc_id"), col("start_tok"))

  /** Detect-then-apply: excise every q102 repeated span from the
    * corpus and return the rewritten docs — the downstream pass
    * substring-level dedup exists for. Every doc comes back (docs with
    * no spans untouched); `n_removed` counts excised tokens.
    */
  def q103ExciseSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val spans = Dedup.repeatedNgramSpans(docs, "doc_id", "text",
      n = 7, minDocs = 2, hashGrams = true)
    Dedup.exciseSpans(docs, spans, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q103 with the KEEP-ONE-COPY policy (`keepFirst = true`) — the
    * Lee-et-al. dedup semantics end to end: each repeated gram's
    * lowest-id doc is its keeper, so its copy of the span survives
    * excision while every other doc's copy is removed. The corpus
    * keeps exactly one instance of every repeated passage instead of
    * zero (q103's excise-all is the boilerplate-stripping mode; this
    * is the dedup mode).
    */
  def q103bExciseKeepOne(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val spans = Dedup.repeatedNgramSpans(docs, "doc_id", "text",
      n = 7, minDocs = 2, hashGrams = true, keepFirst = true)
    Dedup.exciseSpans(docs, spans, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Epoch materialization: q94's temperature weights (α = 0.5) turned
    * into an exact per-document repeat plan for a 50k-token corpus —
    * base whole-corpus repeats plus a hash-ordered prefix getting one
    * extra, per group. At sf0.01 most languages up-sample (multiple
    * epochs); at sf0.1 the same budget down-samples — both regimes
    * hash-check against the same oracle.
    */
  def q104MaterializeMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
    val weights = graft.ext.TrainPrep.mixtureWeights(docs, "lang", alpha = 0.5)
    graft.ext.TrainPrep.materializeMixture(
      docs, "lang", "doc_id", "n_tokens", weights, totalTokens = 50000L)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Token-balanced sharding: the shuffled corpus packed into
    * ~2000-token contiguous shards via the exact two-phase global
    * prefix sum (bucket partials + broadcast offsets — zero global
    * sort). The oracle computes the same running total with one
    * global window, so the hash check pins the two-phase
    * decomposition's exactness.
    */
  def q105TokenShards(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    graft.ext.TrainPrep.tokenBalancedShards(docs, "doc_id", "n_tokens", 2000L)
      .orderBy(col("doc_id"))
  }

  /** Shared schema + slicing for the q104b/q105b incremental-plan
    * streams: the documents corpus lands in 4 micro-batches (doc_id
    * mod 4, so every batch shifts every group's totals and the plan
    * genuinely re-derives each trigger).
    */
  /** Embedding-table counterpart of [[docSliceStreamInput]]: the
    * corpus as 4 vec_id-sliced parquet arrival files.
    */
  private def embSliceStreamInput(
      spark: SparkSession, dir: String, tmp: String): (String, StructType) = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val in = writeSliceFilesByExpr(emb, pmod(col("vec_id"), lit(4)), tmp)
    (in, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true))))
  }

  /** Customer-table counterpart of [[docSliceStreamInput]]: the ER
    * corpus as 4 c_custkey-sliced parquet arrival files.
    */
  private def custSliceStreamInput(
      spark: SparkSession, dir: String, tmp: String): (String, StructType) = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val in = writeSliceFilesByExpr(cust, pmod(col("c_custkey"), lit(4)), tmp)
    (in, StructType(Seq(
      StructField("c_custkey", LongType, nullable = true),
      StructField("c_name", StringType, nullable = true),
      StructField("c_nationkey", IntegerType, nullable = true),
      StructField("c_acctbal", DoubleType, nullable = true),
      StructField("c_mktsegment", StringType, nullable = true))))
  }

  /** Event-stream counterpart: the (normalized-ts) event log as 4
    * event_id-sliced parquet arrival files.
    */
  private def eventSliceStreamInput(
      spark: SparkSession, dir: String, tmp: String): (String, StructType) = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val in = writeSliceFilesByExpr(ev, pmod(col("event_id"), lit(4)), tmp)
    (in, StructType(Seq(
      StructField("event_id", LongType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("event_type", StringType, nullable = true),
      StructField("value", DoubleType, nullable = true))))
  }

  private def docSliceStreamInput(
      spark: SparkSession, dir: String, tmp: String,
      withSource: Boolean = false): (String, StructType) = {
    val cols = Seq(col("doc_id"), col("lang"), col("text")) ++
      (if (withSource) Seq(col("source")) else Nil)
    val docs = Tables.documents(spark, dir).select(cols: _*)
    val in = writeSliceFilesByExpr(docs, pmod(col("doc_id"), lit(4)), tmp)
    (in, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("text", StringType, nullable = true)) ++
      (if (withSource) Seq(StructField("source", StringType, nullable = true))
       else Nil)))
  }

  /** STREAMING twin of q104: the epoch plan maintained INCREMENTALLY —
    * each micro-batch appends to a versioned corpus snapshot and
    * re-derives the full mixture → repeat plan (a corpus-GLOBAL
    * property: one arriving doc shifts its whole group's repeat
    * counts, so the incremental form is snapshot recompute, not row
    * state — see [[graft.stream.Jobs.runPlanRecomputeStream]]). Every
    * plan operator is deterministic in corpus content, so the final
    * published plan is bit-identical to the batch path — q104's own
    * oracle checks it.
    */
  def q104bMixtureStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q104b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => {
        val d = corpus.withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
        val weights = graft.ext.TrainPrep.mixtureWeights(d, "lang", alpha = 0.5)
        graft.ext.TrainPrep.materializeMixture(
          d, "lang", "doc_id", "n_tokens", weights, totalTokens = 50000L)
          .select(col("lang"), col("doc_id"), col("n_tokens"),
            col("base_repeats"), col("extra_repeat"), col("n_repeats"))
      }, filesPerTrigger = 2)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** STREAMING twin of q105: token-balanced sharding maintained
    * incrementally over the growing corpus (same snapshot-recompute
    * mechanics as q104b — `tokens_before` is a global prefix sum, so
    * any arrival can shift every later doc's shard). Final state
    * hash-checks against q105's batch oracle.
    */
  def q105bShardStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q105b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.TrainPrep.tokenBalancedShards(
        corpus.select(col("doc_id"),
          Text.tokenCount(col("text")).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", 2000L), filesPerTrigger = 2)
      .orderBy(col("doc_id"))
  }

  /** Contamination attribution: the audit report behind q48's flags —
    * which benchmark doc leaked into which corpus doc, with distinct
    * shared-4-gram counts and the doc's shingle total (4-grams rather
    * than q48's 5-grams: the report is the investigative view, so it
    * casts a slightly wider net than the drop gate). Same benchmark
    * slice as q48/q93 (doc_id % 50 = 0), self-pairs excluded.
    */
  def q106ContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.TrainPrep.contaminationReport(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 4)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** q106 with `hashShingles = true` — the audit view's scale form:
    * the benchmark broadcast and every join-key compare carry 8-byte
    * xxhash64 values instead of 4-gram strings (the q102b pattern, at
    * a real benchmark-suite size a ~10× narrower broadcast). Same
    * oracle as q106: the hash check pins hashed ≡ exact shared-shingle
    * counts on this corpus.
    */
  def q106bContaminationReportHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.TrainPrep.contaminationReport(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 4,
      hashShingles = true)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Product quantization codes over the embeddings corpus: m = 16
    * subspaces × k = 16 centroids (64 bits/vector vs 2048 for
    * float32×64 — 32× compression). Codes depend on the Spark-side
    * k-means, so — like q23 — the row stays rows-only and q107b
    * carries the hash-checked accuracy contract.
    */
  def q107PqCodes(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cbs = graft.ext.Features.pqTrainCodebooks(
      base, "vec_id", "embedding", m = 16, k = 16, iters = 3)
    // driver-visible surface: the m=16 × k=16 nibble codes ARE a 64-bit
    // word — pack them into ONE bigint (shiftleft, not `*16`: bit ops
    // wrap instead of tripping ANSI overflow when the top nibble sets
    // the sign bit) so the harness can sort and row-count the frame;
    // the array<int> form stays the library API (Features.pqEncode)
    graft.ext.Features.pqEncode(base, "vec_id", "embedding", cbs)
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L),
          (acc, c) => shiftleft(acc, 4) + c).as("code64"))
      .orderBy(col("vec_id"))
  }

  /** Accuracy contract for the PQ path (the q23b pattern): ADC
    * recall@10 against the exact L2 brute force, and reconstruction
    * MSE against the corpus per-dimension variance (the MSE of the
    * best constant predictor — quantizing must beat it decisively).
    * Measured on this ISOTROPIC corpus (the PQ worst case, nothing
    * clusters — mirroring q23b's regime note): recall@10 0.43 at
    * sf0.01 / 0.26 at sf0.1 (64 PQ bits on 64 isotropic dims; shrinks
    * with corpus size as true neighbors crowd the quantization cells;
    * FeaturesSpec pins exact-code recovery on CLUSTERED data, the
    * realistic regime), MSE/variance ≈ 0.32/0.34 — bounds pinned with
    * margin below. Oracle is the expected TRUE rows, so a regression
    * fails the gate.
    */
  def q107bPqContract(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cbs = graft.ext.Features.pqTrainCodebooks(
      base, "vec_id", "embedding", m = 16, k = 16, iters = 3)
    val codes = graft.ext.Features.pqEncode(base, "vec_id", "embedding", cbs)
    val queries = embQueries(spark, dir)
    val adc = graft.ext.Features.pqAdcTopK(codes, queries, cbs, 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(queries, base, 10,
      scorer = (a, b) => graft.ext.Features.negSquaredL2(a, b))
      .select(col("query_id"), col("vec_id"))
    withCached(codes, exact) {
      val hits = exact.join(adc, Seq("query_id", "vec_id")).count()
      val recall = hits.toDouble / exact.count()
      val recon = graft.ext.Features.pqDecode(codes, "vec_id", "codes", cbs)
      val mse = base.join(recon, Seq("vec_id"))
        .select(explode(arrays_zip(col("embedding"), col("recon_vec"))).as("z"))
        .select((col("z.embedding").cast("double") - col("z.recon_vec").cast("double")).as("d"))
        .agg(avg(col("d") * col("d"))).head().getDouble(0)
      val variance = base
        .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
        .groupBy(col("dim")).agg(var_pop(col("v")).as("dv"))
        .agg(avg(col("dv"))).head().getDouble(0)
      import spark.implicits._
      Seq(
        ("pq_adc_recall_at_10_ge_0.2", recall >= 0.2),
        ("pq_mse_below_half_dim_variance", mse < 0.5 * variance))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** STREAMING corpus curation: the q100 capstone's gate →
    * decontaminate → dedup front half as a real 4-micro-batch
    * incremental stream (docs sliced by doc_id mod 4, so duplicate
    * content crosses batch boundaries and the dedup state is
    * genuinely exercised). Decontamination is exact (benchmark
    * shingle hashes as a plan literal, self-flagging by design — a
    * benchmark doc arriving in the corpus IS contamination); dedup is
    * fingerprint-keyed `dropDuplicatesWithinWatermark`. The output
    * aggregate is content-derived (token count, quality logit), so it
    * is independent of WHICH copy of a duplicate survives — the
    * property that makes an arrival-order-dependent stream
    * batch-oracle-checkable (hash collisions aside, the hashed
    * shingle overlap ≡ the oracle's string form — q48's disclosed
    * equivalence).
    */
  def q108StreamCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-q108")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        (lit(1700000000L) + col("doc_id")).cast(TimestampType).as("ts"))
    val in = writeSliceFilesByExpr(docs, pmod(col("doc_id"), lit(4)), tmp)
    val w = Seq(-2.4, 2.0, -3.0, 1.5, 2.5)
    val benchHashes = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(explode(graft.ext.VectorKernels.textShingleHashes(col("text"), 5)).as("h"))
      .distinct().orderBy(col("h")).as[Long].collect().toSeq
    graft.stream.Jobs.runCurateStream(spark, in, w, benchHashes,
      shingleSize = 5, lateness = "40 days", stateShufflePartitions = Some(8))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
        round(sum(Text.qualityLogit(col("text"), w)), 4).as("sum_z"))
  }

  /** IVF-ADC composition — the `IndexIVFPQ` shape (FAISS's default
    * billion-scale index) from the two halves this library already
    * verifies separately: q23's coarse k-means cells gate WHICH rows
    * are scored, q107's PQ codes decide HOW they are scored (ADC, no
    * float vectors rematerialized). nprobe = 5 of k = 10 cells, so
    * each query's scan touches ~half the code table as a map pass.
    * k-means-dependent like q23/q107 → rows-only; q109b carries the
    * hash-checked recall contract.
    */
  def q109IvfAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // the two quantizer trainings are independent action sequences
    // over the same frame — overlap them (guide §2.6)
    val (clustered, cbs) = Pipeline.par(
      Similarity.kmeansLabels(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    // label rides the encode map pass (carryCols) — no join back
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    Features.ivfAdcTopK(codes, Similarity.clusterCentroids(clustered),
      embQueries(spark, dir), cbs, k = 5, nprobe = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall contract for the IVF-ADC composition, two referees:
    * recall@10 against the EXACT L2 brute force (the end-to-end
    * accuracy — compounds q23b's cell-probe loss with q107b's
    * quantization loss, so its bound sits below both), and recall@10
    * against the FULL-SCAN ADC (q107's pqAdcTopK — isolates the
    * cell-probe loss alone given identical scoring, the q23b bound's
    * analogue). Measured on this ISOTROPIC corpus (ANN worst case, see
    * q23b/q107b; `tools/AnnProbe` reprints these): vs-exact 0.36 at
    * sf0.01 / 0.26 at sf0.1; vs-full-ADC 0.68 at both — bounds pinned
    * with margin below. Oracle is the expected TRUE rows, so a
    * regression fails the gate.
    */
  def q109bIvfAdcContract(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // independent trainings — overlap (guide §2.6), results unchanged
    val (clustered, cbs) = Pipeline.par(
      Similarity.kmeansLabels(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    val queries = embQueries(spark, dir)
    val ivfAdc = Features.ivfAdcTopK(codes, Similarity.clusterCentroids(clustered),
      queries, cbs, k = 10, nprobe = 5)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(queries, base, 10,
      scorer = (a, b) => graft.ext.Features.negSquaredL2(a, b))
      .select(col("query_id"), col("vec_id"))
    val fullAdc = graft.ext.Features.pqAdcTopK(
      codes.select(col("vec_id"), col("codes")), queries, cbs, 10)
      .select(col("query_id"), col("vec_id"))
    withCached(codes, exact, ivfAdc, fullAdc) {
      val nExact = exact.count().toDouble
      val recallExact = exact.join(ivfAdc, Seq("query_id", "vec_id")).count() / nExact
      val recallFull = fullAdc.join(ivfAdc, Seq("query_id", "vec_id")).count() /
        fullAdc.count().toDouble
      import spark.implicits._
      Seq(
        ("ivf_adc_recall_at_10_vs_exact_ge_0.15", recallExact >= 0.15),
        ("ivf_adc_recall_at_10_vs_full_adc_ge_0.6", recallFull >= 0.6))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** Exact re-rank of ADC candidates — the FAISS `IndexRefineFlat`
    * stage ([[graft.ext.Features.refineTopK]]): ADC proposes C = 30
    * candidates per query, their full-precision vectors (and ONLY
    * theirs) are fetched by an id-keyed join and exactly re-scored,
    * top 10 by exact L2 survive. Three hash-checked contract rows:
    * the subset row and the ≥-ADC row are THEOREMS of the
    * construction under the shared (rounded score desc, id asc)
    * ordering — every exact-top-10 member the raw ADC@10 finds has at
    * most 9 candidates beating it exactly, so refinement can only add
    * recall, never lose it — and the absolute row pins the measured
    * end-to-end recall (isotropic corpus, ANN worst case; ADC@10
    * alone measures 0.46/0.43/0.26 at sf0.001/0.01/0.1, refined
    * 0.79/0.70/0.54 — `tools/AnnProbe` reprints these) with margin.
    */
  def q110AdcRefineContract(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cbs = graft.ext.Features.pqTrainCodebooks(
      base, "vec_id", "embedding", m = 16, k = 16, iters = 3)
    val codes = graft.ext.Features.pqEncode(base, "vec_id", "embedding", cbs)
    val queries = embQueries(spark, dir)
    val cands = graft.ext.Features.pqAdcTopK(codes, queries, cbs, 30)
    val refined = graft.ext.Features.refineTopK(
      cands, base, queries, "embedding", k = 10)
      .select(col("query_id"), col("vec_id"))
    val adc10 = cands.filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(queries, base, 10,
      scorer = (a, b) => graft.ext.Features.negSquaredL2(a, b))
      .select(col("query_id"), col("vec_id"))
    withCached(cands, refined, exact) {
      val keys = Seq("query_id", "vec_id")
      val subsetOk = refined.join(cands.select(keys.map(col): _*), keys)
        .count() == refined.count()
      val nExact = exact.count().toDouble
      val recallRefined = exact.join(refined, keys).count() / nExact
      val recallAdc = exact.join(adc10, keys).count() / nExact
      import spark.implicits._
      Seq(
        ("refined_is_subset_of_candidates", subsetOk),
        ("refined_recall_ge_raw_adc_recall", recallRefined >= recallAdc),
        ("refined_recall_at_10_ge_0.3", recallRefined >= 0.3))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** Persisted IVF-PQ index roundtrip ([[graft.ext.AnnIndex]]): build
    * the index, WRITE it (codes `partitionBy(label)`, centroid and
    * codebook side tables), READ it back in a fresh scan, search, and
    * pin that the on-disk search is row-identical to the in-memory
    * one — floats roundtrip parquet bit-exactly, so scores match to
    * the last ulp, not just ids. The label-partitioned layout is the
    * 100 TB point: the probe join keys on the partition column, so
    * Spark's dynamic partition pruning reads only the probed cells'
    * files (pinned in PlanSpec) — search IO is ~nprobe/k_coarse of
    * the index, decided at the SCAN.
    */
  def q111AnnIndexRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // independent trainings — overlap (guide §2.6), results unchanged
    val (clustered, cbs) = Pipeline.par(
      Similarity.kmeansLabels(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    // checkpointed for the same plan-truncation reason as q200: the
    // write + in-memory search + roundtrip compare below re-plan the
    // literal-heavy encode tree once per action otherwise
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
      .localCheckpoint(true)
    val centroids = Similarity.clusterCentroids(clustered).localCheckpoint(true)
    val queries = embQueries(spark, dir)
    val mem = Features.ivfAdcTopK(codes, centroids, queries, cbs,
      k = 10, nprobe = 3)
    val tmp = tempDir("graft-q111")
    graft.ext.AnnIndex.write(codes, centroids, cbs, tmp)
    val idx = graft.ext.AnnIndex.read(spark, tmp)
    val disk = graft.ext.AnnIndex.searchTopK(idx, queries, k = 10, nprobe = 3)
    val cols = Seq("query_id", "vec_id", "adc_score", "rank").map(col)
    val (d, m) = (disk.select(cols: _*), mem.select(cols: _*))
    withCached(d, m) {
      val same = d.exceptAll(m).isEmpty && m.exceptAll(d).isEmpty
      import spark.implicits._
      Seq(
        ("codebooks_roundtrip_bit_exact", idx.codebooks == cbs),
        ("disk_search_equals_memory_search", same))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** The COMPLETE production ANN search pipeline — coarse probe →
    * ADC over only the probed cells' codes → exact re-rank of the
    * survivors (FAISS `IndexIVFPQ` + `RefineFlat`, the deployed
    * billion-scale shape): [[graft.ext.Features.ivfAdcTopK]] proposes
    * C = 30 candidates per query touching ~nprobe/k of the code
    * table, [[graft.ext.Features.refineTopK]] fetches ONLY those
    * candidates' float vectors by an id-keyed join and re-scores
    * exactly. Same contract structure as q110: the ≥-row is a THEOREM
    * (IVF-ADC@10 ⊆ the C = 30 candidate set and ≤ 9 candidates can
    * exactly beat an exact-top-10 member, so refinement only adds
    * recall over raw IVF-ADC); the absolute row pins the measured
    * end-to-end recall (isotropic corpus — IVF-ADC@10 alone measures
    * 0.41/0.36/0.26 at sf0.001/0.01/0.1, the refined pipeline
    * 0.64/0.65/0.48 — `tools/AnnProbe` reprints all series).
    */
  def q114IvfPqRefinePipeline(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // independent trainings — overlap (guide §2.6), results unchanged
    val (clustered, cbs) = Pipeline.par(
      Similarity.kmeansLabels(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    val centroids = Similarity.clusterCentroids(clustered)
    val queries = embQueries(spark, dir)
    val cands = Features.ivfAdcTopK(codes, centroids, queries, cbs,
      k = 30, nprobe = 5)
    val refined = Features.refineTopK(cands, base, queries, "embedding", k = 10)
      .select(col("query_id"), col("vec_id"))
    val ivfAdc10 = cands.filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(queries, base, 10,
      scorer = (a, b) => graft.ext.Features.negSquaredL2(a, b))
      .select(col("query_id"), col("vec_id"))
    withCached(cands, exact) {
      val keys = Seq("query_id", "vec_id")
      val nExact = exact.count().toDouble
      val recallPipeline = exact.join(refined, keys).count() / nExact
      val recallIvfAdc = exact.join(ivfAdc10, keys).count() / nExact
      import spark.implicits._
      Seq(
        ("pipeline_recall_at_10_ge_0.25", recallPipeline >= 0.25),
        ("pipeline_recall_ge_raw_ivf_adc_recall", recallPipeline >= recallIvfAdc))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** Streaming index ingest — FAISS `add` as a stream
    * ([[graft.stream.Jobs.runIndexIngestStream]]): quantizers are
    * trained once and FROZEN, then the corpus arrives in
    * micro-batches (4 slices, 2 per trigger), each assigned + PQ-encoded map-only and appended
    * to the label-partitioned code table with per-batch idempotent
    * overwrite. Because assignment and encoding are deterministic per
    * row, the streamed index must be BIT-EQUAL to the batch build
    * with the same frozen quantizers — the contract checks the row
    * count AND that a full IVF-ADC search over the streamed index
    * returns row-identical results to the batch index's.
    */
  def q113StreamIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // independent trainings — overlap (guide §2.6), results unchanged
    val (centroids, cbs) = Pipeline.par(
      Similarity.trainKmeansCentroids(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    val batchDir = tempDir("graft-q113-batch")
    val tmp = tempDir("graft-q113")
    // batch referee (same frozen quantizers, one shot) and the stream
    // input slice-file write are independent — overlap them too
    val (_, in) = Pipeline.par(
      {
        val batchCodes = graft.ext.Features.pqEncode(
          Similarity.assignCells(base, "vec_id", "embedding", centroids,
            scorer = graft.ext.VectorKernels.CosineF),
          "vec_id", "embedding", cbs, carryCols = Seq("label"))
        graft.ext.AnnIndex.write(batchCodes,
          graft.ext.AnnIndex.centroidTable(spark, centroids), cbs, batchDir)
      },
      // streamed build input: 4 micro-batches through the ingest job
      writeSliceFilesByExpr(base, pmod(col("vec_id"), lit(4)), tmp))
    val streamDir = s"$tmp/index"
    graft.stream.Jobs.runIndexIngestStream(spark, in, base.schema,
      "vec_id", "embedding", centroids, cbs, streamDir,
      scorer = graft.ext.VectorKernels.CosineF, filesPerTrigger = 2)
    val batchIdx = graft.ext.AnnIndex.read(spark, batchDir)
    val streamIdx = graft.ext.AnnIndex.read(spark, streamDir)
    val queries = embQueries(spark, dir)
    val cols = Seq("query_id", "vec_id", "adc_score", "rank").map(col)
    val a = graft.ext.AnnIndex.searchTopK(batchIdx, queries, k = 10, nprobe = 3)
      .select(cols: _*)
    val b = graft.ext.AnnIndex.searchTopK(streamIdx, queries, k = 10, nprobe = 3)
      .select(cols: _*)
    withCached(a, b) {
      val sameSearch = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val sameRows = streamIdx.codes.count() == batchIdx.codes.count()
      import spark.implicits._
      Seq(
        ("streamed_index_row_count_matches_batch", sameRows),
        ("streamed_index_search_equals_batch_search", sameSearch))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** Index compaction after streaming ingest
    * ([[graft.ext.AnnIndex.compact]]): the q113 ingest necessarily
    * leaves one file per (micro-batch, cell) — exactly-once appends
    * buy the streaming small-files problem — and compaction rewrites
    * the table into the canonical `codes/label=<cell>/` layout with
    * an atomic staging swap. The contract pins that compaction is
    * SEARCH-INVARIANT (identical IVF-ADC results before and after,
    * collected before the old files are deleted) and that the batch
    * dimension — which existed only for replay idempotence — is
    * present before and gone after.
    */
  def q115CompactIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val tmp = tempDir("graft-q115")
    // three independent setup legs (kmeans training, PQ training, the
    // stream input slice-file write) — overlap all three (guide §2.6)
    val (centroids, (cbs, in)) = Pipeline.par(
      Similarity.trainKmeansCentroids(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      Pipeline.par(
        graft.ext.Features.pqTrainCodebooks(
          base, "vec_id", "embedding", m = 16, k = 16, iters = 3),
        writeSliceFilesByExpr(base, pmod(col("vec_id"), lit(4)), tmp)))
    val idxDir = s"$tmp/index"
    graft.stream.Jobs.runIndexIngestStream(spark, in, base.schema,
      "vec_id", "embedding", centroids, cbs, idxDir,
      scorer = graft.ext.VectorKernels.CosineF, filesPerTrigger = 2)
    val queries = embQueries(spark, dir)
    import spark.implicits._
    def searchSet(): Set[(Long, Long, Double, Int)] =
      graft.ext.AnnIndex.searchTopK(
        graft.ext.AnnIndex.read(spark, idxDir), queries, k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), col("adc_score"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
    val hadBatch = graft.ext.AnnIndex.read(spark, idxDir)
      .codes.columns.contains("batch")
    val before = searchSet() // materialized BEFORE the swap deletes old files
    graft.ext.AnnIndex.compact(spark, idxDir)
    val batchGone = !graft.ext.AnnIndex.read(spark, idxDir)
      .codes.columns.contains("batch")
    val after = searchSet()
    Seq(
      ("batch_dimension_present_before_compaction", hadBatch),
      ("batch_dimension_removed_after_compaction", batchGone),
      ("compacted_search_equals_streamed_search", before == after))
      .toDF("metric", "ok").orderBy(col("metric"))
  }

  /** DSIR importance log-weights (Xie et al. 2023) over the corpus
    * with the English src1/src2 slice as the target domain: hashed
    * bigram bag-of-buckets (portable md5-prefix buckets, 4096),
    * add-one-smoothed log p̂_target/p̂_corpus, summed per doc — the
    * classifier-free "make the corpus look like the target" scorer;
    * [[graft.ext.TrainPrep.weightedSample]]-composable. Fully
    * oracle-checked: every count, bucket, and log-ratio reproduces
    * bit-for-bit in the oracle engine.
    */
  def q112DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = docs.filter(col("lang") === "en" &&
      col("source").isin("src1", "src2"))
    graft.ext.TrainPrep.dsirLogWeights(docs, "doc_id", "text", target, n = 2)
      .orderBy(col("doc_id"))
  }

  /** CCNet-style cross-corpus perplexity filter (Wenzek et al. 2019):
    * a bigram LM trains on the English slice (the "reference domain")
    * and EVERY doc is scored under it; docs then land in CCNet's
    * head/middle/tail tertiles (head = closest to the reference).
    * The tertile assignment here is an exact ntile over
    * (rounded score, doc_id) so the oracle reproduces it
    * deterministically; at 100 TB the cutoffs come from a KLL sketch
    * instead ([[graft.ext.TrainPrep.budgetFillGlobal]]'s bucketing)
    * — same downstream semantics, no global sort.
    */
  def q116CrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cross_entropy"), col("doc_id"))
    Text.crossEntropyScores(docs, "doc_id", "text", ref, "text")
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          ntile(3).over(w)))
      .orderBy(col("doc_id"))
  }

  /** q116's tertile assignment WITHOUT the single-partition global
    * ntile window — the 100 TB scale twin (the q102b/q106b
    * discipline). Exact global rank comes from
    * [[graft.ext.TrainPrep.quantileNormalize]] with a constant group
    * (KLL-bucketed two-phase prefix sum: sketch cuts → broadcast range
    * join → per-bucket counts → bounded prefix offsets → per-BUCKET
    * windows, each bounded by the bucket width — zero global sort),
    * and ntile(3)'s tile-size arithmetic (first `N mod 3` tiles get
    * `N div 3 + 1` rows) replays exactly from (rank, N). Shares q116's
    * oracle verbatim; PlanSpec pins that no single-partition window
    * survives in the physical plan.
    */
  def q116cCrossEntropyTertilesScale(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    // quantileNormalize consumes its input three times (the KLL-cut
    // collect plus the bucket and offset branches of one plan), and
    // here that input embeds the full CCNet scoring joins —
    // materialize the scores once (q100b's discipline; the cluster
    // equivalent is a reliable checkpoint dir)
    val scored = Text.crossEntropyScores(docs, "doc_id", "text", ref, "text")
      .localCheckpoint(true)
    graft.ext.TrainPrep.quantileNormalize(
        scored.withColumn("__g", lit(1)), "__g", "doc_id",
        col("cross_entropy"), numBuckets = 32)
      // ntile(3) closed form: q = N div 3 tiles of base size, the first
      // r0 = N mod 3 tiles one larger; ceil-division in exact longs
      .withColumn("__t", expr(
        """CASE WHEN q_rank <= (group_n % 3) * (group_n div 3 + 1)
          |  THEN (q_rank + (group_n div 3 + 1) - 1) div (group_n div 3 + 1)
          |  ELSE (group_n % 3) +
          |    (q_rank - (group_n % 3) * (group_n div 3 + 1) + (group_n div 3) - 1)
          |      div (group_n div 3)
          |END""".stripMargin))
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("__t").cast("int")))
      .select(col("doc_id"), col("n_bigrams"), col("cross_entropy"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB form of q116's scorer: both LM joins carry xxhash64
    * keys instead of token/bigram strings. Shares q116's score oracle
    * (minus the tertile column) — hashed ≡ exact, the
    * q102b/q106b discipline.
    */
  def q116bCrossEntropyHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    Text.crossEntropyScoresHashed(docs, "doc_id", "text", ref, "text")
      .orderBy(col("doc_id"))
  }

  /** C4-style segment cleaning (Raffel et al. 2019 §2.2): split each
    * doc into segments, keep segments with ≥ 5 tokens, ≥ 1 stopword,
    * and no blocklisted token, reassemble, and drop docs with nothing
    * left. The corpus is synthetic single-line text, so the token
    * "line" stands in for C4's '\n' delimiter (disclosed; the operator
    * takes the delimiter pattern as a parameter) and "slow" stands in
    * for the bad-word list. One map pass — split/filter/reassemble are
    * array HOFs in the projection, no explode, no shuffle.
    */
  def q117CleanSegments(spark: SparkSession, dir: String): DataFrame =
    Text.cleanSegments(Tables.documents(spark, dir), "doc_id", "text",
      delimPattern = "\\bline\\b", minTokens = 5,
      requireStopword = true, blocklist = Seq("slow"))
      .filter(col("n_kept") >= 1)
      .orderBy(col("doc_id"))

  /** Paragraph-grain exact dedup with reassembly (RefinedWeb's exact
    * line dedup shape): 16-token paragraphs, globally keep-first, docs
    * rebuilt from survivors — including docs that collapse to empty
    * (n_kept = 0 rows stay visible here; a pipeline filters them).
    * Keep-first is ONE window keyed on the paragraph (keyed shuffle,
    * no global sort); reassembly one partial-agg'd groupBy(doc_id).
    */
  def q118ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.paragraphDedup(
      Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 16)
      .orderBy(col("doc_id"))

  /** q118's 100 TB form: the keep-first window keys on
    * xxhash64(paragraph) — 8-byte shuffle keys instead of paragraph
    * strings. Hashed ≡ exact; shares q118's oracle verbatim.
    */
  def q118bParagraphDedupHashed(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.paragraphDedup(
      Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 16,
      hashKeys = true)
      .orderBy(col("doc_id"))

  /** Distributed BPE merge training (Sennrich et al. 2015): 5 merge
    * rounds over the corpus at word-symbol grain — raw adjacent-pair
    * counts, lexicographic tie-break, greedy left-to-right apply.
    * The oracle replays all 5 rounds as unrolled SQL stages (pair
    * lead-window → argmax → gaps-and-islands greedy marks →
    * positional substitution), so the full iterate-count-merge loop
    * is hash-checked, not just the first round. Per round: one
    * partial-agg'd pair-count shuffle + one map-only HOF apply pass;
    * driver traffic = 1 argmax row per round.
    */
  def q119BpeMerges(spark: SparkSession, dir: String): DataFrame =
    Text.bpeMerges(Tables.documents(spark, dir), "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))

  /** The tokenizer's ENCODE half: train 5 BPE merges (q119's loop),
    * then apply the learned table to the whole corpus as ONE map-only
    * projection (5 nested greedy folds — zero shuffles, zero driver
    * hops in the apply). The merge-table collect is the bounded
    * learned artifact (5 rows), exactly how a trained tokenizer
    * deploys. Output is per-doc symbol count + an md5 over the
    * segmentation; the oracle replays the same 5 rounds and reads the
    * final symbol STATE instead of the merge table.
    */
  def q120BpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Text.bpeMerges(docs, "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    Text.bpeApply(docs, "doc_id", "text", merges)
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_syms"),
        md5(concat_ws("|", col("syms"))).as("seg_md5"))
      .orderBy(col("doc_id"))
  }

  /** Streaming ANN query serving
    * ([[graft.stream.Jobs.runQueryServeStream]]): the index builds
    * once (batch), then 20 queries arrive in 4 micro-batches and each
    * batch searches the FROZEN index, landing results under
    * `results/batch_id=<id>/` with per-batch idempotent overwrite. The
    * search is deterministic per query and the index never changes
    * mid-stream, so the streamed results must be row-identical to one
    * batch search over all 20 queries — the contract checks that
    * equality plus exactly k rows per query.
    */
  def q121StreamQueryServe(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // independent trainings — overlap (guide §2.6), results unchanged
    val (clustered, cbs) = Pipeline.par(
      Similarity.kmeansLabels(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    val tmp = tempDir("graft-q121")
    val idxDir = s"$tmp/index"
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // the index write and the stream input slice-file write are
    // independent — overlap them too
    val (_, in) = Pipeline.par(
      graft.ext.AnnIndex.write(codes,
        Similarity.clusterCentroids(clustered), cbs, idxDir),
      writeSliceFilesByExpr(queries, pmod(col("query_id"), lit(4)), tmp))
    graft.stream.Jobs.runQueryServeStream(spark, in, queries.schema,
      idxDir, s"$tmp/out", k = 10, nprobe = 3, filesPerTrigger = 2)
    val cols = Seq("query_id", "vec_id", "adc_score", "rank").map(col)
    val streamed = spark.read.parquet(s"$tmp/out/results").select(cols: _*)
    val referee = graft.ext.AnnIndex.searchTopK(
      graft.ext.AnnIndex.read(spark, idxDir), queries, k = 10, nprobe = 3)
      .select(cols: _*)
    withCached(streamed, referee) {
      val same = streamed.exceptAll(referee).isEmpty &&
        referee.exceptAll(streamed).isEmpty
      val perQuery = streamed.groupBy(col("query_id")).count()
        .filter(col("count") =!= 10).isEmpty
      import spark.implicits._
      Seq(
        ("every_query_served_exactly_k_results", perQuery),
        ("streamed_serving_equals_batch_search", same))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** Gopher document-quality rules (Rae et al. 2021, Appendix A1.1)
    * with thresholds tuned so each rule actually splits the synthetic
    * corpus (the paper's values assume web pages): word count in
    * [40, 70], mean word length in [4.0, 4.6], symbol ratio ≤ 0.1,
    * alpha-word fraction ≥ 0.8, ≥ 2 distinct stopwords. Per-doc
    * per-rule booleans plus the conjunction — one map pass, fully
    * hash-checked.
    */
  def q122GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val r = Text.gopherRules(col("text"),
      minWords = 40, maxWords = 70, minMeanLen = 4.0, maxMeanLen = 4.6,
      maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStopwords = 2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), r.as("r"))
      .select(col("doc_id"), col("r.words_in_range"),
        col("r.mean_word_len_in_range"), col("r.symbol_ratio_ok"),
        col("r.alpha_word_frac_ok"), col("r.enough_stopwords"),
        col("r.pass"))
      .orderBy(col("doc_id"))
  }

  /** Target-matched corpus selection — DSIR end to end (Xie et al.
    * 2023 §3): q112's importance log-weights become sampling weights
    * (exp of the ROUNDED log-weight, so both engines exponentiate the
    * identical input) and [[graft.ext.TrainPrep.weightedSample]]
    * draws 25 docs per language by deterministic Efraimidis–Spirakis
    * ranks — "make the corpus look like the target" as one composed,
    * fully hash-checked pipeline. Shapes: the DSIR stage's broadcast
    * ratio table + keyed shuffles (q112), then one window per
    * language group (q65).
    */
  def q123DsirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = docs.filter(col("lang") === "en" &&
      col("source").isin("src1", "src2"))
    val weights = graft.ext.TrainPrep.dsirLogWeights(
      docs, "doc_id", "text", target, n = 2)
    val weighted = docs.select(col("doc_id"), col("lang"))
      .join(weights, Seq("doc_id"))
      .withColumn("weight", exp(col("dsir_log_weight")))
    graft.ext.TrainPrep.weightedSample(weighted, "lang", "doc_id", "weight", k = 25)
      .select(col("doc_id"), col("lang"), col("dsir_log_weight"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** FineWeb-style curation funnel (Penedo et al. 2024, 2406.17557 —
    * the modern open-web recipe, composed from this round's shelf):
    * Gopher rules (q122 thresholds) → C4 segment cleaning (q117) →
    * exact dedup on the CLEANED text (q16 fingerprint, keep-min-doc)
    * → paragraph-grain dedup (q118) → CCNet perplexity tail-cut
    * (q116, worst tertile dropped). Emits the per-stage attrition
    * report — (stage, n_docs, id_sum, tok_sum) — the artifact a curation run
    * actually ships for review; every count and id-checksum is
    * hash-checked against the oracle's replay of all five stages.
    * Each stage's frame persists for exactly the funnel's lifetime
    * (successor + its own attrition row read it once each).
    */
  def q124CurationFunnel(spark: SparkSession, dir: String): DataFrame =
    curationFunnel(spark, dir) { scored =>
      // exact global ntile — single-partition window, the sf-local
      // formulation (q124b is the scale twin)
      val w3 = org.apache.spark.sql.expressions.Window
        .orderBy(col("cross_entropy"), col("doc_id"))
      scored.withColumn("__t", ntile(3).over(w3))
        .filter(col("__t") <= 2).select(col("doc_id"))
    }

  /** q124's 100 TB form: the stage-5 CCNet tail-cut computes its
    * tertile from [[graft.ext.TrainPrep.quantileNormalize]]'s
    * KLL-bucketed two-phase rank + ntile(3)'s closed-form tile
    * arithmetic (the q116c machinery) instead of a single-partition
    * global ntile window. Shares q124's oracle verbatim; PlanSpec
    * pins that no single-partition window survives in the plan.
    */
  def q124bCurationFunnelScale(spark: SparkSession, dir: String): DataFrame =
    curationFunnel(spark, dir) { scored0 =>
      // quantileNormalize consumes its input three times (KLL-cut
      // collect + the bucket and offset branches), and the funnel's
      // scored frame embeds the CCNet scoring joins over stage 4 —
      // materialize it once (q116c's discipline)
      val scored = scored0.localCheckpoint(true)
      graft.ext.TrainPrep.quantileNormalize(
          scored.withColumn("__g", lit(1)), "__g", "doc_id",
          col("cross_entropy"), numBuckets = 32)
        // keep head+middle: rank within the first two closed-form
        // ntile(3) tiles ⇔ rank ≤ N - (N div 3) (the LAST tile gets
        // exactly N div 3 rows — the smallest tile)
        .filter(col("q_rank") <= col("group_n") - expr("group_n div 3"))
        .select(col("doc_id"))
    }

  /** Shared funnel scaffold for q124/q124b — Gopher rules → C4 clean
    * → exact dedup → paragraph dedup → CCNet tail-cut, with the
    * tail-cut's keep-set computation injected by the caller.
    */
  private def curationFunnel(spark: SparkSession, dir: String)(
      tailKeep: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    val s0 = docs.select(col("doc_id"), col("text"))
    // every stage feeds BOTH its audit row and the next stage; a LAZY
    // localCheckpoint gives each one-compute semantics inside the
    // single audit action below (blocks materialize once on first
    // touch and every other leg reads them), replacing the six serial
    // per-stage driver collects — the funnel's wall clock was those
    // actions, not the data (guide §1.2: fewer passes)
    def staged(df: DataFrame): DataFrame = df.localCheckpoint(false)
    val s1 = staged(s0.filter(Text.gopherRules(col("text"),
      minWords = 40, maxWords = 70, minMeanLen = 4.0, maxMeanLen = 4.6,
      maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStopwords = 2)
      .getField("pass")))
    val s2 = staged(Text.cleanSegments(s1, "doc_id", "text",
      delimPattern = "\\bline\\b", minTokens = 5,
      requireStopword = true, blocklist = Seq("slow"))
      .filter(col("n_kept") >= 1)
      .select(col("doc_id"), col("clean_text").as("text")))
    val wfp = Window.partitionBy(Text.fingerprint(col("text")))
      .orderBy(col("doc_id"))
    val s3 = staged(s2.withColumn("__rn", row_number().over(wfp))
      .filter(col("__rn") === 1).drop("__rn"))
    val s4 = staged(Dedup.paragraphDedup(s3, "doc_id", "text", chunkTokens = 16)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("dedup_text").as("text")))
    val scored = Text.crossEntropyScores(s4, "doc_id", "text", ref, "text")
    val keep = tailKeep(scored)
    val s5 = s4.join(keep, Seq("doc_id"), "left_semi")
    // ONE action: the six audit rows union into a single frame (q187's
    // shape) instead of six sequential driver aggregations — same rows,
    // same values, same final ordering
    def stageRow(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
        sum(size(Text.tokens(col("text"))).cast("long")).as("tok_sum"))
        .select(lit(name).as("stage"), col("n_docs"), col("id_sum"),
          col("tok_sum"))
    Seq(stageRow("0_input", s0), stageRow("1_gopher_rules", s1),
      stageRow("2_c4_clean", s2), stageRow("3_exact_dedup", s3),
      stageRow("4_paragraph_dedup", s4), stageRow("5_ppl_head_middle", s5))
      .reduce(_.unionByName(_))
      .orderBy(col("stage"))
  }

  /** Unicode normalization at ingest (`ext/TextNorm`): the corpus is
    * ASCII-synthetic, so the query deterministically injects mixed
    * composed/decomposed accent forms (NFC-sensitive content) before
    * normalizing — the oracle builds the identical suffix with
    * `chr()` and checks NFC via DuckDB's `nfc_normalize` plus the
    * aggressive fold (lower → strip marks → collapse whitespace) via
    * `strip_accents(lower(s))`. `raw_len` vs `nfc_len` exposes the
    * composed/decomposed difference the normalizer must erase; the
    * folded text is compared verbatim, so the two engines must agree
    * byte-for-byte on every document.
    */
  def q125UnicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    val variant = when(col("doc_id") % 4 === 0, lit("café niño SPARK"))
      .when(col("doc_id") % 4 === 1, lit("café niño Façade"))
      .when(col("doc_id") % 4 === 2, lit("Ünïcode ølsen ß"))
      .otherwise(lit("  plain   ASCII  "))
    val nfc = TextNorm.normalize(col("s"), "NFC")
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"), lit(" "), variant).as("s"))
      .select(col("doc_id"),
        length(col("s")).as("raw_len"),
        length(nfc).as("nfc_len"),
        md5(nfc).as("nfc_md5"),
        TextNorm.foldText(col("s")).as("folded_text"))
      .orderBy(col("doc_id"))
  }

  private def classifierFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Classifier.hashedFeatures(
      Tables.documents(spark, dir), "doc_id", "text",
      when(size(filter(Text.tokens(col("text")), t => t === "vector"))
          > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
        .otherwise(0.0), numBuckets = 64)

  /** Quality-classifier TRAINING on the cluster (`ext/Classifier`):
    * fastText-shape hashed bag-of-words + Elliott-sigmoid delta rule,
    * 4 batch-GD iterations, label = "does 'vector' out-count 'spark'
    * in the doc" — a genuinely bag-of-words-learnable target on the
    * synthetic word-salad corpus (`lang`/`source` are random w.r.t.
    * the text; single-token presence is ~75% base rate — this one is
    * ~37% and linearly separable up to hash collisions). The
    * oracle replays every iteration as unrolled SQL (the q119 BPE
    * discipline) — exact integer dot products, algebraic sigmoid, and
    * floor-quantized gradient sums make the whole training run
    * bit-reproducible, so the full final weight table (65 rows,
    * scaled-integer AND double forms) hash-checks, not a summary.
    */
  def q126TrainClassifier(spark: SparkSession, dir: String): DataFrame = {
    val w = graft.ext.Classifier.trainElliott(
      classifierFeatures(spark, dir), numBuckets = 64, iters = 4)
    graft.ext.Classifier.weightsDF(spark, w).orderBy(col("bucket"))
  }

  /** Train-then-score composition: the q126 weights applied back over
    * the corpus — per-doc exact pre-activation z, Elliott probability,
    * and the keep verdict, all hash-checked per document against the
    * oracle's replay of training AND scoring.
    */
  def q126bClassifierScores(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (r16): trainElliott persists its own copy and
    // unpersists on return, so the score pass was re-tokenizing and
    // re-hashing the corpus from scratch
    val feat = classifierFeatures(spark, dir).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
    graft.ext.Classifier.score(feat, w).orderBy(col("doc_id"))
  }

  /** Tokenizer evaluation: fertility (symbols per whitespace word)
    * and compression (chars per symbol) of the learned BPE merge
    * table, per language — the standard report a tokenizer-training
    * run ships before committing to a vocab. Composes q119 (train 5
    * merges) + q120 (apply) and aggregates per lang; the oracle
    * replays the whole train+apply chain and must agree on every sum
    * and rounded ratio.
    */
  def q127TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Text.bpeMerges(docs, "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val perDoc = Text.bpeApply(docs, "doc_id", "text", merges)
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_syms"),
        aggregate(col("syms"), lit(0L),
          (acc, s) => acc + length(s).cast("long")).as("sym_chars"))
    perDoc
      .join(docs.select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast("long").as("n_words")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_syms")).as("n_syms"), sum(col("sym_chars")).as("sym_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_syms"),
        col("sym_chars"),
        round(col("n_syms").cast("double") / col("n_words"), 6)
          .as("syms_per_word"),
        round(col("sym_chars").cast("double") / col("n_syms"), 6)
          .as("chars_per_sym"))
      .orderBy(col("lang"))
  }

  /** Contrastive-pair mining for embedding-model training: per query,
    * the hardest positive (nearest same-label neighbor) and the top-5
    * hard negatives (nearest different-label neighbors) — the batch
    * that makes a contrastive loss informative. Exact scoring by the
    * codegen'd cosine kernel over a broadcast query set (one map-side
    * pass over the corpus, no shuffle until the per-query top-k);
    * ranks are decided on the ROUNDED score + vec_id so both engines
    * agree on ties. At 100 TB the same mining composes with
    * `Features.ivfAdcTopK` (probe a few cells, over-fetch, then apply
    * the label filter) — the exact form here is the referee.
    */
  def q128HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlab"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("label") =!= col("qlab")).as("is_neg"),
        round(graft.ext.VectorKernels.cosineF(col("embedding"), col("qv")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"), col("is_neg"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter((col("is_neg") && col("rank") <= 5) ||
        (!col("is_neg") && col("rank") === 1))
      .select(col("query_id"),
        when(col("is_neg"), "neg").otherwise("pos").as("role"),
        col("rank"), col("vec_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("role"), col("rank"))
  }

  /** The eval discipline every classifier-gated curation run needs:
    * train on the deterministic hashSplit train slice (80%), score
    * EVERYTHING, report the per-split confusion matrix — if holdout
    * accuracy craters vs train, the quality gate is memorizing, not
    * generalizing. All counts are exact integers (keep = z > 0 on the
    * exact integer-ratio z), so the whole report hash-checks against
    * the oracle's replay of split, training, and scoring.
    */
  def q129ClassifierHoldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val label = when(size(filter(Text.tokens(col("text")), t => t === "vector"))
        > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
      .otherwise(0.0)
    def featOf(d: DataFrame) = graft.ext.Classifier.hashedFeatures(
      d, "doc_id", "text", label, numBuckets = 64)
    val isTrain = graft.ext.TrainPrep.splitBucket(col("doc_id")) < 3277
    // materialized once (the q126b discipline): hashing is a per-row
    // map + per-doc groupBy, so filtering the TRAIN slice after
    // hashing is identical to hashing the filtered docs — one
    // tokenize+hash pass feeds both training and the full score
    val feat = featOf(docs).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(
      feat.filter(isTrain), numBuckets = 64, iters = 4)
    graft.ext.Classifier.score(feat, w)
      .withColumn("split", when(isTrain, "train").otherwise("holdout"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0 && col("keep"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0.0 && col("keep"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1.0 && !col("keep"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0.0 && !col("keep"), 1L).otherwise(0L)).as("tn"))
      .select(col("split"), col("n_docs"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        round((col("tp") + col("tn")).cast("double") / col("n_docs"), 6)
          .as("accuracy"))
      .orderBy(col("split"))
  }

  /** Corpus datasheet (Gebru et al. 2018, "Datasheets for Datasets"):
    * the per-language summary a dataset release ships — doc/token
    * counts, exact length percentiles, exact-duplicate pressure, and
    * vocabulary size. Three independent keyed aggregations (stats,
    * fingerprint dups, vocab) joined on the language key; every number
    * is exact and hash-checked. The exact `percentile` here is the
    * referee form — at 100 TB the same report runs on the mergeable
    * KLL sketch (q32c) with rank-error bounds instead of a per-group
    * sort.
    */
  def q130CorpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"),
        md5(col("text")).as("fp"))
      .withColumn("n", size(col("toks")).cast("long"))
    val stats = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        round(expr("percentile(n, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(n, 0.9)"), 4).as("p90_tokens"))
    val dups = base.groupBy(col("lang"), col("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_distinct_texts"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
    val vocab = base.select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy(col("lang")).agg(countDistinct(col("tok")).as("vocab_size"))
    stats.join(dups, Seq("lang")).join(vocab, Seq("lang"))
      .orderBy(col("lang"))
  }

  /** Classifier serving as a STREAM: train once in batch (q126's
    * exact path), freeze the weights, then score documents arriving
    * in 4 micro-batches with the map-only serving expression
    * ([[graft.ext.Classifier.scoreMapOnly]], one codegen'd fold — no
    * shuffle, no state). Frozen weights + exact long arithmetic make
    * the streamed scores bit-identical to batch scoring, so this row
    * shares q126b's full per-doc oracle — the strongest check a
    * stream can carry (the q108/q121 discipline).
    */
  def q131StreamClassifier(spark: SparkSession, dir: String): DataFrame = {
    val label = when(size(filter(Text.tokens(col("text")), t => t === "vector"))
        > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
      .otherwise(0.0)
    val w = graft.ext.Classifier.trainElliott(
      classifierFeatures(spark, dir), numBuckets = 64, iters = 4)
    val tmp = tempDir("graft-q131")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    Jobs.runClassifierServeStream(spark, in, schema, label, w)
      .orderBy(col("doc_id"))
  }

  /** Continuous RETRAINING of the quality classifier as a stream —
    * the q104b/q105b snapshot-maintenance discipline applied to model
    * training: each micro-batch appends to the versioned corpus and
    * re-trains the full 4-iteration run on the snapshot (training is
    * corpus-GLOBAL — one arriving doc shifts every gradient — so
    * recompute-on-snapshot IS the correct incremental form; replay
    * safety and crash-safe versioned publish come from
    * [[graft.stream.Jobs.runPlanRecomputeStream]]). Bit-reproducible
    * training ⇒ the final published weights are identical to the
    * batch path, so the stream shares q126's full weights oracle.
    */
  def q132RetrainStream(spark: SparkSession, dir: String): DataFrame = {
    val label = when(size(filter(Text.tokens(col("text")), t => t === "vector"))
        > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
      .otherwise(0.0)
    val tmp = tempDir("graft-q132")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work", corpus => {
      val feat = graft.ext.Classifier.hashedFeatures(
        corpus, "doc_id", "text", label, numBuckets = 64)
      val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
      graft.ext.Classifier.weightsDF(spark, w)
    }, filesPerTrigger = 2).orderBy(col("bucket"))
  }

  /** Cluster-representative selection by graph centrality
    * (`ext/Graph.pageRankScaled`): the near-dup graph (q13's LSH
    * pairs — recall 1 on this corpus, hash-checked by q13 itself
    * against the exact inverted-index oracle) ranked by 3 iterations
    * of scaled-integer PageRank, composed with the connected-component
    * clusters (q51) — `is_central` picks the doc most connected to
    * its duplicates, the centrality upgrade over the min-id canonical
    * rule. Every rank is integer arithmetic, so the oracle replays
    * the full run (edges → degrees → 3 PR iterations → recursive
    * closure → per-cluster argmax) bit-for-bit.
    */
  def q133GraphCentrality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.minhashNearDupPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select(col("id_a"), col("id_b")).persist()
    try {
      val (pr, h) = graft.ext.Graph.pageRankScaledWithHandle(
        pairs, "id_a", "id_b", iters = 3)
      val clusters = graft.ext.Clusters.dupClusters(pairs, "id_a", "id_b")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("pr_scaled").desc, col("doc_id").asc)
      val out = clusters.join(pr, clusters("doc_id") === pr("id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("deg"), col("pr_scaled"),
          (col("pr_scaled") / lit(1.0e9)).as("pr"))
        .withColumn("is_central", row_number().over(w) === 1)
        .orderBy(col("doc_id"))
      // materialize the graph-node-sized result (≤ one row per doc
      // with a near-dup edge) WHILE the LSH pairs and rank frames are
      // still cached, then release them — without this the downstream
      // write action re-derived the whole LSH + PR + closure chain a
      // second time against cold lineage. localCheckpoint is the
      // dupClusters precedent; the retained blocks are only the tiny
      // output frame.
      val snap = out.localCheckpoint(true)
      h.unpersist()
      snap
    } finally { pairs.unpersist(); () }
  }

  private def eventQi: Seq[org.apache.spark.sql.Column] = Seq(
    col("event_type"), to_date(col("ts")).as("day"),
    floor(col("value") / lit(100.0)).cast("long").as("value_band"))

  /** k-anonymity audit (`dq/Privacy`): equivalence classes over the
    * quasi-identifiers (event type × day × value band) with sizes and
    * the size-under-k risk verdict — the privacy-review artifact that
    * gates a release. One partial-aggregated keyed shuffle.
    */
  def q134KAnonymity(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Privacy.kAnonymityClasses(
      Tables.events(spark, dir), eventQi, k = 5L)
      .orderBy(col("event_type"), col("day"), col("value_band"))

  /** Enforcement twin of q134: rows in under-k classes suppressed via
    * a window count on the SAME key (no join back); the per-type
    * summary (kept/suppressed/id checksum) hash-checks the exact
    * suppression set, not just counts.
    */
  def q134bKAnonymityEnforce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val kept = graft.dq.Privacy.enforceKAnonymity(ev, eventQi, k = 5L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("event_id")).as("kept_id_sum"))
    val all = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
    all.join(kept, Seq("event_type"), "left")
      .select(col("event_type"), col("n_rows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_rows") - coalesce(col("n_kept"), lit(0L))).as("n_suppressed"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
      .orderBy(col("event_type"))
  }

  /** Train/holdout LEAKAGE audit: exact-duplicate texts that cross
    * the hashSplit boundary — decontamination (q48/q93) guards against
    * an EXTERNAL benchmark; this guards the split itself (a duplicated
    * doc landing on both sides leaks the holdout into training). One
    * fingerprint-keyed aggregation over the whole corpus: a class
    * leaks iff it spans both splits; per-split summary plus id
    * checksums pin the exact leaking set. Near-dup leakage is the
    * same audit through `minhashNearDupAgainst` (q78's directional
    * form) — exact grain here, the shape every split ships with.
    */
  def q135SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the synthetic corpus has (almost) no exact duplicates, so the
    // audit injects the real-world case deterministically: every 40th
    // doc re-crawled under a new id — its hash bucket (and so its
    // split) re-rolls, which is exactly how a duplicate leaks across
    // a split boundary
    val docs = base.unionByName(
      base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .withColumn("split",
        when(graft.ext.TrainPrep.splitBucket(col("doc_id")) < 3277, "train")
          .otherwise("holdout"))
      .select(col("doc_id"), col("split"), md5(col("text")).as("fp"))
    val classes = docs.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "holdout", 1L).otherwise(0L)).as("n_holdout"),
        sum(col("doc_id")).as("id_sum"))
    classes
      .select(
        when(col("n_train") > 0 && col("n_holdout") > 0, "leaking")
          .when(col("n_docs") > 1, "dup_within_split")
          .otherwise("unique").as("status"),
        col("n_docs"), col("n_train"), col("n_holdout"), col("id_sum"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_train")).as("n_train"), sum(col("n_holdout")).as("n_holdout"),
        sum(col("id_sum")).as("id_sum"))
      .orderBy(col("status"))
  }

  /** BM25 keyword retrieval ([[graft.ext.Text.bm25TopK]]): three
    * queries spanning the df spectrum (rare discriminative terms,
    * pure stop-words, a mixed phrase), top-10 docs each — the oracle
    * recomputes the full Okapi formula (ln is transcendental, so the
    * score rounds to 4 like q112's ln-based weights; ranks are taken
    * on the rounded score).
    */
  def q136Bm25Search(spark: SparkSession, dir: String): DataFrame =
    Text.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 10)
      .orderBy(col("query_id"), col("rank"))

  /** Hybrid retrieval: BM25 (lexical, q136's queries, top-50) fused
    * with dense cosine ranking (each query anchored to a literal seed
    * doc's embedding, top-50 over the embedded corpus) by
    * reciprocal-rank fusion ([[graft.ext.Similarity.rrfFuse]], k=60)
    * — the standard hybrid-search stack. Both legs rank on rounded
    * scores with doc_id tie-breaks, fusion is two IEEE divisions and
    * an add, so the whole pipeline hash-checks against the oracle's
    * replay of both retrievers AND the fusion.
    */
  def q137HybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val bm = Text.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 50)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = Tables.embeddings(spark, dir)
    val seeds = Seq(("disc", 7L), ("stop", 11L), ("mixed", 23L))
      .toDF("query_id", "seed_id")
    val qv = emb.join(broadcast(seeds), col("vec_id") === col("seed_id"))
      .select(col("query_id"), col("seed_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("doc_id").asc)
    val cos = emb.join(broadcast(qv), col("vec_id") =!= col("seed_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(graft.ext.VectorKernels.cosineF(col("embedding"), col("qv")), 6)
          .as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 50)
      .select(col("query_id"), col("doc_id"), col("rank"))
    Similarity.rrfFuse(bm, cos, kRrf = 60, topK = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** RAG retrieval capstone: the corpus chunked into overlapping
    * 32-token windows (q74's chunker), BM25 ranked at CHUNK grain
    * (q136's queries), top-5 contexts per query with provenance
    * (doc_id, chunk_id) and a content digest — the retrieval half of
    * a RAG stack end to end. Chunk ids pack as doc_id·1000+chunk_id
    * (chunk counts are bounded far below 1000 by doc length), so the
    * BM25 machinery runs unchanged over the chunk corpus.
    */
  def q138RagRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.ext.TrainPrep.chunkDocs(
      Tables.documents(spark, dir), "doc_id", "text",
      chunkSize = 32, stride = 24)
      .select((col("doc_id") * 1000 + col("chunk_id")).as("cid"),
        concat_ws(" ", col("chunk_toks")).as("ctext"))
    val hits = Text.bm25TopK(chunks, "cid", "ctext",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 5)
      .withColumnRenamed("doc_id", "cid")
    hits.join(chunks.select(col("cid"), md5(col("ctext")).as("chunk_md5")),
        Seq("cid"))
      .select(col("query_id"), col("rank"),
        expr("cid div 1000").as("doc_id"),
        (col("cid") % 1000).cast("int").as("chunk_id"),
        col("score"), col("chunk_md5"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** STREAMING near-dup corpus dedup
    * ([[graft.stream.Jobs.runNearDupDedupStream]]): the q88b
    * composition maintained incrementally — batches arrive in id
    * order (range slices; the earlier doc always lands first), each
    * checks against the kept snapshot with the directional band join
    * and dedups within itself, survivors append versioned. Keep-first
    * under id-ordered arrival ≡ min-id-per-cluster on clique-shaped
    * duplicate groups, so the final snapshot hash-checks against
    * q88b's exact inverted-index Jaccard oracle. The max-id driver
    * scalar that cuts the slices is a bounded hop (q92b's class).
    */
  def q139StreamNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val step = maxId / 3 + 1
    val tmp = tempDir("graft-q139")
    // THREE id-ordered slices: the minimum that exercises every
    // stream property inside the oracle-checked path — cross-batch
    // store matching (b1, b2), in-batch dedup (all), AND a mid-stream
    // index compaction whose folded generations b2 then reads
    // (compactEvery=2 → fold after b1). Per-trigger cost is the whole
    // of q139's bench line, so the 4th trigger bought nothing the
    // first three don't already pin.
    // one-pass form (r16) of the three disjoint id-range filters:
    // doc_id div step ∈ {0,1,2} exactly (step = maxId/3 + 1 ⇒
    // maxId < 3·step); the near-dup consumer's verdicts are min-id
    // per verified cluster, so within-batch row order is immaterial
    val in = writeSliceFilesByExpr(docs, expr(s"doc_id div ${step}L"), tmp, 3)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("text", StringType, nullable = true)))
    Jobs.runNearDupDedupStream(spark, in, schema, s"$tmp/work",
        compactEvery = 2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  // ----------------------------------------- multimodal: REAL decoders

  /** Deterministic synth recipe for the WAV corpus: each doc becomes a
    * mono PCM16 clip whose samples are a pure integer function of
    * (doc_id, i) — so the DuckDB oracle can regenerate the SOURCE
    * samples and compute the same features the Spark side must recover
    * by PARSING THE BYTES. The encode→parse roundtrip is the thing
    * under test: the decoder sees only the binary payload.
    */
  private def synthWavMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = (50 + id % 50).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
        Multimodal.MediaRecord(id, Multimodal.Wav.encodePcm16(samples, rate), "audio/wav")
      }).toDF()
  }

  /** REAL WAV decode: synth clips → RIFF bytes → chunk-walking parse →
    * integer-exact audio features (duration, peak, energy, zero
    * crossings). The oracle recomputes every feature from the synth
    * recipe directly — a parser that misreads the header, the LIST
    * chunk, or sample byte order hash-mismatches immediately. Decode
    * is the disclosed per-partition imperative tier (real parser, not
    * the compressed-codec stub).
    */
  def q140WavDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.wavFeatures(spark, synthWavMedia(spark, dir), partitions = 8)
      .toDF()
      .orderBy(col("media_id"))

  /** Deterministic synth recipe for the BMP corpus: per-doc dims sweep
    * widths 4..8 (row padding 0..3 bytes) and heights 3..6, with each
    * BGR channel a distinct integer function of (doc_id, y, x).
    */
  private def synthBmpMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val bgr = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val o = (y * w + x) * 3
            bgr(o) = ((id + 17L * y + 29L * x) % 256).toByte
            bgr(o + 1) = ((id + 23L * y + 31L * x) % 256).toByte
            bgr(o + 2) = ((id + 13L * y + 37L * x) % 256).toByte
            x += 1
          }
          y += 1
        }
        Multimodal.MediaRecord(id, Multimodal.Bmp.encode24(w, h, bgr), "image/bmp")
      }).toDF()
  }

  /** REAL BMP decode + nearest-neighbor resize: synth images → padded
    * bottom-up BMP bytes → parse → per-channel sums plus the
    * half-scale resize's dims and gray sum. The oracle regenerates
    * the pixels and keeps the (y%2=0, x%2=0) sampling grid — so both
    * the padding/row-order handling AND the resize arithmetic are
    * hash-pinned.
    */
  def q141BmpDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.bmpFeatures(spark, synthBmpMedia(spark, dir), partitions = 8)
      .toDF()
      .orderBy(col("media_id"))

  /** C4-style blocklist screen, expression form: the blocklist is a
    * foldable literal, so the whole screen is one codegen'd map pass
    * over the pruned (doc_id, text) scan. Policy here: ≥ 4 total hits
    * on {slow, merge} drops the doc (C4's own any-hit rule would drop
    * nearly everything in this 31-word synthetic vocabulary; the
    * threshold keeps both verdicts populated so the hash check pins
    * real decisions).
    */
  def q142BlocklistScreen(spark: SparkSession, dir: String): DataFrame =
    Text.blocklistScreen(Tables.documents(spark, dir), "doc_id", "text",
      terms = Seq("slow", "merge"), maxHits = 4)
      .orderBy(col("doc_id"))

  /** q142's scale form: the blocklist arrives as a TABLE (the 100k+
    * term regime where folding into codegen stops making sense) —
    * exploded tokens broadcast-join the term table, zero-hit docs
    * re-attach via left join. Shares q142's oracle verbatim: the two
    * forms must be indistinguishable by hash.
    */
  def q142bBlocklistJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("slow", "merge").toDF("term")
    Text.blocklistScreenJoin(Tables.documents(spark, dir), "doc_id", "text",
      terms, "term", maxHits = 4)
      .orderBy(col("doc_id"))
  }

  /** STREAMING media ingest ([[graft.stream.Jobs.runMediaDecodeStream]]):
    * q143's corpus arrives in 4 micro-batches of binary payloads; each
    * batch is decoded by the REAL WAV parser and dual-written — parsed
    * features to the good path, corrupt rows to the DLQ (the O-61
    * routing shape over binary). The union of both sinks reassembles
    * q143's audit exactly, so the stream shares its oracle: the
    * multimodal × streaming intersection, hash-checked.
    */
  def q143bMediaStream(spark: SparkSession, dir: String): DataFrame = {
    val media = synthWavDlqMedia(spark, dir)
    val tmp = tempDir("graft-q143b")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    Jobs.runMediaDecodeStream(spark, in, schema, s"$tmp/good", s"$tmp/dlq", s"$tmp/cp",
      filesPerTrigger = 2)
    val good = spark.read.parquet(s"$tmp/good")
      .select(col("media_id"), col("n_bytes"), col("n_samples"))
    val dlqSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = true)))
    val dlq = spark.read.schema(dlqSchema).parquet(s"$tmp/dlq")
      .select(col("media_id"), col("n_bytes"), lit(null).cast(LongType).as("n_samples"))
    good.unionByName(dlq)
      .select(col("media_id"), col("n_bytes"),
        col("n_samples").isNotNull.as("ok"), col("n_samples"))
      .orderBy(col("media_id"))
  }

  /** Phrase blocklist ([[graft.ext.Text.blocklistScreenPhrases]]):
    * mixed unigram + bigram phrases matched via per-length in-plan
    * window sweeps — overlapping occurrences counted, distinct
    * phrases tracked, same ≥-4-hits drop policy as q142. The oracle
    * rebuilds bigrams with a lead() window over ordinality-indexed
    * tokens.
    */
  def q149PhraseBlocklist(spark: SparkSession, dir: String): DataFrame =
    Text.blocklistScreenPhrases(Tables.documents(spark, dir), "doc_id", "text",
      phrases = Seq("slow merge", "hash join", "scan"), maxHits = 4)
      .orderBy(col("doc_id"))

  /** Corrupt-media DLQ split (the O-07 schema-enforce discipline on
    * binary payloads): every 7th synth WAV is truncated mid-fmt before
    * decode, and the audit reports per-row byte length, decode verdict,
    * and recovered sample count (null where parsing failed). The
    * oracle re-derives ALL THREE from the recipe — including the
    * encoder's exact container size (68 + 2n bytes) — so both the
    * writer's byte layout and the parser's corrupt-safety are pinned.
    */
  /** The q143/q143b corpus: synth WAVs with every 7th payload
    * truncated mid-fmt.
    */
  private def synthWavDlqMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = (50 + id % 50).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
        val wav = Multimodal.Wav.encodePcm16(samples, rate)
        val payload = if (id % 7 == 0) wav.take(21) else wav
        Multimodal.MediaRecord(id, payload, "audio/wav")
      }).toDF()
  }

  def q143MediaDlq(spark: SparkSession, dir: String): DataFrame = {
    val media = synthWavDlqMedia(spark, dir)
    val decoded = Multimodal.wavFeatures(spark, media, partitions = 8).toDF()
      .select(col("media_id"), col("n_samples"))
    media
      .select(col("media_id"), octet_length(col("payload")).as("n_bytes"))
      .join(decoded, Seq("media_id"), "left_outer")
      .select(
        col("media_id"), col("n_bytes"),
        col("n_samples").isNotNull.as("ok"),
        col("n_samples"))
      .orderBy(col("media_id"))
  }

  /** LSH S-curve tuning table ([[graft.ext.Dedup.lshBandPlan]]): for a
    * 128-permutation MinHash scheme, every divisor (bands, rows) pair
    * × target thresholds {0.5, 0.7, 0.8, 0.9}, with inflection point,
    * collision probability at the target, and the chosen-plan flag —
    * the audit view behind picking q13's band config. Oracle replays
    * the same power/argmin arithmetic in SQL (6-dp rounds; divisor
    * inflections are ≥ 0.01 apart, so the argmin can't flip on
    * last-ulp pow differences).
    */
  def q144LshBandPlan(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.lshBandPlan(spark, nPerm = 128,
      thresholds = Seq(0.5, 0.7, 0.8, 0.9))
      .orderBy(col("threshold"), col("bands"))

  /** HTML → text extraction ([[graft.ext.Text.htmlToText]]): every doc
    * wrapped in a deterministic page shell — title/style head, nav,
    * an HTML comment, a script whose BODY contains raw `<`/`>` (the
    * case that breaks naive strip-tags-first extractors), entity-laden
    * paragraphs (including `&amp;lt;`, which must decode to the
    * literal text `&lt;`, not `<`), and a footer — then extracted
    * back. The oracle replays synth + the full regex chain in SQL, so
    * the hash pins cross-engine regex semantics the same way q54's
    * redaction chain does.
    */
  /** The deterministic page shell shared by q145 and q147: title/style
    * head, nav, comment, a script whose body contains raw `<`/`>`,
    * entity-laden paragraphs, footer.
    */
  private def synthHtmlCol: org.apache.spark.sql.Column = synthHtmlWith(col("text"))

  private def synthHtmlWith(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p { color: red; }</style></head><body>"),
    lit("<nav>home about contact</nav><!-- rev "), col("doc_id").cast("string"),
    lit(" --><p>"), content, lit("</p>"),
    lit("<script>if (1 < 2 && 3 > 0) { x = \"y\"; }</script>"),
    lit("<p>Tom &amp; Jerry say &quot;hi&quot;, 1 &lt; 2, &#39;q&#39;, "),
    lit("A&nbsp;B, raw &amp;lt; stays</p>"),
    lit("<footer>(c) example corp</footer></body></html>"))

  def q145HtmlExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.htmlToText(synthHtmlCol).as("extracted"))
      .withColumn("n_chars", length(col("extracted")).cast("long"))
      .orderBy(col("doc_id"))

  /** Corpus drift report ([[graft.dq.Analyzers.categoryDrift]]): PSI
    * terms per token between two corpus versions (even- vs odd-id
    * halves — in production: yesterday's snapshot vs today's). The
    * report a curation team watches for silent upstream distribution
    * shifts; Σ psi_term is the headline PSI with the usual
    * 0.1 / 0.25 action thresholds.
    */
  def q146TokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def toks(side: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === side)
      .select(explode(Text.tokens(lower(col("text")))).as("tok"))
    graft.dq.Analyzers.categoryDrift(toks(0), toks(1), "tok")
      .orderBy(col("category"))
  }

  /** IVF nprobe sweep — the recall/cost tuning table's THEOREM rows
    * (the q144 planner's ANN sibling): probing more cells only ADDS
    * candidates, so recall@k is non-decreasing in nprobe, and at
    * nprobe = #cells the probed search IS the brute-force search, so
    * recall is exactly 1. Both checked as hash-stable TRUE rows over
    * the same k-means assignment q23 uses (one clustering, reused
    * across the sweep via the cache handle; measured recalls stay
    * rows-only like q23 — the contract is the invariant, not the
    * corpus-dependent number).
    */
  def q148NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val clustered = Similarity.kmeansLabels(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 10, iters = 3,
      scorer = graft.ext.VectorKernels.CosineF)
    val exact = q21SimTopK(spark, dir).select(col("query_id"), col("vec_id"))
    withCached(clustered, exact) {
      val total = exact.count().toDouble
      // ONE action for all four sweep points: tag each probed search
      // with its nprobe, union, and count hits per tag — same per-point
      // join+count arithmetic as four sequential actions (pairs are
      // unique per (query, vec) on both sides), minus three rounds of
      // driver action latency (guide §1.2)
      val probes = Seq(1, 2, 5, 10)
      val qs = embQueries(spark, dir)
      val ivfAll = probes.map { nprobe =>
        Similarity.ivfTopK(clustered, qs, 5, nprobe,
          scorer = graft.ext.VectorKernels.CosineF)
          .select(col("query_id"), col("vec_id"))
          .withColumn("__np", lit(nprobe))
      }.reduce(_.unionByName(_))
      val hits = exact.join(ivfAll, Seq("query_id", "vec_id"))
        .groupBy(col("__np")).agg(count(lit(1)).as("__h"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val recalls = probes.map(np => np -> hits.getOrElse(np, 0L) / total)
      val rs = recalls.map(_._2)
      import spark.implicits._
      Seq(
        ("recall_monotone_in_nprobe", rs.zip(rs.tail).forall { case (a, b) => a <= b }),
        ("recall_at_full_probe_eq_1", rs.last == 1.0))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** Numeric drift ([[graft.dq.Analyzers.numericDrift]]): q146's PSI
    * machinery over a continuous feature — document character length
    * bucketed into 10 fixed-width bins on [0, 500) (fixed range, so
    * the binning can't shift between versions), even vs odd corpus
    * halves. The length drift a truncation bug or extraction change
    * would show first.
    */
  def q150LengthDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def half(side: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === side)
      .select(length(col("text")).as("len"))
    graft.dq.Analyzers.numericDrift(half(0), half(1), "len", 0.0, 500.0, 10)
      .orderBy(col("category"))
  }

  /** Margin-based pair mining ([[graft.ext.Similarity.marginMine]],
    * Artetxe & Schwenk 2019): the LASER/CCMatrix rule that builds
    * bitext training pairs — best-margin target per source row, kept
    * when the margin beats the both-ends neighborhood average. Sides
    * are the even/odd vec_id halves standing in for the two languages;
    * the mining slice is bounded (src_id < 40) exactly as q128 bounds
    * its query set, and both scoring passes are broadcast map passes
    * over the partitioned corpus (see the operator's 100 TB note).
    */
  def q151MarginMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def sideIs(side: Int) = pmod(col("vec_id"), lit(2)) === side
    val src = emb.filter(sideIs(0) && col("vec_id") < 40)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_vec"))
    val tgt = emb.filter(sideIs(1))
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_vec"))
    val bwd = emb.filter(sideIs(0))
      .select(col("vec_id").as("bwd_id"), col("embedding").as("bwd_vec"))
    graft.ext.Similarity.marginMine(src, tgt, bwd, k = 4, minMargin = 1.0,
      scorer = graft.ext.VectorKernels.CosineF)
      .orderBy(col("src_id"))
  }

  /** STREAMING drift monitor: q146's PSI report maintained
    * incrementally over the growing corpus (snapshot-recompute
    * mechanics shared with q104b/q105b — drift is corpus-GLOBAL: one
    * arriving doc shifts both totals and the smoothing vocabulary, so
    * per-row state can't express it). Every term is deterministic in
    * corpus content, so the final published report hash-checks against
    * q146's batch oracle — the production shape: a drift dashboard
    * that re-derives per ingest batch.
    */
  def q146bDriftStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q146b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => {
        def toks(side: Int) = corpus
          .filter(pmod(col("doc_id"), lit(2)) === side)
          .select(explode(Text.tokens(lower(col("text")))).as("tok"))
        graft.dq.Analyzers.categoryDrift(toks(0), toks(1), "tok")
      }, filesPerTrigger = 2)
      .orderBy(col("category"))
  }

  /** Web-corpus funnel capstone: the C4 shape end to end over the NEW
    * operators — raw pages → [[graft.ext.Text.htmlToText]] extraction
    * → blocklist screen → quality gate (length + type-token ratio) →
    * exact content-address dedup — with the q124-style per-stage
    * attrition report (docs, id sum, token sum). One oracle replays
    * every stage in SQL, so the whole composition is hash-pinned, not
    * just the pieces.
    */
  def q147WebFunnel(spark: SparkSession, dir: String): DataFrame =
    webFunnelReport(spark, Tables.documents(spark, dir))

  /** The funnel's extraction stage, shared by q147/q147b/q152: plant
    * the two failure classes every web crawl contains, so every funnel
    * stage provably fires — doc_id%10=0 → identical boilerplate pages
    * (the dedup stage's prey), doc_id%10=5 → low-diversity spam (fails
    * the type-token gate) — then extract text from the synthetic HTML.
    */
  private def webFunnelPages(docs: DataFrame): DataFrame = {
    val content = when(pmod(col("doc_id"), lit(10)) === 0,
        lit("limited offer from our partner store click here to claim your reward today"))
      .when(pmod(col("doc_id"), lit(10)) === 5, lit(("buy " * 80).trim))
      .otherwise(col("text"))
    docs.select(col("doc_id"), Text.htmlToText(synthHtmlWith(content)).as("text"))
  }

  /** Funnel stage 1 (shared): the full per-doc blocklist screen, so
    * both the funnel (survivor ids) and the audit (per-doc keep flag)
    * provably run the SAME operator with the SAME parameters.
    */
  private def webFunnelBlocklistScreen(pages: DataFrame): DataFrame =
    Text.blocklistScreen(pages, "doc_id", "text",
      terms = Seq("slow", "merge"), maxHits = 4)

  /** Funnel stage 1 (shared): ids surviving the blocklist screen. */
  private def webFunnelBlocklistIds(pages: DataFrame): DataFrame =
    webFunnelBlocklistScreen(pages).filter(col("keep")).select(col("doc_id"))

  /** Funnel stage 2 (shared): the length + type-token quality gate. */
  private def webFunnelQualOk: Column = {
    def toks = Text.tokens(col("text"))
    size(toks) >= 20 &&
      size(array_distinct(toks)).cast("double") / size(toks) > 0.2
  }

  /** The q147/q147b funnel body over an arbitrary corpus slice. */
  private def webFunnelReport(spark: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s0 = webFunnelPages(docs)
    val s1 = s0.join(webFunnelBlocklistIds(s0), Seq("doc_id"), "left_semi")
    val s2 = s1.filter(webFunnelQualOk)
    val wfp = Window.partitionBy(Text.fingerprint(col("text"))).orderBy(col("doc_id"))
    val s3 = s2.withColumn("__rn", row_number().over(wfp))
      .filter(col("__rn") === 1).drop("__rn")
    withCached(s0, s1, s2, s3) {
      def stageRow(name: String, df: DataFrame): (String, Long, Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("doc_id")),
          sum(size(Text.tokens(col("text"))).cast("long"))).head
        (name, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      import spark.implicits._
      Seq(stageRow("0_extract", s0), stageRow("1_blocklist", s1),
        stageRow("2_quality", s2), stageRow("3_exact_dedup", s3))
        .toDF("stage", "n_docs", "id_sum", "tok_sum").orderBy(col("stage"))
    }
  }

  /** STREAMING web funnel: q147's capstone maintained incrementally —
    * every micro-batch of crawled pages re-derives the full attrition
    * report over the grown corpus (snapshot recompute: dedup keeps
    * the min id per fingerprint CLASS, a corpus-global property).
    * Deterministic in corpus content, so the final published report
    * shares q147's oracle verbatim — the production shape: a crawl
    * monitor whose funnel dashboard updates per ingest batch.
    */
  def q147bFunnelStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q147b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => webFunnelReport(spark, corpus), filesPerTrigger = 2)
      .orderBy(col("stage"))
  }

  /** Per-doc funnel DROP ATTRIBUTION: q147's aggregate attrition
    * report says how many docs each stage dropped; this audit says WHY
    * each individual page dropped (the q122 per-rule-boolean shape
    * applied to the funnel) — the view a crawl operator actually opens
    * when a source's yield craters. Runs the SAME shared stage
    * operators as q147 ([[webFunnelBlocklistScreen]],
    * [[webFunnelQualOk]]) and expresses the dedup verdict as
    * min-survivor-id per fingerprint class — exactly the funnel's
    * row_number keep rule, but as ONE window aggregate with no
    * join-back, so attribution costs one fingerprint-keyed shuffle on
    * top of the id-keyed screen join. Verdict is the FIRST failing
    * stage (a spam page that is also a duplicate reads `2_quality`,
    * matching where the funnel actually discards it).
    */
  def q152FunnelAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pages = webFunnelPages(Tables.documents(spark, dir))
    val bl = webFunnelBlocklistScreen(pages)
      .select(col("doc_id"), col("keep").as("pass_blocklist"))
    val flagged = pages.join(bl, Seq("doc_id"))
      .withColumn("pass_quality", webFunnelQualOk)
    val survives = col("pass_blocklist") && col("pass_quality")
    val canonId = min(when(survives, col("doc_id")))
      .over(Window.partitionBy(Text.fingerprint(col("text"))))
    flagged
      .withColumn("verdict",
        when(!col("pass_blocklist"), lit("1_blocklist"))
          .when(!col("pass_quality"), lit("2_quality"))
          .when(col("doc_id") =!= canonId, lit("3_duplicate"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("pass_blocklist"), col("pass_quality"),
        col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Top-principal-component projection over the embedding corpus
    * ([[graft.ext.Features.pcaProjectScaled]]): exact scaled-integer
    * covariance built distributed, pure-Long power iteration on the
    * O(dim²) driver-side matrix (the MLlib RowMatrix split), then a
    * broadcast-literal projection map pass. Fully hash-checked — the
    * oracle replays the covariance AND all six iterations as unrolled
    * SQL stages (the q119/q126/q133 bit-reproducible-iteration
    * discipline, 4th instance).
    */
  def q153PcaProject(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Features.pcaProjectScaled(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  /** Two-component PCA reduction
    * ([[graft.ext.Features.pcaProject2Scaled]]): q153 plus one
    * integer-exact Hotelling deflation and a second power iteration —
    * the corpus reduced to the 2-D plane of maximum variance (the
    * visualization/whitening surface). The oracle replays the
    * deflation's int128 Rayleigh arithmetic and all twelve iteration
    * stages.
    */
  def q153bPca2Project(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Features.pcaProject2Scaled(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  /** EMBEDDING drift: PSI between the two corpus halves over the
    * top-principal-component projection — the ML-ops view that catches
    * an embedding-model or upstream-content shift that per-dimension
    * min/max stats miss (drift shows up along the direction of maximum
    * variance first). Composes q153's bit-exact projection with the
    * fixed-bin numeric-drift machinery of q150: the bins are fixed
    * [-2, 2)×16 by the caller, so the report is comparable across
    * corpus versions by construction; the projection hash-matching
    * (q153) makes even the double-valued bucketing deterministic.
    */
  def q154EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val proj = graft.ext.Features.pcaProjectScaled(
      Tables.embeddings(spark, dir), "vec_id", "embedding")
    def half(side: Int) = proj
      .filter(pmod(col("vec_id"), lit(2)) === side).select(col("proj"))
    graft.dq.Analyzers.numericDrift(half(0), half(1), "proj", -2.0, 2.0, 16)
      .orderBy(col("category"))
  }

  /** Pseudo-relevance-feedback retrieval
    * ([[graft.ext.Text.bm25PrfTopK]]) over q136's query set: BM25 →
    * 5 feedback docs → 3 count-based df-guarded expansion terms →
    * second BM25 pass. Expansion selection is integer-exact, so the
    * oracle replays BOTH passes and the expansion in SQL (the BM25
    * chain builder parameterized by query relation).
    */
  def q157PrfSearch(spark: SparkSession, dir: String): DataFrame =
    Text.bm25PrfTopK(Tables.documents(spark, dir), "doc_id", "text",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))),
      k = 10, fbDocs = 5, fbTerms = 3)
      .orderBy(col("query_id"), col("rank"))

  /** Blocked entity resolution
    * ([[graft.ext.Dedup.blockedEntityPairs]]) over the customer
    * table: the synthetic corpus has no natural duplicate customers,
    * so every 25th re-registers deterministically under a new key
    * with one name typo (the q135 injection discipline) — the match
    * rule (nation block; name Levenshtein ≤ 1; exact balance +
    * segment) must find exactly those re-registrations while
    * rejecting natural near-miss names (keys one digit apart fail
    * the exact-balance conjunct).
    */
  def q160EntityResolution(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.blockedEntityPairs(entityCorpus(spark, dir),
      "c_custkey", "c_nationkey",
      fuzzyRules = Seq(("c_name", 1)),
      exactCols = Seq("c_acctbal", "c_mktsegment"))
      .orderBy(col("id_a"), col("id_b"))

  /** The q160/q161 entity corpus: customers plus every 25th
    * re-registered under a new key with one name typo.
    */
  private def entityCorpus(spark: SparkSession, dir: String): DataFrame =
    entityCorpusOf(Tables.customer(spark, dir))

  private def entityCorpusOf(cust: DataFrame): DataFrame = {
    val base = cust.select(col("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment"))
    base.unionByName(base.filter(pmod(col("c_custkey"), lit(25)) === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(col("c_name"), lit("X")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
  }

  /** The q161/q161b shared survivorship plan: match pairs → recursive
    * closure → anti-join the non-canonical members away.
    */
  private def goldenRecordOf(all: DataFrame): DataFrame = {
    val pairs = graft.ext.Dedup.blockedEntityPairs(all,
      "c_custkey", "c_nationkey",
      fuzzyRules = Seq(("c_name", 1)),
      exactCols = Seq("c_acctbal", "c_mktsegment"))
    // drop-set only: dupDropIds fast path (see q88) — q161b re-runs
    // this per trigger, so the propagation-loop savings multiply
    val dropped = graft.ext.Clusters.dupDropIds(pairs, "id_a", "id_b")
      .select(col("doc_id").as("c_custkey"))
    all.join(dropped, Seq("c_custkey"), "left_anti")
  }

  /** GOLDEN-RECORD survivorship — the deliverable an ER run actually
    * ships: q160's match pairs close into clusters
    * ([[graft.ext.Clusters.dupClusters]], min-key canonical) and each
    * cluster survives as ONE record (the canonical key's row;
    * singletons pass through untouched). Output is the full golden
    * customer table, so the oracle replays matching, the recursive
    * closure, and the survivorship anti-join end to end.
    */
  def q161GoldenRecord(spark: SparkSession, dir: String): DataFrame =
    goldenRecordOf(entityCorpus(spark, dir)).orderBy(col("c_custkey"))

  /** STREAMING golden record: q161's ER survivorship maintained over
    * an arriving customer feed (snapshot-recompute mechanics — a
    * match cluster is corpus-GLOBAL: one arriving re-registration can
    * merge clusters and change the canonical pick, so per-row state
    * can't express it). Deterministic matching ⇒ the final published
    * golden table shares q161's oracle verbatim.
    */
  def q161bGoldenStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q161b")
    val (in, schema) = custSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      cust => goldenRecordOf(entityCorpusOf(cust)), filesPerTrigger = 2)
      .orderBy(col("c_custkey"))
  }

  /** STREAMING changepoint monitor: q162's CUSUM alarm series
    * re-derived per ingest batch over the growing event log — the
    * production shape of a rate-shift monitor. CUSUM is series-GLOBAL
    * (μ and the running min shift with every arrival), so the
    * incremental form is snapshot recompute; the all-long closed form
    * makes the final published series bit-equal to the batch path —
    * q162's own oracle checks it.
    */
  def q162bChangepointStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q162b")
    val (in, schema) = eventSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      ev => graft.ext.TimeSeries.cusumHourly(ev, "ts"), filesPerTrigger = 2)
      .orderBy(col("hr"))
  }

  /** CUSUM changepoint detection
    * ([[graft.ext.TimeSeries.cusumHourly]]) over hourly event volume
    * — WHEN did the rate shift, the question the whole-corpus drift
    * reports (q146/q150/q156) can't answer. Scaled-integer deviations
    * and the prefix-sum/running-min closed form make the alarm series
    * exactly replayable.
    */
  def q162Changepoint(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.cusumHourly(Tables.events(spark, dir), "ts")
      .orderBy(col("hr"))

  /** l-diversity audit ([[graft.dq.Privacy.lDiversityClasses]]):
    * q134's QI classes re-graded on DISTINCT sensitive values
    * (user_id) — the homogeneity-attack gap k-anonymity leaves open
    * (a large class whose rows all belong to one user still
    * re-identifies them). Same single keyed shuffle; the distinct
    * count compiles to a partial-distinct aggregate.
    */
  def q163LDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Privacy.lDiversityClasses(
      Tables.events(spark, dir), eventQi, col("user_id"), l = 3L)
      .orderBy(col("event_type"), col("day"), col("value_band"))

  /** Enforcement twin of q163: rows in under-l classes suppressed via
    * a dense_rank max over the SAME keyed sort (windows can't express
    * `count(DISTINCT) OVER` — the rank trick keeps it one shuffle, no
    * join back). Per-type summary with id checksums pins the exact
    * suppression set, the q134b shape.
    */
  def q163bLDiversityEnforce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val kept = graft.dq.Privacy.enforceLDiversity(ev, eventQi, col("user_id"), l = 3L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("event_id")).as("kept_id_sum"))
    val all = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
    all.join(kept, Seq("event_type"), "left")
      .select(col("event_type"), col("n_rows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_rows") - coalesce(col("n_kept"), lit(0L))).as("n_suppressed"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
      .orderBy(col("event_type"))
  }

  /** Per-doc lexical-diversity report
    * ([[graft.ext.Text.lexicalDiversity]]): type-token ratio, hapax
    * ratio, Shannon token entropy — the distribution-shaped quality
    * signals the per-rule gates (q86/q122) can't see. Entropy terms
    * use the q158 decimal discipline (round 6 dp, DECIMAL sum) so the
    * whole 500-row report hash-checks.
    */
  def q164LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Text.lexicalDiversity(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Per-doc n-gram novelty vs the English reference slice
    * ([[graft.ext.Text.ngramNovelty]]): what fraction of each doc's
    * distinct 3-grams the held corpus has never seen — the audit run
    * before adding a crawl slice to a training mix (decontamination's
    * complement: q48 asks "contains a benchmark gram?", this asks
    * "how much is NEW?").
    */
  def q165NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Text.ngramNovelty(docs, "doc_id", "text",
      docs.filter(col("lang") === "en"), "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** Scale twin of q165: the gram join keyed on 8-byte xxhash64
    * instead of gram strings (the q102b shuffle-width discipline) —
    * shares q165's oracle verbatim, pinning hashed ≡ exact.
    */
  def q165bNoveltyHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Text.ngramNovelty(docs, "doc_id", "text",
      docs.filter(col("lang") === "en"), "text", n = 3, hashGrams = true)
      .orderBy(col("doc_id"))
  }

  /** 2-core of the near-dup graph ([[graft.ext.Graph.kCore]]):
    * iterative peeling strips the pendant chains transitive closure
    * glued onto dense duplicate groups — the subgraph complement of
    * q159's per-node cohesion score. The peel runs the same R rounds
    * the oracle unrolls in SQL (early exit at the fixpoint changes
    * nothing by idempotence), so the surviving core, its internal
    * degrees, AND the convergence verdict all hash-check.
    */
  def q166KCore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ext.Dedup.minhashNearDupPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    graft.ext.Graph.kCore(pairs, "id_a", "id_b", k = 2, maxRounds = 8)
      .orderBy(col("id"))
  }

  /** Per-type integer EWMA over hourly event volume
    * ([[graft.ext.TimeSeries.ewmaHourly]]): the smoothed level beside
    * q162's CUSUM alarms. The recursion is inherently sequential per
    * key (each value depends on all prior ones — the throttle-class
    * shape), so it runs as a typed sorted-group fold; the all-long
    * arithmetic replays exactly as a recursive CTE.
    */
  def q167EwmaSmooth(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.ewmaHourly(Tables.events(spark, dir), "event_type", "ts")
      .orderBy(col("key"), col("hr"))

  /** Hour-of-day seasonal baseline spikes
    * ([[graft.ext.TimeSeries.seasonalSpikes]]): each hourly count
    * graded against its type's own clock-slot mean — the calendar-
    * aware threshold that doesn't page on the nightly batch window
    * (q69's rolling z-score adapts to recent level; this adapts to
    * the clock). Scaled-integer means, exact replay.
    */
  def q168SeasonalSpikes(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.seasonalSpikes(Tables.events(spark, dir), "event_type", "ts")
      .orderBy(col("key"), col("hr"))

  /** UniMax budget allocation
    * ([[graft.ext.TrainPrep.unimaxAllocation]]): a token budget
    * spread as uniformly as possible across language groups with a
    * 2-epoch cap per group — the principled alternative to q94's
    * temperature weights that never over-repeats a low-resource
    * group. Every 20th doc forms a deterministic "rare" group so the
    * cap provably binds at every SF; the budget is 1.8× the corpus
    * (one disclosed scalar hop at definition time, the q92b
    * precedent), so the capped/uncapped split is scale-invariant.
    * All long arithmetic (the cap predicate multiplies through
    * instead of dividing) — the allocation replays exactly.
    */
  def q169UnimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("grp",
        when(pmod(col("doc_id"), lit(20)) === 0, lit("rare"))
          .otherwise(col("lang")))
    val total = docs.agg(sum(Text.tokenCount(col("text"))).as("t"))
      .head().getLong(0)
    graft.ext.TrainPrep.unimaxAllocation(docs, "grp",
      Text.tokenCount(col("text")),
      budget = total * 18 / 10, maxEpochs = 2)
      .orderBy(col("grp"))
  }

  /** Time-travel reads over versioned snapshots
    * ([[graft.sinks.Versioned]]): publish three versions of the
    * customer balance table (base → CDC-style balance update → delete
    * sweep), then read each AS OF its version — the reproducible-
    * training-run primitive ("corpus v=12") and the debugging read
    * ("before yesterday's load"). The per-version stats (rows, id
    * checksum, exact balance cents) pin that every retained snapshot
    * is intact and isolated from later writers; `latest_version` pins
    * the listing logic. Oracle replays the same edit recipe.
    */
  /** The q172/q177 shared three-version edit recipe: base balances →
    * CDC-style update (every 10th doubled) → delete sweep (every 7th
    * removed). Returns the published table path.
    */
  private def publishCustVersions(spark: SparkSession, dir: String): String = {
    val tmp = tempDir("graft-versions")
    val path = s"$tmp/cust"
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    graft.sinks.Versioned.publish(base, path, 0)
    val v1 = base.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(10)) === 0, col("c_acctbal") * 2)
        .otherwise(col("c_acctbal")))
    graft.sinks.Versioned.publish(v1, path, 1)
    graft.sinks.Versioned.publish(
      v1.filter(pmod(col("c_custkey"), lit(7)) =!= 0), path, 2)
    path
  }

  def q172TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val path = publishCustVersions(spark, dir)
    val latest = graft.sinks.Versioned.latestVersion(spark, path)
    (0L to 2L).map { v =>
      graft.sinks.Versioned.readAsOf(spark, path, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_custkey")).as("id_sum"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .select(lit(v).as("version"), col("n_rows"), col("id_sum"),
          col("bal_cents"), lit(latest).as("latest_version"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** Version-to-version DIFF over the q172 snapshots: for each
    * consecutive pair, the full-outer keyed comparison summarized as
    * added/removed/changed/unchanged — the change-audit a versioned
    * table ships with (q90's per-row diff, lifted to the version
    * timeline). The v0→v1 changed count excludes zero-balance
    * customers (doubling 0 changes nothing) — the value comparison,
    * not the edit recipe, decides.
    */
  def q177VersionDiff(spark: SparkSession, dir: String): DataFrame = {
    val path = publishCustVersions(spark, dir)
    def diff(fromV: Long, toV: Long) = {
      val a = graft.sinks.Versioned.readAsOf(spark, path, fromV)
        .select(col("c_custkey"), col("c_acctbal").as("old_b"))
      val b = graft.sinks.Versioned.readAsOf(spark, path, toV)
        .select(col("c_custkey"), col("c_acctbal").as("new_b"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .agg(
          sum(when(col("old_b").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("new_b").isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("old_b").isNotNull && col("new_b").isNotNull &&
            col("old_b") =!= col("new_b"), 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("old_b") === col("new_b"), 1L).otherwise(0L))
            .as("n_unchanged"))
        .select(lit(fromV).as("from_version"), lit(toV).as("to_version"),
          col("n_added"), col("n_removed"), col("n_changed"),
          col("n_unchanged"))
    }
    diff(0L, 1L).unionByName(diff(1L, 2L)).orderBy(col("from_version"))
  }

  /** Sketch-rollup lifecycle ([[graft.ext.KllMergeAgg]]): weekly KLL
    * value sketches STORED as table rows, then the all-time quantiles
    * answered by RE-AGGREGATING the stored sketches — never rescanning
    * the raw events (the quantile analogue of q66's HLL union
    * lifecycle; Spark ships hll_union_agg but no mergeable user-visible
    * percentile state). Contract rows: every week's own-sketch median
    * and the merged sketch's p50/p95 rank-verified against the raw
    * data within 4% — with exact per-scope row counts, so a missing or
    * extra week also fails.
    */
  def q178SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.KllAgg
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .withColumn("week", to_date(date_trunc("week", col("ts"))))
    val weekly = ev.groupBy(col("week"))
      .agg(KllAgg.kllAgg(col("value"), 256).as("sk"),
        count(lit(1)).as("n_rows"))
    val merged = weekly.agg(KllAgg.kllMergeAgg(col("sk"), 256).as("sk"))
      .select(KllAgg.quantile(col("sk"), 0.5).as("q50"),
        KllAgg.quantile(col("sk"), 0.95).as("q95"))
    val weeklyQ = weekly.select(col("week"), col("n_rows"),
      KllAgg.quantile(col("sk"), 0.5).as("q50"))
    val weeklyOk = ev.join(broadcast(weeklyQ), "week")
      .groupBy(col("week"), col("n_rows"))
      .agg(avg(when(col("value") <= col("q50"), 1.0).otherwise(0.0)).as("r50"))
      .select(concat(lit("week_"), col("week").cast(StringType)).as("scope"),
        col("n_rows"), (abs(col("r50") - 0.5) <= 0.04).as("ok"))
    val totalOk = ev.crossJoin(broadcast(merged))
      .agg(count(lit(1)).as("n_rows"),
        avg(when(col("value") <= col("q50"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("value") <= col("q95"), 1.0).otherwise(0.0)).as("r95"))
      .select(lit("total_merged").as("scope"), col("n_rows"),
        (abs(col("r50") - 0.5) <= 0.04 &&
          abs(col("r95") - 0.95) <= 0.04).as("ok"))
    weeklyOk.unionByName(totalOk).orderBy(col("scope"))
  }

  /** Calibration audit of the q126 quality classifier: predicted
    * probabilities bucketed into deciles vs the empirical positive
    * rate per bucket (the reliability-diagram table). p derives from
    * the EXACT long pre-activation by one IEEE division + the
    * algebraic sigmoid, so even the bin assignment is deterministic;
    * mean_p uses the decimal-sum discipline. The oracle extends the
    * full 4-iteration training replay.
    */
  def q176Calibration(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (r16): trainElliott persists its own copy and
    // unpersists on return, so the score pass was re-tokenizing and
    // re-hashing the corpus from scratch
    val feat = classifierFeatures(spark, dir).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
    graft.ext.Classifier.score(feat, w)
      .withColumn("bin", floor(col("p") * 10).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        expr("sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) * 1000000 div count(1)")
          .as("emp_ppm"),
        round(sum(round(col("p"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_p"))
      .orderBy(col("bin"))
  }

  /** Key-skew audit ([[graft.dq.Analyzers.skewReport]]) over the
    * event stream, with a planted hot key (every 3rd event) so the
    * report provably recommends a real salt count at every SF (the
    * q135 injection discipline) — measure the skew, THEN pick the
    * q43/q75 salt factor, instead of guessing.
    */
  def q173SkewReport(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.skewReport(
      Tables.events(spark, dir),
      when(pmod(col("event_id"), lit(3)) === 0, lit("hot"))
        .otherwise(col("event_type")),
      topN = 10)

  /** Materialized-view incremental refresh
    * ([[graft.etl.Transform.mergeAggStates]]): the hourly rollup's
    * partial states from a base load (80% of events) and a delta
    * batch (the rest) merged algebraically — and the oracle computes
    * the FULL recompute directly, so the hash check IS the
    * incremental-maintenance theorem (merged ≡ recomputed). Exact
    * cents arithmetic; the derived mean is a truncating division at
    * read time.
    */
  def q174MvMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def state(cond: Column) = ev.filter(cond)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    Transform.mergeAggStates(
      Seq(state(pmod(col("event_id"), lit(5)) =!= 4),
        state(pmod(col("event_id"), lit(5)) === 4)),
      Seq("hr"), Seq("n_events", "value_cents"))
      .withColumn("avg_cents", expr("value_cents div n_events"))
      .orderBy(col("hr"))
  }

  /** STREAMING MV maintenance
    * ([[graft.stream.Jobs.runAggMergeStream]]): the q174 hourly
    * rollup maintained per micro-batch by ALGEBRAIC state merge —
    * delta-sized work per trigger, the genuinely incremental contrast
    * to the snapshot-recompute twins (q104b/q146b/q162b), possible
    * exactly because counts and sums are commutative monoids. The
    * final published state shares q174's full-recompute oracle: the
    * hash check is the maintenance theorem under arbitrary batch
    * slicing.
    */
  def q174bMvStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q174b")
    val (in, schema) = eventSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runAggMergeStream(spark, in, schema, s"$tmp/work",
      batch => batch
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents")),
      keyCols = Seq("hr"), measureCols = Seq("n_events", "value_cents"))
      .withColumn("avg_cents", expr("value_cents div n_events"))
      .orderBy(col("hr"))
  }

  /** Event-type association mining
    * ([[graft.ext.Associations.pairLift]]): which event types
    * co-occur in the same user's history beyond chance — pairwise
    * support/confidence/lift over per-user distinct type baskets,
    * all truncating ppm arithmetic.
    */
  def q175PairLift(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Associations.pairLift(
      Tables.events(spark, dir), "user_id", "event_type")
      .orderBy(col("item_a"), col("item_b"))

  /** Label-propagation communities
    * ([[graft.ext.Graph.labelPropagation]]) over the near-dup graph:
    * the deterministic (min-tie-break, self-vote) LPA partition —
    * locally-dense duplicate communities, where recursive closure
    * (q51) would glue bridge-connected groups into one cluster. Four
    * synchronous rounds, replayed as four unrolled SQL stages over
    * the exact-Jaccard edge set.
    */
  def q170LabelProp(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ext.Dedup.minhashNearDupPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    graft.ext.Graph.labelPropagation(pairs, "id_a", "id_b", iters = 4)
      .orderBy(col("id"))
  }

  /** Funnel conversion-LATENCY percentiles: per funnel step, exact
    * p50/p95 of the time-to-convert from the previous stage
    * ([[graft.ext.TimeSeries.funnelStageTimes]] — the row grain q57's
    * count-only report can't provide; "how long does click→purchase
    * take" is the product question beside "how many"). Deltas in
    * exact microseconds; percentiles via the interpolating exact
    * percentile both engines share (the q130 precedent).
    */
  def q182FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val times = graft.ext.TimeSeries.funnelStageTimes(
      Tables.events(spark, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), deadline = "24 hours")
    times.filter(col("step") > 1)
      .withColumn("delta_us", unix_micros(col("t")) - unix_micros(col("t_prev")))
      .groupBy(col("step"), col("stage"))
      .agg(count(lit(1)).as("n_conversions"),
        round(expr("percentile(delta_us, 0.5)"), 4).as("p50_us"),
        round(expr("percentile(delta_us, 0.95)"), 4).as("p95_us"))
      .orderBy(col("step"))
  }

  /** Mutual information between event type and hour-of-day
    * ([[graft.dq.Analyzers.mutualInformation]]): the dependence
    * profile ("does the clock predict the event mix?") behind feature
    * selection and leakage hunts — per-cell MI terms from exact
    * integer counts, Σ = MI.
    */
  def q184MutualInfo(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.mutualInformation(
      Tables.events(spark, dir), col("event_type"), hour(col("ts")))
      .orderBy(col("x"), col("y"))

  /** Zipf-law fit ([[graft.ext.Text.zipfFit]]): OLS of ln(freq) on
    * ln(rank) over the top-100 corpus tokens — the corpus-health
    * number (natural text ≈ −1; templated corpora bend the curve).
    * Decimal-summed rounded terms; only the closed-form division
    * floats, at 4 dp.
    */
  def q185ZipfFit(spark: SparkSession, dir: String): DataFrame =
    Text.zipfFit(Tables.documents(spark, dir), "text", topN = 100)

  /** STREAMING corpus-stats monitor: q185's Zipf fit re-derived per
    * ingest batch over the growing corpus (snapshot recompute — rank
    * order is corpus-global). The production shape of a corpus-health
    * dashboard; shares q185's oracle verbatim.
    */
  def q185bZipfStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q185b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      docs => Text.zipfFit(docs, "text", topN = 100), filesPerTrigger = 2)
  }

  /** Robust per-type value statistics: the 10%-trimmed mean beside
    * the raw mean — the robust-location summary q60's MAD outlier
    * flags complement (MAD says WHICH rows are extreme; the trimmed
    * mean reports the level with the tails excised). Exact: trim
    * counts by deterministic (value, id) rank windows, means by
    * truncating division on cents.
    */
  def q186TrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("key"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val asc = Window.partitionBy(col("key"))
      .orderBy(col("cents").asc, col("event_id").asc)
    val desc = Window.partitionBy(col("key"))
      .orderBy(col("cents").desc, col("event_id").desc)
    ev.withColumn("__ra", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("key"))))
      .withColumn("__k", expr("__n div 10"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"),
        expr("sum(cents) div count(1)").as("mean_cents"),
        sum(when(col("__ra") > col("__k") && col("__rd") > col("__k"), 1L)
          .otherwise(0L)).as("n_kept"),
        expr("sum(CASE WHEN __ra > __k AND __rd > __k THEN cents END)" +
          " div sum(CASE WHEN __ra > __k AND __rd > __k THEN 1 END)")
          .as("trimmed_mean_cents"))
      .select(col("key"), col("n_rows"), col("n_kept"),
        col("mean_cents"), col("trimmed_mean_cents"))
      .orderBy(col("key"))
  }

  /** Dedup-method EFFICACY comparison — the report a curation run
    * uses to pick its dedup grain: the same corpus through four
    * methods (exact doc, 16-token paragraph, MinHash near-dup doc,
    * 7-gram repeated-span excision), each summarized as surviving
    * docs + surviving tokens. Different grains remove different
    * things (near-dup collapses docs paragraph dedup can't;
    * span excision removes tokens while keeping every doc) — the
    * numbers, not intuition, should choose. One oracle replays ALL
    * FOUR pipelines (the q124/q147 composed-replay discipline).
    */
  def q187DedupEfficacy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def tokOf(c: Column): Column =
      when(length(trim(c)) > 0, Text.tokenCount(c).cast("long")).otherwise(0L)
    def row(method: String, df: DataFrame, textCol: Column): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(tokOf(textCol)), lit(0L)).as("tok_sum"))
        .select(lit(method).as("method"), col("n_docs"), col("tok_sum"))
    val exactKept = docs.withColumn("__rn", row_number().over(
        Window.partitionBy(col("text")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
    val para = graft.ext.Dedup.paragraphDedup(
        docs, "doc_id", "text", chunkTokens = 16)
      .filter(col("n_kept") > 0)
    // drop-set only: dupDropIds fast path (see q88)
    val mhKept = docs.join(
      graft.ext.Clusters.dupDropIds(
        Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5),
        "id_a", "id_b"),
      Seq("doc_id"), "left_anti")
    val excised = graft.ext.Dedup.exciseSpans(docs,
      graft.ext.Dedup.repeatedNgramSpans(docs, "doc_id", "text",
        n = 7, minDocs = 2, hashGrams = true),
      "doc_id", "text")
    Seq(row("0_input", docs, col("text")),
        row("1_exact", exactKept, col("text")),
        row("2_paragraph", para, col("dedup_text")),
        row("3_minhash", mhKept, col("text")),
        row("4_spans", excised, col("text")))
      .reduce(_.unionByName(_))
      .orderBy(col("method"))
  }

  /** Exact cross-source token-set overlap matrix — the exact referee
    * for q38's MinHash estimate, at the fidelity a mixing decision
    * needs: for every source pair, distinct-token set sizes, the
    * shared-token count, BOTH directional containments ("how much of
    * A is already inside B" is asymmetric — the question when folding
    * a small source into a big one), and exact Jaccard, all in ppm
    * truncating integer arithmetic (q175's discipline) so the whole
    * matrix hash-checks. Scale path: tokens collapse to 8-byte
    * xxhash64 keys BEFORE the distinct and the self-join (q102b's
    * pattern — hash values never surface; the DuckDB oracle joins raw
    * strings, so a 64-bit collision would show up as a gate mismatch),
    * and the complete matrix comes from a broadcast size×size pair
    * spine, so zero-overlap pairs still appear as explicit rows.
    */
  private def sourceOverlapExact(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir)
      .select(col("source"),
        explode(Dedup.wordShingles(col("text"), 1)).as("token"))
      .select(col("source"), xxhash64(col("token")).as("h"))
      .distinct()
    val sizes = sets.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val spine = broadcast(
        sizes.select(col("source").as("src_a"), col("n").as("n_a")))
      .join(broadcast(
        sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
        col("src_a") < col("src_b"))
    val shared = sets.as("a")
      .join(sets.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    spine.join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("cont_a_ppm", expr("n_shared * 1000000 div n_a"))
      .withColumn("cont_b_ppm", expr("n_shared * 1000000 div n_b"))
      .withColumn("jaccard_ppm",
        expr("n_shared * 1000000 div (n_a + n_b - n_shared)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("cont_a_ppm"), col("cont_b_ppm"),
        col("jaccard_ppm"))
  }

  def q188SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapExact(spark, dir).orderBy(col("src_a"), col("src_b"))

  /** MinHash-vs-exact overlap CONTRACT — q38's 64-slot estimate and
    * q188's exact Jaccard on the SAME pairs, per-pair absolute error
    * in ppm plus a 4σ bound verdict (k=64 ⇒ s.e. ≤ 0.0625, bound
    * 0.25). Every term is deterministic (md5 slot convention on one
    * side, exact integer ppm on the other), so unlike a rows-only
    * sketch contract the WHOLE comparison table hash-checks — the
    * oracle replays both pipelines and must agree on every error.
    * est_ppm is exact: est_jaccard = k/64 to 6 decimals, so
    * round(est·10⁶) = k·15625 with no float residue.
    */
  def q188bOverlapContract(spark: SparkSession, dir: String): DataFrame = {
    val est = sourceMinhashEstimates(spark, dir)
      .withColumn("est_ppm", round(col("est_jaccard") * 1000000).cast("long"))
      .select(col("src_a"), col("src_b"), col("est_ppm"))
    val exact = sourceOverlapExact(spark, dir)
      .select(col("src_a"), col("src_b"), col("jaccard_ppm"))
    est.join(exact, Seq("src_a", "src_b"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
      .withColumn("within_bound", col("abs_err_ppm") <= 250000L)
      .select(col("src_a"), col("src_b"), col("est_ppm"),
        col("jaccard_ppm"), col("abs_err_ppm"), col("within_bound"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Classifier threshold-sweep YIELD CURVE — the table a curation
    * run consults before committing to a filter threshold: for each
    * probability decile, the docs and tokens in the bin and the
    * cumulative docs/tokens that survive a `p ≥ bin/10` cut (plus the
    * surviving token share in exact ppm). q176 answers "is the
    * classifier calibrated"; this answers "which threshold hits my
    * token budget" — the two tables that together pick the cut.
    * Determinism: p derives from the exact long pre-activation (q126
    * discipline), token counts are exact longs, and the cumulative
    * sums run over the post-aggregation O(10)-bin frame, so the
    * single-partition window is a disclosed tiny-frame hop, not a
    * global sort of the corpus.
    */
  def q189ThresholdYield(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized once (r16): trainElliott persists its own copy and
    // unpersists on return, so the score pass was re-tokenizing and
    // re-hashing the corpus from scratch
    val feat = classifierFeatures(spark, dir).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(length(trim(col("text"))) > 0,
          Text.tokenCount(col("text")).cast("long")).otherwise(0L)
          .as("n_toks"))
    val binned = graft.ext.Classifier.score(feat, w)
      .join(toks, Seq("doc_id"))
      .withColumn("bin", floor(col("p") * 10).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
    val cum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("docs_ge", sum(col("n_docs")).over(cum))
      .withColumn("toks_ge", sum(col("n_toks")).over(cum))
      .withColumn("__total", sum(col("n_toks")).over(all))
      .withColumn("tok_share_ppm", expr("toks_ge * 1000000 div __total"))
      .select(col("bin"), col("n_docs"), col("n_toks"),
        col("docs_ge"), col("toks_ge"), col("tok_share_ppm"))
      .orderBy(col("bin"))
  }

  /** Cross-source score CALIBRATION
    * ([[graft.ext.TrainPrep.quantileNormalize]]): the q14 composite
    * quality score mapped onto each source's empirical CDF — the
    * correction that makes "top 20% by quality" mean the same thing
    * in every domain before a mixing decision thresholds it. Exact
    * per-doc rank/ppm table; the oracle computes the same ranks with
    * a plain per-source window, so the hash check pins the two-phase
    * (KLL-bucketed, no per-group global sort) decomposition equal to
    * the naive form.
    */
  def q190QuantileNorm(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.quantileNormalize(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality")),
      "source", "doc_id", col("quality"), numBuckets = 8)
      .select(col("doc_id"), col("source"), col("quality"),
        col("q_rank"), col("group_n"), col("quantile_ppm"))
      .orderBy(col("doc_id"))

  /** STREAMING twin of q190: the per-source quantile table maintained
    * over the growing corpus. A rank is corpus-GLOBAL (one arriving
    * doc shifts every later rank in its source), so the incremental
    * form is snapshot recompute (q104b/q105b mechanics via
    * [[graft.stream.Jobs.runPlanRecomputeStream]]); the plan is
    * content-deterministic, so the final published table bit-equals
    * the batch path — q190's own oracle checks it.
    */
  def q190bQuantileNormStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q190b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp, withSource = true)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.TrainPrep.quantileNormalize(
        corpus.select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality")),
        "source", "doc_id", col("quality"), numBuckets = 8)
        .select(col("doc_id"), col("source"), col("quality"),
          col("q_rank"), col("group_n"), col("quantile_ppm")), filesPerTrigger = 2)
      .orderBy(col("doc_id"))
  }

  /** TEMPERATURE-based mixture allocation
    * ([[graft.ext.TrainPrep.temperatureMixture]], the mT5/XLM-R
    * p_g ∝ n_g^(1/T) sampling rule at T = 2): per-source token
    * counts compressed by the square root, re-shared, and turned
    * into exact token targets + the implied epochs factor — the
    * proportional-vs-uniform compromise next to q169's UniMax
    * water-filling. One libm pow per source quantized to the 10⁻⁶
    * grid; every share/target/epochs value after is exact
    * DECIMAL(38,0) integer arithmetic.
    */
  def q191TemperatureMixture(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.temperatureMixture(
      Tables.documents(spark, dir), "source",
      when(length(trim(col("text"))) > 0, Text.tokenCount(col("text"))
        .cast("long")).otherwise(0L),
      temperature = 2.0, budget = 100000L)
      .orderBy(col("source"))

  /** HEAPS'-law vocabulary-growth fit ([[graft.ext.Text.heapsFit]]):
    * V(N) ≈ K·N^β over 16 doc-id checkpoints — the accumulation
    * curve beside q185's Zipf frequency curve (templated or
    * duplicate-heavy corpora flatten early). Per-checkpoint
    * cumulative docs/tokens/vocab plus the (β, ln K) OLS fit under
    * the q185 decimal discipline, all in one hash-checkable table.
    */
  def q192HeapsFit(spark: SparkSession, dir: String): DataFrame =
    Text.heapsFit(Tables.documents(spark, dir), "doc_id", "text",
      checkpoints = 16)
      .orderBy(col("checkpoint"))

  /** t-closeness audit ([[graft.dq.Privacy.tClosenessClasses]]):
    * completes the release-gate trilogy — k-anonymity bounds class
    * SIZE (q134), l-diversity bounds distinct sensitive VALUES
    * (q163), t-closeness bounds the sensitive DISTRIBUTION's EMD
    * distance from the global one (the skewness attack the other two
    * miss). QI = (event type, day); sensitive = value band. Exact
    * cross-multiplied integer EMD in DECIMAL(38,0); the at_risk
    * verdict is multiplied-through, so no floor can flip it.
    */
  def q193TCloseness(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Privacy.tClosenessClasses(
      Tables.events(spark, dir).filter(col("value").isNotNull),
      Seq(col("event_type"), to_date(col("ts")).as("day")),
      floor(col("value") / lit(100.0)).cast("long"),
      tPpmBound = 250000L)
      .orderBy(col("event_type"), col("day"))

  /** Sequence-batching PADDING-WASTE report: the same corpus batched
    * two ways at batch size 32 — md5-shuffled order (the naive
    * loader) vs length-sorted order (bucketed batching) — each
    * scored by the tokens a dynamic-padding collate actually pads:
    * Σ_batches (batch_size · max_len − Σ len). The table that
    * justifies length bucketing in a training pipeline (sorted
    * batching routinely halves padded-token throughput loss). Both
    * global ranks come from [[graft.ext.TrainPrep.quantileNormalize]]
    * with a constant group — the two-phase KLL-bucketed rank, so
    * NEITHER strategy needs a global sort; the md5 order ranks by
    * the exact 52-bit numeric value of the 13-hex md5 prefix (the
    * [[graft.ext.TrainPrep.weightedSample]] convention).
    */
  def q194PackingWaste(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(length(trim(col("text"))) > 0, Text.tokenCount(col("text"))
          .cast("long")).otherwise(0L).as("n_toks"))
    def strategy(name: String, score: Column): DataFrame = {
      val ranked = graft.ext.TrainPrep.quantileNormalize(
        docs.withColumn("__grp", lit("all")), "__grp", "doc_id", score,
        numBuckets = 8)
      ranked
        .withColumn("__batch", expr("(q_rank - 1) div 32"))
        .groupBy(col("__batch"))
        .agg(count(lit(1)).as("__n"), max(col("n_toks")).as("__mx"),
          sum(col("n_toks")).as("__sum"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("__sum")).as("real_tokens"),
          sum(col("__n") * col("__mx")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_tokens"),
          expr("CASE WHEN padded_tokens > 0 THEN" +
            " (padded_tokens - real_tokens) * 1000000 div padded_tokens" +
            " ELSE 0L END").as("waste_ppm"))
    }
    val mdScore = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("double")
    strategy("1_shuffled", mdScore)
      .unionByName(strategy("2_sorted", col("n_toks").cast("double")))
      .orderBy(col("strategy"))
  }

  /** Benford first-digit audit
    * ([[graft.dq.Analyzers.benfordReport]]) over order totals (in
    * cents): the forensic screen for fabricated or unit-mangled
    * numeric columns. Digits come from the long's STRING form (no
    * log/float), expectations are compile-time ppm constants, shares
    * are exact truncating ppm — the whole 9-row table hash-checks.
    */
  def q195Benford(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.benfordReport(
      Tables.orders(spark, dir), round(col("o_totalprice") * 100))
      .orderBy(col("digit"))

  /** STREAMING twin of q191: the temperature-mixture allocation
    * maintained over the growing corpus (snapshot recompute — a share
    * is corpus-global: one arriving doc re-shares every group).
    * Content-deterministic plan ⇒ the final published table
    * bit-equals the batch path; q191's own oracle checks it.
    */
  def q191bTemperatureStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q191b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp, withSource = true)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.TrainPrep.temperatureMixture(corpus, "source",
        when(length(trim(col("text"))) > 0, Text.tokenCount(col("text"))
          .cast("long")).otherwise(0L),
        temperature = 2.0, budget = 100000L), filesPerTrigger = 2)
      .orderBy(col("source"))
  }

  /** Holt double-exponential level+trend smoothing
    * ([[graft.ext.TimeSeries.holtHourly]]): q167's EWMA lags any
    * sustained ramp by construction; Holt's second recursion absorbs
    * it into an explicit trend and emits the one-step-ahead forecast
    * a capacity alert compares against. All-long truncating
    * recursions (the q167 discipline), replayed as a recursive CTE.
    */
  def q198HoltTrend(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.holtHourly(
      Tables.events(spark, dir), "event_type", "ts")
      .orderBy(col("key"), col("hr"))

  /** STREAMING twin of q198 — and unlike the snapshot-recompute twins
    * (q162b CUSUM is series-global), Holt is a TRUE per-key state
    * machine: `transformWithState` ValueState carries just (level,
    * trend) per key across 4 hour-aligned micro-batches
    * ([[graft.stream.Stateful.runHoltStream]]), so cross-batch memory
    * is O(keys) — the q99 throttle-anchor shape applied to a smoother.
    * Bit-equal to the batch recursion, so it shares q198's
    * recursive-CTE oracle.
    */
  def q198bHoltStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q198b")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4,
      hourAligned = true)
    graft.stream.Stateful.runHoltStream(spark, in,
        stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .orderBy(col("key"), col("hr"))
  }

  /** Tokenizer COMPARISON capstone: q119's BPE and q196's unigram-LM
    * trained on the same corpus and reduced to per-language fertility
    * on EQUAL terms (exact ppm ratios for both — q127 reports BPE in
    * rounded doubles, q197 unigram in ppm; a side-by-side needs one
    * unit), one row per language, plus the normalized-subword
    * vocabulary overlap (each BPE merge's pair with spaces stripped
    * vs the unigram model's multi-char pieces) — the table a
    * tokenizer bake-off actually reads. Both vocabularies are O(V)
    * driver literals (the established bounded collects); per-lang
    * metrics are one segmentation map pass + keyed agg each. The
    * oracle replays BOTH trainers end-to-end under a single WITH
    * (the two CTE chains share no names) — the deepest joint replay
    * in the suite.
    */
  def q199TokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // BPE side — the q127 composition, metrics in exact ppm
    val mergeRows = Text.bpeMerges(docs, "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val bpeLang = Text.bpeApply(docs, "doc_id", "text", mergeRows)
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_syms"),
        aggregate(col("syms"), lit(0L),
          (acc, s) => acc + length(s).cast("long")).as("sym_chars"))
      .join(docs.select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast("long").as("n_words")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("bpe_n_words"),
        sum(col("n_syms")).as("bpe_n_syms"),
        sum(col("sym_chars")).as("bpe_sym_chars"))
    // unigram side — the q197 composition
    val vocab = Text.unigramTrain(docs, "doc_id", "text",
      vocabSize = 60, maxPieceLen = 4, rounds = 2, maxWordLen = 20)
      .select(col("piece"), col("cost")).collect()
    val costs = vocab.map(r => r.getString(0) -> r.getLong(1)).toMap
    val wl = docs.select(col("lang"),
        explode(Text.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")).between(1, 20))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
    val seg = wl.select(col("word")).distinct()
      .withColumn("n_pieces",
        size(Text.unigramPieces(col("word"), costs, maxPieceLen = 4))
          .cast("long"))
    val uniLang = wl.join(seg, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("uni_n_words"),
        sum(col("n") * col("n_pieces")).as("uni_n_pieces"),
        sum(col("n") * length(col("word"))).as("uni_n_chars"))
    // normalized-subword overlap of the two learned vocabularies:
    // both sides are already-collected O(V) literals
    val bpeSubs = mergeRows.map { case (l, r) => (l + r).replace(" ", "") }.toSet
    val uniMulti = vocab.map(_.getString(0)).filter(_.length > 1).toSet
    val shared = (bpeSubs intersect uniMulti).size.toLong
    bpeLang.join(uniLang, Seq("lang"))
      .select(col("lang"), col("bpe_n_words"), col("bpe_n_syms"),
        col("bpe_sym_chars"),
        expr("bpe_n_syms * 1000000 div bpe_n_words").as("bpe_syms_ppw_ppm"),
        expr("bpe_sym_chars * 1000000 div bpe_n_syms")
          .as("bpe_chars_per_sym_ppm"),
        col("uni_n_words"), col("uni_n_pieces"), col("uni_n_chars"),
        expr("uni_n_pieces * 1000000 div uni_n_words")
          .as("uni_pieces_ppw_ppm"),
        expr("uni_n_chars * 1000000 div uni_n_pieces")
          .as("uni_chars_per_piece_ppm"),
        lit(shared).as("n_shared_subwords"))
      .orderBy(col("lang"))
  }

  /** ANN index DELETION lifecycle ([[graft.ext.AnnIndex.delete]] —
    * FAISS `remove_ids`): deleting vectors from the persisted IVF-PQ
    * index appends 8-byte ids to a tombstone side table (never a
    * corpus-sized rewrite), search anti-joins them out, and
    * compaction sweeps them physically. The contract is search
    * INVARIANCE: build+delete must equal an index built WITHOUT the
    * deleted vectors under the same frozen quantizers — before AND
    * after the sweep — and no deleted id may ever surface. This
    * closes the FAISS index lifecycle (build q111, ingest q113,
    * serve q121, compact q115, delete here).
    */
  def q200IndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // independent trainings — overlap (guide §2.6), results unchanged
    val (clustered, cbs) = Pipeline.par(
      Similarity.kmeansLabels(base, "vec_id", "embedding",
        k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF),
      graft.ext.Features.pqTrainCodebooks(
        base, "vec_id", "embedding", m = 16, k = 16, iters = 3))
    // checkpoint the encoded table + centroid table: the lifecycle
    // below runs ~17 actions (two index writes, delete, 3 searches,
    // compaction, contract probes) and each re-PLANS its inputs — the
    // kmeans-assign + PQ-encode tree carries k·dim + m·k·sub literal
    // constants, so plan truncation is worth more than the recompute
    // (encode is deterministic ⇒ results unchanged)
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
      .localCheckpoint(true)
    val centroids = Similarity.clusterCentroids(clustered).localCheckpoint(true)
    val queries = embQueries(spark, dir)
    val tmp = tempDir("graft-q200")
    val (full, ref) = (s"$tmp/full", s"$tmp/ref")
    import spark.implicits._
    def searchSet(d: String): Set[(Long, Long, Double, Int)] =
      graft.ext.AnnIndex.searchTopK(
        graft.ext.AnnIndex.read(spark, d), queries, k = 10, nprobe = 3)
        .select(col("query_id"), col("vec_id"), col("adc_score"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
    // the full-index lifecycle (write → delete → search → compact →
    // search) and the reference build-without chain (write → search)
    // touch disjoint dirs and only meet at the final set compares —
    // overlap the two chains (guide §2.6); each chain's internal
    // order (and results) is unchanged
    val ((delSet, sweptSet), refSet) = Pipeline.par(
      {
        graft.ext.AnnIndex.write(codes, centroids, cbs, full)
        graft.ext.AnnIndex.delete(
          base.filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")),
          "vec_id", full)
        val d = searchSet(full)
        graft.ext.AnnIndex.compact(spark, full)
        (d, searchSet(full))
      },
      {
        graft.ext.AnnIndex.write(
          codes.filter(pmod(col("vec_id"), lit(7)) =!= 3), centroids, cbs, ref)
        searchSet(ref)
      })
    val fs = new org.apache.hadoop.fs.Path(full)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(
      ("deleted_search_equals_build_without", delSet == refSet),
      ("no_deleted_id_surfaces", delSet.forall(_._2 % 7 != 3)),
      ("compaction_preserves_search", sweptSet == refSet),
      ("compaction_clears_tombstones",
        !fs.exists(new org.apache.hadoop.fs.Path(s"$full/tombstones"))),
      ("compaction_excises_rows_physically",
        spark.read.parquet(s"$full/codes")
          .filter(pmod(col("vec_id"), lit(7)) === 3).isEmpty))
      .toDF("metric", "ok").orderBy(col("metric"))
  }

  /** Dedup-method RECOMMENDATION — q187's four-pipeline efficacy
    * audit closed into a decision: per method, (docs removed, tokens
    * removed) vs the input, the Pareto-efficiency flag on (maximize
    * tokens removed, minimize docs removed), and one `recommended`
    * row — the Pareto-front member with the best tokens-removed per
    * doc-removed ratio (exact scaled-long, +1 denominator so the
    * zero-doc-loss span excision scores finitely). All arithmetic on
    * the 4-row summary — the expensive part is the audit itself,
    * shared with q187; the decision layer is free. Deterministic:
    * ties break on method name.
    */
  def q201DedupRecommend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the efficacy audit is a 5-ROW summary consumed by two branches
    // (input row + method rows) — materialize it once instead of
    // re-running the four dedup pipelines per branch
    val eff = q187DedupEfficacy(spark, dir).localCheckpoint(true)
    val inp = eff.filter(col("method") === "0_input")
      .select(col("n_docs").as("in_docs"), col("tok_sum").as("in_toks"))
    val m = eff.filter(col("method") =!= "0_input")
      .crossJoin(broadcast(inp))
      .withColumn("docs_removed", col("in_docs") - col("n_docs"))
      .withColumn("toks_removed", col("in_toks") - col("tok_sum"))
      .select(col("method"), col("n_docs"), col("tok_sum"),
        col("docs_removed"), col("toks_removed"))
    val b = m.select(col("method").as("m2"),
      col("toks_removed").as("t2"), col("docs_removed").as("d2"))
    // dominated = some other method removes >= tokens at <= doc cost,
    // strictly better on one axis (4x4 self-join — trivial size)
    val dominated = m.join(broadcast(b),
      col("m2") =!= col("method") &&
        col("t2") >= col("toks_removed") && col("d2") <= col("docs_removed") &&
        (col("t2") > col("toks_removed") || col("d2") < col("docs_removed")),
      "left_semi").select(col("method"))
    val pf = m.join(broadcast(dominated.withColumn("__dom", lit(true))),
        Seq("method"), "left_outer")
      .withColumn("pareto_efficient", coalesce(col("__dom"), lit(false)) === false)
      .withColumn("toks_per_doc_removed_ppm",
        expr("toks_removed * 1000000 div (docs_removed + 1)"))
      .drop("__dom")
    val w = Window.orderBy(
      when(col("pareto_efficient"), lit(0)).otherwise(lit(1)),
      col("toks_per_doc_removed_ppm").desc, col("method"))
    pf.withColumn("recommended",
        row_number().over(w) === 1 && col("pareto_efficient"))
      .select(col("method"), col("n_docs"), col("tok_sum"),
        col("docs_removed"), col("toks_removed"),
        col("toks_per_doc_removed_ppm"), col("pareto_efficient"),
        col("recommended"))
      .orderBy(col("method"))
  }

  /** Deterministic synth recipe for the IMAGE near-dup corpus:
    * doc_ids group into quads (`base = doc_id / 4`); all four
    * variants share the base's dims and coarse pixel pattern `u`
    * (quantized to even gray levels 0,2,..,30), and differ only by a
    * +0/+1 low-bit perturbation `eps` — so within-group pairs sit a
    * few gradient-bit flips apart (a dHash near-dup) while
    * cross-group patterns decorrelate tens of bits. Channels are set
    * `b = g = r = v`, which makes the integer luma
    * `(299r + 587g + 114b)/1000` return `v` itself — the oracle can
    * replay gray values without modeling the channel weights.
    */
  private def synthImageDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      // spread the ENCODE (the expensive leg) across the cores — the
      // parquet scan is one partition at these sizes, and without this
      // every clip would be synthesized on a single task
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 4
        val w = (16 + base % 5).toInt
        val h = (12 + base % 3).toInt
        val bgr = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val u = (base * 37 + y * 11 + x * 29 + (x.toLong * y + base) % 13) % 16
            val eps = ((id % 4) * (1 + y * 5 + x * 3)) % 3 % 2
            val v = (u * 2 + eps).toByte
            val o = (y * w + x) * 3
            bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
            x += 1
          }
          y += 1
        }
        Multimodal.MediaRecord(id, Multimodal.Bmp.encode24(w, h, bgr), "image/bmp")
      }).toDF()
  }

  /** IMAGE near-dup dedup — the multimodal × dedup intersection:
    * synth images (planted perturbed-copy quads) → REAL BMP decode →
    * [[graft.ext.Multimodal.Bmp.dhash60]] perceptual fingerprint →
    * [[graft.ext.Dedup.hammingNearDupPairs]] banded Hamming join
    * (4 × 15-bit pigeonhole chunks, distance ≤ 3) → per-image
    * neighbor census + min-id keep verdict. The oracle regenerates
    * gray values ONLY at the 11×6 sampled grid positions, assembles
    * the 60 gradient bits with shifts, and takes the quadratic
    * `bit_count(xor) ≤ 3` pairs — so the encode → parse → luma →
    * resize-sample → bit-pack → banded-join chain is hash-pinned end
    * to end. At 100 TB the pair surface is the banded join (never
    * corpus²) and only the decode pass touches payload bytes.
    */
  def q202ImageNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.bmpDHashes(spark, synthImageDupMedia(spark, dir), partitions = 8)
        .toDF())

  /** Shared tail of q202/q209: banded Hamming pairs over a dHash
    * fingerprint table → per-image neighbor census + min-id keep
    * verdict.
    */
  private def dhashNearDupCensus(fps: DataFrame): DataFrame = {
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      fps.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 3)
    val sym = pairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val nbrs = sym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_nbrs"), min(col("nbr")).as("min_nbr"))
    fps.join(nbrs, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("width"), col("height"), col("fp"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("media_id")).as("keep"))
      .orderBy(col("media_id"))
  }

  /** STREAMING image fingerprint-index ingest
    * ([[graft.stream.Jobs.runDHashIndexStream]]): q202's corpus
    * arrives as 4 micro-batches of BINARY payloads; each batch is
    * decoded once (real BMP parse → dHash) and appends its
    * fingerprint rows under an idempotent `batch_id=` partition — the
    * payload bytes are never read again. The near-dup census then
    * runs over the MAINTAINED relational index and must reproduce
    * q202's from-scratch result exactly (decode is deterministic, so
    * streamed index ≡ batch fingerprints row-for-row) — one oracle
    * for both, the multimodal × streaming × dedup intersection.
    */
  def q209StreamImageIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthImageDupMedia(spark, dir)
    val tmp = tempDir("graft-q209")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    dhashNearDupCensus(
      Jobs.runDHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** SCALAR-quantizer ADC search contracts
    * ([[graft.ext.Features.sqAdcTopK]], the q107b pattern): q98's
    * uint8 min-max quantizer gains its FAISS-lifecycle search half —
    * reconstruct-from-codes scoring against full-precision queries.
    * Pinned: (a) reconstruction error obeys the round-to-nearest
    * half-code-step bound Δ/510 on EVERY (vector, dim) — a
    * construction theorem, checked exactly with one-ulp slack
    * (constant dims reconstruct to vmin, error 0); (b) ADC top-10
    * recall vs the exact negL2 baseline clears 0.8 — 8 bits/dim keeps
    * the ranking nearly exact, comfortably above the 32×-compressed
    * PQ's 0.2 floor (the cross-method point of the quantization
    * family). Measured recall stays rows-only by nature; the booleans
    * are the stable artifact.
    */
  def q203SqAdcContract(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val stats = graft.ext.Features.dimMinMax(base, "embedding")
    val codes = graft.ext.Features.quantizeVectors(base, "vec_id", "embedding", stats)
    val queries = embQueries(spark, dir)
    val adc = graft.ext.Features.sqAdcTopK(codes, queries, stats, 10)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(queries, base, 10,
      scorer = (a, b) => graft.ext.Features.negSquaredL2(a, b))
      .select(col("query_id"), col("vec_id"))
    val recon = graft.ext.Features.dequantizeVectors(codes, "vec_id", "codes", stats)
    withCached(codes, exact) {
      val hits = exact.join(adc, Seq("query_id", "vec_id")).count()
      val recall = hits.toDouble / exact.count()
      val violations = base.join(recon, Seq("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb_d"),
          col("recon_vec"))
        .select(col("vec_id"),
          posexplode(arrays_zip(col("emb_d"), col("recon_vec"))).as(Seq("dim", "z")))
        .join(broadcast(stats), Seq("dim"))
        .filter(abs(col("z.emb_d") - col("z.recon_vec"))
          > (col("vmax").cast("double") - col("vmin").cast("double"))
            / lit(510.0) * lit(1.0 + 1e-9) + lit(1e-12))
        .count()
      import spark.implicits._
      Seq(
        ("sq_adc_recall_at_10_ge_0.8", recall >= 0.8),
        ("sq_recon_error_le_half_code_step", violations == 0L))
        .toDF("metric", "ok").orderBy(col("metric"))
    }
  }

  /** STREAMING BM25 index maintenance + serve
    * ([[graft.stream.Jobs.runBm25IndexStream]]): the corpus arrives
    * in 4 micro-batches; each appends its own postings/doc-length
    * partitions (tokenized once, ever — O(batch) per trigger, the
    * genuinely incremental tier) and merges the 1-row stats monoid,
    * then q136's queries are served FROM the maintained index
    * ([[graft.ext.Text.bm25ServeFromIndex]], arithmetic-identical to
    * the from-text scorer by construction). Shares q136's oracle
    * verbatim: index-maintained retrieval ≡ from-text retrieval,
    * hash-checked — the streaming × retrieval intersection.
    */
  def q204StreamBm25Index(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q204")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    val (postings, dl, stats) =
      Jobs.runBm25IndexStream(spark, in, schema, s"$tmp/work")
    Text.bm25ServeFromIndex(postings, dl, stats,
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** MMR diversified re-ranking ([[graft.ext.Similarity.mmrRerank]],
    * Carbonell & Goldstein 1998): dense cosine top-20 per query →
    * greedy λ=0.7 selection of 5, trading relevance against max
    * similarity to what's already picked — the standard redundancy
    * cut over near-duplicate retrieval hits. Relevance and pairwise
    * sims are rounded-cosine micro-units (exact longs), ties to the
    * lower id, so the oracle unrolls ALL FIVE greedy stages —
    * candidate set, per-stage max-sim-to-selected, argmax — in SQL
    * and every (rank, id, score) hash-matches. Candidate-pair surface
    * is queries × C², retriever-bounded; the corpus-sized work stays
    * in the retriever.
    */
  def q205MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cand = Similarity.bruteForceTopK(embQueries(spark, dir), corpus, 20,
      scorer = graft.ext.VectorKernels.CosineF)
      .select(col("query_id"), col("vec_id"),
        round(col("cos_sim") * lit(1e6)).cast("long").as("rel"))
    val cv = cand.join(corpus, Seq("vec_id"))
    val a = cv.select(col("query_id"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = cv.select(col("query_id"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    val sims = a.join(b, Seq("query_id")).filter(col("id_a") =!= col("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        round(round(graft.ext.VectorKernels.cosineF(col("va"), col("vb")), 6) * lit(1e6))
          .cast("long").as("sim"))
    Similarity.mmrRerank(cand, sims, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** STREAMING KLL sketch maintenance
    * ([[graft.stream.Jobs.runKllMergeStream]]): per-event-type value
    * sketches kept fresh across 4 micro-batches — each batch sketches
    * only its own rows, then merges into the published per-key state
    * (O(batch + |state|) per trigger; raw values are seen once,
    * ever). The q178 verification discipline on the STREAMED state:
    * exact per-type row counts (they ride the state as a plain summed
    * measure, so a dropped or doubled batch fails the hash) plus the
    * stream-maintained sketch's p50/p95 rank-verified against the raw
    * batch corpus within 4% — closing the sketches × streaming
    * intersection the batch rollups (q178/q180) left open.
    */
  def q207StreamSketchState(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.KllAgg
    val tmp = tempDir("graft-q207")
    val (in, schema) = eventSliceStreamInput(spark, dir, tmp)
    val state = Jobs.runKllMergeStream(spark, in, schema, s"$tmp/work",
      "event_type", "value", k = 256, stateShufflePartitions = Some(8))
    val qs = state.select(col("event_type"), col("n_rows"),
      KllAgg.quantile(col("sk"), 0.5).as("q50"),
      KllAgg.quantile(col("sk"), 0.95).as("q95"))
    Tables.events(spark, dir).filter(col("value").isNotNull)
      .join(broadcast(qs), Seq("event_type"))
      .groupBy(col("event_type"), col("n_rows"))
      .agg(
        avg(when(col("value") <= col("q50"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("value") <= col("q95"), 1.0).otherwise(0.0)).as("r95"))
      .select(col("event_type"), col("n_rows"),
        (abs(col("r50") - 0.5) <= 0.04 &&
          abs(col("r95") - 0.95) <= 0.04).as("ok"))
      .orderBy(col("event_type"))
  }

  /** KMV (bottom-k) sketch set algebra
    * ([[graft.ext.Dedup.kmvSketch]] / [[graft.ext.Dedup.kmvPairOverlap]]):
    * per-source bottom-256 signatures over distinct 3-gram shingles,
    * then every pairwise intersection/union/Jaccard ESTIMATE read off
    * the signatures alone — the set-algebra sketch HLL (q66) can't
    * provide and the exact matrix (q188) pays a full join for.
    * Hashes are the portable md5 form and θ-truncation plus the one
    * fixed-order IEEE scale factor are deterministic, so every
    * estimate — not a contract, the VALUES — hash-checks against an
    * oracle that rebuilds sketches from raw text (hex-string order ≡
    * numeric order; 'g' > any hex digit plays 2^60). ~1.3k shingles
    * per source vs k=256 keeps the genuinely-approximate path
    * exercised at every SF.
    */
  def q208KmvOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.kmvPairOverlap(
      graft.ext.Dedup.kmvSketch(Tables.documents(spark, dir),
        "source", "text", shingleSize = 3, k = 256), k = 256)
      .orderBy(col("src_a"), col("src_b"))

  /** KMV accuracy CONTRACT (the q188b discipline): the sketch
    * estimates of q208 land within 4σ (σ ≈ n/√(k−2), the KMV
    * standard error) of the EXACT per-pair distinct-shingle union
    * and intersection, computed by the full join the sketch exists
    * to avoid. Exact counts ride the output, so the oracle pins them
    * value-for-value; the contract booleans certify the estimator
    * MATH is right, not merely reproducible.
    */
  def q208bKmvContract(spark: SparkSession, dir: String): DataFrame = {
    // ONE distinct-shingle relation feeds the exact counts, the exact
    // intersections, AND the sketch build (kmvSketchFromGrams) — the
    // estimate side previously re-exploded and re-hashed the corpus
    // from text (two ~4 s jobs at sf0.1; the distinct's exchange is
    // reused across the four consumers)
    val grams = Tables.documents(spark, dir)
      .select(col("source").as("grp"),
        explode(graft.ext.Dedup.wordShingles(col("text"), 3)).as("gram"))
      .distinct()
    val counts = grams.groupBy(col("grp").as("source")).agg(count(lit(1)).as("n"))
    val inter = grams.select(col("grp").as("src_a"), col("gram"))
      .join(grams.select(col("grp").as("src_b"), col("gram")), Seq("gram"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    val est = graft.ext.Dedup.kmvPairOverlap(
      graft.ext.Dedup.kmvSketchFromGrams(grams, k = 256), k = 256)
    val bound = est
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left_outer")
      .withColumn("n_exact_inter", coalesce(col("n_exact_inter"), lit(0L)))
      .withColumn("n_exact_union", col("na") + col("nb") - col("n_exact_inter"))
      .withColumn("__tol",
        lit(4.0) * col("n_exact_union").cast("double") / lit(math.sqrt(254.0)))
    bound.select(col("src_a"), col("src_b"),
      col("n_exact_inter"), col("n_exact_union"),
      (abs(col("est_union") - col("n_exact_union")).cast("double") <= col("__tol") &&
        abs(col("est_intersection") - col("n_exact_inter")).cast("double") <= col("__tol"))
        .as("ok"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Competence-based CURRICULUM schedule
    * ([[graft.ext.TrainPrep.curriculumSchedule]], Platanios et al.
    * 2019): the corpus ordered easy→hard by token count (the
    * canonical length curriculum) through the exact zero-global-sort
    * rank, phased by the quantized √-competence pacing (phase p of 4
    * admits the easiest ⌊N·√(p/4)⌋ docs — closed form
    * ⌈rank²·4/N²⌉, truncating decimal arithmetic), with a
    * deterministic md5 within-phase training order. The per-doc
    * artifact — rank, first admitting phase, phase order — is what a
    * training loop consumes; the oracle replays rank, the integer
    * closed form, and the md5 order window verbatim.
    */
  def q210Curriculum(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.curriculumSchedule(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", Text.tokenCount(col("text")).cast("long"), phases = 4)
      .select(col("doc_id"), col("difficulty"), col("difficulty_rank"),
        col("n_docs"), col("first_phase"), col("phase_order"))
      .orderBy(col("doc_id"))

  /** STREAMING curriculum twin: the schedule is corpus-GLOBAL (one
    * arriving doc shifts every rank and the phase cut-offs), so
    * snapshot recompute is the correct incremental form
    * ([[graft.stream.Jobs.runPlanRecomputeStream]], the q104b/q132
    * class). Shares q210's oracle verbatim.
    */
  def q210bCurriculumStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q210b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      docs => graft.ext.TrainPrep.curriculumSchedule(
        docs.select(col("doc_id"), col("text")),
        "doc_id", Text.tokenCount(col("text")).cast("long"), phases = 4)
        .select(col("doc_id"), col("difficulty"), col("difficulty_rank"),
          col("n_docs"), col("first_phase"), col("phase_order")), filesPerTrigger = 2)
      .orderBy(col("doc_id"))
  }

  /** ORC source/sink roundtrip — the second columnar format a lake
    * engine must speak (Spark's built-in ORC datasource; no external
    * connector): the orders table lands as ORC partitioned by status,
    * reads back through a fresh scan, and aggregates — which must
    * equal the same aggregation straight off the parquet source, so
    * the oracle (DuckDB reads only the parquet) pins type fidelity
    * (timestamps, doubles, strings) across the format boundary. The
    * partitioned layout keeps ORC's predicate/partition pruning
    * available at scale.
    */
  def q211OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q211")
    Tables.orders(spark, dir)
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .orc(s"$tmp/orders_orc")
    spark.read.orc(s"$tmp/orders_orc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        max(col("o_orderdate")).as("last_order"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("o_orderstatus"))
  }

  /** PHONETIC entity resolution ([[graft.ext.TextNorm.soundex]] +
    * the q160 block/verify discipline): a 150-person registry with
    * planted phonetically-equivalent misspellings (doubled final
    * letter, appended "ey" — both provably soundex-invariant), then
    * blocked on the surname's Soundex class and verified by
    * (levenshtein ≤ 2 AND equal initial). The block catches what
    * exact and edit-distance blocking both miss ("Tymczak" vs
    * "Tymczakk"); the verify rejects same-block different persons
    * ("Robert" vs "Robertson" shares R163 but fails lev ≤ 2). The
    * soundex chain is translate + RE2-safe regexes, so the oracle
    * replays the key itself, not just the pairs.
    */
  def q212PhoneticEr(spark: SparkSession, dir: String): DataFrame = {
    val surnames = Seq("Robert", "Robertson", "Ashcraft", "Tymczak",
      "Pfister", "Honeyman", "Washington", "Lee", "Gutierrez", "Jackson",
      "Schmidt", "Snyder", "Oconnor", "Macdonald", "Herzog", "Castillo",
      "Nguyen", "Okafor", "Svensson", "Almeida")
    val nameArr = array(surnames.map(lit): _*)
    val base = Tables.customer(spark, dir).filter(col("c_custkey") < 150)
      .select(col("c_custkey").as("pid"),
        element_at(nameArr, (col("c_custkey") % 20 + 1).cast("int")).as("surname"),
        expr("char(c_custkey % 26 + 65)").as("initial"))
    val twins = base.filter(col("pid") % 7 === 0)
      .select((col("pid") + 1000).as("pid"),
        when(col("pid") % 2 === 0,
          concat(col("surname"), substring(col("surname"), -1, 1)))
          .otherwise(concat(col("surname"), lit("ey"))).as("surname"),
        col("initial"))
    val keyed = base.unionByName(twins)
      .withColumn("sdx", graft.ext.TextNorm.soundex(col("surname")))
    val a = keyed.select(col("sdx"), col("pid").as("id_a"),
      col("surname").as("sn_a"), col("initial").as("in_a"))
    val b = keyed.select(col("sdx"), col("pid").as("id_b"),
      col("surname").as("sn_b"), col("initial").as("in_b"))
    a.join(b, Seq("sdx")).filter(col("id_a") < col("id_b"))
      .filter(levenshtein(col("sn_a"), col("sn_b")) <= 2 &&
        col("in_a") === col("in_b"))
      .select(col("id_a"), col("id_b"), col("sdx").as("block_sdx"),
        levenshtein(col("sn_a"), col("sn_b")).cast("long").as("surname_lev"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Deterministic conversation fixture: each doc's tokens chunk into
    * 7-token turns with alternating user/assistant roles — an ordered
    * `array<struct<role, content>>` column, the chat data model.
    */
  private def synthConversations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("conv_id"),
        transform(
          sequence(lit(0), ((size(toks) + 6) / 7).cast("int") - 1),
          i => struct(
            when(i % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
            concat_ws(" ", slice(toks, i * 7 + 1, lit(7))).as("content")))
          .as("turns"))
  }

  /** Chat-turn accounting + SFT loss-mask spans
    * ([[graft.ext.Chat.turnStats]]): conversations (nested turn
    * arrays) explode to per-turn rows with token counts and exact
    * half-open token spans on the conversation axis (one prefix-sum
    * window per conversation) — `in_loss` marks the assistant turns,
    * the mask an SFT trainer consumes. The oracle derives every span
    * from the chunking closed form (turn i covers [7i, min(7(i+1),
    * n))), so the window layout is pinned against the spec, not
    * against itself.
    */
  def q213ChatMask(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Chat.turnStats(synthConversations(spark, dir), "conv_id", "turns")
      .orderBy(col("conv_id"), col("turn_idx"))

  /** Chat-template rendering digest ([[graft.ext.Chat.renderTemplate]]):
    * the canonical `<|role|>content<|eot|>` serialization folded in
    * one HOF pass (no explode), reported as per-conversation turn
    * count, total tokens, and the rendered string's md5 — the
    * content-addressed form a training-data release manifest stores.
    */
  def q213bChatRender(spark: SparkSession, dir: String): DataFrame = {
    val conv = synthConversations(spark, dir)
    conv.select(col("conv_id"),
      size(col("turns")).cast("long").as("n_turns"),
      aggregate(col("turns"), lit(0L),
        (acc, t) => acc + size(Text.tokens(t.getField("content")))).as("total_toks"),
      md5(graft.ext.Chat.renderTemplate(col("turns"))).as("render_md5"))
      .orderBy(col("conv_id"))
  }

  /** Preference-pair assembly ([[graft.ext.Chat.preferencePairs]],
    * the DPO/RLHF data shape): docs group into (lang, length-bucket)
    * prompt groups; each group pairs its highest distinct-token-ratio
    * member (chosen) against its lowest (rejected) with the exact ppm
    * margin — deterministic ordered-struct argmax/argmin, zero-margin
    * and singleton groups dropped. One keyed aggregation; the oracle
    * replays score, both argselects, and the filters.
    */
  def q214PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir).selectExpr(
      "lang",
      "size(split(trim(text), '\\\\s+')) div 40 AS len_bucket",
      "doc_id",
      "size(array_distinct(split(trim(text), '\\\\s+'))) * 1000000L" +
        " div size(split(trim(text), '\\\\s+')) AS ttr_ppm")
    graft.ext.Chat.preferencePairs(scored, Seq("lang", "len_bucket"),
      "doc_id", col("ttr_ppm"))
      .orderBy(col("lang"), col("len_bucket"))
  }

  /** q225's corpus: [[synthConversations]] with the source lang kept,
    * plus planted EXACT conversation twins (every `doc_id % 10 == 3`
    * conversation re-appears verbatim under `conv_id + 10⁷`) — chat
    * corpora are notoriously duplicate-heavy and the exact tier needs
    * real duplicates to remove.
    */
  private def synthConvCorpus(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id").as("conv_id"), col("lang"),
        transform(
          sequence(lit(0), ((size(toks) + 6) / 7).cast("int") - 1),
          i => struct(
            when(i % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
            concat_ws(" ", slice(toks, i * 7 + 1, lit(7))).as("content")))
          .as("turns"))
    base.unionByName(
      base.filter(col("conv_id") % 10 === 3)
        .withColumn("conv_id", col("conv_id") + 10000000L))
  }

  /** CONVERSATION-grain dedup — the chat modality joins the dedup
    * matrix: conversations render to their canonical
    * `<|role|>content<|eot|>` serialization
    * ([[graft.ext.Chat.renderTemplate]] — one HOF fold, no explode)
    * and dedup runs at that grain, where turn structure and role
    * assignment participate in identity (two docs chunked
    * differently are different conversations even with equal text).
    * Two tiers, reported per source lang like q220's reduction
    * table: EXACT (render-identity keep-first — catches the planted
    * verbatim twins) and NEAR (lossless 60-bit simhash pigeonhole
    * banding over the rendered tokens at Hamming ≤ 3 — q13b's exact
    * machinery, so the oracle rebuilds every fingerprint from
    * md5(token) bits and replays the verdicts with zero recall
    * slack). Keep rule both tiers: survive iff no duplicate with a
    * smaller conv_id.
    */
  def q225ConvDedup(spark: SparkSession, dir: String): DataFrame = {
    // the synth+render corpus feeds FOUR subtrees (the exact tier's
    // self-join reads it twice, the simhash pair pass and the near
    // rollup once each) — materialize it once (q139's survivors
    // discipline; profiled 4 × ~2 s re-synthesis → one pass,
    // warm 10.6 → ~4 s)
    val conv = synthConvCorpus(spark, dir)
      .withColumn("rendered", graft.ext.Chat.renderTemplate(col("turns")))
      .select(col("conv_id"), col("lang"), col("rendered"))
      .localCheckpoint(true)
    def rollup(keep: DataFrame, method: String): DataFrame =
      keep.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_convs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .select(lit(method).as("method"), col("lang"), col("n_convs"),
          col("n_kept"), (col("n_convs") - col("n_kept")).as("n_removed"))
    // exact tier shuffles the 16-byte render digest, never the
    // rendered text itself (q11's content-addressed grain — at
    // 100 TB the rendered string as a shuffle key is the whole
    // corpus over the wire)
    val keyed = conv.withColumn("rk", md5(col("rendered")))
    val exact = rollup(keyed
      .join(keyed.groupBy(col("rk")).agg(min(col("conv_id")).as("__mn")),
        Seq("rk"))
      .withColumn("keep", col("conv_id") === col("__mn")), "exact_render")
    // NOT checkpointed: the pair list's two symmetrized legs share
    // their exchange (A/B'd this round — a localCheckpoint here was a
    // wash warm and slower cold)
    val pairs = Dedup.simhashNearDupPairs(
      conv.select(col("conv_id"), col("rendered")), "conv_id", "rendered",
      bits = 60, maxDistance = 3)
    val minNbr = pairs.select(col("id_a").as("conv_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("conv_id"), col("id_a").as("nbr")))
      .groupBy(col("conv_id")).agg(min(col("nbr")).as("mn"))
    val near = rollup(conv.join(minNbr, Seq("conv_id"), "left_outer")
      .withColumn("keep", col("mn").isNull || col("mn") > col("conv_id")),
      "near_simhash")
    exact.unionByName(near).orderBy(col("method"), col("lang"))
  }

  /** CROSS-MODAL paired dedup — the LAION-style (image, caption)
    * verdict: each doc_id is a pair of q202's synth image and its
    * caption (the doc text), and a pair is a duplicate of another
    * when EITHER side matches — image dHash within Hamming ≤ 3
    * (the guarded banding) OR caption simhash within ≤ 3 (lossless
    * pigeonhole). Survivorship = keep iff no flagged neighbor with
    * a smaller pair id. The two failure cases web-scale paired
    * corpora actually contain both occur here by construction:
    * q202's quads are image-same/caption-different (re-encoded image
    * under a new caption), and q13b's natural text near-dups are
    * caption-same/image-different (same alt-text on a different
    * image) — the per-side neighbor counts in the output separate
    * them, and the oracle replays both fingerprint families and the
    * OR-union verdict exactly.
    */
  def q226CrossModalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // q226's own image recipe: UNIQUE per-doc patterns except the
    // planted twin pairs (doc_id % 16 ∈ {0,1} share their pair's
    // base pattern, one low-bit apart) — unlike q202's all-quads
    // corpus, most images here have NO image neighbor, so the
    // caption-side near-dups surface as genuine
    // caption-same/image-different verdicts
    val media = docs.select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = if (id % 16 <= 1) id - id % 16 else id
        val w = (16 + base % 5).toInt
        val h = (12 + base % 3).toInt
        val bgr = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val u = (base * 37 + y * 11 + x * 29 + (x.toLong * y + base) % 13) % 16
            val eps = ((id % 4) * (1 + y * 5 + x * 3)) % 3 % 2
            val v = (u * 2 + eps).toByte
            val o = (y * w + x) * 3
            bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
            x += 1
          }
          y += 1
        }
        Multimodal.MediaRecord(id, Multimodal.Bmp.encode24(w, h, bgr), "image/bmp")
      }).toDF()
    val imgFps = Multimodal.bmpDHashes(spark, media, partitions = 8).toDF()
      .select(col("media_id").as("pair_id"), col("fp"))
    // each pair list feeds its per-side neighbor count AND the OR-union
    // verdict (the sym legs double that again) — materialize the two
    // expensive banded self-joins once; the pair lists are tiny
    val imgPairs = Dedup.hammingNearDupPairs(imgFps, "pair_id", "fp",
      bits = 60, maxDistance = 3).select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val capPairs = Dedup.simhashNearDupPairs(
      docs.select(col("doc_id"), col("text")), "doc_id", "text",
      bits = 60, maxDistance = 3).select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    def sym(p: DataFrame): DataFrame =
      p.select(col("id_a").as("pair_id"), col("id_b").as("nbr"))
        .unionByName(p.select(col("id_b").as("pair_id"), col("id_a").as("nbr")))
    val isym = sym(imgPairs); val csym = sym(capPairs)
    val asym = isym.unionByName(csym).distinct()
    docs.select(col("doc_id").as("pair_id"))
      .join(isym.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_img_nbrs")), Seq("pair_id"), "left_outer")
      .join(csym.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_cap_nbrs")), Seq("pair_id"), "left_outer")
      .join(asym.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_dup_nbrs"), min(col("nbr")).as("min_nbr")),
        Seq("pair_id"), "left_outer")
      .select(col("pair_id"),
        coalesce(col("n_img_nbrs"), lit(0L)).as("n_img_nbrs"),
        coalesce(col("n_cap_nbrs"), lit(0L)).as("n_cap_nbrs"),
        coalesce(col("n_dup_nbrs"), lit(0L)).as("n_dup_nbrs"),
        col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("pair_id")).as("keep"))
      .orderBy(col("pair_id"))
  }

  /** STREAMING KMV sketch maintenance
    * ([[graft.stream.Jobs.runKmvMergeStream]]): per-source bottom-256
    * signatures kept fresh across 4 micro-batches — and because
    * "k smallest of the union" is an exact order-free merge (distinct
    * before the cut), the streamed state is BIT-EQUAL to the batch
    * sketch, so the overlap table served from it shares q208's
    * value-level oracle verbatim. The strongest streamed-sketch
    * guarantee in the repo: not a rank contract (q207's KLL), exact
    * equality.
    */
  def q215StreamKmvState(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q215")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp, withSource = true)
    val state = Jobs.runKmvMergeStream(spark, in, schema, s"$tmp/work",
      "source", "text", shingleSize = 3, k = 256,
      stateShufflePartitions = Some(8))
    graft.ext.Dedup.kmvPairOverlap(state, k = 256)
      .orderBy(col("src_a"), col("src_b"))
  }

  /** T5-style span corruption ([[graft.ext.Text.spanCorrupt]], the
    * denoising-objective data prep): md5-coin-selected stride-5
    * blocks lose their first 3 tokens to `<extra_id_k>` sentinels;
    * input/target digests plus exact block/token counts per doc.
    * Stride alignment replaces the sequential greedy non-overlap
    * walk with a construction that is one explode + two windows + an
    * ordered fold — fully distributed AND fully replayable (the
    * oracle rebuilds both strings and every count).
    */
  def q216SpanCorrupt(spark: SparkSession, dir: String): DataFrame =
    Text.spanCorrupt(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_blocks"), col("n_corrupt_blocks"),
        col("n_corrupt_toks"),
        md5(col("input")).as("input_md5"),
        md5(col("target")).as("target_md5"))
      .orderBy(col("doc_id"))

  /** Fill-in-the-middle data prep ([[graft.ext.Text.fimTransform]],
    * Bavarian et al. 2022): md5-split prefix/middle/suffix
    * re-serialized in PSM sentinel order — the code-pretraining
    * transformation, as a pure map pass. Output keeps the exact
    * split offsets plus the rendered string's md5; the oracle
    * rebuilds the 12-bit hashes digit-by-digit, both offsets, and
    * the full PSM byte string.
    */
  def q217FimTransform(spark: SparkSession, dir: String): DataFrame =
    Text.fimTransform(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_toks"), col("fim_applied"),
        col("split_a"), col("split_b"), md5(col("psm")).as("psm_md5"))
      .orderBy(col("doc_id"))

  /** Content-defined chunking + storage-level chunk dedup
    * ([[graft.ext.Dedup.cdcChunks]], the LBFS/restic boundary rule at
    * token grain): rolling 3-token-window md5 boundaries (~12-token
    * chunks) make chunk identity edit-robust — an insertion re-chunks
    * only up to the next boundary, so duplicate passages re-align
    * where fixed-stride chunking goes off-phase. Reported per doc:
    * chunk count, token total (must reconstruct n), and how many of
    * its chunks appear verbatim in ≥ 2 docs (the cross-doc share the
    * chunk store deduplicates). The oracle replays windows,
    * boundaries, ordered chunk folds, and the doc-frequency join.
    */
  def q218CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.ext.Dedup.cdcChunks(
      Tables.documents(spark, dir), "doc_id", "text")
    val docFreq = chunks.groupBy(col("chunk_text"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    chunks.join(docFreq, Seq("chunk_text"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_toks")).as("n_toks"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L))
          .as("n_shared_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic synth recipe for the AUDIO near-dup corpus:
    * clips group into quads (base = doc_id / 4) sharing the base's
    * pseudorandom waveform; variants add a +variant bump on every
    * 5th sample — a sub-LSB-scale perturbation that flips only
    * near-equal frame-energy comparisons, so within-group fingerprints
    * sit a few bits apart while cross-group waveforms decorrelate.
    */
  private def synthAudioDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val n = (200 + base % 50).toInt
        val samples = Array.tabulate(n) { j =>
          val core = ((base * 7919L + j * 104729L) % 4096L) - 2048L
          val eps = (id % 4) * (if (j % 5 == 0) 1L else 0L)
          (core + eps).toShort
        }
        Multimodal.MediaRecord(id, Multimodal.Wav.encodePcm16(samples, 8000),
          "audio/wav")
      }).toDF()
  }

  /** AUDIO near-dup dedup ([[graft.ext.Multimodal.Wav.energyHash60]]
    * + the banded Hamming machinery): synth clips (planted perturbed
    * quads) → REAL WAV parse → 61-frame integer energy-gradient
    * fingerprint → pigeonhole pairs ≤ 3 → neighbor census + min-id
    * keep. The acoustic twin of q202: the oracle regenerates
    * samples, frame assignment (`j·61 div n`), exact Σs² energies,
    * gradient bits, and the quadratic verify — the whole encode →
    * chunk-walk parse → fingerprint chain hash-pinned.
    */
  def q219AudioNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupCensus(Multimodal.wavEnergyHashes(spark,
      synthAudioDupMedia(spark, dir), partitions = 8).toDF())

  /** q235 corpus: q219's clips with three quad members re-encoded as
    * FLAC on distinct wire paths — verbatim subframes, auto fixed
    * order at block size 64 (multi-frame), auto fixed with 4 rice
    * partitions at block size 128 — and one left as RIFF/WAV, so the
    * audio magic-byte dispatch is exercised in the same corpus.
    */
  private def synthMixedAudioDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthAudioDupMedia(spark, dir).as[Multimodal.MediaRecord]
      .mapPartitions(_.map { r =>
        if (r.media_id % 4 == 0) r
        else {
          val pcm = Multimodal.Wav.decode(r.payload).getOrElse(
            throw new IllegalStateException(s"fixture WAV must decode: ${r.media_id}"))
          val flac = (r.media_id % 4) match {
            case 1 => graft.ext.Flac.encode(pcm.samples, pcm.sampleRate,
              strategy = graft.ext.Flac.EncVerbatim)
            case 2 => graft.ext.Flac.encode(pcm.samples, pcm.sampleRate,
              blockSize = 64)
            case _ => graft.ext.Flac.encode(pcm.samples, pcm.sampleRate,
              blockSize = 128, partitionOrder = 2)
          }
          Multimodal.MediaRecord(r.media_id, flac, "audio/flac")
        }
      }).toDF()
  }

  /** FLAC near-dup dedup — the compressed-AUDIO leg made REAL: q219's
    * corpus with three quad members on the FLAC wire (from-scratch
    * [[graft.ext.Flac]]: STREAMINFO → CRC-8-checked frame headers →
    * rice-coded fixed-predictor subframes → CRC-16 frame verify) and
    * one on RIFF, dispatched by magic bytes into the SAME
    * energy-gradient fingerprint space. FLAC is lossless, so the
    * decoded samples — and therefore the fingerprints, the pairs,
    * and the census — are IDENTICAL to q219's: the oracle is q219's
    * closed form verbatim. A decoder that mis-rices, mis-predicts,
    * mis-frames, or mis-CRCs any wire variant scatters fingerprints
    * and fails the hash.
    */
  def q235FlacNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupCensus(Multimodal.audioEnergyHashes(spark,
      synthMixedAudioDupMedia(spark, dir), partitions = 8).toDF())

  /** q246 corpus: margin-designed quads for the LOSSY audio tier.
    * Each clip is a 61-frame amplitude staircase (levels 400/800/
    * 1200/1600, adjacent frames never equal — the per-frame energies
    * differ by ≥ 5% for every (level, frame-size) combination, far
    * above the codec's measured reconstruction error) and variants
    * boost one late frame by +800, nudging specific gradient bits.
    * Quad members ride four wires: WAV (variant 0), FLAC (1),
    * MPEG-1 Layer I (2), and MPEG-1 Layer II (3 — grouped
    * quantization, scfsi, the B.2b allocation table; the most common
    * 11172-3 wire in the wild). Unlike q235's lossless
    * legs, MPEG decode only approximates the samples — the fixture's
    * margins make [[graft.ext.Multimodal.Wav.energyHash60]] INVARIANT
    * through the loss (Mpeg1Spec pins it per clip), so the census
    * hash-checks against the closed form computed from the SOURCE
    * samples. The q231-JPEG discipline applied to audio.
    */
  private def synthMpegAudioDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val variant = (id % 4).toInt
        val n = (200 + base % 50).toInt
        val samples = Array.tabulate(n) { j =>
          val f = (j.toLong * 61 / n).toInt
          val boost = if (variant > 0 && f == 56 + variant) 800 else 0
          (400 * (1 + ((base * 7 + 3 * f) % 4)).toInt + boost).toShort
        }
        val (payload, mime) = variant match {
          case 0 => (Multimodal.Wav.encodePcm16(samples, 8000), "audio/wav")
          case 1 => (graft.ext.Flac.encode(samples, 8000, blockSize = 64),
            "audio/flac")
          case 2 => (graft.ext.Mpeg1.encode(samples), "audio/mpeg")
          case _ => (graft.ext.Mpeg1.encodeLayer2(samples), "audio/mpeg")
        }
        Multimodal.MediaRecord(id, payload, mime)
      }).toDF()
  }

  /** MPEG near-dup dedup — the LOSSY audio leg made real: half of
    * every quad rides the from-scratch MPEG-1 Layer I wire
    * ([[graft.ext.Mpeg1]]: CRC-16-checked headers → Layer I bit
    * allocation → scalefactor requantization → 32-band polyphase
    * synthesis → gapless trim), dispatched by the 0xFFE sync into the
    * SAME energy-gradient fingerprint space as WAV/FLAC. The oracle
    * is the census closed form on the SOURCE samples — a decoder
    * whose reconstruction drifts past the fixture's designed margins
    * (or mis-frames, mis-trims, mis-requantizes) scatters
    * fingerprints and fails the hash.
    */
  def q246MpegNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupCensus(Multimodal.audioEnergyHashes(spark,
      synthMpegAudioDupMedia(spark, dir), partitions = 8).toDF())

  /** STREAMING ingest over the LOSSY wire: q246's WAV/FLAC/MPEG corpus
    * arrives as 4 slices / 2 micro-batches; each batch runs the magic-byte audio
    * dispatch (MPEG-1 Layer I decode included) ONCE and appends its
    * energy-hash rows under an idempotent `batch_id=` partition.
    * Decode is deterministic, so the census over the maintained index
    * shares q246's source-sample oracle — the streamed-multimodal
    * matrix now closes over the lossy tier too.
    */
  def q247StreamMpegIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthMpegAudioDupMedia(spark, dir)
    val tmp = tempDir("graft-q247")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    // the stream itself runs to completion inside the call; the
    // returned lazy read is superseded by the post-compaction read
    Jobs.runAudioHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2)
    // maintenance compaction folds the per-trigger batch_id= partitions
    // (graft.sinks.Writers.compactBatchPartitions) INSIDE the
    // oracle-checked path — the census over the compacted index must
    // still hash-match the source-sample closed form
    graft.sinks.Writers.compactBatchPartitions(spark, s"$tmp/work/index")
    audioNearDupCensus(
      spark.read.parquet(s"$tmp/work/index").drop("batch_id"))
  }

  /** STREAMING mixed-audio fingerprint-index ingest
    * ([[graft.stream.Jobs.runAudioHashIndexStream]]): q235's mixed
    * WAV/FLAC corpus arrives as 4 micro-batches; each batch runs the
    * magic-byte audio dispatch (from-scratch FLAC decode included)
    * ONCE and appends its energy-hash rows under an idempotent
    * `batch_id=` partition. The census over the maintained index
    * must reproduce q219/q235 exactly — the streamed-multimodal
    * matrix closes over every real codec tier (BMP q209, WAV q227,
    * video q228, JPEG q231, FLAC here).
    */
  def q236StreamFlacIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthMixedAudioDupMedia(spark, dir)
    val tmp = tempDir("graft-q236")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    audioNearDupCensus(
      Jobs.runAudioHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** Shared tail of q219/q227: banded Hamming pairs over the
    * energy-gradient fingerprint table → per-clip neighbor census +
    * min-id keep verdict.
    */
  private def audioNearDupCensus(fps: DataFrame): DataFrame = {
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      fps.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 3)
    val sym = pairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val nbrs = sym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_nbrs"), min(col("nbr")).as("min_nbr"))
    fps.join(nbrs, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_samples"), col("fp"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("media_id")).as("keep"))
      .orderBy(col("media_id"))
  }

  /** STREAMING audio fingerprint-index ingest
    * ([[graft.stream.Jobs.runWavHashIndexStream]]): q219's WAV corpus
    * arrives as 4 micro-batches of binary payloads; each batch is
    * decoded once (real RIFF parse → energy-gradient hash) and
    * appends its fingerprint rows under an idempotent `batch_id=`
    * partition. The near-dup census runs over the maintained
    * relational index and must reproduce q219's from-scratch result
    * exactly (decode is deterministic) — one oracle for both.
    */
  def q227StreamAudioIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthAudioDupMedia(spark, dir)
    val tmp = tempDir("graft-q227")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    audioNearDupCensus(
      Jobs.runWavHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** q230's corpus: a 1-in-16 doc sample in (original, one-window-
    * delayed) pairs — the delayed clip replays its partner's samples
    * shifted exactly one 100-sample window late (first window
    * duplicated). Pseudo-random samples make adjacent windows hash
    * far apart, so clip-grain matching misses the shift.
    */
  private def synthAudioSeqMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 32 == 0 || id % 32 == 1)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 32
        val delayed = id % 32 == 1
        val nw = (6 + base % 4).toInt
        val samples = Array.tabulate(nw * 100) { g =>
          val s = if (delayed && g >= 100) g - 100 else g
          (((base * 7919L + s * 104729L) % 4096L) - 2048L).toShort
        }
        Multimodal.MediaRecord(id,
          Multimodal.Wav.encodePcm16(samples, 8000), "audio/wav")
      }).toDF()
  }

  /** SEQUENCE-grain audio near-dup — the Shazam-style offset match,
    * q224's composition on the acoustic leg: clips decode once into
    * window-grain energy-gradient hashes
    * ([[graft.ext.Multimodal.wavWindowHashes]], 100-sample windows)
    * and ride the SAME fingerprint-agnostic banded vote
    * ([[graft.ext.Multimodal.sequenceNearDupPairs]]) the video leg
    * uses. Beside it, the clip-grain census (q219's whole-clip
    * 61-frame hash) on the same corpus: the planted one-window-
    * delayed partners shift every clip frame boundary, so clip-grain
    * matching misses them (n_clip_nbrs = 0) while the aligned vote
    * catches each at offset 1. (The linear-congruential sample
    * recipe also yields additional GENUINE cross-clip sequence
    * matches — windows are an arithmetic progression mod 4096, so
    * some base pairs align whole-sequence at a fixed phase offset;
    * the vote finds them, the clip census still misses them, and
    * the oracle replays every one.) The oracle replays samples,
    * both frame geometries, exact energies, gradient bits,
    * candidate offsets, the vote, and both censuses.
    */
  def q230AudioSeqNearDup(spark: SparkSession, dir: String): DataFrame = {
    val media = synthAudioSeqMedia(spark, dir)
    val wh = Multimodal.wavWindowHashes(spark, media,
      windowSamples = 100, partitions = 8).toDF()
    val seqPairs = Multimodal.sequenceNearDupPairs(wh, maxDistance = 2)
    val clip = Multimodal.wavEnergyHashes(spark, media, partitions = 8).toDF()
    val clipPairs = graft.ext.Dedup.hammingNearDupPairs(
      clip.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 2)
    val csym = clipPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(clipPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val cn = csym.groupBy(col("media_id")).agg(count(lit(1)).as("n_clip_nbrs"))
    val ssym = seqPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(seqPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val sn = ssym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_seq_nbrs"), min(col("nbr")).as("min_seq_nbr"))
    clip.select(col("media_id"), col("n_samples"))
      .join(wh.groupBy(col("media_id"))
        .agg(max(col("n_frames")).as("n_windows")), Seq("media_id"))
      .join(cn, Seq("media_id"), "left_outer")
      .join(sn, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_samples"), col("n_windows"),
        coalesce(col("n_clip_nbrs"), lit(0L)).as("n_clip_nbrs"),
        coalesce(col("n_seq_nbrs"), lit(0L)).as("n_seq_nbrs"),
        col("min_seq_nbr"),
        (col("min_seq_nbr").isNull || col("min_seq_nbr") > col("media_id"))
          .as("keep"))
      .orderBy(col("media_id"))
  }

  /** MULTIMODAL dedup capstone: one reduction table across all three
    * modalities' dedup machinery — exact text fingerprints (q11's md5
    * grain), image dHash near-dup (q202's census), audio
    * energy-gradient near-dup (q219's census) — reporting items,
    * survivors, and exact reduction ppm per modality. Each row reuses
    * its modality's full pipeline; the oracle embeds the image/audio
    * census replays as subqueries of their SHARED SQL vals, so the
    * capstone stays pinned to the same spec as its halves.
    */
  def q220MultimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    def summarize(name: String, census: DataFrame): DataFrame =
      census.agg(count(lit(1)).as("n_items"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .select(lit(name).as("modality"), col("n_items"), col("n_kept"),
          expr("(n_items - n_kept) * 1000000 div n_items").as("reduction_ppm"))
    val text = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))) === 1)
    summarize("1_text_exact", text)
      .unionByName(summarize("2_image_dhash", q202ImageNearDup(spark, dir)))
      .unionByName(summarize("3_audio_energy", q219AudioNearDup(spark, dir)))
      .unionByName(summarize("4_video_keyframe", q222VideoNearDup(spark, dir)))
      .orderBy(col("modality"))
  }

  /** STREAMING CDC chunk store ([[graft.stream.Jobs.runCdcChunkStream]]):
    * q218's corpus arrives in 4 micro-batches; each batch chunks only
    * its own documents (text chunked once, ever) and the chunk-store
    * doc-frequency state merges algebraically (docs never span
    * batches, so per-batch distinct counts sum exactly). The final
    * shared-chunk report joins the appended chunk partitions with the
    * merged state and must equal the batch q218 — one oracle. The
    * storage-dedup analogue of q204's inverted-index maintenance.
    */
  def q221StreamCdcStore(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q221")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    // a doc lives in exactly one slice either way and the chunk-store
    // counts merge algebraically, so batch grouping cannot change the
    // report — fold 4 triggers to 2
    val (chunks, state) = Jobs.runCdcChunkStream(spark, in, schema, s"$tmp/work",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
    chunks.join(state, Seq("chunk_text"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_toks")).as("n_toks"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L))
          .as("n_shared_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic synth recipe for the VIDEO near-dup corpus:
    * 11×6 frames (the dHash identity grid) in quads — the base
    * pattern varies per frame (`f` enters the modular term), the
    * variant adds the image recipe's frame-independent low-bit
    * perturbation, so keyframe fingerprints sit a few bits apart
    * within a quad and decorrelate across quads.
    */
  private def synthVideoDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val n = (8 + base % 5).toInt
        val frames = (0 until n).map { f =>
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (base * 37 + f * 7 + y * 11 + x * 29 +
                (x.toLong * y + f + base) % 13) % 16
              val eps = ((id % 4) * (1 + y * 5 + x * 3)) % 3 % 2
              val v = (u * 2 + eps).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** VIDEO frame sampling + keyframe near-dup
    * ([[graft.ext.Multimodal.videoFrameHashes]]): raw-container clips
    * decode ONCE, every 2nd frame is kept and dHash-fingerprinted
    * (the brief's frame-sample op — video bytes never touched again),
    * and clips near-dup on their middle SAMPLED frame's hash through
    * the shared Hamming banding — keyframe hashing, the standard
    * cheap video-dedup key. The oracle regenerates the keyframe's
    * luma from the synth recipe (identity grid), packs bits, and
    * replays pairs + census — the container encode → parse →
    * frame-sample → fingerprint chain hash-pinned. Completes the
    * near-dup matrix: text, image, audio, video on ONE blocking
    * machinery.
    */
  def q222VideoNearDup(spark: SparkSession, dir: String): DataFrame =
    videoKeyframeCensus(Multimodal.videoFrameHashes(spark,
      synthVideoDupMedia(spark, dir), stride = 2, partitions = 8).toDF())

  /** STREAMING video fingerprint-index ingest
    * ([[graft.stream.Jobs.runVideoHashIndexStream]]): q222's raw-video
    * corpus arrives as 4 micro-batches; each batch decodes once
    * (container parse → per-sampled-frame dHash at stride 2) and
    * appends its frame-hash rows under an idempotent `batch_id=`
    * partition. The keyframe census over the maintained index must
    * reproduce q222 exactly — one oracle for both, closing the
    * streamed-multimodal matrix (image q209, audio q227, video here).
    */
  def q228StreamVideoIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthVideoDupMedia(spark, dir)
    val tmp = tempDir("graft-q228")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    videoKeyframeCensus(
      Jobs.runVideoHashIndexStream(spark, in, schema, s"$tmp/work", stride = 2,
        filesPerTrigger = 2))
  }

  /** Shared tail of q222/q228: middle-sampled-frame near-dup census
    * over a (media_id, n_frames, frame_idx, fp) frame-hash table.
    */
  private[graft] def videoKeyframeCensus(fps: DataFrame): DataFrame = {
    val sampled = fps.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"))
    val keyed = fps
      .filter(col("frame_idx") ===
        expr("2 * (((n_frames + 1) div 2) div 2)"))
      .select(col("media_id"), col("n_frames"), col("fp").as("key_fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      keyed.select(col("media_id"), col("key_fp").as("fp")),
      "media_id", "fp", bits = 60, maxDistance = 3)
    val sym = pairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val nbrs = sym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_nbrs"), min(col("nbr")).as("min_nbr"))
    keyed.join(sampled, Seq("media_id"))
      .join(nbrs, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_frames"), col("n_sampled"),
        col("key_fp"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("media_id")).as("keep"))
      .orderBy(col("media_id"))
  }

  /** Column-level sequences for the JPEG near-dup corpus: 6 cluster
    * patterns over luma levels {40, 128, 216}, every adjacent pair a
    * STRICT step (Δ ≥ 88 — far above baseline-JPEG quantization
    * error at q ≥ 85, so every dHash comparison bit survives the
    * lossy roundtrip EXACTLY; ties would be codec-fragile). The
    * resulting 10-bit gradient patterns are pairwise ≥ 4 bits apart
    * → 60-bit fingerprints ≥ 24 apart across clusters, 0 within.
    */
  private val jpegClusterSeqs: Array[Array[Int]] = Array(
    Array(0, 1, 2, 0, 1, 2, 0, 1, 2, 0, 1), // pattern 731
    Array(2, 1, 0, 2, 1, 0, 2, 1, 0, 2, 1), // pattern 292
    Array(0, 2, 0, 2, 0, 2, 0, 2, 0, 2, 0), // pattern 341
    Array(2, 0, 2, 0, 2, 0, 2, 0, 2, 0, 2), // pattern 682
    Array(0, 1, 2, 1, 0, 1, 2, 1, 0, 1, 2), // pattern 819
    Array(2, 1, 0, 1, 2, 1, 0, 1, 2, 1, 0)) // pattern 204

  /** Deterministic synth recipe for the JPEG near-dup corpus: each
    * doc becomes a 44×24 image of 11 vertical 4-px strips whose luma
    * levels follow the doc's CLUSTER sequence
    * (`c = (base·37 + 11) % 6`, `base = doc_id / 4`), gray channels
    * (`b = g = r`) so chroma is constant. The four quad variants
    * exercise four distinct encoder paths — 4:4:4 q90, 4:4:4 q85
    * with a +2 global brightness shift (dHash is shift-invariant),
    * 4:2:0 q90, and grayscale q90 — so one query pins the Huffman /
    * dequant / IDCT / upsample / color-convert machinery across
    * every supported mode. Strips are strict ±88-luma steps, so the
    * decoded fingerprint is BIT-EXACTLY the cluster pattern and the
    * oracle computes it in closed form.
    */
  /** The shared 44×24 gray strip image for a doc id: 11 vertical
    * 4-px strips at luma `levels(seq(c))` (+ a global `shift` for the
    * dHash-shift-invariance variant), `b = g = r`. Factored out so
    * the JPEG (q223), PNG (q232) and mixed-dispatch (q233) corpora
    * are pixel-identical — one closed-form oracle covers all three.
    */
  private def stripImage(id: Long): Multimodal.BmpImage = {
    val levels = Array(40, 128, 216)
    val c = (((id / 4) * 37 + 11) % 6).toInt
    val shift = if (id % 4 == 1) 2 else 0
    val w = 44; val h = 24
    val bgr = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (levels(jpegClusterSeqs(c)(x / 4)) + shift).toByte
        val o = (y * w + x) * 3
        bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
        x += 1
      }
      y += 1
    }
    Multimodal.BmpImage(w, h, bgr)
  }

  private def synthJpegDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = stripImage(id)
        val jpg = (id % 4) match {
          case 0 => graft.ext.Jpeg.encode(img, quality = 90)
          case 1 => graft.ext.Jpeg.encode(img, quality = 85)
          case 2 => graft.ext.Jpeg.encode(img, quality = 90, subsample420 = true)
          case _ => graft.ext.Jpeg.encode(img, quality = 90, grayscale = true)
        }
        Multimodal.MediaRecord(id, jpg, "image/jpeg")
      }).toDF()
  }

  /** q232 corpus: the SAME strip images as q223, encoded as PNG
    * across four wire configurations per cluster quad — each quad
    * member exercises a distinct (color type, filter, DEFLATE block
    * mode) path of the from-scratch [[graft.ext.Png]] codec.
    */
  private def synthPngDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = stripImage(id)
        val png = (id % 4) match {
          case 0 => graft.ext.Png.encode(img, colorType = 2,
            filter = graft.ext.Png.FilterAdaptive,
            deflateMode = graft.ext.Png.DeflateDynamic)
          case 1 => graft.ext.Png.encode(img, colorType = 6,
            filter = 4, deflateMode = graft.ext.Png.DeflateFixed)
          case 2 => graft.ext.Png.encode(img, colorType = 3,
            filter = 0, deflateMode = graft.ext.Png.DeflateDynamic)
          case _ => graft.ext.Png.encode(img, colorType = 0,
            filter = 2, deflateMode = graft.ext.Png.DeflateStored)
        }
        Multimodal.MediaRecord(id, png, "image/png")
      }).toDF()
  }

  /** q233 corpus: one MIXED-FORMAT image corpus — each cluster quad
    * lands as raw BMP, baseline JPEG, palette PNG and grayscale
    * stored-block PNG, so the magic-byte dispatch
    * ([[graft.ext.Multimodal.decodeImage]]) and all three image
    * codecs are pinned by a single census. (The JPEG member is the
    * lossy one; the strip corpus's ±88-luma steps keep its
    * fingerprint bit-exact, the q223 argument.)
    */
  private def synthMixedImageDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = stripImage(id)
        val (bytes, mime) = (id % 4) match {
          case 0 => (Multimodal.Bmp.encode24(img.width, img.height, img.bgr), "image/bmp")
          case 1 => (graft.ext.Jpeg.encode(img, quality = 90), "image/jpeg")
          case 2 => (graft.ext.Png.encode(img, colorType = 3,
            filter = graft.ext.Png.FilterAdaptive,
            deflateMode = graft.ext.Png.DeflateDynamic), "image/png")
          case _ => (graft.ext.Png.encode(img, colorType = 0,
            filter = 1, deflateMode = graft.ext.Png.DeflateStored), "image/png")
        }
        Multimodal.MediaRecord(id, bytes, mime)
      }).toDF()
  }

  /** JPEG near-dup dedup — the compressed-codec leg of the
    * multimodal matrix made REAL: synth baseline-JFIF payloads
    * (four encoder modes per cluster quad) → from-scratch
    * [[graft.ext.Jpeg]] decode (marker walk → Huffman → dequant →
    * IDCT → upsample → YCbCr→RGB) → [[graft.ext.Multimodal.Bmp
    * .dhash60]] → the shared banded Hamming census. The corpus is
    * engineered so lossy decode preserves every gradient bit
    * (±88-luma strip steps vs ≤ ~20 codec error), which is what
    * lets the oracle state the expected fingerprint in CLOSED FORM
    * (cluster pattern × the 6-row replication constant) — a decoder
    * that mis-huffmans, mis-dequantizes, mis-IDCTs, mis-upsamples,
    * or mis-converts any of the four modes scatters fingerprints
    * and the hash check fails. Only the decode pass touches payload
    * bytes; the pair surface is the guarded banded join.
    */
  def q223JpegNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.imageDHashes(spark, synthJpegDupMedia(spark, dir),
        partitions = 8).toDF())

  /** STREAMING JPEG fingerprint-index ingest
    * ([[graft.stream.Jobs.runImageHashIndexStream]]): q223's
    * baseline-JFIF corpus arrives as 4 micro-batches of binary
    * payloads; each batch runs the from-scratch JPEG decode ONCE and
    * appends its dHash rows under an idempotent `batch_id=`
    * partition. The census over the maintained index must reproduce
    * q223 exactly — one closed-form oracle for both, and the
    * compressed-codec tier joins the streamed-multimodal matrix
    * (BMP q209, WAV q227, video q228, JPEG here).
    */
  def q231StreamJpegIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthJpegDupMedia(spark, dir)
    val tmp = tempDir("graft-q231")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    dhashNearDupCensus(
      Jobs.runImageHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** Corrupt-JPEG DLQ split at corpus grain — the O-07 discipline
    * applied to the compressed-codec tier: q223's corpus with
    * planted corruption (`doc_id % 10 == 7` truncated mid-entropy,
    * `doc_id % 10 == 4` first byte flipped) runs through
    * [[graft.ext.Multimodal.decodeImage]], and the census pins that
    * decode succeeds on EXACTLY the valid payloads and returns None
    * on EXACTLY the corrupt ones (id_sum makes membership
    * hash-checked, not just counted) — a decoder that crashes,
    * rejects a valid mode, or "recovers" garbage from corrupt bytes
    * all fail this row.
    */
  def q229JpegDlq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = synthJpegDupMedia(spark, dir).as[Multimodal.MediaRecord]
      .map { r =>
        val p = r.media_id % 10 match {
          case 7 => r.payload.take(r.payload.length / 2)
          case 4 => val c = r.payload.clone(); c(0) = (c(0) ^ 0x40).toByte; c
          case _ => r.payload
        }
        Multimodal.MediaRecord(r.media_id, p, r.mime)
      }.toDF()
    val decoded = Multimodal.imageDHashes(spark, media, partitions = 8).toDF()
      .select(col("media_id"), lit(true).as("decoded"))
    media.join(decoded, Seq("media_id"), "left_outer")
      .withColumn("decoded", coalesce(col("decoded"), lit(false)))
      .groupBy(col("decoded"))
      .agg(count(lit(1)).as("n_media"), sum(col("media_id")).as("id_sum"))
      .orderBy(col("decoded"))
  }

  /** q237 corpus: every document's UTF-8 bytes on the gzip wire in
    * four member/header configurations (dynamic; stored + FNAME +
    * FHCRC; fixed + FEXTRA; dynamic split into TWO concatenated
    * members — the WARC shape), with a planted trailer corruption
    * (`doc_id % 10 == 6`: one ISIZE byte flipped) that every member
    * verification path must catch.
    */
  private def synthGzipDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = Option(text).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val gz = (id % 4) match {
          case 0 => graft.ext.Gzip.compress(bytes)
          case 1 => graft.ext.Gzip.compress(bytes,
            deflateMode = graft.ext.Png.DeflateStored,
            fname = Some(s"doc_$id.txt"), fhcrc = true)
          case 2 => graft.ext.Gzip.compress(bytes,
            deflateMode = graft.ext.Png.DeflateFixed,
            fextra = Some(Array[Byte](7, 7)))
          case _ =>
            if (bytes.length >= 2)
              graft.ext.Gzip.compress(bytes, splitAt = Seq(bytes.length / 2))
            else graft.ext.Gzip.compress(bytes)
        }
        if (id % 10 == 6) gz(gz.length - 3) = (gz(gz.length - 3) ^ 0x20).toByte
        Multimodal.MediaRecord(id, gz, "application/gzip")
      }).toDF()
  }

  /** Compressed-TEXT source — the corpus-ingest shape training data
    * actually arrives in (WET/WARC are per-record gzip members):
    * documents ride the gzip wire in four member/header
    * configurations, decode through the from-scratch
    * [[graft.ext.Gzip]] ([[graft.sources.Readers.gzipText]] — own
    * DEFLATE, per-member CRC-32 + ISIZE verification), and the
    * census pins BYTE-EXACT text recovery (per-doc md5 + length)
    * plus the DLQ contract: the planted trailer flips fail on
    * exactly the corrupt ids, never crash. A reader that
    * mis-inflates, skips a header field wrong, mishandles member
    * concatenation, or skips verification fails the hash.
    */
  def q237GzipCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Readers.gzipText(spark, synthGzipDocs(spark, dir), partitions = 8)
      .select(col("doc_id"),
        col("text").isNotNull.as("ok"),
        when(col("text").isNotNull, length(col("text")).cast("long")).as("n_chars"),
        when(col("text").isNotNull, md5(col("text").cast("binary"))).as("digest"))
      .orderBy(col("doc_id"))

  /** q258 corpus: documents packed 16-to-an-archive as `.tar.gz` —
    * the single most common wire a text corpus ships on. Member
    * names are `<doc_id>.txt`, members sort by id, and every archive
    * whose id ≡ 3 (mod 7) has one DEFLATE byte flipped — the gzip
    * CRC catches it and the WHOLE archive drops (archive-grain DLQ),
    * so membership of the output is itself corruption evidence.
    */
  /** Shared packing scaffold for the archive-ingest corpora: 16 docs
    * per archive, members named `<doc_id>.txt` sorted by id; `pack`
    * turns one archive's entries into (payload, mime), planting its
    * format's corruption as it sees fit.
    */
  private def synthArchivedDocs(spark: SparkSession, dir: String)(
      pack: (Long, Seq[(String, Array[Byte])]) => (Array[Byte], String))
      : DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey { case (id, _) => id / 16 }
      .mapGroups { (aid, docs) =>
        val entries = docs.toSeq.sortBy(_._1).map { case (id, text) =>
          s"$id.txt" -> Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        val (payload, mime) = pack(aid, entries)
        Multimodal.MediaRecord(aid, payload, mime)
      }.toDF().withColumnRenamed("media_id", "archive_id")
  }

  private def synthTarGzArchives(spark: SparkSession, dir: String): DataFrame =
    synthArchivedDocs(spark, dir) { (aid, entries) =>
      // docs with id % 11 == 5 ship under a > 100-byte path — the
      // writer emits a pax `x` header for them and the reader must
      // restore the full name (real crawl tarballs bury members deep)
      val named = entries.map { case (name, data) =>
        val id = name.stripSuffix(".txt").toLong
        if (id % 11 == 5) ("deep/" + "x" * 92 + "/" + name) -> data
        else name -> data
      }
      val gz = graft.ext.Tar.archiveGz(named)
      if (aid % 7 == 3) gz(gz.length / 2) = (gz(gz.length / 2) ^ 0x10).toByte
      (gz, "application/tar+gzip")
    }

  /** `.tar.gz` corpus ingest — [[graft.ext.Tar]] through the
    * from-scratch [[graft.ext.Gzip]] DEFLATE tier: extract each
    * archive once, one row per member document (id parsed from the
    * entry name, exact length + digest), corrupt archives dropped
    * whole. The oracle replays text identity AND the corruption
    * membership straight from the documents table — a reader that
    * mis-frames a header, mis-parses an octal size, or survives a
    * CRC mismatch changes the row set and fails the hash.
    */
  def q258TarGzIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthTarGzArchives(spark, dir)
      .select(col("archive_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (aid, payload) =>
        graft.ext.Tar.extractGz(payload).toSeq.flatMap(_.map { e =>
          // doc id = the basename — long-path members carry pax-
          // restored directories the id must not include
          val base = e.name.substring(e.name.lastIndexOf('/') + 1)
          (aid, base.stripSuffix(".txt").toLong,
            new String(e.data, java.nio.charset.StandardCharsets.UTF_8))
        })
      }).toDF("archive_id", "doc_id", "text")
      .select(col("archive_id"), col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy(col("doc_id"))
  }

  /** q259 corpus: the q258 packing on the ZIP wire — and the plant
    * shows zip's member-grain recovery: archives with `aid % 5 == 2`
    * get ONE member's central-directory CRC flipped, so exactly that
    * member drops and its 15 siblings survive (tar loses the whole
    * archive to one bad byte; zip's per-member CRC loses one doc).
    */
  private def synthZipArchives(spark: SparkSession, dir: String): DataFrame =
    synthArchivedDocs(spark, dir) { (aid, entries) =>
      // uncorrupted archives with aid % 3 == 1 ship on the zip64 wire
      // (EOCD64 + locator + 0x0001 extras) — the shape any > 4 GiB or
      // > 64k-member crawl archive uses; the reader must resolve the
      // sentinels to the same member set
      val z =
        if (aid % 5 != 2 && aid % 3 == 1) graft.ext.Zip.archiveZip64(entries)
        else graft.ext.Zip.archive(entries)
      if (aid % 5 == 2) {
        // flip a byte of member 0's CENTRAL-directory CRC (the
        // authoritative one): drops that member, size-independent
        def u32(i: Int): Long =
          (z(i) & 0xffL) | ((z(i + 1) & 0xffL) << 8) |
            ((z(i + 2) & 0xffL) << 16) | ((z(i + 3) & 0xffL) << 24)
        val cd = u32(z.length - 22 + 16).toInt
        z(cd + 16) = (z(cd + 16) ^ 0x5a).toByte
      }
      (z, "application/zip")
    }

  /** ZIP corpus ingest — [[graft.ext.Zip]] over the shared raw-DEFLATE
    * tier: extract each archive once (central-directory walk, local
    * offsets, per-member CRC), one row per SURVIVING member. The
    * oracle replays text identity AND the member-grain drop rule —
    * exactly one document per corrupted archive is missing, which a
    * reader that rejects whole archives (or survives CRC mismatches)
    * cannot reproduce.
    */
  def q259ZipIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthZipArchives(spark, dir)
      .select(col("archive_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (aid, payload) =>
        graft.ext.Zip.extract(payload).toSeq.flatMap(_.map { e =>
          (aid, e.name.stripSuffix(".txt").toLong,
            new String(e.data, java.nio.charset.StandardCharsets.UTF_8))
        })
      }).toDF("archive_id", "doc_id", "text")
      .select(col("archive_id"), col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy(col("doc_id"))
  }

  /** CSV source tier ([[graft.sources.Readers.csvWithSchema]] — the
    * O-07 schema-enforcement discipline on the highest-traffic
    * real-world tabular format, north-star scope: the reference's
    * landing is JSON-only, ref glue/data_ingestion_s3.py:30-31).
    * Orders round-trip Spark's CSV writer/reader under a declared
    * schema (quoting, doubles, timestamps), with three TYPE-corrupt
    * lines planted in the landing dir that must route to the
    * corrupt-record DLQ — not fail the read, not pollute the typed
    * aggregates. ONE scan computes the good-side rollup and the DLQ
    * census (the corrupt rows form their own 'DLQ' group), so the
    * split costs nothing extra and the plan always references real
    * data columns (the corrupt-only-projection contract).
    */
  def q260CsvIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-q260")
    // corrupt lines first (plain text part files in the landing dir:
    // the reader globs every non-hidden file), real rows appended as
    // CSV — each line carries exactly one planted type failure
    spark.createDataset(Seq(
      "notanumber,7,O,1.5,1996-01-02T00:00:00.000Z,1-URGENT",
      "12,zz,F,2.5,1996-01-02T00:00:00.000Z,2-HIGH",
      "13,14,P,notadouble,1996-01-02T00:00:00.000Z,3-MEDIUM"))
      .coalesce(1).write.mode("overwrite").text(s"$tmp/landing")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .write.mode("append").csv(s"$tmp/landing")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = true),
      StructField("o_custkey", LongType, nullable = true),
      StructField("o_orderstatus", StringType, nullable = true),
      StructField("o_totalprice", DoubleType, nullable = true),
      StructField("o_orderdate", TimestampType, nullable = true),
      StructField("o_orderpriority", StringType, nullable = true)))
    val parsed = graft.sources.Readers.csvWithSchema(
      spark, s"$tmp/landing", schema)
    val bad = col("_corrupt_record").isNotNull
    parsed
      .groupBy(when(bad, lit("DLQ")).otherwise(col("o_orderstatus"))
        .as("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(when(!bad, col("o_totalprice"))), 2).as("sum_total"),
        countDistinct(when(!bad, col("o_orderpriority"))).as("n_prio"),
        max(when(!bad, col("o_orderdate"))).as("last_order"))
      .orderBy(col("o_orderstatus"))
  }

  /** q240 corpus: each document as a two-record WARC file (warcinfo
    * + a conversion record carrying the text, the WET shape) on
    * three wires — plain bytes, one gzip member, and the Common
    * Crawl one-record-per-member layout ([[graft.sources.Warc
    * .recordOffsets]] as the member split points).
    */
  private def synthWarcDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val recs = Seq(
          graft.sources.Warc.WarcRecord("warcinfo", "", "2026-01-01T00:00:00Z",
            "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          graft.sources.Warc.WarcRecord("conversion",
            s"http://example.com/doc/$id", "2026-01-01T00:00:00Z",
            Option(text).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val bytes = graft.sources.Warc.build(recs)
        val payload = (id % 3) match {
          case 0 => bytes
          case 1 => graft.ext.Gzip.compress(bytes)
          case _ => graft.ext.Gzip.compress(bytes,
            splitAt = graft.sources.Warc.recordOffsets(recs).tail
              .filter(o => o > 0 && o < bytes.length))
        }
        Multimodal.MediaRecord(id, payload, "application/warc")
      }).toDF()
  }

  /** WARC/WET crawl ingest ([[graft.sources.Warc.warcRecords]]) —
    * the container format web-scale training text actually arrives
    * in: two-record WARC files ride three wire variants (plain /
    * whole-file gzip / record-per-member gzip, sniffed by magic),
    * parse ONCE per file into relational record rows, and the
    * census pins record counts, the conversion record's URI, and
    * BYTE-EXACT text recovery per doc. A reader that mis-walks
    * headers, mis-lengths a block, or mishandles member
    * concatenation fails the hash.
    */
  def q240WarcIngest(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.warcRecords(spark, synthWarcDocs(spark, dir), partitions = 8)
      .groupBy(col("media_id").as("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        max(when(col("warc_type") === "conversion", col("target_uri")))
          .as("target_uri"),
        max(when(col("warc_type") === "conversion",
          md5(col("text").cast("binary")))).as("digest"),
        max(when(col("warc_type") === "conversion",
          length(col("text")).cast("long"))).as("n_chars"))
      .orderBy(col("doc_id"))

  /** STREAMING WARC ingest ([[graft.stream.Jobs
    * .runWarcIngestStream]]): q240's corpus arrives as 4
    * micro-batches of WARC files; each batch decompresses + parses
    * ONCE and appends its record rows under an idempotent
    * `batch_id=` partition. The census over the maintained store
    * reproduces q240 exactly — crawl ingest joins the streamed
    * matrix beside the fingerprint indexes.
    */
  def q241StreamWarcIngest(spark: SparkSession, dir: String): DataFrame = {
    val media = synthWarcDocs(spark, dir)
    val tmp = tempDir("graft-q241")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    Jobs.runWarcIngestStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2)
      .groupBy(col("media_id").as("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        max(when(col("warc_type") === "conversion", col("target_uri")))
          .as("target_uri"),
        max(when(col("warc_type") === "conversion",
          md5(col("text").cast("binary")))).as("digest"),
        max(when(col("warc_type") === "conversion",
          length(col("text")).cast("long"))).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** PNG near-dup dedup — the LOSSLESS compressed-codec leg: q223's
    * strip corpus encoded as PNG across four wire configurations per
    * cluster quad (RGB + dynamic Huffman + adaptive filters, RGBA +
    * fixed Huffman + Paeth with the +2 brightness shift, palette +
    * dynamic + filter None, grayscale + stored blocks + filter Up),
    * decoded by the from-scratch [[graft.ext.Png]] (chunk walk +
    * CRC-32 → zlib/Adler-32 → RFC 1951 inflate over all three block
    * types → scanline unfilter → BGR) → dHash → the shared guarded
    * banded census. PNG is lossless, so the decoded fingerprint
    * equals the cluster pattern with no quantization caveat and the
    * oracle is q223's closed form VERBATIM — a decoder that
    * mis-inflates, mis-unfilters, mis-indexes the palette, or
    * mishandles alpha scatters fingerprints and fails the hash.
    */
  def q232PngNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.imageDHashes(spark, synthPngDupMedia(spark, dir),
        partitions = 8).toDF())

  /** q242 corpus: tiny gray PNGs carrying planted tEXt metadata —
    * title / language / shard-index per doc, the caption-and-
    * provenance side-channel of an image-text corpus.
    */
  private def synthPngMetaMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, lang) =>
        val bgr = new Array[Byte](8 * 8 * 3)
        var p = 0
        while (p < 64) {
          val v = (((id + p) * 7) % 251).toByte
          bgr(p * 3) = v; bgr(p * 3 + 1) = v; bgr(p * 3 + 2) = v
          p += 1
        }
        val png = graft.ext.Png.encode(
          Multimodal.BmpImage(8, 8, bgr), colorType = 0,
          textMeta = Seq(
            ("Title", s"doc $id"),
            ("Language", Option(lang).getOrElse("")),
            ("Shard", (id % 7).toString)))
        Multimodal.MediaRecord(id, png, "image/png")
      }).toDF()
  }

  /** Image metadata extraction ([[graft.ext.Png.textChunks]]) — the
    * provenance side-channel read WITHOUT a pixel decode: tEXt
    * chunks are CRC-verified and collected in a header-only walk, so
    * caption/source/shard tracking over an image corpus never pays
    * inflate or unfilter cost. The census pivots the planted
    * keys back to one row per image; the oracle replays every value
    * from the documents table. A reader that mis-walks chunks,
    * mis-splits the keyword NUL, or skips CRC verification fails
    * the hash.
    */
  def q242ImageMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = synthPngMetaMedia(spark, dir)
    val rows = media
      .select(col("media_id"), col("payload"), col("mime"))
      .repartition(8, col("media_id"))
      .as[Multimodal.MediaRecord]
      .flatMap { r =>
        graft.ext.Png.textChunks(r.payload).getOrElse(Nil)
          .map { case (k, v) => (r.media_id, k, v) }
      }
      .toDF("doc_id", "key", "value")
    rows.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_meta"),
        max(when(col("key") === "Title", col("value"))).as("title"),
        max(when(col("key") === "Language", col("value"))).as("language"),
        max(when(col("key") === "Shard", col("value"))).as("shard"))
      .orderBy(col("doc_id"))
  }

  /** Compression-based similarity verify
    * ([[graft.ext.Similarity.ncdBytes]] — Cilibrasi–Vitányi NCD on
    * the shared DEFLATE engine): a 1-in-16 doc sample pairs each
    * document with ITSELF and with its successor in doc order, and
    * the census pins the separation the parameter-free signal must
    * deliver — self pairs score below the duplicate threshold,
    * cross pairs above it. NCD is the verify-tier voice with no
    * shingles/tokenizer/embedding in common with the other dedup
    * signals (an independent failure mode), and O(len) per pair —
    * legal ONLY on candidate pairs, never as a pair generator.
    *
    * Successor pairing runs INSIDE `doc_id div 4096` blocks (a keyed
    * window — the global-orderBy form lands the whole sample in one
    * partition at scale); the last sampled doc of each block has no
    * in-block successor and is disclosed-dropped, exactly as the
    * oracle replays.
    */
  def q243NcdVerify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__blk")).orderBy(col("doc_id"))
    val sampled = Tables.documents(spark, dir)
      .filter(col("doc_id") % 16 === 0 && length(col("text")) >= 50)
      .withColumn("__blk", expr("doc_id div 4096"))
      .select(col("doc_id"), col("text"),
        lead(col("text"), 1).over(w).as("next_text"))
      .filter(col("next_text").isNotNull)
    // the triple-gzip NCD leg is the expensive map — spread it off the
    // window's __blk partitioning (media-synth discipline)
    sampled.repartition(32).as[(Long, String, String)]
      .mapPartitions(_.map { case (id, a, b) =>
        val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val dSelf = graft.ext.Similarity.ncdBytes(ab, ab)
        val dCross = graft.ext.Similarity.ncdBytes(ab, bb)
        (id, dSelf, dCross)
      })
      .toDF("doc_id", "d_self", "d_cross")
      // measured gap on this corpus: d_self <= 0.12, d_cross >= 0.55
      // at every SF — 0.3 sits mid-gap with wide margins both sides
      .select(col("doc_id"),
        (col("d_self") < 0.3).as("self_dup"),
        (col("d_cross") > 0.3).as("cross_distinct"))
      .orderBy(col("doc_id"))
  }

  /** Mixed-format image near-dup — the dispatch capstone: ONE corpus
    * whose cluster quads land as raw BMP, baseline JPEG, palette PNG
    * and grayscale stored-block PNG, run through the magic-byte
    * dispatch ([[graft.ext.Multimodal.decodeImage]]) and the shared
    * census. All three image codecs plus the dispatch itself are
    * pinned by q223's closed-form oracle — the real-corpus shape,
    * where a crawl hands you a bag of formats and the engine must
    * fingerprint them all into ONE dedup space.
    */
  def q233MixedImageNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.imageDHashes(spark, synthMixedImageDupMedia(spark, dir),
        partitions = 8).toDF())

  /** Thumbnail-pipeline near-dup — the preprocessor shape: the mixed
    * BMP/JPEG/PNG corpus decodes ONCE, bilinear-resamples to a fixed
    * 22×12 thumbnail ([[graft.ext.Multimodal.Bmp.resizeBilinear]] —
    * integer 16.16 fixed point, bit-reproducible), and the census
    * runs on THUMBNAIL fingerprints. The 2:1 geometry makes the
    * closed form survive exactly: every 2-px output strip averages
    * two same-level source pixels (strip width 4, pairs never
    * straddle a boundary) and the 11-grid dHash samples `2·gx`,
    * landing in strip gx exactly as the full-size hash does — so a
    * correct scaler reproduces q223's census verbatim at the new
    * dims, and any resample-arithmetic defect (wrong weights, edge
    * clamp, center alignment, channel order) shifts a strip value
    * and fails the hash.
    */
  def q234ThumbnailNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.thumbnailDHashes(spark, synthMixedImageDupMedia(spark, dir),
        outW = 22, outH = 12, partitions = 8).toDF())

  /** q238 corpus: clips with PLANTED SHOTS — a 1-in-16 doc sample
    * (frame-level oracle replay stays tractable), each clip
    * `n = 12 + base % 7` frames in shots of `2 + base % 3` frames;
    * frames within a shot are IDENTICAL (the q224 pattern keyed on
    * the shot index, not the frame index), so every within-shot
    * hamming is 0 and every boundary is a content change.
    */
  private def synthShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        def pattern(s: Int): Array[Byte] = {
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (base * 37 + s * 7 + y * 11 + x * 29 +
                (x.toLong * y + s + base) % 13) % 16
              val v = (u * 2).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        val frames = (0 until n).map(f => pattern(f / shotLen))
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** Shot-boundary detection ([[graft.ext.Multimodal
    * .shotBoundaries]]) — the segmentation a video pipeline runs
    * before per-shot sampling: clips decode ONCE at stride 1, one
    * lag window over the fingerprint index marks every frame whose
    * dHash moves > 2 bits from its predecessor, and the census
    * reports per-clip shot counts, boundary-index sums, and the
    * first frame of the LAST shot. The oracle replays every frame
    * fingerprint from the planted-shot recipe, the lag, the
    * bit_count threshold, and the aggregation — a detector that
    * mis-lags, mis-thresholds, or re-orders frames fails the hash.
    */
  def q238ShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthShotMedia(spark, dir), stride = 1, partitions = 8).toDF()
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** q239 corpus: clips built from a SHARED SCENE POOL — clip `base`
    * plays scene `(base + j) % 6` at shot `j` for `j < 5 + base % 3`
    * EXCEPT shots with `(base + j) % 4 == 1`, which render a
    * clip-PRIVATE scene (`1000 + base·8 + j`) no other clip has. Two
    * frames per shot, every frame rendered from the SCENE id alone,
    * so a shared scene is pixel-identical across clips and a private
    * one matches nothing: the shared-intro/outro shape video
    * training dedup actually hunts, with real negative cases (~1/4
    * of clips open on a private scene).
    */
  private def synthSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Int =
          if ((base + j) % 4 == 1) (1000 + base * 8 + j).toInt
          else ((base + j) % 6).toInt
        def pattern(scene: Int): Array[Byte] = {
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (scene * 31 + y * 11 + x * 29 +
                (x.toLong * y + scene) % 13) % 16
              val v = (u * 2).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        val frames = (0 until nShots * 2).map(f => pattern(sceneOf(f / 2)))
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** SCENE-grain video dedup — shots, not clips, as the dedup unit
    * (the shared-intro/credits problem: two distinct videos that
    * open with the same sequence are duplicates at scene grain and
    * nothing else): decode once → [[graft.ext.Multimodal
    * .shotBoundaries]] segments each clip → one representative
    * fingerprint per shot (its first frame) → the guarded banded
    * Hamming join over composite `clip·64 + shot` ids → CROSS-CLIP
    * matches only. Census: per clip, total shots, how many are
    * shared with another clip, and whether the OPENING shot is —
    * the intro-detection verdict. The oracle replays scene
    * assignment, frame fingerprints, segmentation, representatives,
    * the pair surface, and both counts.
    */
  def q239SceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthSceneMedia(spark, dir), stride = 1, partitions = 8).toDF()
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  // ---------------------------------------- MPEG-1 video wire (q250-252)

  /** Margin-designed STRIP pattern for the compressed-video corpora
    * (the q223 JPEG discipline applied to the MPEG-1 wire): 11 strip
    * levels from {40, 128, 216} via an adjacent-distinct walk keyed on
    * `s` — every adjacent strip differs by ≥ 88 luma (≫ intra-quant
    * error at qscale ≤ 5), so each of the 10 dHash gradient bits
    * survives the lossy roundtrip EXACTLY. The 10-bit row pattern
    * replicates across all 6 dHash rows, so any two distinct patterns
    * are ≥ 6 fingerprint bits apart — strictly above every census
    * threshold (≤ 2, ≤ 3): near-dup relations reduce to deterministic
    * pattern EQUALITY the oracle replays in closed form.
    */
  private def mpegStripLevels(s: Long): Array[Int] = {
    val lev = new Array[Int](11)
    lev(0) = (s % 3).toInt
    var i = 1
    while (i < 11) {
      val d = ((s * (i + 3) + i.toLong * i) % 2).toInt
      lev(i) = (lev(i - 1) + 1 + d) % 3
      i += 1
    }
    lev
  }

  /** 44×24 gray frame of 11 vertical 4-px strips for walk key `s`. */
  private def mpegStripFrame(s: Long): Array[Byte] = {
    val lev = mpegStripLevels(s)
    val bgr = new Array[Byte](44 * 24 * 3)
    var y = 0
    while (y < 24) {
      var x = 0
      while (x < 44) {
        val v = (40 + 88 * lev(x / 4)).toByte
        val o = (y * 44 + x) * 3
        bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
        x += 1
      }
      y += 1
    }
    bgr
  }

  /** q250 corpus: q222's quad shape on the COMPRESSED wire — clips in
    * quads (`base = doc_id / 4`), frame `f` rendered from walk key
    * `base·97 + f·31`, each quad variant exercising a distinct encoder
    * profile (qscale 2/3/4, and variant 3 re-sends the quantizer via
    * the intra+quant macroblock type) with identical fingerprints.
    */
  private[graft] def synthMpegVideoMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 4
        val n = (6 + base % 5).toInt
        val frames = (0 until n).map(f => mpegStripFrame(base * 97 + f * 31))
        val variant = (id % 4).toInt
        val q = Array(3, 2, 4, 4)(variant)
        val wire = graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = q,
          mbQuantEvery = if (variant == 3) 2 else 0)
        Multimodal.MediaRecord(id, wire, "video/mpeg")
      }).toDF()
  }

  /** MPEG-1 compressed-video keyframe near-dup — q222's pipeline
    * (frame-sample at stride 2 → dHash → middle-keyframe census via
    * the banded Hamming machinery) running on REAL ISO 11172-2 wire:
    * [[graft.ext.Mpeg1Video]] decodes each clip once (sequence/GOP/
    * picture/slice walk, B.1/B.2a/B.5 VLCs, intra dequant with
    * oddification, IDCT, 4:2:0 upsample), and the oracle computes
    * every keyframe fingerprint in closed form from the SOURCE strip
    * recipe — the full encode → parse → dequant → IDCT → fingerprint
    * chain is hash-pinned through a lossy codec.
    */
  def q250MpegKeyframeNearDup(spark: SparkSession, dir: String): DataFrame =
    // eager checkpoint: the census references the frame table several
    // times, and each uncut reference would re-run the full MPEG
    // encode+decode synth (the q244 re-walk lesson); 32-way decode
    // fan-out matches the harness cores
    videoKeyframeCensus(Multimodal.videoFrameHashes(spark,
      synthMpegVideoMedia(spark, dir), stride = 2, partitions = 32)
      .toDF().localCheckpoint(true))

  /** q251 corpus: q238's planted-shot shape on the compressed wire —
    * shots of `2 + base % 3` frames, frames within a shot identical
    * (walk key depends on the shot index only).
    */
  private def synthMpegShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map(f =>
          mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13))
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3), "video/mpeg")
      }).toDF()
  }

  /** Shot-boundary detection on the MPEG-1 wire — q238's lag-window
    * segmentation over per-frame fingerprints, with the decode leg on
    * real compressed video. Same census, oracle replayed from the
    * strip walk (boundaries are pattern INEQUALITIES, deterministic
    * either way a rare walk collision lands).
    */
  def q251MpegShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegShotMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** q252 corpus: q239's shared-scene-pool shape on the compressed
    * wire — the walk key is a function of the SCENE id alone, so a
    * shared scene is pixel-identical across clips pre-encode and
    * fingerprint-identical post-decode.
    */
  private def synthMpegSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Long =
          if ((base + j) % 4 == 1) 1000L + base * 8 + j
          else (base + j) % 6
        val frames = (0 until nShots * 2).map(f =>
          mpegStripFrame(sceneOf(f / 2) * 53 + 17))
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3), "video/mpeg")
      }).toDF()
  }

  /** Scene-grain dedup on the MPEG-1 wire — q239's pipeline (segment →
    * per-shot representative fingerprint → guarded banded Hamming join
    * on composite shot ids → cross-clip census) with real compressed
    * decode; the oracle replays scene assignment, the walk, the
    * segmentation, and both counts.
    */
  def q252MpegSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegSceneMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** Global +`d` luma flicker (every BGR byte, clamped) — changes
    * every pel yet NO dHash gradient bit: the fingerprint compares
    * ADJACENT strip means, and a global shift preserves every strict
    * inequality. On an I+P wire this is the cheapest content that
    * forces the coded-residual macroblock path (cbp > 0) on every
    * odd frame while the closed-form strip oracle stays verbatim.
    */
  private def flicker(frame: Array[Byte], d: Int): Array[Byte] =
    frame.map(b => math.min(255, (b & 0xff) + d).toByte)

  /** q253 corpus: q251's shot shape re-encoded as a REAL I+P stream
    * (gopSize 3) with a +3 luma flicker — within-shot P frames code
    * small residuals, cross-shot cuts mid-GOP hit the intra-fallback
    * macroblocks, GOP heads stay I. Fingerprints are flicker- and
    * codec-invariant, so the q251 oracle replays verbatim.
    */
  private def synthMpegIppShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map { f =>
          val strip = mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 3, searchRange = 1), "video/mpeg")
      }).toDF()
  }

  /** Shot-boundary detection on a PREDICTIVE MPEG-1 wire — q251's
    * pipeline with the decode leg now walking I AND P pictures
    * (motion vectors, skipped macroblocks, non-intra dequant,
    * intra fallback). Oracle: q251's closed-form strip replay,
    * unchanged — P reconstruction must land every fingerprint bit.
    */
  def q253MpegIppShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegIppShotMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** q254 corpus: q252's shared-scene-pool shape on an I+P wire
    * (gopSize 2: every scene's second frame is a P picture coding
    * the flicker residual against its intra twin).
    */
  private def synthMpegIppSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Long =
          if ((base + j) % 4 == 1) 1000L + base * 8 + j
          else (base + j) % 6
        val frames = (0 until nShots * 2).map { f =>
          val strip = mpegStripFrame(sceneOf(f / 2) * 53 + 17)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 2, searchRange = 1), "video/mpeg")
      }).toDF()
  }

  /** Scene-grain dedup on a predictive MPEG-1 wire — q252's pipeline
    * (segment → representative → guarded banded Hamming join →
    * cross-clip census) with the decode leg on I+P pictures; the
    * q252 oracle replays verbatim.
    */
  def q254MpegIppSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegIppSceneMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** q255 corpus: q251's shot shape on an I/P/B stream — anchors
    * every 2nd frame (bFrames 1, I at every 4th), the flickered odd
    * frames ride BIDIRECTIONAL pictures. Where a shot spans the
    * anchor pair the B macroblocks code small interpolated/forward
    * residuals; where a cut lands between anchors the backward
    * prediction wins (the next anchor already shows the new shot);
    * cuts inside a B with both anchors foreign fall back to intra.
    * Fingerprints stay flicker- and codec-invariant, so the q251
    * closed form replays verbatim — including the decoder's
    * transmission→display reorder, which any index slip would break.
    */
  private def synthMpegBShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map { f =>
          val strip = mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 4, searchRange = 1, bFrames = 1), "video/mpeg")
      }).toDF()
  }

  /** Shot-boundary detection on a BIDIRECTIONAL MPEG-1 wire — q251's
    * pipeline with the decode leg walking I, P AND B pictures
    * (Table B.2c types, dual motion vectors, interpolated prediction,
    * display-order reorder). Oracle: q251's closed form, unchanged.
    */
  def q255MpegBShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegBShotMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** q256 corpus: q252's shared-scene-pool shape on an I/P/B wire —
    * every scene's flickered second frame is a B picture whose
    * forward anchor is its own scene (small forward residual) and
    * whose backward anchor is the NEXT scene (prediction must pick
    * the right direction or the fingerprint breaks).
    */
  private def synthMpegBSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Long =
          if ((base + j) % 4 == 1) 1000L + base * 8 + j
          else (base + j) % 6
        val frames = (0 until nShots * 2).map { f =>
          val strip = mpegStripFrame(sceneOf(f / 2) * 53 + 17)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 4, searchRange = 1, bFrames = 1), "video/mpeg")
      }).toDF()
  }

  /** Scene-grain dedup on a bidirectional MPEG-1 wire — q252's
    * pipeline with the decode leg on I/P/B pictures; the q252 oracle
    * replays verbatim.
    */
  def q256MpegBSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegBSceneMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** q257 corpus: MUXED assets — each clip is an ISO 11172-1 program
    * stream interleaving q251's shot-walk VIDEO (on the full I/P/B
    * wire) with a q246-style staircase AUDIO track on the MPEG-1
    * Layer I wire. Both inner fixtures keep their margin designs, so
    * both fingerprint families stay closed-form after the lossy
    * codecs; the container adds pack/system/packet framing, PES
    * timestamp headers, stuffing variation, and round-robin
    * interleave on top.
    */
  private def synthMpegMuxedMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map { f =>
          val strip = mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        val videoEs = graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
          gopSize = 4, searchRange = 1, bFrames = 1)
        val nS = (200 + base % 50).toInt
        val variant = (base % 4).toInt
        val samples = Array.tabulate(nS) { j =>
          val f = (j.toLong * 61 / nS).toInt
          val boost = if (variant > 0 && f == 56 + variant) 800 else 0
          (400 * (1 + ((base * 7 + 3 * f) % 4)).toInt + boost).toShort
        }
        val audioEs = graft.ext.Mpeg1.encode(samples)
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1System.muxAv(videoEs, audioEs, packetPayload = 512),
          "video/mp1s")
      }).toDF()
  }

  /** Dual-modal census over MUXED containers — the capstone of the
    * media stack: [[graft.ext.Mpeg1System]] demuxes each 11172-1
    * program stream ONCE, the 11172-2 I/P/B decoder fingerprints the
    * video frames, the 11172-3 Layer I decoder fingerprints the audio
    * track, and one result row per asset carries q251's shot census
    * NEXT TO the audio energy fingerprint + exact gapless sample
    * count. The oracle replays BOTH closed forms (video strip walk,
    * audio staircase energies) from the documents table and joins
    * them — a slip anywhere in mux framing, stream reassembly, either
    * codec, or the display reorder breaks the hash.
    */
  def q257MuxedAvCensus(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.avFrameHashes(spark,
      synthMpegMuxedMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // demux+decode once; cut the lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"),
        max(col("audio_fp")).as("audio_fp"),
        max(col("n_samples")).as("n_samples"))
      .orderBy(col("media_id"))
  }

  /** Deterministic synth recipe for the SEQUENCE-grain video corpus:
    * a 1-in-16 doc sample (the oracle's frame-level quadratic verify
    * must stay tractable at sf0.1) arranged in (original, delayed)
    * pairs — `doc_id % 32 == 1` clips replay their `doc_id - 1`
    * partner shifted one frame late (first frame duplicated). Frame
    * patterns vary FAST with the frame index (the q222 recipe's `f`
    * mixing), so adjacent frames hash far apart — exactly the
    * content where keyframe-grain matching misses a one-frame
    * offset.
    */
  private def synthVideoSeqMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 32 == 0 || id % 32 == 1)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 32
        val delayed = id % 32 == 1
        val n = (8 + base % 5).toInt
        def pattern(sf: Int): Array[Byte] = {
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (base * 37 + sf * 7 + y * 11 + x * 29 +
                (x.toLong * y + sf + base) % 13) % 16
              val v = (u * 2).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        val frames = (0 until n).map { f =>
          pattern(if (delayed) math.max(f - 1, 0) else f)
        }
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** SEQUENCE-grain video near-dup
    * ([[graft.ext.Multimodal.videoSequenceNearDupPairs]]) vs the
    * keyframe census, side by side: clips decode ONCE at stride 1,
    * keyframe matching compares middle-frame hashes (q222's grain),
    * sequence matching votes over banded frame-level candidates at
    * every implied alignment offset. The planted one-frame-delayed
    * partners have fast-changing content, so their middle frames
    * hash far apart — `n_key_nbrs = 0` — while the aligned vote
    * finds `n−1` exact matches at offset 1 — `n_seq_nbrs = 1`: the
    * exact failure mode keyframe-grain dedup has at 100 TB and the
    * composition that fixes it. The oracle replays every frame
    * fingerprint in closed form, the candidate offsets, the vote,
    * the majority threshold, and both censuses.
    */
  def q224VideoSeqNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthVideoSeqMedia(spark, dir), stride = 1, partitions = 8).toDF()
    val seqPairs = Multimodal.videoSequenceNearDupPairs(fh, maxDistance = 2)
    val keyed = fh.filter(col("frame_idx") === expr("n_frames div 2"))
      .select(col("media_id"), col("n_frames"), col("fp"))
    val keyPairs = graft.ext.Dedup.hammingNearDupPairs(
      keyed.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 2)
    val ksym = keyPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(keyPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val kn = ksym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_key_nbrs"))
    val ssym = seqPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(seqPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val sn = ssym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_seq_nbrs"), min(col("nbr")).as("min_seq_nbr"))
    keyed.join(kn, Seq("media_id"), "left_outer")
      .join(sn, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_frames"),
        coalesce(col("n_key_nbrs"), lit(0L)).as("n_key_nbrs"),
        coalesce(col("n_seq_nbrs"), lit(0L)).as("n_seq_nbrs"),
        col("min_seq_nbr"),
        (col("min_seq_nbr").isNull || col("min_seq_nbr") > col("media_id"))
          .as("keep"))
      .orderBy(col("media_id"))
  }

  /** Hilbert vs Z-order layout audit
    * ([[graft.ext.Layout.hilbertValue]] beside q171's
    * [[graft.ext.Layout.zValue]]): the same file-model skipping
    * report, but graded on BOTH dimensions — a band range predicate
    * AND an hour range predicate over the same two clustered layouts
    * — because the one-predicate view can't separate the curves
    * (Hilbert's tighter per-file bounding boxes show up on the second
    * dimension). The Hilbert key is the iterative xy2d walk folded
    * in ONE in-plan `aggregate` HOF; the oracle replays the identical
    * walk as a per-row recursive CTE (10 bit-levels of (x, y, d)
    * state, rotation mirrors included) plus the z-interleave, file
    * assignment, and min/max pruning counts — all exact integers.
    */
  def q206HilbertLayout(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("band", pmod(col("user_id"), lit(1000)))
    val layouts = Seq(
      ("zorder_band_hour",
        Seq(graft.ext.Layout.zValue(col("band"), hour(col("ts")), 10))),
      ("hilbert_band_hour",
        Seq(graft.ext.Layout.hilbertValue(col("band"), hour(col("ts")), 10))))
    // both predicates grade each layout from ONE ranking pass (the
    // key computation + range shuffle is the expensive part and is
    // predicate-independent)
    graft.ext.Layout.skippingReportMulti(ev, layouts,
      preds = Seq(
        ("band_100_199", col("band"), 100L, 199L),
        ("hour_3_8", hour(col("ts")).cast("long"), 3L, 8L)),
      tieBreak = col("event_id"), rowsPerFile = 500)
      .orderBy(col("predicate"), col("layout"))
  }

  /** UNIGRAM-LM tokenizer training ([[graft.ext.Text.unigramTrain]],
    * Kudo 2018 hard-EM): the OTHER standard subword trainer beside
    * q119's BPE — seed every ≤4-char substring, then two rounds of
    * (quantized −ln costs → Viterbi-segment every distinct word →
    * usage re-estimation → prune to chars + top-60). The oracle is
    * the round's deepest replay: both EM rounds unrolled INCLUDING
    * the per-word Viterbi DP itself — 20 per-position min stages and
    * a 20-step backtrack walk per round, all MATERIALIZED CTEs (the
    * q153 fd lesson) — so the entire train loop, argmin tie-breaks
    * and all, is hash-checked end to end, not just the final table.
    */
  def q196UnigramVocab(spark: SparkSession, dir: String): DataFrame =
    Text.unigramTrain(Tables.documents(spark, dir), "doc_id", "text",
      vocabSize = 60, maxPieceLen = 4, rounds = 2, maxWordLen = 20)
      .orderBy(col("piece"))

  /** Per-language fertility of the LEARNED unigram model — q127's
    * metric (symbols per word, chars per symbol) under q196's
    * tokenizer instead of BPE, the table that compares the two
    * trainers on equal terms. Exact ppm ratios. The final costs are
    * an O(vocab) literal ([[graft.ext.Text.unigramPieces]] map
    * pass); each DISTINCT word segments once and its piece count
    * joins back to the per-(lang, word) instance counts — at 100 TB
    * the Viterbi never touches corpus tokens, only the vocabulary.
    * The oracle replays BOTH training rounds plus this third
    * inference segmentation, all unrolled.
    */
  def q197UnigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val costs = Text.unigramTrain(docs, "doc_id", "text",
      vocabSize = 60, maxPieceLen = 4, rounds = 2, maxWordLen = 20)
      .select(col("piece"), col("cost")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wl = docs.select(col("lang"),
        explode(Text.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")).between(1, 20))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
    val seg = wl.select(col("word")).distinct()
      .withColumn("n_pieces",
        size(Text.unigramPieces(col("word"), costs, maxPieceLen = 4))
          .cast("long"))
    wl.join(seg, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_pieces")).as("n_pieces"),
        sum(col("n") * length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        expr("n_pieces * 1000000 div n_words").as("pieces_per_word_ppm"),
        expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_ppm"))
      .orderBy(col("lang"))
  }

  /** Neyman-allocation stratified sample
    * ([[graft.ext.TrainPrep.neymanSample]]): a 500-row budget split
    * across event types proportionally to N_h·S_h (exact integer
    * isqrt of n·Σy²−(Σy)² on value cents) — the estimator-variance-
    * minimizing allocation q49's uniform quota ignores. The audit
    * pins weights, allocations, AND the exact md5-rank selection (id
    * checksums); null-value rows are excluded (variance needs y).
    */
  def q183NeymanSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.neymanSample(
      Tables.events(spark, dir).filter(col("value").isNotNull),
      "event_type", "event_id", round(col("value") * 100),
      budget = 500L)
      .orderBy(col("event_type"))

  /** CMS sketch-rollup lifecycle
    * ([[graft.ext.CountMinAgg.mergeAll]]): weekly count-min sketches
    * of the user-id stream STORED as rows, the all-time heavy-hitter
    * estimates answered by element-wise counter-matrix union — and
    * because CMS union IS addition, the merged sketch equals a direct
    * whole-corpus build EXACTLY, so unlike the q41 contract this
    * whole report (exact counts AND estimates) is hash-checked: the
    * oracle rebuilds every counter from the md5 bucket definition.
    * Completes the sketch-lifecycle trilogy (q66 HLL, q178 KLL).
    */
  def q180CmsRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.CountMinAgg
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("item"),
        to_date(date_trunc("week", col("ts"))).as("week"))
    val weekly = ev.groupBy(col("week"))
      .agg(CountMinAgg.cmsAgg(col("item"), 4).as("cms"))
    val merged = weekly.agg(collect_list(col("cms")).as("sks"))
      .select(CountMinAgg.mergeAll(col("sks"), 4).as("cms"))
    val top = rankedTopK(
      ev.groupBy(col("item")).agg(count(lit(1)).as("n")),
      Seq(col("n").desc, col("item").asc), 10)
    top.crossJoin(broadcast(merged))
      .withColumn("n_est", CountMinAgg.estimate(col("cms"), col("item"), 4))
      .select(col("item"), col("n"), col("n_est"), col("rank"))
      .orderBy(col("rank"))
  }

  /** STREAMING seasonal monitor: q168's hour-of-day baseline report
    * re-derived per ingest batch over the growing event log (snapshot
    * recompute — every arrival shifts its clock-slot mean, so the
    * report is corpus-global). Shares q168's oracle verbatim.
    */
  def q168bSeasonalStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q168b")
    val (in, schema) = eventSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      ev => graft.ext.TimeSeries.seasonalSpikes(ev, "event_type", "ts"), filesPerTrigger = 2)
      .orderBy(col("key"), col("hr"))
  }

  /** Per-type hourly-volume TREND: exact integer least squares of the
    * hourly count series against its own hour index — slope_ppm =
    * (n·Σxy − Σx·Σy)·10⁶ div (n·Σx² − (Σx)²), all longs (the
    * question drift (level changed?) and changepoint (when?) don't
    * answer: how FAST is it changing). One hourly aggregation, one
    * keyed window for the index, one per-key aggregate.
    */
  def q181VolumeTrend(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("hr"))
    Tables.events(spark, dir)
      .groupBy(col("event_type").as("key"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", (row_number().over(w) - 1).cast("long"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_obs"), sum(col("y")).as("sum_y"),
        sum(col("x")).as("__sx"), sum(col("x") * col("x")).as("__sxx"),
        sum(col("x") * col("y")).as("__sxy"))
      .select(col("key"), col("n_obs"), col("sum_y"),
        expr("sum_y * 1000000 div n_obs").as("mean_y_ppm"),
        expr("(n_obs * __sxy - __sx * sum_y) * 1000000" +
          " div (n_obs * __sxx - __sx * __sx)").as("slope_ppm"))
      .orderBy(col("key"))
  }

  /** Partition-quality grade of q170's communities
    * ([[graft.ext.Graph.modularityScaled]]): Newman modularity terms
    * per LPA community over the near-dup graph — the number that says
    * the partition captures the dense duplicate groups (a closure
    * partition that glued bridges would score lower). Exact scaled
    * longs; the oracle replays LPA AND the modularity formula.
    */
  def q179Modularity(spark: SparkSession, dir: String): DataFrame = {
    // edge-count-sized snapshot: LPA and the modularity pass both
    // consume the pairs — without it each would re-derive the LSH
    // pair generation (the q133 localCheckpoint precedent)
    val pairs = graft.ext.Dedup.minhashNearDupPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .localCheckpoint(true)
    val mem = graft.ext.Graph.labelPropagation(pairs, "id_a", "id_b", iters = 4)
    graft.ext.Graph.modularityScaled(pairs, "id_a", "id_b",
      mem, "id", "community")
      .orderBy(col("community"))
  }

  /** Data-skipping effectiveness audit
    * ([[graft.ext.Layout.skippingReport]]): the same events table
    * modeled under four layouts — time-sorted, predicate-column-
    * sorted, z-ordered (band × hour), and hash-scattered — scored by
    * how many 500-row files a 10%-selective user-band predicate can
    * min/max-prune. The report a layout decision (q67's z-order, the
    * compaction sort keys) should be MADE on: band-sorted prunes
    * ~90%, z-order prunes on both dimensions at once, hash order
    * prunes nothing.
    */
  def q171SkippingReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("band", pmod(col("user_id"), lit(1000)))
    graft.ext.Layout.skippingReport(ev, Seq(
      ("by_ts", Seq(col("ts"))),
      ("by_band", Seq(col("band"))),
      ("zorder_band_hour",
        Seq(graft.ext.Layout.zValue(col("band"), hour(col("ts")), 10))),
      ("hash_random", Seq(md5(col("event_id").cast("string"))))),
      statCol = col("band"), tieBreak = col("event_id"),
      rowsPerFile = 500, lo = 100L, hi = 199L)
      .orderBy(col("layout"))
  }

  /** Dup-graph cohesion audit ([[graft.ext.Graph.triangleStats]]):
    * per-node triangle counts and clustering coefficients over the
    * q133 LSH near-dup graph — coefficient ≈ 1 marks clique-shaped
    * duplicate groups (safe to collapse), low values expose
    * transitive-closure over-merges. LSH pairs ≡ exact Jaccard pairs
    * at this threshold (the q13/q133-established equivalence), so the
    * oracle enumerates triangles over the exact inverted-index edge
    * set.
    */
  def q159TriangleAudit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ext.Dedup.minhashNearDupPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
    graft.ext.Graph.triangleStats(pairs, "id_a", "id_b")
      .orderBy(col("id"))
  }

  /** Retrieval evaluation ([[graft.ext.Text.retrievalEval]]): q136's
    * BM25 run scored against a deterministic relevance rule (a doc is
    * relevant iff it contains ≥ 2 distinct terms of the query) —
    * per-query recall@10, MRR, and nDCG@10, all decimal-exact, the
    * whole pipeline (retriever + qrels + metrics) replayed by one
    * oracle.
    */
  def q158RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val qs = Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
      ("mixed", Seq("merge", "window", "customer")))
    val results = Text.bm25TopK(docs, "doc_id", "text", qs, k = 10)
    val qrels = qs.map { case (qid, ts) =>
      val termArr = typedLit(ts)
      docs.select(lit(qid).as("query_id"), col("doc_id"))
        .where(size(array_intersect(Text.tokens(col("text")), termArr)) >= 2)
    }.reduce(_ unionByName _)
    Text.retrievalEval(results, qrels, k = 10)
      .orderBy(col("query_id"))
  }

  /** STREAMING coreset maintenance: q155's k-center selection
    * re-derived per embedding ingest batch (snapshot recompute — the
    * greedy selection is corpus-GLOBAL: one arriving far-out vector
    * can reshape every later pick, so per-row state can't express
    * it). The per-batch plan body runs the same bounded driver-looped
    * rounds as the batch form; selection is deterministic in corpus
    * content, so the final published coreset shares q155's oracle
    * verbatim — the production shape: a representative-sample pool
    * that tracks a growing corpus.
    */
  def q155bCoresetStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q155b")
    val (in, schema) = embSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.Similarity.farthestPointSample(
        corpus, "vec_id", "embedding", k = 12), filesPerTrigger = 2)
      .orderBy(col("sel_rank"))
  }

  /** Exact Kolmogorov–Smirnov drift ([[graft.dq.Analyzers.ksDrift]])
    * on document length between the two corpus halves: the bin-free
    * companion to q150's fixed-bin PSI. The supremum, its location,
    * and the tie-break are pure long arithmetic (cross-multiplied CDF
    * comparison; two-phase prefix sums) — the oracle replays the CDFs
    * with one global window, a deliberately different formulation of
    * the same exact quantities.
    */
  def q156KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def half(side: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === side)
      .select(length(col("text")).as("len"))
    graft.dq.Analyzers.ksDrift(half(0), half(1), "len")
  }

  /** Diverse coreset selection
    * ([[graft.ext.Similarity.farthestPointSample]]): k-center greedy
    * over the embedding corpus — 12 rounds of
    * one-map-pass-plus-argmax, distances exact scaled-integer squared
    * L2, so the whole selection is hash-checked against an oracle
    * that replays all 12 rounds in the incremental
    * least(md, d²-to-new-center) form.
    */
  def q155CoresetSelect(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.farthestPointSample(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 12)
      .orderBy(col("sel_rank"))

  // ------------------------------------------------------------- maps

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_dedup_latest_agg" -> (q01DedupLatestAgg _),
    "q02_cast_projection" -> (q02CastProjection _),
    "q03_schema_enforce" -> (q03SchemaEnforce _),
    "q04_dq_metrics" -> (q04DqMetrics _),
    "q05_dq_row_outcomes" -> (q05DqRowOutcomes _),
    "q06_dim_date" -> (q06DimDate _),
    "q07_star_join" -> (q07StarJoin _),
    "q08_topk" -> (q08TopK _),
    "q09_upsert" -> (q09Upsert _),
    "q10_union_distinct" -> (q10UnionDistinct _),
    "q11_exact_dedup" -> (q11ExactDedup _),
    "q12_jaccard_pairs" -> (q12JaccardPairs _),
    "q13_minhash_pairs" -> (q13MinhashPairs _),
    "q13b_simhash_pairs" -> (q13bSimhashPairs _),
    "q14_text_stats" -> (q14TextStats _),
    "q15_lang_id" -> (q15LangId _),
    "q16_fingerprint" -> (q16Fingerprint _),
    "q17_validate_events" -> (q17ValidateEvents _),
    "q18_window_hourly" -> (q18WindowHourly _),
    "q18b_window_sliding" -> (q18bWindowSliding _),
    "q18c_window_stream" -> (q18cWindowStreamSliding _),
    "q19_stream_validate" -> (q19StreamValidate _),
    "q19b_stateful_edges" -> (q19bStatefulEdges _),
    "q19c_stateful_tws" -> (q19cStatefulTws _),
    "q20_props_json" -> (q20PropsJson _),
    "q21_sim_topk" -> (q21SimTopK _),
    "q22_cosine_neardup" -> (q22CosineNearDup _),
    "q22b_srp_neardup" -> (q22bSrpNearDup _),
    "q23_ivf_topk" -> (q23IvfTopK _),
    "q23b_ivf_recall" -> (q23bIvfRecall _),
    "q24_multimodal_meta" -> (q24MultimodalMeta _),
    "q25_multimodal_decode" -> (q25MultimodalDecode _),
    "q26_monthly_report" -> (q26MonthlyReport _),
    "q27_dq_check_results" -> (q27DqCheckResults _),
    "q28_anti_join" -> (q28AntiJoin _),
    "q29_outer_join" -> (q29OuterJoin _),
    "q30_rollup" -> (q30Rollup _),
    "q31_sql_star" -> (q31SqlStar _),
    "q32_approx_distinct" -> (q32ApproxDistinct _),
    "q32b_sketch_bounds" -> (q32bSketchBounds _),
    "q32c_kll_bounds" -> (q32cKllBounds _),
    "q45_group_quantiles" -> (q45GroupQuantiles _),
    "q46_hash_split" -> (q46HashSplit _),
    "q47_pack_sequences" -> (q47PackSequences _),
    "q48_decontaminate" -> (q48Decontaminate _),
    "q49_quota_sample" -> (q49QuotaSample _),
    "q50_range_join" -> (q50RangeJoin _),
    "q51_dup_clusters" -> (q51DupClusters _),
    "q52_resample_fill" -> (q52ResampleFill _),
    "q53_tfidf_terms" -> (q53TfidfTopTerms _),
    "q54_pii_redact" -> (q54PiiRedact _),
    "q55_stream_dedup" -> (q55StreamDedup _),
    "q56_cube" -> (q56Cube _),
    "q57_funnel" -> (q57Funnel _),
    "q58_cohort_retention" -> (q58CohortRetention _),
    "q59_scd2" -> (q59Scd2 _),
    "q60_mad_outliers" -> (q60MadOutliers _),
    "q61_pivot" -> (q61Pivot _),
    "q62_ss_join" -> (q62StreamStreamJoin _),
    "q63_ntile_deciles" -> (q63NtileDeciles _),
    "q64_interval_merge" -> (q64IntervalMerge _),
    "q65_weighted_sample" -> (q65WeightedSample _),
    "q66_hll_lifecycle" -> (q66HllLifecycle _),
    "q67_zorder" -> (q67Zorder _),
    "q68_bigram_scores" -> (q68BigramScores _),
    "q69_rolling_zscore" -> (q69RollingZscore _),
    "q70_session_stream" -> (q70SessionStream _),
    "q71_fuzzy_match" -> (q71FuzzyMatch _),
    "q72_stream_enrich" -> (q72StreamEnrich _),
    "q73_repetition_filters" -> (q73RepetitionFilters _),
    "q74_chunk_docs" -> (q74ChunkDocs _),
    "q75_salted_skew_join" -> (q75SaltedSkewJoin _),
    "q248_skew_salted" -> (q248SkewSalted _),
    "q248b_skew_unsalted" -> (q248bSkewUnsalted _),
    "q249_skew_auto" -> (q249SkewAutoJoin _),
    "q76_containment_pairs" -> (q76ContainmentPairs _),
    "q77_minmax_scale" -> (q77MinmaxScale _),
    "q78_incremental_neardup" -> (q78IncrementalNeardup _),
    "q79_cdc_apply" -> (q79CdcApply _),
    "q80_grouping_sets" -> (q80GroupingSets _),
    "q81_histogram" -> (q81Histogram _),
    "q82_debounce" -> (q82Debounce _),
    "q83_grouped_topk" -> (q83GroupedTopK _),
    "q84_vocab_build" -> (q84VocabBuild _),
    "q85_schema_evolution" -> (q85SchemaEvolution _),
    "q86_quality_classifier" -> (q86QualityClassifier _),
    "q87_tokenize_corpus" -> (q87TokenizeCorpus _),
    "q88_dedup_corpus" -> (q88DedupCorpus _),
    "q88b_dedup_lsh" -> (q88bDedupCorpusLsh _),
    "q89_throttle" -> (q89Throttle _),
    "q90_table_diff" -> (q90TableDiff _),
    "q91_integrity_audit" -> (q91IntegrityAudit _),
    "q92_tfidf_cosine" -> (q92TfidfCosine _),
    "q92b_tfidf_capped" -> (q92bTfidfCosineCapped _),
    "q93_bloom_decontaminate" -> (q93BloomDecontaminate _),
    "q94_mixture_weights" -> (q94MixtureWeights _),
    "q95_shuffle_shards" -> (q95ShuffleShards _),
    "q96_stream_cdc" -> (q96StreamCdc _),
    "q97_budget_fill" -> (q97BudgetFill _),
    "q97b_budget_global" -> (q97bBudgetFillGlobal _),
    "q97c_budget_skip" -> (q97cBudgetFillSkip _),
    "q98_quantize_vectors" -> (q98QuantizeVectors _),
    "q99_stream_throttle" -> (q99StreamThrottle _),
    "q100_curate_corpus" -> (q100CurateCorpus _),
    "q100b_curate_scale" -> (q100bCurateCorpusScale _),
    "q101_semantic_dedup" -> (q101SemanticDedup _),
    "q102_repeated_spans" -> (q102RepeatedSpans _),
    "q102b_repeated_spans_hashed" -> (q102bRepeatedSpansHashed _),
    "q103_excise_spans" -> (q103ExciseSpans _),
    "q103b_excise_keep_one" -> (q103bExciseKeepOne _),
    "q104_materialize_mixture" -> (q104MaterializeMixture _),
    "q104b_mixture_stream" -> (q104bMixtureStream _),
    "q105_token_shards" -> (q105TokenShards _),
    "q105b_shard_stream" -> (q105bShardStream _),
    "q106_contamination_report" -> (q106ContaminationReport _),
    "q106b_contamination_hashed" -> (q106bContaminationReportHashed _),
    "q107_pq_codes" -> (q107PqCodes _),
    "q107b_pq_contract" -> (q107bPqContract _),
    "q108_stream_curate" -> (q108StreamCurate _),
    "q109_ivf_adc_topk" -> (q109IvfAdcTopK _),
    "q109b_ivf_adc_contract" -> (q109bIvfAdcContract _),
    "q110_adc_refine" -> (q110AdcRefineContract _),
    "q111_ann_index_roundtrip" -> (q111AnnIndexRoundtrip _),
    "q112_dsir_weights" -> (q112DsirWeights _),
    "q113_stream_index_ingest" -> (q113StreamIndexIngest _),
    "q114_ivfpq_refine" -> (q114IvfPqRefinePipeline _),
    "q115_compact_index" -> (q115CompactIndex _),
    "q116_cross_entropy" -> (q116CrossEntropy _),
    "q116b_cross_entropy_hashed" -> (q116bCrossEntropyHashed _),
    "q116c_tertiles_scale" -> (q116cCrossEntropyTertilesScale _),
    "q117_clean_segments" -> (q117CleanSegments _),
    "q118_paragraph_dedup" -> (q118ParagraphDedup _),
    "q118b_paragraph_dedup_hashed" -> (q118bParagraphDedupHashed _),
    "q119_bpe_merges" -> (q119BpeMerges _),
    "q120_bpe_apply" -> (q120BpeApply _),
    "q121_stream_query_serve" -> (q121StreamQueryServe _),
    "q122_gopher_rules" -> (q122GopherRules _),
    "q123_dsir_sample" -> (q123DsirSample _),
    "q124_curation_funnel" -> (q124CurationFunnel _),
    "q124b_curation_scale" -> (q124bCurationFunnelScale _),
    "q125_unicode_normalize" -> (q125UnicodeNormalize _),
    "q126_train_classifier" -> (q126TrainClassifier _),
    "q126b_classifier_scores" -> (q126bClassifierScores _),
    "q127_tokenizer_fertility" -> (q127TokenizerFertility _),
    "q128_hard_negatives" -> (q128HardNegatives _),
    "q129_classifier_holdout" -> (q129ClassifierHoldout _),
    "q130_corpus_datasheet" -> (q130CorpusDatasheet _),
    "q131_stream_classifier" -> (q131StreamClassifier _),
    "q132_retrain_stream" -> (q132RetrainStream _),
    "q133_graph_centrality" -> (q133GraphCentrality _),
    "q134_k_anonymity" -> (q134KAnonymity _),
    "q135_split_leakage" -> (q135SplitLeakage _),
    "q136_bm25_search" -> (q136Bm25Search _),
    "q137_hybrid_retrieval" -> (q137HybridRetrieval _),
    "q138_rag_retrieval" -> (q138RagRetrieval _),
    "q139_stream_neardup" -> (q139StreamNearDup _),
    "q140_wav_decode" -> (q140WavDecode _),
    "q141_bmp_decode" -> (q141BmpDecode _),
    "q142_blocklist_screen" -> (q142BlocklistScreen _),
    "q142b_blocklist_join" -> (q142bBlocklistJoin _),
    "q143_media_dlq" -> (q143MediaDlq _),
    "q143b_media_stream" -> (q143bMediaStream _),
    "q144_lsh_band_plan" -> (q144LshBandPlan _),
    "q145_html_extract" -> (q145HtmlExtract _),
    "q146_token_drift" -> (q146TokenDrift _),
    "q146b_drift_stream" -> (q146bDriftStream _),
    "q147_web_funnel" -> (q147WebFunnel _),
    "q147b_funnel_stream" -> (q147bFunnelStream _),
    "q148_nprobe_sweep" -> (q148NprobeSweep _),
    "q149_phrase_blocklist" -> (q149PhraseBlocklist _),
    "q150_length_drift" -> (q150LengthDrift _),
    "q151_margin_mine" -> (q151MarginMine _),
    "q152_funnel_audit" -> (q152FunnelAudit _),
    "q153_pca_project" -> (q153PcaProject _),
    "q153b_pca2_project" -> (q153bPca2Project _),
    "q154_embedding_drift" -> (q154EmbeddingDrift _),
    "q155_coreset_select" -> (q155CoresetSelect _),
    "q155b_coreset_stream" -> (q155bCoresetStream _),
    "q156_ks_drift" -> (q156KsDrift _),
    "q157_prf_search" -> (q157PrfSearch _),
    "q158_retrieval_eval" -> (q158RetrievalEval _),
    "q159_triangle_audit" -> (q159TriangleAudit _),
    "q160_entity_resolution" -> (q160EntityResolution _),
    "q161_golden_record" -> (q161GoldenRecord _),
    "q162_changepoint" -> (q162Changepoint _),
    "q163_l_diversity" -> (q163LDiversity _),
    "q163b_l_diversity_enforce" -> (q163bLDiversityEnforce _),
    "q164_lexical_diversity" -> (q164LexicalDiversity _),
    "q165_ngram_novelty" -> (q165NgramNovelty _),
    "q165b_novelty_hashed" -> (q165bNoveltyHashed _),
    "q166_k_core" -> (q166KCore _),
    "q167_ewma_smooth" -> (q167EwmaSmooth _),
    "q168_seasonal_spikes" -> (q168SeasonalSpikes _),
    "q169_unimax_alloc" -> (q169UnimaxAlloc _),
    "q170_label_prop" -> (q170LabelProp _),
    "q171_skipping_report" -> (q171SkippingReport _),
    "q172_time_travel" -> (q172TimeTravel _),
    "q173_skew_report" -> (q173SkewReport _),
    "q174_mv_merge" -> (q174MvMerge _),
    "q174b_mv_stream" -> (q174bMvStream _),
    "q175_pair_lift" -> (q175PairLift _),
    "q176_calibration" -> (q176Calibration _),
    "q177_version_diff" -> (q177VersionDiff _),
    "q178_sketch_rollup" -> (q178SketchRollup _),
    "q179_modularity" -> (q179Modularity _),
    "q180_cms_rollup" -> (q180CmsRollup _),
    "q182_funnel_latency" -> (q182FunnelLatency _),
    "q183_neyman_sample" -> (q183NeymanSample _),
    "q184_mutual_info" -> (q184MutualInfo _),
    "q185_zipf_fit" -> (q185ZipfFit _),
    "q185b_zipf_stream" -> (q185bZipfStream _),
    "q186_trimmed_mean" -> (q186TrimmedMean _),
    "q187_dedup_efficacy" -> (q187DedupEfficacy _),
    "q188_source_overlap" -> (q188SourceOverlap _),
    "q188b_overlap_contract" -> (q188bOverlapContract _),
    "q189_threshold_yield" -> (q189ThresholdYield _),
    "q190_quantile_norm" -> (q190QuantileNorm _),
    "q190b_quantile_stream" -> (q190bQuantileNormStream _),
    "q191_temperature_mixture" -> (q191TemperatureMixture _),
    "q192_heaps_fit" -> (q192HeapsFit _),
    "q193_t_closeness" -> (q193TCloseness _),
    "q194_packing_waste" -> (q194PackingWaste _),
    "q195_benford" -> (q195Benford _),
    "q191b_temperature_stream" -> (q191bTemperatureStream _),
    "q196_unigram_vocab" -> (q196UnigramVocab _),
    "q197_unigram_fertility" -> (q197UnigramFertility _),
    "q198_holt_trend" -> (q198HoltTrend _),
    "q198b_holt_stream" -> (q198bHoltStream _),
    "q199_tokenizer_compare" -> (q199TokenizerCompare _),
    "q200_index_delete" -> (q200IndexDelete _),
    "q201_dedup_recommend" -> (q201DedupRecommend _),
    "q202_image_neardup" -> (q202ImageNearDup _),
    "q203_sq_adc" -> (q203SqAdcContract _),
    "q204_stream_bm25_index" -> (q204StreamBm25Index _),
    "q205_mmr_rerank" -> (q205MmrRerank _),
    "q206_hilbert_layout" -> (q206HilbertLayout _),
    "q207_stream_sketch_state" -> (q207StreamSketchState _),
    "q208_kmv_overlap" -> (q208KmvOverlap _),
    "q208b_kmv_contract" -> (q208bKmvContract _),
    "q209_stream_image_index" -> (q209StreamImageIndex _),
    "q210_curriculum" -> (q210Curriculum _),
    "q210b_curriculum_stream" -> (q210bCurriculumStream _),
    "q211_orc_roundtrip" -> (q211OrcRoundtrip _),
    "q212_phonetic_er" -> (q212PhoneticEr _),
    "q213_chat_mask" -> (q213ChatMask _),
    "q213b_chat_render" -> (q213bChatRender _),
    "q214_preference_pairs" -> (q214PreferencePairs _),
    "q215_stream_kmv_state" -> (q215StreamKmvState _),
    "q216_span_corrupt" -> (q216SpanCorrupt _),
    "q217_fim_transform" -> (q217FimTransform _),
    "q218_cdc_chunks" -> (q218CdcChunks _),
    "q219_audio_neardup" -> (q219AudioNearDup _),
    "q220_multimodal_dedup" -> (q220MultimodalDedup _),
    "q221_stream_cdc_store" -> (q221StreamCdcStore _),
    "q222_video_neardup" -> (q222VideoNearDup _),
    "q223_jpeg_neardup" -> (q223JpegNearDup _),
    "q224_video_seq_neardup" -> (q224VideoSeqNearDup _),
    "q225_conv_dedup" -> (q225ConvDedup _),
    "q226_crossmodal_dedup" -> (q226CrossModalDedup _),
    "q227_stream_audio_index" -> (q227StreamAudioIndex _),
    "q228_stream_video_index" -> (q228StreamVideoIndex _),
    "q229_jpeg_dlq" -> (q229JpegDlq _),
    "q230_audio_seq_neardup" -> (q230AudioSeqNearDup _),
    "q231_stream_jpeg_index" -> (q231StreamJpegIndex _),
    "q232_png_neardup" -> (q232PngNearDup _),
    "q233_mixed_image_neardup" -> (q233MixedImageNearDup _),
    "q234_thumbnail_neardup" -> (q234ThumbnailNearDup _),
    "q235_flac_neardup" -> (q235FlacNearDup _),
    "q246_mpeg_neardup" -> (q246MpegNearDup _),
    "q247_stream_mpeg_index" -> (q247StreamMpegIndex _),
    "q236_stream_flac_index" -> (q236StreamFlacIndex _),
    "q237_gzip_corpus" -> (q237GzipCorpus _),
    "q238_shot_detect" -> (q238ShotDetect _),
    "q239_scene_dedup" -> (q239SceneDedup _),
    "q250_mpeg_keyframe_neardup" -> (q250MpegKeyframeNearDup _),
    "q251_mpeg_shot_detect" -> (q251MpegShotDetect _),
    "q252_mpeg_scene_dedup" -> (q252MpegSceneDedup _),
    "q253_mpeg_ipp_shot_detect" -> (q253MpegIppShotDetect _),
    "q254_mpeg_ipp_scene_dedup" -> (q254MpegIppSceneDedup _),
    "q255_mpeg_b_shot_detect" -> (q255MpegBShotDetect _),
    "q256_mpeg_b_scene_dedup" -> (q256MpegBSceneDedup _),
    "q257_muxed_av_census" -> (q257MuxedAvCensus _),
    "q258_targz_ingest" -> (q258TarGzIngest _),
    "q259_zip_ingest" -> (q259ZipIngest _),
    "q260_csv_ingest" -> (q260CsvIngest _),
    "q240_warc_ingest" -> (q240WarcIngest _),
    "q241_stream_warc" -> (q241StreamWarcIngest _),
    "q242_image_metadata" -> (q242ImageMetadata _),
    "q243_ncd_verify" -> (q243NcdVerify _),
    "q244_warc_curate" -> (q244WarcCurate _),
    "q245_http_warc_curate" -> (q245HttpWarcCurate _),
    "q168b_seasonal_stream" -> (q168bSeasonalStream _),
    "q181_volume_trend" -> (q181VolumeTrend _),
    "q161b_golden_stream" -> (q161bGoldenStream _),
    "q162b_changepoint_stream" -> (q162bChangepointStream _),
    "q134b_k_anonymity_enforce" -> (q134bKAnonymityEnforce _),
    "q33_dedup_agg_path" -> (q33DedupAggPath _),
    "q34_profile_similarity" -> (q34ProfileSimilarity _),
    "q35_sessionize" -> (q35Sessionize _),
    "q36_running_total" -> (q36RunningTotal _),
    "q37_heavy_hitters" -> (q37HeavyHitters _),
    "q38_source_similarity" -> (q38SourceSimilarity _),
    "q39_asof_join" -> (q39AsofJoin _),
    "q40_sink_roundtrip" -> (q40SinkRoundTrip _),
    "q41_cms_heavy_hitters" -> (q41CmsHeavyHitters _),
    "q42_bucketed_join" -> (q42BucketedJoin _),
    "q43_salted_agg" -> (q43SaltedAgg _),
    "q44_medallion_e2e" -> (q44MedallionE2E _))

  /** Queries that launch a REAL Structured Streaming job (AvailableNow
    * micro-batches, checkpointed state stores). Each carries a fixed
    * ~2-4 s startup cost that is execution-machinery, not data path —
    * [[graft.Bench]] totals them separately so streaming startup noise
    * never masks a batch-query regression.
    */
  val streamingQueries: Set[String] = Set(
    "q18c_window_stream", "q19_stream_validate", "q19b_stateful_edges",
    "q19c_stateful_tws", "q55_stream_dedup", "q62_ss_join",
    "q70_session_stream", "q96_stream_cdc", "q99_stream_throttle",
    "q104b_mixture_stream", "q105b_shard_stream", "q108_stream_curate",
    "q113_stream_index_ingest", "q115_compact_index",
    "q121_stream_query_serve", "q131_stream_classifier",
    "q132_retrain_stream", "q139_stream_neardup", "q143b_media_stream",
    "q146b_drift_stream", "q147b_funnel_stream", "q155b_coreset_stream",
    "q161b_golden_stream", "q162b_changepoint_stream",
    "q168b_seasonal_stream", "q174b_mv_stream", "q185b_zipf_stream",
    "q190b_quantile_stream", "q191b_temperature_stream",
    "q198b_holt_stream", "q204_stream_bm25_index",
    "q207_stream_sketch_state", "q209_stream_image_index",
    "q210b_curriculum_stream", "q215_stream_kmv_state",
    "q221_stream_cdc_store", "q227_stream_audio_index",
    "q228_stream_video_index", "q231_stream_jpeg_index",
    "q236_stream_flac_index", "q241_stream_warc", "q247_stream_mpeg_index")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible /
    * approximate ops (q13 LSH recall, q13b simhash, q23 IVF, q25 stub
    * decode) → driver records a weaker rows-only check.
    */
  /** Shared prefix of the q116/q116b oracles: bigram LM trained on the
    * English slice, every doc scored (add-one smoothing over the
    * reference vocabulary; unseen events coalesce to count 0). Ends at
    * the `scored` CTE — each query appends its own projection.
    */
  /** q124/q124b shared oracle: the five-stage funnel replay. */
  private val curationFunnelSql: String =
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, len(toks) AS n,
        |         list_sum([length(x) FOR x IN toks]) * 1.0 /
        |           greatest(len(toks), 1) AS meanlen,
        |         len(list_intersect(list_distinct([lower(x) FOR x IN toks]),
        |             ['the','a','an','and','or','of','to','in','is','it']))
        |           AS nstops
        |  FROM t),
        |g AS (
        |  SELECT doc_id, text FROM m
        |  WHERE n >= 40 AND n <= 70 AND meanlen >= 4.0 AND meanlen <= 4.6
        |    AND nstops >= 2),
        |sg AS (
        |  SELECT doc_id,
        |         [x FOR x IN [trim(y) FOR y IN
        |                      regexp_split_to_array(text, '\bline\b')
        |                      IF length(trim(y)) > 0]
        |          IF len(regexp_split_to_array(lower(x), '\s+')) >= 5
        |             AND list_has_any(regexp_split_to_array(lower(x), '\s+'),
        |                 ['the','a','an','and','or','of','to','in','is','it'])
        |             AND NOT list_has_any(
        |               regexp_split_to_array(lower(x), '\s+'), ['slow'])] AS kept
        |  FROM g),
        |c AS (
        |  SELECT doc_id, array_to_string(kept, ' ') AS text
        |  FROM sg WHERE len(kept) >= 1),
        |f AS (
        |  SELECT doc_id, text,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM c),
        |d3 AS (
        |  SELECT doc_id, text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM f) WHERE rn = 1),
        |ct AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM d3),
        |cn AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 16 THEN 1
        |              ELSE (len(toks) - 16 + 15) // 16 + 1 END AS n_chunks
        |  FROM ct),
        |cc AS (
        |  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, toks FROM cn),
        |cx AS (
        |  SELECT doc_id, chunk_id,
        |         array_to_string(toks[chunk_id*16 + 1 : chunk_id*16 + 16], ' ')
        |           AS chunk_text
        |  FROM cc),
        |cr AS (
        |  SELECT *, row_number() OVER (PARTITION BY chunk_text
        |                               ORDER BY doc_id, chunk_id) AS rn
        |  FROM cx),
        |d4 AS (
        |  SELECT doc_id,
        |         string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
        |                    ORDER BY chunk_id) AS text
        |  FROM cr GROUP BY doc_id
        |  HAVING sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0),
        |rt AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE lang = 'en'),
        |runi AS (SELECT unnest(toks) AS tok FROM rt),
        |uc AS (SELECT tok, count(*) AS cu FROM runi GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM runi),
        |rbg AS (
        |  SELECT unnest([toks[i] || ' ' || toks[i+1]
        |                 FOR i IN range(1, len(toks))]) AS bigram
        |  FROM rt WHERE len(toks) >= 2),
        |bc AS (SELECT bigram, count(*) AS cb FROM rbg GROUP BY 1),
        |dt AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM d4),
        |bg AS (
        |  SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 FOR i IN range(1, len(toks))]) AS bigram
        |  FROM dt WHERE len(toks) >= 2),
        |lp AS (
        |  SELECT g2.doc_id,
        |         ln((coalesce(bc.cb, 0) + 1.0) /
        |            (coalesce(uc.cu, 0) + v.vocab)) AS lp
        |  FROM bg g2
        |  LEFT JOIN bc USING (bigram)
        |  LEFT JOIN uc ON uc.tok = split_part(g2.bigram, ' ', 1)
        |  CROSS JOIN v),
        |sc AS (SELECT doc_id, round(-avg(lp), 4) AS ce FROM lp GROUP BY 1),
        |rk AS (
        |  SELECT doc_id, ntile(3) OVER (ORDER BY ce, doc_id) AS t3 FROM sc),
        |d5 AS (
        |  SELECT d4.doc_id, d4.text FROM d4 JOIN rk USING (doc_id)
        |  WHERE t3 <= 2)
        |SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) AS tok_sum FROM documents
        |UNION ALL SELECT '1_gopher_rules', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) FROM g
        |UNION ALL SELECT '2_c4_clean', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) FROM c
        |UNION ALL SELECT '3_exact_dedup', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) FROM d3
        |UNION ALL SELECT '4_paragraph_dedup', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) FROM d4
        |UNION ALL SELECT '5_ppl_head_middle', CAST(count(*) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |         AS BIGINT) FROM d5
        |ORDER BY stage""".stripMargin

  private val crossEntropyScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |ref AS (
      |  SELECT t.doc_id, toks FROM t
      |  JOIN documents d ON d.doc_id = t.doc_id AND d.lang = 'en'),
      |runi AS (SELECT unnest(toks) AS tok FROM ref),
      |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM runi GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM runi),
      |rbg AS (
      |  SELECT unnest([toks[i] || ' ' || toks[i+1]
      |                 FOR i IN range(1, len(toks))]) AS bigram
      |  FROM ref WHERE len(toks) >= 2),
      |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM rbg GROUP BY 1),
      |bg AS (
      |  SELECT doc_id,
      |         unnest([toks[i] || ' ' || toks[i+1]
      |                 FOR i IN range(1, len(toks))]) AS bigram
      |  FROM t WHERE len(toks) >= 2),
      |lp AS (
      |  SELECT g.doc_id,
      |         ln((coalesce(bc.cb, 0) + 1.0) /
      |            (coalesce(uc.cu, 0) + v.vocab)) AS lp
      |  FROM bg g
      |  LEFT JOIN bc USING (bigram)
      |  LEFT JOIN uc ON uc.tok = split_part(g.bigram, ' ', 1)
      |  CROSS JOIN v),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         round(-avg(lp), 4) AS cross_entropy
      |  FROM lp GROUP BY doc_id)""".stripMargin

  /** Shared by q118 (string keep-first keys) and q118b (xxhash64
    * keys): hashed ≡ exact, so both forms check against the one SQL.
    */
  private val paragraphDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks,
      |         CASE WHEN len(toks) <= 16 THEN 1
      |              ELSE (len(toks) - 16 + 15) // 16 + 1 END AS n_chunks
      |  FROM t),
      |c AS (
      |  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, toks FROM n),
      |x AS (
      |  SELECT doc_id, chunk_id,
      |         array_to_string(toks[chunk_id*16 + 1 : chunk_id*16 + 16], ' ')
      |           AS chunk_text
      |  FROM c),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY chunk_text
      |                               ORDER BY doc_id, chunk_id) AS rn
      |  FROM x)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(coalesce(sum(CASE WHEN rn = 1 THEN 1 END), 0) AS BIGINT)
      |         AS n_kept,
      |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
      |                           ORDER BY chunk_id), '') AS dedup_text
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The q119 oracle: 5 BPE rounds UNROLLED as SQL stages (generated
    * by a loop — each stage is the same template over the previous
    * round's symbol state). Stage k: adjacent pairs via a lead window
    * → argmax with lexicographic tie-break → greedy-left merge marks
    * via gaps-and-islands (within each run of overlapping
    * occurrences, the 1st/3rd/5th… merge; runs longer than 1 only
    * happen for self-pairs) → positional substitution + renumber.
    * The final SELECT unions the 5 argmax rows into the merge table.
    */
  private val bpeMergesSql: String = bpeMergesOracle("merges")

  /** q120's oracle: the same 5 replayed rounds, but the final SELECT
    * reads the post-merge symbol STATE (st5) instead of the merge
    * table — per-doc symbol counts + an md5 over the segmentation.
    */
  private val bpeApplySql: String = bpeMergesOracle("apply")

  /** q126/q126b oracle: the classifier training loop replayed as
    * unrolled SQL — every iteration's exact integer dot products,
    * Elliott sigmoid, floor-quantized gradient sums, and integer
    * weight updates (see `ext/Classifier` for why each step is
    * bit-reproducible across engines).
    */
  private def classifierOracle(mode: String): String = {
    require(Seq("weights", "scores", "eval", "calibration", "yield")
      .contains(mode))
    // eval mode trains on the hashSplit train slice only and scores
    // everything; the other modes train and score on the full corpus
    val tf = if (mode == "eval") "tfeat" else "feat"
    val iters = (1 to 4).map { k =>
      s"""z$k AS (
         |  SELECT f.doc_id, f.y, CAST(sum(w.ws * f.cnt) AS BIGINT) AS zs
         |  FROM $tf f JOIN w${k - 1} w ON w.b = f.b
         |  GROUP BY 1, 2),
         |p$k AS (
         |  SELECT doc_id, y, zs / 1000000000.0 AS z FROM z$k),
         |e$k AS (
         |  SELECT doc_id, y - 0.5 * (1.0 + z / (1.0 + abs(z))) AS err FROM p$k),
         |g$k AS (
         |  SELECT f.b,
         |         CAST(sum(CAST(floor(e.err * f.cnt * 1000000000.0)
         |           AS BIGINT)) AS BIGINT) AS g
         |  FROM $tf f JOIN e$k e USING (doc_id) GROUP BY 1),
         |w$k AS (
         |  SELECT w.b, w.ws + CAST(coalesce(floor(g.g * 0.5 / nd.n_docs), 0)
         |           AS BIGINT) AS ws
         |  FROM w${k - 1} w LEFT JOIN g$k g ON g.b = w.b CROSS JOIN nd)""".stripMargin
    }.mkString(",\n")
    val fin = mode match {
      case "weights" =>
        """SELECT b AS bucket, ws AS w_scaled, ws / 1000000000.0 AS weight
          |FROM w4 ORDER BY bucket""".stripMargin
      case "scores" =>
        """zf AS (
          |  SELECT f.doc_id, f.y, CAST(sum(w.ws * f.cnt) AS BIGINT) AS zs
          |  FROM feat f JOIN w4 w ON w.b = f.b GROUP BY 1, 2),
          |pf AS (
          |  SELECT doc_id, y, zs / 1000000000.0 AS z FROM zf)
          |SELECT doc_id, y, z,
          |       0.5 * (1.0 + z / (1.0 + abs(z))) AS p,
          |       z > 0.0 AS keep
          |FROM pf ORDER BY doc_id""".stripMargin
      case "calibration" =>
        // p derives from the EXACT long zs by one IEEE division +
        // the algebraic sigmoid, so the decile binning is
        // deterministic; mean_p under the decimal-sum discipline
        """zf AS (
          |  SELECT f.doc_id, f.y, CAST(sum(w.ws * f.cnt) AS BIGINT) AS zs
          |  FROM feat f JOIN w4 w ON w.b = f.b GROUP BY 1, 2),
          |sc AS (
          |  SELECT y, 0.5 * (1.0 + (zs / 1000000000.0)
          |           / (1.0 + abs(zs / 1000000000.0))) AS p
          |  FROM zf)
          |SELECT CAST(floor(p * 10) AS INT) AS bin,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_pos,
          |       CAST((sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) * 1000000)
          |         // count(*) AS BIGINT) AS emp_ppm,
          |       round(CAST(sum(CAST(round(p, 6) AS DECIMAL(18,6)))
          |                  AS DOUBLE) / count(*), 6) AS mean_p
          |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin
      case "yield" =>
        // cumulative-from-above over the O(10)-bin frame; ORDER BY
        // DESC default RANGE frame ≡ the Spark side's ROWS frame
        // because bins are unique after the group-by
        """zf AS (
          |  SELECT f.doc_id, f.y, CAST(sum(w.ws * f.cnt) AS BIGINT) AS zs
          |  FROM feat f JOIN w4 w ON w.b = f.b GROUP BY 1, 2),
          |sc AS (
          |  SELECT doc_id, 0.5 * (1.0 + (zs / 1000000000.0)
          |           / (1.0 + abs(zs / 1000000000.0))) AS p
          |  FROM zf),
          |tn AS (
          |  SELECT doc_id,
          |         CAST(CASE WHEN trim(text) <> ''
          |              THEN len(regexp_split_to_array(trim(text), '\s+'))
          |              ELSE 0 END AS BIGINT) AS n_toks
          |  FROM documents),
          |bn AS (
          |  SELECT CAST(floor(p * 10) AS INT) AS bin,
          |         CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(tn.n_toks) AS BIGINT) AS n_toks
          |  FROM sc JOIN tn USING (doc_id) GROUP BY 1)
          |SELECT bin, n_docs, n_toks,
          |       CAST(sum(n_docs) OVER (ORDER BY bin DESC) AS BIGINT)
          |         AS docs_ge,
          |       CAST(sum(n_toks) OVER (ORDER BY bin DESC) AS BIGINT)
          |         AS toks_ge,
          |       CAST(sum(n_toks) OVER (ORDER BY bin DESC) * 1000000
          |         // sum(n_toks) OVER () AS BIGINT) AS tok_share_ppm
          |FROM bn ORDER BY bin""".stripMargin
      case "eval" =>
        """zf AS (
          |  SELECT f.doc_id, f.y, CAST(sum(w.ws * f.cnt) AS BIGINT) AS zs
          |  FROM feat f JOIN w4 w ON w.b = f.b GROUP BY 1, 2),
          |pf AS (
          |  SELECT z.doc_id, z.y, l.spl, zs / 1000000000.0 AS z
          |  FROM zf z JOIN lab l USING (doc_id)),
          |cm AS (
          |  SELECT spl AS split,
          |         CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(CASE WHEN y = 1.0 AND z > 0.0 THEN 1 ELSE 0 END)
          |           AS BIGINT) AS tp,
          |         CAST(sum(CASE WHEN y = 0.0 AND z > 0.0 THEN 1 ELSE 0 END)
          |           AS BIGINT) AS fp,
          |         CAST(sum(CASE WHEN y = 1.0 AND NOT z > 0.0 THEN 1 ELSE 0 END)
          |           AS BIGINT) AS fn,
          |         CAST(sum(CASE WHEN y = 0.0 AND NOT z > 0.0 THEN 1 ELSE 0 END)
          |           AS BIGINT) AS tn
          |  FROM pf GROUP BY 1)
          |SELECT split, n_docs, tp, fp, fn, tn,
          |       round(CAST(tp + tn AS DOUBLE) / n_docs, 6) AS accuracy
          |FROM cm ORDER BY split""".stripMargin
    }
    val ndFilter = if (mode == "eval") " WHERE spl = 'train'" else ""
    val tfeatCte =
      if (mode == "eval")
        """
          |tfeat AS (
          |  SELECT doc_id, y, b, cnt FROM feat WHERE spl = 'train'),""".stripMargin
      else ""
    s"""WITH tok AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |lab AS (
       |  SELECT doc_id,
       |         CAST(CASE WHEN len([x FOR x IN t IF x = 'vector'])
       |                      > len([x FOR x IN t IF x = 'spark'])
       |              THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
       |         CASE WHEN strpos('123456789abcdef',
       |                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
       |              + strpos('123456789abcdef',
       |                substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
       |              + strpos('123456789abcdef',
       |                substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) < 3277
       |              THEN 'train' ELSE 'holdout' END AS spl
       |  FROM tok WHERE len(t) >= 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM lab$ndFilter),
       |tk AS (
       |  SELECT doc_id, unnest(t) AS tokn FROM tok WHERE len(t) >= 1),
       |bk AS (
       |  SELECT doc_id,
       |         CAST(((strpos('0123456789abcdef', substr(md5(tokn), 1, 1)) - 1) * 16
       |             + (strpos('0123456789abcdef', substr(md5(tokn), 2, 1)) - 1)) % 64
       |           AS INT) AS b
       |  FROM tk),
       |fb AS (
       |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2),
       |feat AS (
       |  SELECT l.doc_id, l.y, l.spl, f.b, f.cnt
       |  FROM lab l JOIN fb f USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, y, spl, CAST(-1 AS INT), CAST(1 AS BIGINT) FROM lab),$tfeatCte
       |w0 AS (
       |  SELECT CAST(unnest(range(-1, 64)) AS INT) AS b, CAST(0 AS BIGINT) AS ws),
       |$iters${if (mode == "weights") "" else ","}
       |$fin""".stripMargin
  }

  /** Exact inverted-index Jaccard pairs at threshold 0.5 (the q13 SQL
    * shape) — the ground-truth edge set shared by the q133 centrality
    * and q159 triangle oracles.
    */
  private val jaccardPairsCtes: String =
    """tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct([list_aggregate(toks[i:i+2], 'string_agg', ' ')
      |                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
      |  FROM tok),
      |e0 AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
      |p0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
      |              any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
      |       FROM e0 a JOIN e0 b ON a.g = b.g AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM p0
      |          WHERE round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6)
      |                >= 0.5)""".stripMargin

  /** q133 oracle: exact inverted-index jaccard edges (the q13 SQL),
    * degrees, THREE scaled-integer PageRank iterations, recursive
    * component closure, per-cluster centrality argmax — the full
    * composed run replayed (iterations generated like the BPE and
    * classifier oracles; `//` is DuckDB's integer floor division,
    * mirroring Spark's `div` on longs).
    */
  private val graphCentralitySql: String = {
    val iters = (1 to 3).map { k =>
      s"""c$k AS (
         |  SELECT e.dst, CAST(sum((85 * r.pr) // (100 * g.dg)) AS BIGINT) AS m
         |  FROM edges e JOIN r${k - 1} r ON r.id = e.src
         |  JOIN deg g ON g.src = e.src
         |  GROUP BY 1),
         |r$k AS (
         |  SELECT d.src AS id,
         |         CAST((15 * CAST(1000000000 AS BIGINT)) // (100 * nn.c) AS BIGINT)
         |           + coalesce(c.m, 0) AS pr
         |  FROM deg d CROSS JOIN nn LEFT JOIN c$k c ON c.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $jaccardPairsCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg FROM edges GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM deg),
       |r0 AS (SELECT src AS id, CAST(1000000000 // nn.c AS BIGINT) AS pr
       |       FROM deg CROSS JOIN nn),
       |$iters,
       |reach(id, rt) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e2.dst, reach.rt FROM reach JOIN edges e2 ON e2.src = reach.id),
       |comp AS (SELECT id, min(rt) AS cluster_id FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM comp GROUP BY 1),
       |fin AS (
       |  SELECT c.id AS doc_id, c.cluster_id, s.cluster_size, g.dg AS deg,
       |         r.pr AS pr_scaled, r.pr / 1000000000.0 AS pr
       |  FROM comp c JOIN sizes s USING (cluster_id)
       |  JOIN deg g ON g.src = c.id JOIN r3 r ON r.id = c.id)
       |SELECT doc_id, cluster_id, cluster_size, deg, pr_scaled, pr,
       |       row_number() OVER (PARTITION BY cluster_id
       |                          ORDER BY pr_scaled DESC, doc_id) = 1
       |         AS is_central
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** q153 oracle: the full scaled-integer PCA replayed — quantize,
    * exact integer moments, centered covariance n·S − M·Mᵀ, the
    * truncating normalization division, SIX unrolled power-iteration
    * stages (L∞-normalized, `//` mirroring Spark/Scala truncating
    * long division — parity verified on negatives), and the final
    * projection sum. DuckDB's BIGINT sum() widens to HUGEINT, so every
    * summed stage casts back to BIGINT before reuse.
    */
  /** Every CTE in the PCA replay is MATERIALIZED: DuckDB inlines a
    * CTE per reference, and each iteration references its predecessor
    * twice — un-materialized, the expansion is 2^iters copies of the
    * whole moment chain (observed: minutes + fd exhaustion at
    * sf0.001; 0.6 s materialized).
    */
  /** One power-iteration stage over matrix CTE `mat` (columns i, j,
    * cn), vector prefix `vp` (stages `$vp{k-1}` → `$vp$k`) — shared
    * by the q153 chain and the q153b post-deflation chain.
    */
  private def pcaIterSql(
      mat: String, wp: String, xp: String, vp: String, k: Int): String =
    s"""$wp$k AS MATERIALIZED (
       |  SELECT t.i, CAST(sum(t.cn * v.v) AS BIGINT) AS w
       |  FROM $mat t JOIN $vp${k - 1} v ON v.i = t.j GROUP BY 1),
       |$xp$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM $wp$k),
       |$vp$k AS MATERIALIZED (
       |  SELECT w.i,
       |         CASE WHEN x.m = 0 THEN pv.v
       |              ELSE (w.w * 100000) // x.m END AS v
       |  FROM $wp$k w CROSS JOIN $xp$k x JOIN $vp${k - 1} pv ON pv.i = w.i)"""
      .stripMargin

  private val pcaProjectCtes: String = {
    val iters = (1 to 6).map(pcaIterSql("cn", "w", "x", "v", _))
      .mkString(",\n")
    s"""qv AS MATERIALIZED (
       |  SELECT vec_id,
       |         [CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)
       |          FOR x IN embedding] AS q
       |  FROM embeddings),
       |ex AS MATERIALIZED (
       |  SELECT vec_id, generate_subscripts(q, 1) - 1 AS i, unnest(q) AS qi
       |  FROM qv),
       |mm AS MATERIALIZED (
       |  SELECT i, CAST(sum(qi) AS BIGINT) AS m FROM ex GROUP BY 1),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM qv),
       |ss AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT) AS s
       |  FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2),
       |c0 AS MATERIALIZED (
       |  SELECT ss.i, ss.j, nn.n * ss.s - ma.m * mb.m AS c
       |  FROM ss CROSS JOIN nn
       |  JOIN mm ma ON ma.i = ss.i JOIN mm mb ON mb.i = ss.j),
       |dv AS MATERIALIZED (
       |  SELECT greatest(max(abs(c)) // 1000000, 1) AS d FROM c0),
       |cn AS MATERIALIZED (
       |  SELECT i, j, c // dv.d AS cn FROM c0 CROSS JOIN dv),
       |v0 AS MATERIALIZED (SELECT i, CAST(100000 AS BIGINT) AS v FROM mm),
       |$iters,
       |pj AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         CAST(sum(e.qi * v.v) AS BIGINT) AS proj_scaled,
       |         round(CAST(sum(e.qi * v.v) AS DOUBLE) / 1000000000.0, 6)
       |           AS proj
       |  FROM ex e JOIN v6 v ON v.i = e.i GROUP BY 1)""".stripMargin
  }

  private val pcaProjectSql: String =
    s"""WITH $pcaProjectCtes
       |SELECT vec_id, proj_scaled, proj FROM pj ORDER BY vec_id"""
      .stripMargin

  /** q153b oracle: the q153 chain plus the Hotelling deflation —
    * Rayleigh quotient in int128 (DuckDB HUGEINT ↔ the Scala BigInt
    * driver arithmetic; `//` truncation-toward-zero parity verified
    * on negative int128 values), C₂ = Cn − (v·vᵀ·vᵀCnv)//(vᵀv)², six
    * more unrolled iterations, and the second projection.
    */
  private val pca2ProjectSql: String = {
    val iters = (1 to 6).map(pcaIterSql("c2", "fw", "fx", "fv", _))
      .mkString(",\n")
    s"""WITH $pcaProjectCtes,
       |rw AS MATERIALIZED (
       |  SELECT t.i, CAST(sum(t.cn * v.v) AS BIGINT) AS w
       |  FROM cn t JOIN v6 v ON v.i = t.j GROUP BY 1),
       |ray AS MATERIALIZED (
       |  SELECT CAST(sum(CAST(v.v AS HUGEINT) * w.w) AS HUGEINT) AS num,
       |         CAST(sum(CAST(v.v AS HUGEINT) * v.v) AS HUGEINT) AS den
       |  FROM v6 v JOIN rw w ON w.i = v.i),
       |c2 AS MATERIALIZED (
       |  SELECT t.i, t.j,
       |         CAST(CAST(t.cn AS HUGEINT)
       |              - (CAST(va.v AS HUGEINT) * vb.v * ray.num)
       |                // (ray.den * ray.den) AS BIGINT) AS cn
       |  FROM cn t JOIN v6 va ON va.i = t.i JOIN v6 vb ON vb.i = t.j
       |  CROSS JOIN ray),
       |fv0 AS MATERIALIZED (SELECT i, CAST(100000 AS BIGINT) AS v FROM mm),
       |$iters,
       |pj2 AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         CAST(sum(e.qi * v.v) AS BIGINT) AS proj2_scaled,
       |         round(CAST(sum(e.qi * v.v) AS DOUBLE) / 1000000000.0, 6)
       |           AS proj2
       |  FROM ex e JOIN fv6 v ON v.i = e.i GROUP BY 1)
       |SELECT pj.vec_id, pj.proj_scaled AS proj1_scaled,
       |       pj2.proj2_scaled, pj.proj AS proj1, pj2.proj2
       |FROM pj JOIN pj2 ON pj2.vec_id = pj.vec_id
       |ORDER BY pj.vec_id""".stripMargin
  }

  /** q154 oracle: the full PCA replay (shared CTE chain) feeding the
    * q150 fixed-bin PSI replay over the projection.
    */
  private val embeddingDriftSql: String = {
    def bucket = "CAST(least(15, greatest(0, " +
      "CAST(floor((proj - (-2.0)) / 0.25) AS INT))) AS INT)"
    s"""WITH $pcaProjectCtes,
       |o AS (SELECT $bucket AS category FROM pj WHERE vec_id % 2 = 0),
       |ne AS (SELECT $bucket AS category FROM pj WHERE vec_id % 2 = 1),
       |oc AS (SELECT category, count(*) AS n_old FROM o GROUP BY 1),
       |nc AS (SELECT category, count(*) AS n_new FROM ne GROUP BY 1),
       |j AS (
       |  SELECT coalesce(oc.category, nc.category) AS category,
       |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
       |  FROM oc FULL OUTER JOIN nc ON oc.category = nc.category),
       |t AS (SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new,
       |             count(*) AS n_categories FROM j)
       |SELECT j.category,
       |       CAST(j.n_old AS BIGINT) AS n_old,
       |       CAST(j.n_new AS BIGINT) AS n_new,
       |       round(
       |         ((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE)
       |          - (j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))
       |         * ln(((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE))
       |              / ((j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))),
       |         6) AS psi_term
       |FROM j, t ORDER BY category""".stripMargin
  }

  /** q155 oracle: all 12 k-center greedy rounds replayed in the
    * incremental form — m_r = least(m_{r−1}, d² to the new center)
    * with the chosen id dropped per stage — which equals the Spark
    * side's fresh least-over-all-centers because `least` is
    * associative over the same exact integer distances. MATERIALIZED
    * per stage (each m/s is referenced twice downstream).
    */
  private val farthestPointSql: String = {
    val k = 12
    def sq(p: String, c: String): String =
      s"CAST(list_sum([($p.q[i] - $c.q[i]) * ($p.q[i] - $c.q[i]) " +
        s"FOR i IN range(1, len($p.q) + 1)]) AS BIGINT)"
    val argmax = (2 to k).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT $r AS sel_rank, vec_id, q, md FROM m${r - 1}
         |  ORDER BY md DESC, vec_id ASC LIMIT 1)""".stripMargin
    }
    val updates = (2 until k).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT p.vec_id, p.q, least(p.md, ${sq("p", "c")}) AS md
         |  FROM m${r - 1} p CROSS JOIN s$r c
         |  WHERE p.vec_id <> c.vec_id)""".stripMargin
    }
    // interleave: s2, m2, s3, m3, …, s12
    val stages = (argmax.dropRight(1).zip(updates)
      .flatMap { case (s, m) => Seq(s, m) } :+ argmax.last).mkString(",\n")
    val union = (1 to k)
      .map(r => s"SELECT sel_rank, vec_id, md AS min_dist_q2 FROM s$r")
      .mkString("\n  UNION ALL ")
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id,
       |         [CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)
       |          FOR x IN embedding] AS q
       |  FROM embeddings),
       |s1 AS MATERIALIZED (
       |  SELECT 1 AS sel_rank, vec_id, q, CAST(0 AS BIGINT) AS md
       |  FROM qv ORDER BY vec_id LIMIT 1),
       |m1 AS MATERIALIZED (
       |  SELECT p.vec_id, p.q, ${sq("p", "c")} AS md
       |  FROM qv p CROSS JOIN s1 c WHERE p.vec_id <> c.vec_id),
       |$stages
       |$union
       |ORDER BY sel_rank""".stripMargin
  }

  /** Shared CTE chain of the q136/q137 oracles: the full Okapi BM25
    * computation through the ranked result `rk` (unlimited rank).
    */
  /** One full BM25 scoring chain (tf → df → score → rank) over query
    * relation `qRel`, CTE names prefixed with `p` — shared by the
    * q136/q137 single-pass oracles (p = "") and both passes of the
    * q157 PRF oracle.
    */
  private def bm25PassSql(qRel: String, p: String): String =
    s"""${p}tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(t) AS term FROM tok)
       |  WHERE term IN (SELECT DISTINCT term FROM $qRel) GROUP BY 1, 2),
       |${p}df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |           FROM ${p}tf GROUP BY 1),
       |${p}sc AS (
       |  SELECT q.query_id, tf.doc_id,
       |         round(sum(
       |           ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
       |           (tf.tf * (1.2 + 1.0)) /
       |           (tf.tf + 1.2 * (1.0 - 0.75
       |                           + 0.75 * dl.dl / (CAST(st.sdl AS DOUBLE) / st.n)))
       |         ), 4) AS score
       |  FROM ${p}tf tf JOIN $qRel q USING (term) JOIN ${p}df df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
       |  GROUP BY 1, 2),
       |${p}rk AS (
       |  SELECT query_id, doc_id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, doc_id) AS INT) AS rank
       |  FROM ${p}sc)""".stripMargin

  private val bm25QueriesSql: String =
    """q(query_id, term) AS (
      |  VALUES ('disc', 'vector'), ('disc', 'spark'),
      |         ('stop', 'the'), ('stop', 'a'),
      |         ('mixed', 'merge'), ('mixed', 'window'), ('mixed', 'customer'))"""
      .stripMargin

  private val bm25CorpusSql: String =
    """tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl)""".stripMargin

  private val bm25OracleCtes: String =
    s"""WITH $bm25QueriesSql,
       |$bm25CorpusSql,
       |${bm25PassSql("q", "")}""".stripMargin

  /** Shared by q88b (batch LSH corpus dedup) and q139 (the same
    * composition as an incremental stream): both must converge to the
    * exact-Jaccard min-id-per-cluster surviving corpus.
    */
  private val lshDedupCorpusSql: String =
    """WITH RECURSIVE t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |-- exact Jaccard via the INVERTED INDEX (q76's oracle shape):
        |-- pairs meet only on shared shingles — the same Σdf² economics
        |-- as the engine under test, so the oracle stays oracle-fast at
        |-- sf0.1 where the all-pairs form needs 25M list intersections
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(
        |           [list_aggregate(toks[i:i+2], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)])) AS s
        |  FROM t),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT p.id_a, p.id_b
        |  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2) p
        |  JOIN sz za ON p.id_a = za.doc_id
        |  JOIN sz zb ON p.id_b = zb.doc_id
        |  WHERE round(CAST(p.inter AS DOUBLE)
        |              / (za.sz + zb.sz - p.inter), 6) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE id <> cluster_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents d LEFT JOIN dropped ON d.doc_id = dropped.id
        |WHERE dropped.id IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The BPE replay CTE chain shared by [[bpeMergesOracle]] and the
    * q199 tokenizer-comparison oracle: token stream st0 → five
    * (count pairs → pick argmax → merge non-overlapping occurrences)
    * stages ending at st5, with each step's winning pair in b1..b5.
    * No name collides with the unigram chain, so the two concatenate
    * under one WITH.
    */
  private def bpeMergesCtes: String = {
    val stages = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT doc_id, pos, sym AS x,
         |         lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS y
         |  FROM st${k - 1}),
         |b$k AS (
         |  SELECT x, y, count(*) AS c FROM p$k WHERE y IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY c DESC, x, y LIMIT 1),
         |m$k AS (
         |  SELECT p.doc_id, p.pos, p.x,
         |         CASE WHEN p.x = b.x AND p.y = b.y THEN 1 ELSE 0 END AS occ,
         |         b.x || ' ' || b.y AS mrg
         |  FROM p$k p CROSS JOIN b$k b),
         |i$k AS (
         |  SELECT *, CASE WHEN occ = 1 THEN pos - row_number()
         |    OVER (PARTITION BY doc_id, occ ORDER BY pos) END AS isl
         |  FROM m$k),
         |g$k AS (
         |  SELECT *, CASE WHEN occ = 1 AND row_number()
         |      OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2 = 1
         |    THEN 1 ELSE 0 END AS sel
         |  FROM i$k),
         |st$k AS (
         |  SELECT doc_id,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         |         CASE WHEN sel = 1 THEN mrg ELSE x END AS sym
         |  FROM (SELECT *, lag(sel, 1, 0)
         |          OVER (PARTITION BY doc_id ORDER BY pos) AS psel
         |        FROM g$k)
         |  WHERE psel = 0)""".stripMargin
    }.mkString(",\n")
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |st0 AS (
       |  SELECT doc_id, unnest(toks) AS sym,
       |         unnest(range(1, len(toks) + 1)) AS pos
       |  FROM t),
       |$stages""".stripMargin
  }

  private def bpeMergesOracle(finalMode: String): String = {
    val finalRows = finalMode match {
      case "merges" =>
        (1 to 5).map { k =>
          s"SELECT $k AS step, x AS left_sym, y AS right_sym,\n" +
            s"       x || ' ' || y AS merged, CAST(c AS BIGINT) AS pair_count FROM b$k"
        }.mkString("\nUNION ALL\n") + "\nORDER BY step"
      case "apply" =>
        """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_syms,
          |       md5(string_agg(sym, '|' ORDER BY pos)) AS seg_md5
          |FROM st5 GROUP BY doc_id ORDER BY doc_id""".stripMargin
      case "fertility" =>
        """SELECT lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_words) AS BIGINT) AS n_words,
          |       CAST(sum(n_syms) AS BIGINT) AS n_syms,
          |       CAST(sum(sym_chars) AS BIGINT) AS sym_chars,
          |       round(CAST(sum(n_syms) AS DOUBLE) / sum(n_words), 6)
          |         AS syms_per_word,
          |       round(CAST(sum(sym_chars) AS DOUBLE) / sum(n_syms), 6)
          |         AS chars_per_sym
          |FROM (SELECT s.doc_id, count(*) AS n_syms,
          |             sum(length(sym)) AS sym_chars
          |      FROM st5 s GROUP BY 1) a
          |JOIN (SELECT doc_id, len(toks) AS n_words FROM t) tw USING (doc_id)
          |JOIN documents d USING (doc_id)
          |GROUP BY lang ORDER BY lang""".stripMargin
    }
    s"""WITH $bpeMergesCtes
       |$finalRows""".stripMargin
  }

  /** q196 oracle: the full 2-round unigram hard-EM replayed in SQL,
    * INCLUDING the Viterbi DP itself — per-position min stages (dp_k
    * depends on dp_{k−4..k−1}) and the piece-walk backtrack are
    * unrolled by a Scala loop over a stage template, 20 stages each
    * per round (words cap at 20 chars), argmin tie-break spelled as
    * ORDER BY cost ASC, t DESC ≡ the engine's (cost, start) struct
    * min. Every CTE is MATERIALIZED: DuckDB inlines CTEs per
    * reference and the DP stages chain (the q153 fd-exhaustion
    * lesson).
    */
  private def unigramOracle(mode: String): String = {
    val V = 60; val L = 4; val W = 20
    def priorUnion(r: Int, k: Int): String = {
      val base =
        if (k <= L)
          Seq("SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM w0")
        else Nil
      val dps = (math.max(1, k - L) until k)
        .map(j => s"SELECT word, $j AS pos, cost FROM dp${r}_$j")
      (base ++ dps).mkString(" UNION ALL ")
    }
    def roundCtes(r: Int, withReestimate: Boolean = true): Seq[String] = {
      val prev = s"v${r - 1}"
      val costs =
        s"""c$r AS MATERIALIZED (
           |  SELECT piece,
           |         CAST(round(ln(CAST((SELECT sum(weight) FROM $prev)
           |           AS DOUBLE) / weight) * 1000000) AS BIGINT) AS cost
           |  FROM $prev)""".stripMargin
      val cand =
        s"""cand$r AS MATERIALIZED (
           |  SELECT p.word, p.i, p.t, c.cost
           |  FROM posns p JOIN c$r c USING (piece))""".stripMargin
      val dps = (1 to W).map { k =>
        s"""dp${r}_$k AS MATERIALIZED (
           |  SELECT word, cost, t FROM (
           |    SELECT c.word, p.cost + c.cost AS cost, c.t,
           |           row_number() OVER (PARTITION BY c.word
           |             ORDER BY p.cost + c.cost ASC, c.t DESC) AS rn
           |    FROM cand$r c
           |    JOIN (${priorUnion(r, k)}) p
           |      ON p.word = c.word AND p.pos = $k - c.t
           |    WHERE c.i + c.t - 1 = $k) WHERE rn = 1)""".stripMargin
      }
      val dpall =
        s"""dpall$r AS MATERIALIZED (
           |  ${(1 to W).map(k => s"SELECT word, $k AS pos, cost, t FROM dp${r}_$k")
                .mkString(" UNION ALL ")})""".stripMargin
      val bt0 =
        s"""bt${r}_0 AS MATERIALIZED (
           |  SELECT word, n_w, length(word) AS pos FROM w0)""".stripMargin
      val bts = (1 to W).map { i =>
        s"""bt${r}_$i AS MATERIALIZED (
           |  SELECT b.word, b.n_w, b.pos - d.t AS pos,
           |         substring(b.word, b.pos - d.t + 1, d.t) AS piece
           |  FROM bt${r}_${i - 1} b JOIN dpall$r d
           |    ON d.word = b.word AND d.pos = b.pos
           |  WHERE b.pos > 0)""".stripMargin
      }
      val usage =
        s"""usage$r AS MATERIALIZED (
           |  SELECT piece, CAST(sum(n_w) AS BIGINT) AS weight
           |  FROM (${(1 to W).map(i => s"SELECT piece, n_w FROM bt${r}_$i")
                .mkString(" UNION ALL ")})
           |  GROUP BY 1)""".stripMargin
      val v =
        s"""v$r AS MATERIALIZED (
           |  SELECT ch.piece,
           |         greatest(COALESCE(u.weight, CAST(0 AS BIGINT)),
           |                  CAST(1 AS BIGINT)) AS weight
           |  FROM chars ch LEFT JOIN usage$r u USING (piece)
           |  UNION ALL
           |  SELECT piece, weight FROM (
           |    SELECT u.piece, u.weight,
           |           row_number() OVER (ORDER BY u.weight DESC, u.piece)
           |             AS rn
           |    FROM usage$r u LEFT JOIN chars ch ON ch.piece = u.piece
           |    WHERE ch.piece IS NULL AND u.weight > 0) WHERE rn <= $V)"""
          .stripMargin
      Seq(costs, cand) ++ dps ++ Seq(dpall, bt0) ++ bts ++
        (if (withReestimate) Seq(usage, v) else Nil)
    }
    val header =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_w
         |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)),
         |          '\\s+')) AS word FROM documents)
         |  WHERE length(word) BETWEEN 1 AND $W
         |  GROUP BY 1),
         |posns AS MATERIALIZED (
         |  SELECT w0.word, gi.i, gt.t,
         |         substring(w0.word, gi.i, gt.t) AS piece
         |  FROM w0, generate_series(1, $W) AS gi(i),
         |       generate_series(1, $L) AS gt(t)
         |  WHERE gi.i + gt.t - 1 <= length(w0.word)),
         |seed AS MATERIALIZED (
         |  SELECT piece, CAST(sum(n_w) AS BIGINT) AS weight
         |  FROM posns p JOIN w0 USING (word) GROUP BY 1),
         |chars AS MATERIALIZED (
         |  SELECT piece, weight FROM seed WHERE length(piece) = 1),
         |v0 AS MATERIALIZED (
         |  SELECT piece, weight FROM chars
         |  UNION ALL
         |  SELECT piece, weight FROM (
         |    SELECT piece, weight,
         |           row_number() OVER (ORDER BY weight DESC, piece) AS rn
         |    FROM seed WHERE length(piece) > 1 AND weight >= 2)
         |  WHERE rn <= $V)""".stripMargin
    mode match {
      case "vocab" =>
        val rounds = (1 to 2).flatMap(r => roundCtes(r)).mkString(",\n")
        s"""$header,
           |$rounds
           |SELECT v.piece, v.weight,
           |       CAST(round(ln(CAST((SELECT sum(weight) FROM v2) AS DOUBLE)
           |         / v.weight) * 1000000) AS BIGINT) AS cost,
           |       (length(v.piece) = 1) AS is_char
           |FROM v2 v ORDER BY v.piece""".stripMargin
      case "fertility" =>
        // round 3 = one more Viterbi pass under the FINAL costs (no
        // re-estimation) — the inference segmentation fertility reads
        val rounds = ((1 to 2).flatMap(r => roundCtes(r)) ++
          roundCtes(3, withReestimate = false)).mkString(",\n")
        s"""$header,
           |$rounds,
           |wl AS MATERIALIZED (
           |  SELECT lang, word, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT lang,
           |          unnest(regexp_split_to_array(trim(lower(text)),
           |            '\\s+')) AS word
           |        FROM documents)
           |  WHERE length(word) BETWEEN 1 AND $W GROUP BY 1, 2),
           |np AS MATERIALIZED (
           |  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
           |  FROM (${(1 to W).map(i => s"SELECT word, piece FROM bt3_$i")
                .mkString(" UNION ALL ")})
           |  GROUP BY 1)
           |SELECT wl.lang,
           |       CAST(sum(wl.n) AS BIGINT) AS n_words,
           |       CAST(sum(wl.n * np.n_pieces) AS BIGINT) AS n_pieces,
           |       CAST(sum(wl.n * length(wl.word)) AS BIGINT) AS n_chars,
           |       CAST(sum(wl.n * np.n_pieces) * 1000000 // sum(wl.n)
           |         AS BIGINT) AS pieces_per_word_ppm,
           |       CAST(sum(wl.n * length(wl.word)) * 1000000
           |         // sum(wl.n * np.n_pieces) AS BIGINT)
           |         AS chars_per_piece_ppm
           |FROM wl JOIN np USING (word)
           |GROUP BY wl.lang ORDER BY wl.lang""".stripMargin
      case "compare" =>
        // q199: BOTH trainers' replay chains under one WITH (names
        // are disjoint by construction), each reduced to per-lang ppm
        // fertility, joined on lang, plus the normalized-subword
        // vocabulary overlap (BPE merged pairs with spaces stripped
        // vs multi-char unigram pieces)
        val rounds = ((1 to 2).flatMap(r => roundCtes(r)) ++
          roundCtes(3, withReestimate = false)).mkString(",\n")
        s"""WITH $bpeMergesCtes,
           |${header.stripPrefix("WITH ")},
           |$rounds,
           |wl AS MATERIALIZED (
           |  SELECT lang, word, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT lang,
           |          unnest(regexp_split_to_array(trim(lower(text)),
           |            '\\s+')) AS word
           |        FROM documents)
           |  WHERE length(word) BETWEEN 1 AND $W GROUP BY 1, 2),
           |np AS MATERIALIZED (
           |  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
           |  FROM (${(1 to W).map(i => s"SELECT word, piece FROM bt3_$i")
                .mkString(" UNION ALL ")})
           |  GROUP BY 1),
           |bl AS (
           |  SELECT d.lang,
           |         CAST(sum(tw.n_words) AS BIGINT) AS bpe_n_words,
           |         CAST(sum(a.n_syms) AS BIGINT) AS bpe_n_syms,
           |         CAST(sum(a.sym_chars) AS BIGINT) AS bpe_sym_chars
           |  FROM (SELECT s.doc_id, count(*) AS n_syms,
           |               sum(length(sym)) AS sym_chars
           |        FROM st5 s GROUP BY 1) a
           |  JOIN (SELECT doc_id, len(toks) AS n_words FROM t) tw
           |    USING (doc_id)
           |  JOIN documents d USING (doc_id)
           |  GROUP BY d.lang),
           |ul AS (
           |  SELECT wl.lang,
           |         CAST(sum(wl.n) AS BIGINT) AS uni_n_words,
           |         CAST(sum(wl.n * np.n_pieces) AS BIGINT) AS uni_n_pieces,
           |         CAST(sum(wl.n * length(wl.word)) AS BIGINT) AS uni_n_chars
           |  FROM wl JOIN np USING (word) GROUP BY wl.lang),
           |bsub AS (
           |  SELECT DISTINCT replace(x || y, ' ', '') AS sub
           |  FROM (${(1 to 5).map(k => s"SELECT x, y FROM b$k")
                .mkString(" UNION ALL ")})),
           |usub AS (
           |  SELECT DISTINCT piece AS sub FROM v2 WHERE length(piece) > 1),
           |ov AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_shared_subwords
           |  FROM bsub JOIN usub USING (sub))
           |SELECT bl.lang, bpe_n_words, bpe_n_syms, bpe_sym_chars,
           |       CAST(bpe_n_syms * 1000000 // bpe_n_words AS BIGINT)
           |         AS bpe_syms_ppw_ppm,
           |       CAST(bpe_sym_chars * 1000000 // bpe_n_syms AS BIGINT)
           |         AS bpe_chars_per_sym_ppm,
           |       uni_n_words, uni_n_pieces, uni_n_chars,
           |       CAST(uni_n_pieces * 1000000 // uni_n_words AS BIGINT)
           |         AS uni_pieces_ppw_ppm,
           |       CAST(uni_n_chars * 1000000 // uni_n_pieces AS BIGINT)
           |         AS uni_chars_per_piece_ppm,
           |       n_shared_subwords
           |FROM bl JOIN ul ON ul.lang = bl.lang CROSS JOIN ov
           |ORDER BY bl.lang""".stripMargin
    }
  }

  /** Shared CTE chain of the q112/q123 oracles: DSIR hashed-bigram
    * bucket counts through the per-doc summed log-weight (`lw`).
    */
  private val dsirWeightCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
      |  FROM tok WHERE len(t) >= 2),
      |bkt AS (
      |  SELECT doc_id, substring(md5(gram), 1, 3) AS b FROM g),
      |db AS (
      |  SELECT doc_id, b, count(*) AS cnt FROM bkt GROUP BY 1, 2),
      |cb AS (
      |  SELECT b, sum(cnt) AS cc FROM db GROUP BY 1),
      |tgt AS (
      |  SELECT bkt.b, count(*) AS tc
      |  FROM bkt JOIN documents d USING (doc_id)
      |  WHERE d.lang = 'en' AND d.source IN ('src1', 'src2')
      |  GROUP BY 1),
      |ratios AS (
      |  SELECT cb.b,
      |         ln((coalesce(tc, 0) + 1) /
      |            ((SELECT sum(tc) FROM tgt) + 4096.0)) -
      |         ln((cc + 1) / ((SELECT sum(cc) FROM cb) + 4096.0)) AS lr
      |  FROM cb LEFT JOIN tgt USING (b)),
      |lw AS (
      |  SELECT doc_id, sum(cnt * lr) AS w
      |  FROM db JOIN ratios USING (b) GROUP BY 1)""".stripMargin

  /** Shared by q79 (one-shot batch apply) and q96 (incremental
    * streaming apply): both must converge to the same snapshot.
    */
  private val cdcSnapshotOracle: String =
    """WITH ch AS (
      |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000
      |              ELSE o_custkey END AS key,
      |         o_orderkey AS seq,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'D'
      |              WHEN o_orderkey % 11 = 0 THEN 'I'
      |              ELSE 'U' END AS op,
      |         o_totalprice AS bal
      |  FROM orders WHERE o_custkey % 4 = 0),
      |last AS (
      |  SELECT key, op, bal FROM (
      |    SELECT key, op, bal,
      |           row_number() OVER (PARTITION BY key
      |             ORDER BY seq DESC, op DESC) AS rn
      |    FROM ch) WHERE rn = 1),
      |snap AS (
      |  SELECT CASE WHEN l.key IS NULL THEN c.c_mktsegment
      |              ELSE 'CHANGED' END AS seg,
      |         CASE WHEN l.key IS NULL THEN c.c_acctbal ELSE l.bal END AS bal,
      |         coalesce(l.op, 'B') AS op
      |  FROM customer c FULL JOIN last l ON c.c_custkey = l.key)
      |SELECT seg AS c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(bal), 2) AS acctbal_sum
      |FROM snap WHERE op <> 'D' GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q89 (batch `flatMapSortedGroups` throttle) and q99 (the
    * `transformWithState` streaming form): the sequential anchor chain
    * as a recursive CTE.
    */
  private val throttleOracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE user_id < 12),
      |kept AS (
      |  SELECT user_id AS k, min(ts) AS t FROM e GROUP BY 1
      |  UNION ALL
      |  SELECT k, nxt FROM (
      |    SELECT q.k AS k,
      |           (SELECT min(e2.ts) FROM e e2
      |            WHERE e2.user_id = q.k
      |              AND e2.ts >= q.t + INTERVAL 6 HOUR) AS nxt
      |    FROM kept q)
      |  WHERE nxt IS NOT NULL)
      |SELECT a.user_id AS user_id, a.n_events, b.n_kept
      |FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      |      FROM e GROUP BY 1) a
      |JOIN (SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_kept
      |      FROM kept GROUP BY 1) b USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Shared by q102 (string-keyed grams) and q102b (xxhash64-keyed
    * grams): both must flag the identical spans — that equivalence is
    * exactly what q102b verifies. Positional 7-grams, flagged when in
    * ≥ 2 distinct docs; flagged positions merge into one span while
    * their token ranges touch or overlap (gap ≤ 7), so emitted spans
    * never overlap.
    */
  private val repeatedSpansOracle: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 7),
      |g AS (
      |  SELECT doc_id,
      |         unnest([{'pos': i - 1,
      |                  'gram': list_aggregate(toks[i:i+6], 'string_agg', ' ')}
      |                 FOR i IN range(1, len(toks) - 7 + 2)]) AS e
      |  FROM t),
      |ng AS (SELECT doc_id, e.pos AS pos, e.gram AS gram FROM g),
      |rep AS (SELECT gram FROM ng GROUP BY gram
      |        HAVING count(DISTINCT doc_id) >= 2),
      |hit AS (SELECT doc_id, pos FROM ng JOIN rep USING (gram)),
      |isl0 AS (SELECT doc_id, pos,
      |                CASE WHEN pos - lag(pos) OVER (
      |                       PARTITION BY doc_id ORDER BY pos) > 7
      |                     THEN 1 ELSE 0 END AS ni
      |         FROM hit),
      |isl AS (SELECT doc_id, pos,
      |               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |        FROM isl0)
      |SELECT doc_id, CAST(min(pos) AS INT) AS start_tok,
      |       CAST(max(pos) + 7 - 1 AS INT) AS end_tok,
      |       count(*) AS n_grams
      |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, start_tok""".stripMargin

  /** Span excision oracle shared by q103 (excise every copy) and q103b
    * (keep-one: each repeated gram's min-doc keeper is never flagged).
    * Spans re-derive as q102's verified CTE — parameterized only in
    * the `rep`/`hit` stage — then every flagged position drops and the
    * text rebuilds in original order.
    */
  private def exciseSpansOracle(keepOne: Boolean): String = {
    val rep =
      if (keepOne)
        """rep AS (SELECT gram, min(doc_id) AS keeper FROM ng GROUP BY gram
          |        HAVING count(DISTINCT doc_id) >= 2),
          |hit AS (SELECT ng.doc_id, pos FROM ng JOIN rep USING (gram)
          |        WHERE ng.doc_id <> rep.keeper),""".stripMargin
      else
        """rep AS (SELECT gram FROM ng GROUP BY gram
          |        HAVING count(DISTINCT doc_id) >= 2),
          |hit AS (SELECT doc_id, pos FROM ng JOIN rep USING (gram)),""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 7),
       |g AS (
       |  SELECT doc_id,
       |         unnest([{'pos': i - 1,
       |                  'gram': list_aggregate(toks[i:i+6], 'string_agg', ' ')}
       |                 FOR i IN range(1, len(toks) - 7 + 2)]) AS e
       |  FROM t),
       |ng AS (SELECT doc_id, e.pos AS pos, e.gram AS gram FROM g),
       |$rep
       |isl0 AS (SELECT doc_id, pos,
       |                CASE WHEN pos - lag(pos) OVER (
       |                       PARTITION BY doc_id ORDER BY pos) > 7
       |                     THEN 1 ELSE 0 END AS ni
       |         FROM hit),
       |isl AS (SELECT doc_id, pos,
       |               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |        FROM isl0),
       |sp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + 6 AS end_tok
       |       FROM isl GROUP BY doc_id, grp),
       |tall AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |         unnest([{'pos': i - 1, 'tok': toks[i]}
       |                 FOR i IN range(1, len(toks) + 1)]) AS e
       |  FROM tall),
       |keep AS (
       |  SELECT k.doc_id, k.e.pos AS pos, k.e.tok AS tok
       |  FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |                    WHERE sp.doc_id = k.doc_id
       |                      AND k.e.pos BETWEEN sp.start_tok AND sp.end_tok)),
       |agg AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
       |         count(*) AS n_kept
       |  FROM keep GROUP BY doc_id)
       |SELECT tall.doc_id,
       |       coalesce(agg.text, '') AS text,
       |       len(tall.toks) - coalesce(agg.n_kept, 0) AS n_removed
       |FROM tall LEFT JOIN agg USING (doc_id)
       |ORDER BY tall.doc_id""".stripMargin
  }

  /** Shared by q105 (batch two-phase prefix sum) and q105b (the
    * incremental snapshot-recompute stream): one global window over
    * the md5 order — the brute-force form of the bucket decomposition
    * the Spark side runs.
    */
  private val tokenShardsOracle: String =
    """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS n_tokens,
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |           ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS tokens_before
        |  FROM d)
        |SELECT doc_id, n_tokens, tokens_before,
        |       CAST(tokens_before // 2000 AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin

  /** Shared by q104 (batch) and q104b (incremental stream): weights
    * re-derived as q94's verified CTE, then targets, base repeats, and
    * the md5-prefix extra repeat — floor/CAST staging mirrors the
    * Spark side exactly (all values < 2^52, so the double-math floor()
    * is integer-exact in both engines).
    */
  private val materializeMixtureOracle: String =
    """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
        |t AS (SELECT sum(pow(n_docs, 0.5)) AS z FROM c),
        |wt AS (SELECT lang, round(pow(n_docs, 0.5) / z, 6) AS weight FROM c, t),
        |g AS (SELECT lang, sum(n_tokens) AS gtokens FROM d GROUP BY 1),
        |tg AS (
        |  SELECT g.lang,
        |         CAST(floor(wt.weight * 50000) AS BIGINT) AS target,
        |         g.gtokens
        |  FROM g JOIN wt USING (lang)),
        |tb AS (
        |  SELECT lang, target, gtokens,
        |         CAST(floor(CAST(target AS DOUBLE) / gtokens) AS BIGINT) AS base
        |  FROM tg),
        |r AS (
        |  SELECT d.lang, d.doc_id, d.n_tokens, tb.base,
        |         tb.target - tb.base * tb.gtokens AS rem,
        |         sum(d.n_tokens) OVER (
        |           PARTITION BY d.lang
        |           ORDER BY substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15),
        |                    d.doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM d JOIN tb USING (lang))
        |SELECT lang, doc_id, n_tokens,
        |       base AS base_repeats,
        |       rem > 0 AND run <= rem AS extra_repeat,
        |       base + CASE WHEN rem > 0 AND run <= rem THEN 1 ELSE 0 END
        |         AS n_repeats
        |FROM r ORDER BY lang, doc_id""".stripMargin

  /** Shared by q106 (string-keyed shingles) and q106b (xxhash64-keyed
    * shingles): both must report identical (doc, bench) shared-shingle
    * counts — that equivalence is exactly what q106b verifies.
    */
  private val contaminationReportOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(
      |           [list_aggregate(toks[i:i+3], 'string_agg', ' ')
      |            FOR i IN range(1, greatest(len(toks) - 3, 1) + 1)]) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |d AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM t),
      |b AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM t
      |      WHERE doc_id % 50 = 0)
      |SELECT d.doc_id, b.bench_id,
      |       CAST(count(*) AS BIGINT) AS n_shared,
      |       CAST(any_value(d.sz) AS BIGINT) AS doc_shingles
      |FROM d JOIN b USING (s)
      |WHERE d.doc_id <> b.bench_id
      |GROUP BY d.doc_id, b.bench_id
      |ORDER BY d.doc_id, b.bench_id""".stripMargin

  /** Shared by q100 (broadcast-exact decontamination) and q100b (the
    * bloom two-stage scale path): both must produce the identical
    * final corpus — that equivalence is exactly what q100b verifies.
    */
  private val curationOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 40 = 0),
      |t AS (
      |  SELECT doc_id, lang, text,
      |         regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM corpus),
      |z AS (
      |  SELECT doc_id, lang, text, toks,
      |         CAST(len(toks) AS BIGINT) AS n_tokens,
      |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
      |              + -3.0 * (CAST(length(text)
      |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
      |                  AS DOUBLE) / greatest(length(text), 1))
      |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
      |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
      |                  AS DOUBLE) / greatest(len(toks), 1))
      |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
      |                  / greatest(len(toks), 1)) AS z
      |  FROM t),
      |gated AS (SELECT * FROM z WHERE z >= 0),
      |canon AS (
      |  SELECT min(doc_id) AS doc_id FROM gated
      |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      |dd AS (SELECT g.* FROM gated g JOIN canon USING (doc_id)),
      |sh5 AS (
      |  SELECT doc_id,
      |         list_distinct([list_aggregate(toks[i:i+4], 'string_agg', ' ')
      |                        FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)]) AS s
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |ddsh AS (
      |  SELECT d.doc_id,
      |         list_distinct([list_aggregate(d.toks[i:i+4], 'string_agg', ' ')
      |                        FOR i IN range(1, greatest(len(d.toks) - 4, 1) + 1)]) AS s
      |  FROM dd d),
      |contam AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM ddsh c JOIN (SELECT doc_id AS bench_id, s FROM sh5
      |                    WHERE doc_id % 50 = 0) b
      |    ON c.doc_id != b.bench_id AND len(list_intersect(c.s, b.s)) > 0),
      |clean AS (
      |  SELECT d.* FROM dd d
      |  WHERE NOT EXISTS (SELECT 1 FROM contam x WHERE x.doc_id = d.doc_id)),
      |r AS (
      |  SELECT lang, doc_id, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY lang
      |           ORDER BY z DESC, doc_id ROWS UNBOUNDED PRECEDING) AS run
      |  FROM clean),
      |adm AS (SELECT lang, doc_id, n_tokens FROM r WHERE run <= 3000),
      |sharded AS (
      |  SELECT lang, doc_id, n_tokens,
      |         (strpos('123456789abcdef',
      |                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
      |          + strpos('123456789abcdef',
      |                   substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
      |          + strpos('123456789abcdef',
      |                   substring(md5(CAST(doc_id AS VARCHAR)), 3, 1))) % 4 AS shard
      |  FROM adm)
      |SELECT lang, CAST(shard AS INT) AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |       CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM sharded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q251/q253 shared closed-form oracle: per-frame strip-walk
    * fingerprints, then the q238 lag rule and census (see q251).
    */
  /** The q251-family CTE chain (strip walk → per-frame fingerprints →
    * lag-marked shot boundaries) shared VERBATIM by every oracle that
    * replays the shot closed form — one copy, no drift.
    */
  private val MpegShotCtes: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(12 + (doc_id // 16) % 7 AS BIGINT) AS n,
        |         CAST(2 + (doc_id // 16) % 3 AS BIGINT) AS sl
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, n - 1)) AS f FROM d),
        |ks AS (
        |  SELECT doc_id, n, f, base * 97 + (f // sl) * 31 + 13 AS s
        |  FROM fr),
        |g AS (SELECT ks.*, unnest(generate_series(0, 10)) AS gx FROM ks),
        |dd AS (
        |  SELECT doc_id, n, f, s, gx,
        |         CASE WHEN gx = 0 THEN 0
        |              ELSE (s * (gx + 3) + gx * gx) % 2 END AS dbit
        |  FROM g),
        |lv AS (
        |  SELECT doc_id, n, f, gx,
        |         (s + gx + sum(dbit)
        |            OVER (PARTITION BY doc_id, f ORDER BY gx)) % 3 AS lev
        |  FROM dd),
        |bt AS (
        |  SELECT doc_id, n, f, gx, lev,
        |         lead(lev) OVER (PARTITION BY doc_id, f ORDER BY gx) AS nlev
        |  FROM lv),
        |fp AS (
        |  SELECT doc_id, max(n) AS n, f,
        |         CAST(sum(CASE WHEN gx < 10 AND lev < nlev
        |                  THEN (CAST(1 AS BIGINT) << gx) * 1127000493261825
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM bt GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, n, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, n, f,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged)""".stripMargin

  /** q251/q253/q255 shared closed-form oracle: the CTE chain plus the
    * per-clip shot census select.
    */
  private val MpegShotOracleSql: String = MpegShotCtes +
    """
        |SELECT doc_id AS media_id, max(n) AS n_frames,
        |       CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
        |       CAST(sum(CASE WHEN ib THEN f END) AS BIGINT) AS boundary_idx_sum,
        |       CAST(max(CASE WHEN ib THEN f END) AS BIGINT) AS last_shot_start
        |FROM marked GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q252/q254 shared closed-form oracle: scene walk, segmentation,
    * representative, pair and census replay (see q252).
    */
  private val MpegSceneOracleSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(5 + (doc_id // 16) % 3 AS BIGINT) AS ns
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, ns * 2 - 1)) AS f FROM d),
        |ks AS (
        |  SELECT doc_id, f,
        |         (CASE WHEN (base + f // 2) % 4 = 1
        |               THEN 1000 + base * 8 + f // 2
        |               ELSE (base + f // 2) % 6 END) * 53 + 17 AS s
        |  FROM fr),
        |g AS (SELECT ks.*, unnest(generate_series(0, 10)) AS gx FROM ks),
        |dd AS (
        |  SELECT doc_id, f, s, gx,
        |         CASE WHEN gx = 0 THEN 0
        |              ELSE (s * (gx + 3) + gx * gx) % 2 END AS dbit
        |  FROM g),
        |lv AS (
        |  SELECT doc_id, f, gx,
        |         (s + gx + sum(dbit)
        |            OVER (PARTITION BY doc_id, f ORDER BY gx)) % 3 AS lev
        |  FROM dd),
        |bt AS (
        |  SELECT doc_id, f, gx, lev,
        |         lead(lev) OVER (PARTITION BY doc_id, f ORDER BY gx) AS nlev
        |  FROM lv),
        |fp AS (
        |  SELECT doc_id, f,
        |         CAST(sum(CASE WHEN gx < 10 AND lev < nlev
        |                  THEN (CAST(1 AS BIGINT) << gx) * 1127000493261825
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM bt GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, f, fp,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged),
        |shots AS (
        |  SELECT doc_id, fp,
        |         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY f) - 1 AS BIGINT)
        |           AS shot_idx, ib
        |  FROM marked),
        |reps AS (
        |  SELECT doc_id, shot_idx, doc_id * 64 + shot_idx AS uid, fp
        |  FROM shots WHERE ib),
        |pairs AS (
        |  SELECT a.uid AS ua, c.uid AS ub
        |  FROM reps a JOIN reps c ON a.uid < c.uid
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2
        |    AND a.doc_id != c.doc_id),
        |sym AS (
        |  SELECT DISTINCT uid FROM (
        |    SELECT ua AS uid FROM pairs UNION ALL SELECT ub FROM pairs)),
        |shared AS (
        |  SELECT r.doc_id, r.shot_idx FROM reps r JOIN sym ON sym.uid = r.uid),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots
        |  FROM reps GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shots,
        |         max(CASE WHEN shot_idx = 0 THEN 1 ELSE 0 END) AS intro_l
        |  FROM shared GROUP BY doc_id)
        |SELECT tot.doc_id AS media_id, tot.n_shots,
        |       COALESCE(sh.n_shared_shots, 0) AS n_shared_shots,
        |       (COALESCE(sh.intro_l, 0) = 1) AS intro_shared
        |FROM tot LEFT JOIN sh ON sh.doc_id = tot.doc_id
        |ORDER BY media_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_dedup_latest_agg" ->
      """WITH dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY l_orderkey
        |      ORDER BY l_shipdate DESC, l_linenumber DESC,
        |               l_partkey DESC, l_suppkey DESC) AS rn
        |    FROM lineitem) WHERE rn = 1)
        |SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM dedup
        |WHERE l_orderkey IS NOT NULL
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q02_cast_projection" ->
      """SELECT o_orderkey AS order_id,
        |       CAST(o_custkey AS INT) AS cust_id,
        |       o_orderstatus AS status,
        |       o_totalprice AS total_price,
        |       CAST(o_orderdate AS DATE) AS order_date,
        |       o_orderpriority AS priority
        |FROM orders ORDER BY order_id""".stripMargin,

    "q03_schema_enforce" ->
      """WITH ev AS (
        |  SELECT event_id, ts,
        |         CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS user_id,
        |         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
        |  FROM events)
        |SELECT event_id,
        |       (event_id IS NOT NULL AND ts IS NOT NULL
        |        AND user_id IS NOT NULL AND value IS NOT NULL) AS is_valid,
        |       CASE WHEN event_id IS NOT NULL AND ts IS NOT NULL
        |                 AND user_id IS NOT NULL AND value IS NOT NULL THEN ''
        |            ELSE 'Missing required fields: ' || concat_ws(', ',
        |                 CASE WHEN event_id IS NULL THEN 'event_id' END,
        |                 CASE WHEN ts IS NULL THEN 'ts' END,
        |                 CASE WHEN user_id IS NULL THEN 'user_id' END,
        |                 CASE WHEN value IS NULL THEN 'value' END)
        |       END AS error_reason
        |FROM ev ORDER BY event_id""".stripMargin,

    "q04_dq_metrics" ->
      """WITH t AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS size_v,
        |         CAST(count(l_orderkey) AS DOUBLE) / count(*) AS compl_ok,
        |         CAST(count(l_quantity) AS DOUBLE) / count(*) AS compl_q,
        |         avg(l_extendedprice) AS mean_p,
        |         stddev_pop(l_quantity) AS sd_q,
        |         CAST(min(l_extendedprice) AS DOUBLE) AS min_p,
        |         CAST(max(l_extendedprice) AS DOUBLE) AS max_p,
        |         CAST(median(l_quantity) AS DOUBLE) AS med_q,
        |         CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS cd_ok
        |  FROM lineitem),
        |u AS (
        |  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / sum(c) AS uq
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey))
        |SELECT * FROM (
        |  SELECT 'Dataset' AS entity, '*' AS instance, 'Size' AS name,
        |         round(size_v, 4) AS value FROM t
        |  UNION ALL SELECT 'Column', 'l_orderkey', 'Completeness', round(compl_ok, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_quantity', 'Completeness', round(compl_q, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_extendedprice', 'Mean', round(mean_p, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_quantity', 'StandardDeviation', round(sd_q, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_extendedprice', 'Minimum', round(min_p, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_extendedprice', 'Maximum', round(max_p, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_quantity', 'Median', round(med_q, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_orderkey', 'CountDistinct', round(cd_ok, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_orderkey', 'Uniqueness', round(uq, 4) FROM u)
        |ORDER BY instance, name""".stripMargin,

    "q05_dq_row_outcomes" ->
      """WITH annotated AS (
        |  SELECT concat_ws(',',
        |           CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity > 0)
        |                THEN 'ColumnValues_l_quantity_gt_0' END,
        |           CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity <= 45)
        |                THEN 'ColumnValues_l_quantity_le_45' END,
        |           CASE WHEN NOT (l_discount IS NOT NULL AND l_discount <= 0.05)
        |                THEN 'ColumnValues_l_discount_le_005' END) AS failed_rules
        |  FROM lineitem)
        |SELECT CASE WHEN failed_rules = '' THEN 'Passed' ELSE 'Failed' END
        |         AS DataQualityEvaluationResult,
        |       failed_rules,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM annotated
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q06_dim_date" ->
      """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders)
        |SELECT date,
        |       CAST(year(date) AS INT) AS year,
        |       CAST(month(date) AS INT) AS month,
        |       CAST(day(date) AS INT) AS day,
        |       CAST(quarter(date) AS INT) AS quarter,
        |       CAST(dayofweek(date) + 1 AS INT) AS day_of_week,
        |       CAST(weekofyear(date) AS INT) AS week_of_year,
        |       monthname(date) AS month_name,
        |       dayname(date) AS day_name,
        |       dayofweek(date) IN (0, 6) AS is_weekend
        |FROM d ORDER BY date""".stripMargin,

    "q07_star_join" ->
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q08_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q09_upsert" ->
      """WITH incoming AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice * 1.05 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'),
        |merged AS (
        |  -- NOT EXISTS (not NOT IN): on this data o_orderdate is never
        |  -- NULL, but NOT IN under a NULL key collapses to zero rows —
        |  -- keep the safe form as the template (q91's lesson)
        |  SELECT * FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM incoming i
        |                    WHERE i.o_orderdate = o.o_orderdate)
        |  UNION ALL SELECT * FROM incoming)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q10_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q11_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       min(doc_id) AS canonical_id,
        |       CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,

    "q12_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
        |  FROM documents WHERE doc_id < 600)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard_sim
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |            / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,

    // INVERTED-INDEX form (not the quadratic all-pairs list_intersect,
    // which alone dominated the sf0.1 gate at ~25 min): only pairs
    // sharing ≥ 1 shingle materialize — sound because jaccard ≥ 0.5
    // implies a shared shingle — and |A∪B| = |A| + |B| − |A∩B|. Same
    // verdict, ~300× faster (the q12-family oracle lesson).
    "q13_minhash_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([list_aggregate(toks[i:i+2], 'string_agg', ' ')
        |                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |e AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |             count(*) AS inter,
        |             any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
        |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6)
        |         AS jaccard_sim
        |FROM p
        |WHERE round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q13b_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, substring(md5(tok), 1, 15) AS hx FROM toks),
        |bitsum AS (
        |  SELECT doc_id, b.b,
        |         SUM(CASE WHEN (strpos('0123456789abcdef',
        |                               substring(hx, 15 - b.b // 4, 1)) - 1)
        |                       & (1 << (b.b % 4)) != 0 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) b
        |  GROUP BY doc_id, b.b),
        |fp AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN s > 0
        |             THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS fp
        |  FROM bitsum GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "q14_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(toks) AS INT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |         AS n_regex_tokens,
        |       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |             / len(toks), 4) AS avg_token_len,
        |       round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |             / greatest(length(text), 1), 4) AS punct_ratio,
        |       round(CAST(len(list_filter(toks, x -> list_contains(
        |               ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |             / greatest(len(toks), 1), 4) AS stopword_ratio,
        |       round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |              + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |                              / greatest(length(text), 1)) * 5.0, 1.0))
        |              + least((CAST(len(list_filter(toks, x -> list_contains(
        |                        ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |                       / greatest(len(toks), 1)) * 5.0, 1.0)) / 3.0, 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q15_lang_id" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['der','die','das','und','nicht'], x))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','and','of','is','a'], x))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['el','la','los','que','de'], x))) AS s_es,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
        |         WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
        |         ELSE 'unknown' END AS predicted_lang
        |  FROM scored)
        |SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q16_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q34_profile_similarity" -> profileSimilarityOracle,

    "q38_source_similarity" ->
      """WITH items AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |slots AS (
        |  SELECT source, k.k,
        |         min(substring(md5(tok || '#' || CAST(k.k AS VARCHAR)), 1, 15)) AS mh
        |  FROM items CROSS JOIN (SELECT unnest(range(64)) AS k) k
        |  GROUP BY source, k.k)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       round(CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
        |             / 64, 6) AS est_jaccard
        |FROM slots a JOIN slots b ON a.k = b.k AND a.source < b.source
        |GROUP BY src_a, src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "q40_sink_roundtrip" ->
      """WITH fact AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 0.9
        |              ELSE o_totalprice END AS price
        |  FROM orders),
        |f AS (
        |  SELECT 'fact' AS side, o_orderstatus AS k,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(price), 2) AS v
        |  FROM fact GROUP BY 2),
        |d AS (
        |  SELECT 'dlq' AS side, strftime(ts, '%Y-%m-%d') AS k,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS v
        |  FROM events
        |  WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-08'
        |  GROUP BY 2)
        |SELECT * FROM f UNION ALL SELECT * FROM d
        |ORDER BY side, k""".stripMargin,

    "q41_cms_heavy_hitters" ->
      """WITH counters AS (
        |  SELECT i.i,
        |         substring(md5(CAST(l_partkey AS VARCHAR) || '#'
        |                       || CAST(i.i AS VARCHAR)), 13, 3) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem CROSS JOIN (SELECT unnest(range(4)) AS i) i
        |  GROUP BY 1, 2),
        |topk AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |         CAST(row_number() OVER (
        |           ORDER BY count(*) DESC, l_partkey) AS INT) AS rank
        |  FROM lineitem GROUP BY 1 QUALIFY rank <= 10),
        |est AS (
        |  SELECT t.l_partkey, t.n, t.rank, min(c.n) AS n_est
        |  FROM topk t
        |  CROSS JOIN (SELECT unnest(range(4)) AS i) i
        |  JOIN counters c ON c.i = i.i
        |   AND c.bucket = substring(md5(CAST(t.l_partkey AS VARCHAR) || '#'
        |                                || CAST(i.i AS VARCHAR)), 13, 3)
        |  GROUP BY 1, 2, 3)
        |SELECT l_partkey, n, n_est, rank FROM est ORDER BY rank""".stripMargin,

    "q42_bucketed_join" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q43_salted_agg" ->
      """SELECT l_suppkey,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q44_medallion_e2e" ->
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, abs(c_acctbal) + 1.0 AS price
        |  FROM customer WHERE c_custkey <= 120),
        |bronze AS (
        |  SELECT k, k AS rnk, price, 0.0 AS shift FROM base
        |  UNION ALL
        |  SELECT k, k + 1000 AS rnk, price, 999.0 AS shift FROM base WHERE k % 7 = 0),
        |typed AS (
        |  SELECT k, rnk,
        |         CASE WHEN k % 10 = 0 THEN NULL ELSE price + shift END AS current_price,
        |         CASE WHEN k % 13 = 0 THEN NULL ELSE k * 1000 END AS market_cap
        |  FROM bronze),
        |valid AS (
        |  SELECT * FROM typed
        |  WHERE current_price IS NOT NULL AND market_cap IS NOT NULL),
        |dlqrows AS (
        |  SELECT 'Missing required fields: ' || concat_ws(', ',
        |           CASE WHEN current_price IS NULL THEN 'current_price' END,
        |           CASE WHEN market_cap IS NULL THEN 'market_cap' END) AS error_reason
        |  FROM typed WHERE current_price IS NULL OR market_cap IS NULL),
        |silver AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY rnk) AS rn
        |    FROM valid)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT 'gold' AS side, CAST(rnk % 5 AS VARCHAR) AS k,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(current_price), 2) AS v
        |  FROM silver GROUP BY 2),
        |d AS (
        |  SELECT 'dlq' AS side, error_reason AS k,
        |         CAST(count(*) AS BIGINT) AS n, 0.0 AS v
        |  FROM dlqrows GROUP BY 2),
        |dim AS (
        |  SELECT 'dim_coins' AS side, '*' AS k,
        |         CAST(count(*) AS BIGINT) AS n, 0.0 AS v FROM silver),
        |note AS (
        |  SELECT 'notify' AS side, 'SUCCEEDED' AS k, CAST(1 AS BIGINT) AS n, 0.0 AS v)
        |SELECT * FROM g UNION ALL SELECT * FROM d
        |UNION ALL SELECT * FROM dim UNION ALL SELECT * FROM note
        |ORDER BY side, k""".stripMargin,

    "q39_asof_join" ->
      """WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
        |purchases AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, c.event_id AS click_event_id
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q50_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |         make_timestamp(epoch_ns(ts) // 1000) AS ts
        |  FROM events),
        |clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
        |x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM clicks),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |sess AS (
        |  SELECT user_id, sid, min(ts) AS s_start,
        |         max(ts) + INTERVAL 30 MINUTE AS s_end
        |  FROM s GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts, value FROM ev
        |      WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT p.user_id, p.value
        |  FROM p JOIN sess ON p.user_id = sess.user_id
        |                  AND p.ts BETWEEN sess.s_start AND sess.s_end)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_in_session,
        |       round(sum(value), 2) AS v_in_session
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q51_dup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
        |  FROM documents WHERE doc_id < 600),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.95),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |          FROM comp GROUP BY 1)
        |SELECT c.id AS doc_id, c.cluster_id, s.cluster_size,
        |       c.id = c.cluster_id AS is_canonical
        |FROM comp c JOIN sizes s USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,

    "q52_resample_fill" ->
      """WITH b AS (
        |  SELECT user_id AS key, date_trunc('hour', ts) AS bucket,
        |         round(avg(value), 4) AS avg_v,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
        |span AS (SELECT key, min(bucket) AS b0, max(bucket) AS b1
        |         FROM b GROUP BY 1),
        |grid AS (SELECT key, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |         FROM span),
        |j AS (SELECT g.key, g.bucket, b.avg_v, b.n
        |      FROM grid g LEFT JOIN b USING (key, bucket))
        |SELECT key, bucket,
        |       last_value(avg_v IGNORE NULLS) OVER (
        |         PARTITION BY key ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v,
        |       coalesce(n, 0) AS n_events,
        |       n IS NULL AS is_gap
        |FROM j ORDER BY key, bucket""".stripMargin,

    "q53_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id < 600),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |         CAST(row_number() OVER (
        |           PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q54_pii_redact" ->
      """WITH injected AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' contact user' || doc_id || '@example.com now'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN ' call 555-867-' ||
        |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ' node at 192.168.1.77 up'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file'
        |              ELSE '' END AS text
        |  FROM documents WHERE doc_id < 600),
        |red AS (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
        |  FROM injected)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(text) - len(redacted) AS BIGINT) AS chars_removed,
        |  md5(redacted) AS redacted_md5
        |FROM red ORDER BY doc_id""".stripMargin,

    "q55_stream_dedup" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q56_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,

    "q57_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t0
        |    AND e.ts <= v.t0 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t1
        |    AND e.ts <= c.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |counts AS (SELECT (SELECT count(*) FROM v) AS nv,
        |                  (SELECT count(*) FROM c) AS nc,
        |                  (SELECT count(*) FROM p) AS np)
        |SELECT 1 AS step, 'view' AS stage, CAST(nv AS BIGINT) AS n_users,
        |       1.0 AS conversion FROM counts
        |UNION ALL SELECT 2, 'click', CAST(nc AS BIGINT),
        |       round(nc * 1.0 / nv, 4) FROM counts
        |UNION ALL SELECT 3, 'purchase', CAST(np AS BIGINT),
        |       round(np * 1.0 / nc, 4) FROM counts
        |ORDER BY step""".stripMargin,

    "q58_cohort_retention" ->
      """WITH hv AS (SELECT user_id, ts FROM events WHERE value > 200),
        |f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |      FROM hv GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT h.user_id, f.cw,
        |         CAST(date_diff('day', f.cw, date_trunc('week', h.ts)) / 7 AS INT)
        |           AS week_offset
        |  FROM hv h JOIN f USING (user_id))
        |SELECT CAST(cw AS DATE) AS cohort_week, week_offset,
        |       CAST(count(*) AS BIGINT) AS n_active
        |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q59_scd2" ->
      """WITH ord AS (
        |  SELECT o_custkey, o_orderpriority, CAST(o_orderdate AS DATE) AS eff,
        |         o_orderkey
        |  FROM orders WHERE o_custkey < 200),
        |lagged AS (
        |  SELECT *,
        |         lag(o_orderpriority) OVER w AS prev_attr,
        |         lag(eff) OVER w AS prev_eff
        |  FROM ord
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY eff, o_orderkey)),
        |changes AS (
        |  SELECT o_custkey, o_orderpriority, eff, o_orderkey FROM lagged
        |  WHERE prev_eff IS NULL OR o_orderpriority IS DISTINCT FROM prev_attr),
        |versioned AS (
        |  SELECT o_custkey, o_orderpriority,
        |         eff AS valid_from,
        |         coalesce(lead(eff) OVER w2, DATE '9999-12-31') AS valid_to,
        |         CAST(row_number() OVER w2 AS INT) AS version
        |  FROM changes
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY eff, o_orderkey))
        |SELECT o_custkey, o_orderpriority, valid_from, valid_to, version,
        |       valid_to = DATE '9999-12-31' AS is_current
        |FROM versioned ORDER BY o_custkey, version""".stripMargin,

    "q60_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, any_value(med) AS med, median(adev) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       round(any_value(m.med), 4) AS med,
        |       round(any_value(m.mad), 4) AS mad
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q61_pivot" ->
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |       round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |       round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |       round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q62_ss_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    "q63_ntile_deciles" ->
      """WITH top AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1000),
        |d AS (
        |  SELECT o_totalprice,
        |         CAST(ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT)
        |           AS decile
        |  FROM top)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "q64_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, ts AS s,
        |         ts + to_minutes(5 + CAST(floor(value) AS BIGINT) % 56) AS e
        |  FROM events WHERE user_id < 40),
        |m AS (
        |  SELECT user_id, s, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prev_max_e
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, s, e,
        |         sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(date_diff('second', i_start, i_end)) AS BIGINT)
        |         AS covered_sec,
        |       CAST(max(date_diff('second', i_start, i_end)) AS BIGINT)
        |         AS longest_sec
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the ES uniform reconstructs Spark's conv(md5-prefix, 16, 10)
    // positionally — 13 hex digits (52 bits), so every term, partial
    // sum, and the final int→double value is exact in IEEE doubles on
    // both engines
    "q65_weighted_sample" -> {
      val digitTerms = (1 to 13)
        .map(i => s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * power(16, ${13 - i})")
        .mkString(" +\n           ")
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(1 + doc_id % 5 AS DOUBLE) AS weight,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents WHERE doc_id < 600),
         |k AS (
         |  SELECT doc_id, lang, weight,
         |         ln((($digitTerms) + 1.0) / power(16, 13)) / weight AS es_key
         |  FROM d),
         |r AS (
         |  SELECT doc_id, lang, weight,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY es_key DESC, doc_id) AS rk
         |  FROM k)
         |SELECT doc_id, lang, weight FROM r WHERE rk <= 20
         |ORDER BY lang, doc_id""".stripMargin
    },

    "q66_hll_lifecycle" ->
      """WITH w AS (
        |  SELECT 'week_' || CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR)
        |           AS scope,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |         true AS within_5pct
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT 'total_merged' AS scope,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |         true AS within_5pct
        |  FROM events)
        |SELECT * FROM w UNION ALL SELECT * FROM t ORDER BY scope""".stripMargin,

    "q67_zorder" -> {
      val zTerms = (0 until 10).map(b =>
        s"(((x >> $b) & 1) << ${2 * b + 1}) | (((y >> $b) & 1) << ${2 * b})")
        .mkString(" |\n        |        ")
      s"""WITH src AS (
         |  SELECT l_orderkey, l_partkey, l_suppkey,
         |         l_partkey % 1024 AS x, l_suppkey % 1024 AS y
         |  FROM lineitem WHERE l_orderkey < 200)
         |SELECT l_orderkey, l_partkey, l_suppkey,
         |       ($zTerms) AS zval
         |FROM src ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin
    },

    "q68_bigram_scores" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id < 600),
        |bg AS (
        |  SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 FOR i IN range(1, len(toks))]) AS bigram
        |  FROM t),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM uni),
        |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
        |scored AS (
        |  SELECT g.doc_id, ln((bc.cb + 1.0) / (uc.cu + v.vocab)) AS lp
        |  FROM bg g
        |  JOIN bc USING (bigram)
        |  JOIN uc ON uc.tok = split_part(g.bigram, ' ', 1)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(avg(lp), 4) AS avg_lp
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q69_rolling_zscore" ->
      """WITH w AS (
        |  SELECT user_id, value,
        |         avg(value) OVER win AS roll_mean,
        |         stddev_samp(value) OVER win AS roll_std,
        |         count(*) OVER win AS n_win
        |  FROM events WHERE user_id < 40
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN n_win >= 12 AND roll_std > 0
        |                      AND abs(value - roll_mean) > 3 * roll_std
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q70_session_stream" ->
      """WITH wm AS (
        |  SELECT max(make_timestamp(epoch_ns(ts) // 1000))
        |           - INTERVAL 10 MINUTE AS w
        |  FROM events),
        |x AS (
        |  SELECT user_id, ts, value, event_id,
        |         CASE WHEN ts - lag(ts) OVER win >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |g AS (
        |  SELECT user_id, sid,
        |         min(ts) AS session_start,
        |         max(ts) + INTERVAL 30 MINUTE AS session_end,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         round(sum(value), 2) AS sum_value
        |  FROM s GROUP BY 1, 2)
        |SELECT session_start, session_end, user_id, n_events, sum_value
        |FROM g WHERE session_end <= (SELECT w FROM wm)
        |ORDER BY user_id, session_start""".stripMargin,

    "q71_fuzzy_match" ->
      """WITH clean AS (
        |  SELECT p_partkey AS clean_key, p_name AS name
        |  FROM part WHERE p_partkey < 500),
        |corrupted AS (
        |  SELECT p_partkey AS dirty_key,
        |         substr(p_name, 1, CAST(p_partkey % len(p_name) AS INT))
        |           || substr(p_name, CAST(p_partkey % len(p_name) AS INT) + 2)
        |           AS dirty
        |  FROM part WHERE p_partkey < 500),
        |dels AS (
        |  SELECT clean_key, name,
        |         unnest(list_concat([name],
        |           [substr(name, 1, i - 1) || substr(name, i + 1)
        |            FOR i IN range(1, len(name) + 1)])) AS variant
        |  FROM clean),
        |hits AS (
        |  SELECT c.dirty_key, d.clean_key,
        |         min(levenshtein(c.dirty, d.name)) AS dist
        |  FROM corrupted c JOIN dels d ON c.dirty = d.variant
        |  GROUP BY 1, 2)
        |SELECT dirty_key, CAST(count(*) AS BIGINT) AS n_candidates,
        |       min(clean_key) AS best_key,
        |       CAST(min(dist) AS INT) AS dist,
        |       bool_or(clean_key = dirty_key) AS self_found
        |FROM hits GROUP BY dirty_key ORDER BY dirty_key""".stripMargin,

    "q72_stream_enrich" ->
      """SELECT CAST(c_custkey % 3 AS INT) AS tier, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY tier, event_type""".stripMargin,

    "q73_repetition_filters" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t),
        |g AS (
        |  SELECT doc_id, 2 AS k,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 FOR i IN range(1, len(toks))]) AS gram
        |  FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3,
        |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                 FOR i IN range(1, len(toks) - 1)])
        |  FROM t WHERE len(toks) >= 3),
        |c AS (SELECT doc_id, k, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT doc_id,
        |         max(CASE WHEN k = 2 THEN c END) AS top_bi,
        |         sum(CASE WHEN k = 3 AND c >= 2 THEN c ELSE 0 END) AS dup_tri
        |  FROM c GROUP BY 1)
        |SELECT b.doc_id AS doc_id, CAST(n AS INT) AS n_tokens,
        |       CAST(nd AS DOUBLE) / n AS distinct_frac,
        |       CASE WHEN n >= 2 THEN CAST(2 * coalesce(top_bi, 0) AS DOUBLE) / n
        |            ELSE 0.0 END AS top_bigram_frac,
        |       CASE WHEN n >= 3 THEN CAST(coalesce(dup_tri, 0) AS DOUBLE) / (n - 2)
        |            ELSE 0.0 END AS dup_trigram_frac,
        |       (nd * 10 > n * 3 AND coalesce(top_bi, 0) * 20 <= n * 2
        |        AND (n < 3 OR coalesce(dup_tri, 0) * 10 <= (n - 2) * 3)) AS keep
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q74_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 32 THEN 1
        |              ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM n)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |       CAST(len(toks[chunk_id*24 + 1 : chunk_id*24 + 32]) AS INT)
        |         AS n_chunk_tokens,
        |       md5(array_to_string(toks[chunk_id*24 + 1 : chunk_id*24 + 32], ' '))
        |         AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q75_salted_skew_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type, length(event_type) AS w FROM events)
        |SELECT e.event_type AS event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(w) AS BIGINT) AS w_sum,
        |       round(sum(e.value * d.w), 2) AS weighted_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q248 pair: one oracle for both halves — salting must be
    // semantics-preserving; the bench lines carry the skew evidence
    "q248_skew_salted" -> skewEvidenceSql,
    "q248b_skew_unsalted" -> skewEvidenceSql,

    // q249: both legs' aggregates AND both salting decisions
    // (ceil(max*n_keys/total), threshold 4, cap 32) replayed exactly
    "q249_skew_auto" ->
      """WITH reps AS (SELECT unnest(generate_series(1, 16)) AS rep),
        |f_hot AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
        |              ELSE l_orderkey % 97 + 1 END AS k,
        |         l_quantity AS v
        |  FROM lineitem, reps),
        |f_uni AS (
        |  SELECT l_orderkey % 98 AS k, l_quantity AS v
        |  FROM lineitem, reps),
        |d AS (
        |  SELECT k, k * 7 % 13 + 1 AS w
        |  FROM unnest(generate_series(0, 97)) AS t(k)),
        |dec_hot AS (
        |  SELECT (max(c) * count(*) + sum(c) - 1) // sum(c) AS s
        |  FROM (SELECT count(*) AS c FROM f_hot GROUP BY k)),
        |dec_uni AS (
        |  SELECT (max(c) * count(*) + sum(c) - 1) // sum(c) AS s
        |  FROM (SELECT count(*) AS c FROM f_uni GROUP BY k)),
        |res AS (
        |  SELECT 'hot' AS leg, f.k, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(f.v * d.w) AS BIGINT) AS wv,
        |         CAST(max(CASE WHEN dec_hot.s <= 4 THEN 0
        |                  ELSE LEAST(dec_hot.s, 32) END) AS INT)
        |           AS buckets_used
        |  FROM f_hot f JOIN d ON f.k = d.k CROSS JOIN dec_hot
        |  GROUP BY f.k
        |  UNION ALL
        |  SELECT 'uniform' AS leg, f.k, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(f.v * d.w) AS BIGINT) AS wv,
        |         CAST(max(CASE WHEN dec_uni.s <= 4 THEN 0
        |                  ELSE LEAST(dec_uni.s, 32) END) AS INT)
        |           AS buckets_used
        |  FROM f_uni f JOIN d ON f.k = d.k CROSS JOIN dec_uni
        |  GROUP BY f.k)
        |SELECT leg, k, n, wv, buckets_used
        |FROM res ORDER BY leg, k""".stripMargin,

    "q76_containment_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(
        |           [list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)])) AS s
        |  FROM t),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS n_shared,
        |       CAST(sz.sz AS BIGINT) AS size_a,
        |       CAST(inter AS DOUBLE) / sz.sz AS containment
        |FROM p JOIN sz ON p.id_a = sz.doc_id
        |WHERE inter * 100 >= sz.sz * 30
        |ORDER BY id_a, id_b""".stripMargin,

    "q77_minmax_scale" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings),
        |s AS (SELECT dim, min(v) AS vmin, max(v) AS vmax FROM x GROUP BY 1)
        |SELECT x.vec_id AS vec_id, CAST(x.dim - 1 AS INT) AS dim,
        |       CAST(x.v AS DOUBLE) AS v,
        |       CAST(s.vmin AS DOUBLE) AS vmin, CAST(s.vmax AS DOUBLE) AS vmax,
        |       (CAST(x.v AS DOUBLE) - CAST(s.vmin AS DOUBLE))
        |         / nullif(CAST(s.vmax AS DOUBLE) - CAST(s.vmin AS DOUBLE), 0.0)
        |         AS scaled
        |FROM x JOIN s ON x.dim = s.dim
        |WHERE x.vec_id < 20
        |ORDER BY vec_id, dim""".stripMargin,

    "q78_incremental_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(
        |           [list_aggregate(toks[i:i+2], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |e AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM t),
        |p AS (
        |  SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter,
        |         any_value(b.sz) AS szb, any_value(c.sz) AS szc
        |  FROM e b JOIN e c ON b.s = c.s
        |  WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |  GROUP BY 1, 2),
        |j AS (SELECT bid, cid,
        |             round(CAST(inter AS DOUBLE) / (szb + szc - inter), 6) AS jac
        |      FROM p),
        |q AS (SELECT * FROM j WHERE jac >= 0.6),
        |best AS (
        |  SELECT bid, cid, jac,
        |         row_number() OVER (PARTITION BY bid ORDER BY jac DESC, cid) AS rn
        |  FROM q),
        |cnt AS (SELECT bid, count(*) AS n FROM q GROUP BY 1)
        |SELECT d.doc_id AS batch_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_matches,
        |       coalesce(cnt.n, 0) > 0 AS has_neardup,
        |       b.cid AS best_match, b.jac AS best_jac
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN cnt ON d.doc_id = cnt.bid
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.bid
        |ORDER BY batch_id""".stripMargin,

    "q79_cdc_apply" -> cdcSnapshotOracle,

    // the streaming apply must converge to the SAME snapshot as the
    // one-shot batch apply — one oracle pins both
    "q96_stream_cdc" -> cdcSnapshotOracle,

    "q81_histogram" ->
      """WITH s AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents)
        |SELECT CAST(CASE WHEN hi = lo THEN 0
        |            ELSE ((n_chars - lo) * 20) // (hi - lo + 1) END AS BIGINT)
        |         AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(n_chars) AS BIGINT) AS lo_val,
        |       CAST(max(n_chars) AS BIGINT) AS hi_val
        |FROM documents, s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q82_debounce" ->
      """WITH x AS (
        |  SELECT event_type, ts,
        |         lag(ts) OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN prev IS NULL
        |                      OR ts - prev >= INTERVAL 10 MINUTE
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    "q83_grouped_topk" ->
      """SELECT bucket, rank, event_id, value FROM (
        |  SELECT user_id % 50 AS bucket, event_id, value,
        |         CAST(row_number() OVER (PARTITION BY user_id % 50
        |           ORDER BY value DESC, event_id) AS INT) AS rank
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rank <= 3 ORDER BY bucket, rank""".stripMargin,

    "q84_vocab_build" ->
      """WITH c AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents)
        |  GROUP BY 1),
        |r AS (
        |  SELECT term, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
        |           AS token_id
        |  FROM c)
        |SELECT term, n, token_id FROM r WHERE token_id < 50
        |ORDER BY token_id""".stripMargin,

    "q87_tokenize_corpus" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(toks) AS term FROM t) GROUP BY 1),
        |v AS (
        |  SELECT term, token_id FROM (
        |    SELECT term,
        |           CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
        |             AS token_id
        |    FROM c) WHERE token_id < 20),
        |tk AS (
        |  SELECT doc_id, unnest(toks) AS term,
        |         generate_subscripts(toks, 1) AS pos
        |  FROM t),
        |j AS (
        |  SELECT tk.doc_id AS doc_id, tk.pos AS pos,
        |         coalesce(v.token_id, -1) AS tid,
        |         v.token_id IS NULL AS oov
        |  FROM tk LEFT JOIN v ON tk.term = v.term)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q90_table_diff" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS key,
        |         o_orderkey AS seq,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'D'
        |              WHEN o_orderkey % 11 = 0 THEN 'I'
        |              ELSE 'U' END AS op,
        |         o_totalprice AS bal
        |  FROM orders WHERE o_custkey % 4 = 0),
        |last AS (
        |  SELECT key, op, bal FROM (
        |    SELECT key, op, bal,
        |           row_number() OVER (PARTITION BY key
        |             ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |next AS (
        |  SELECT coalesce(l.key, c.c_custkey) AS key,
        |         CASE WHEN l.key IS NULL THEN c.c_mktsegment
        |              ELSE 'CHANGED' END AS seg,
        |         CASE WHEN l.key IS NULL THEN c.c_acctbal ELSE l.bal END AS bal
        |  FROM customer c FULL JOIN last l ON c.c_custkey = l.key
        |  WHERE coalesce(l.op, 'B') <> 'D'),
        |d AS (
        |  SELECT coalesce(b.c_custkey, n.key) AS key,
        |         CASE WHEN b.c_custkey IS NULL THEN 'added'
        |              WHEN n.key IS NULL THEN 'removed'
        |              WHEN b.c_mktsegment = n.seg AND b.c_acctbal = n.bal
        |                THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM customer b FULL JOIN next n ON b.c_custkey = n.key)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(key) AS BIGINT) AS key_sum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q91_integrity_audit" ->
      """SELECT "check", n FROM (
        |  SELECT 'lineitem_rows' AS "check", CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem
        |  UNION ALL
        |  -- NOT EXISTS, not NOT IN: the Spark side is an outer-join
        |  -- NULL probe (anti-join semantics), under which a NULL child
        |  -- key counts as an orphan; NOT IN would collapse to zero
        |  -- matches the moment any key is NULL — and an integrity
        |  -- audit runs on dirty data.
        |  SELECT 'lineitem_orphans', CAST(count(*) AS BIGINT)
        |  FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_rows', CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders_orphans', CAST(count(*) AS BIGINT)
        |  FROM orders r
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = r.o_custkey))
        |ORDER BY "check"""".stripMargin,

    "q92_tfidf_cosine" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id < 400),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
        |w AS (SELECT doc_id, term,
        |             tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS w
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS l2 FROM w GROUP BY 1),
        |u AS (SELECT doc_id, term, w / l2 AS nw FROM w JOIN nrm USING (doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(sum(a.nw * b.nw), 6) AS cos_sim
        |FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING round(sum(a.nw * b.nw), 6) >= 0.82
        |ORDER BY id_a, id_b""".stripMargin,

    "q92b_tfidf_capped" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
        |w AS (SELECT doc_id, term, df,
        |             tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS w
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |-- norms over the FULL vocabulary; only the INDEX is df-capped,
        |-- so each surviving score is a lower bound of the true cosine
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS l2 FROM w GROUP BY 1),
        |u AS (SELECT doc_id, term, w / l2 AS nw FROM w JOIN nrm USING (doc_id)
        |      WHERE df <= (SELECT count(*) // 2 FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(sum(a.nw * b.nw), 6) AS cos_sim
        |FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING round(sum(a.nw * b.nw), 6) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,

    "q93_bloom_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |                        FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)]) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM sh c JOIN bench b
        |    ON c.doc_id != b.bench_id AND len(list_intersect(c.s, b.s)) > 0)
        |-- n_missed = 0 and fp_bound_ok = TRUE are the CONTRACT: the
        |-- bloom probe may never miss a truly contaminated doc, and may
        |-- over-flag at most 5% of the corpus
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_contaminated,
        |       CAST(0 AS BIGINT) AS n_missed,
        |       TRUE AS fp_bound_ok
        |FROM documents""".stripMargin,

    "q100b_curate_scale" -> curationOracle,

    // EXACT global pairwise keep-rule over the twin-augmented corpus —
    // the cluster-blocked Spark path must reproduce it bit-for-bit
    // (see q101's Scaladoc for why clustering cannot split a twin pair)
    "q101_semantic_dedup" ->
      """WITH twins AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |         CAST(list_transform(CAST(embedding AS DOUBLE[]),
        |                             x -> x + 0.001 * x * x) AS FLOAT[]) AS embedding
        |  FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM twins),
        |dup AS (
        |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
        |  GROUP BY 1)
        |SELECT c.vec_id, d.dup_of IS NULL AS kept, d.dup_of
        |FROM corpus c LEFT JOIN dup d USING (vec_id)
        |ORDER BY c.vec_id""".stripMargin,

    "q102_repeated_spans" -> repeatedSpansOracle,
    "q102b_repeated_spans_hashed" -> repeatedSpansOracle,

    // spans re-derived as a CTE (q102's verified oracle), then every
    // flagged position drops and the text rebuilds in original order
    "q103_excise_spans" -> exciseSpansOracle(keepOne = false),

    // same pipeline with the keep-one policy: each repeated gram's
    // min-doc keeper contributes no flagged positions, so exactly one
    // copy of every repeated passage survives
    "q103b_excise_keep_one" -> exciseSpansOracle(keepOne = true),

    "q100_curate_corpus" -> curationOracle,
    // q244: lossless wire recovery + the identical pipeline — q100's
    // oracle verbatim pins the whole crawl-to-corpus path
    "q244_warc_curate" -> curationOracle,
    // q245: the same pipeline fed from raw HTTP response captures
    // (status/headers/chunked/gzip + HTML extraction) — q100's oracle
    // verbatim pins the full wire-to-training-set journey
    "q245_http_warc_curate" -> curationOracle,

    "q97_budget_fill" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |r AS (
        |  SELECT lang, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY lang
        |           ORDER BY z DESC, doc_id ROWS UNBOUNDED PRECEDING) AS run
        |  FROM z)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN run <= 3000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(sum(CASE WHEN run <= 3000 THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_admitted
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q97c_budget_skip" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |r AS MATERIALIZED (
        |  SELECT lang, doc_id, n_tokens,
        |         row_number() OVER (PARTITION BY lang ORDER BY z DESC, doc_id) AS rn
        |  FROM z),
        |-- the ADMITTED chain: recursion steps only across admitted docs
        |-- (depth = survivors, not corpus) — each step hops to the next
        |-- rank whose doc still fits the remaining budget
        |seed AS (SELECT lang, min(rn) AS rn FROM r WHERE n_tokens <= 3000 GROUP BY lang),
        |kept(lang, rn, used) AS (
        |  SELECT s.lang, s.rn, r.n_tokens
        |  FROM seed s JOIN r ON r.lang = s.lang AND r.rn = s.rn
        |  UNION ALL
        |  SELECT q.lang, q.nrn, q.used + r.n_tokens
        |  FROM (SELECT k.lang, k.rn, k.used,
        |               (SELECT min(r2.rn) FROM r r2
        |                WHERE r2.lang = k.lang AND r2.rn > k.rn
        |                  AND r2.n_tokens <= 3000 - k.used) AS nrn
        |        FROM kept k) q
        |  JOIN r ON r.lang = q.lang AND r.rn = q.nrn
        |  WHERE q.nrn IS NOT NULL),
        |dec AS (
        |  SELECT r.lang, r.n_tokens, k.rn IS NOT NULL AS admitted
        |  FROM r LEFT JOIN kept k ON k.lang = r.lang AND k.rn = r.rn)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(sum(CASE WHEN admitted THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_admitted
        |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin,

    "q97b_budget_global" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |-- ONE global running order (no PARTITION BY): the oracle states
        |-- the semantics as the global sort the Spark side must never run
        |r AS (
        |  SELECT lang, n_tokens,
        |         sum(n_tokens) OVER (
        |           ORDER BY z DESC, doc_id ROWS UNBOUNDED PRECEDING) AS run
        |  FROM z)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN run <= 10000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(sum(CASE WHEN run <= 10000 THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_admitted,
        |       CAST(sum(run) AS BIGINT) AS running_sum
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q98_quantize_vectors" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings),
        |s AS (SELECT dim, min(v) AS vmin, max(v) AS vmax FROM x GROUP BY 1),
        |codes AS (
        |  SELECT x.vec_id, x.dim,
        |         CASE WHEN s.vmax = s.vmin THEN 0
        |              ELSE CAST(least(255, greatest(0, round(
        |                (CAST(x.v AS DOUBLE) - CAST(s.vmin AS DOUBLE))
        |                  / (CAST(s.vmax AS DOUBLE) - CAST(s.vmin AS DOUBLE))
        |                  * 255.0))) AS INT) END AS code
        |  FROM x JOIN s ON x.dim = s.dim
        |  WHERE x.vec_id < 200)
        |SELECT vec_id,
        |       md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim))
        |         AS codes_digest,
        |       CAST(sum(code) AS BIGINT) AS code_sum,
        |       CAST(max(code) AS INT) AS code_max
        |FROM codes GROUP BY 1 ORDER BY 1""".stripMargin,

    // distinct 4-gram shingles per side, inner join, pair counts —
    // the q76 inverted-index oracle shape, corpus × benchmark slice.
    // One oracle for both forms: the hashed path must reproduce the
    // exact string-keyed counts bit-for-bit
    "q106_contamination_report" -> contaminationReportOracle,
    "q106b_contamination_hashed" -> contaminationReportOracle,

    // ONE global window over the md5 order — the brute-force form of
    // the two-phase bucket decomposition the Spark side runs
    "q105_token_shards" -> tokenShardsOracle,
    // the streaming twin recomputes the same plan per micro-batch and
    // publishes the final version — content-deterministic, so the
    // batch oracle checks it verbatim
    "q105b_shard_stream" -> tokenShardsOracle,



    // weights re-derived as q94's verified CTE, then targets, base
    // repeats, and the md5-prefix extra repeat — floor/CAST staging
    // mirrors the Spark side exactly (all values < 2^52, so the
    // double-math floor() is integer-exact in both engines)
    "q104_materialize_mixture" -> materializeMixtureOracle,
    "q104b_mixture_stream" -> materializeMixtureOracle,



    "q94_mixture_weights" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total,
        |             sum(pow(n_docs, 0.5)) AS z FROM c)
        |SELECT lang, n_docs,
        |       round(n_docs / total, 6) AS p_natural,
        |       round(pow(n_docs, 0.5) / z, 6) AS weight,
        |       round(pow(n_docs, 0.5) / z / (n_docs / total), 6) AS sample_rate
        |FROM c, t ORDER BY lang""".stripMargin,

    "q95_shuffle_shards" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         (strpos('123456789abcdef',
        |                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
        |          + strpos('123456789abcdef',
        |                   substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
        |          + strpos('123456789abcdef',
        |                   substring(md5(CAST(doc_id AS VARCHAR)), 3, 1))) % 8 AS shard,
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
        |  FROM documents)
        |SELECT CAST(shard AS INTEGER) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       md5(string_agg(CAST(doc_id AS VARCHAR), ','
        |             ORDER BY h, doc_id)) AS order_digest
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q89_throttle" -> throttleOracle,

    // the streaming anchor state must reproduce the identical kept set
    "q99_stream_throttle" -> throttleOracle,

    "q88b_dedup_lsh" -> lshDedupCorpusSql,
    "q139_stream_neardup" -> lshDedupCorpusSql,

    // q140/q141: the oracle regenerates the SOURCE samples/pixels from
    // the synth recipe and computes the features directly — the Spark
    // side must recover the same numbers by PARSING THE ENCODED BYTES,
    // so the hash check pins the whole encode→parse→feature chain.
    "q140_wav_decode" ->
      """WITH idx AS (
        |  SELECT doc_id, unnest(generate_series(0, 50 + doc_id % 50 - 1)) AS i
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i,
        |         ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS v
        |  FROM idx),
        |w AS (
        |  SELECT doc_id, i, v,
        |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id AS media_id,
        |       CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(count(*) * 1000000 // (8000 + (doc_id % 3) * 4000) AS BIGINT)
        |         AS duration_us,
        |       CAST(max(abs(v)) AS INT) AS peak,
        |       CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |       CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM w GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "q141_bmp_decode" ->
      """WITH ys AS (
        |  SELECT doc_id, unnest(generate_series(0, 3 + doc_id % 4 - 1)) AS y
        |  FROM documents),
        |xs AS (
        |  SELECT doc_id, y, unnest(generate_series(0, 4 + doc_id % 5 - 1)) AS x
        |  FROM ys),
        |p AS (
        |  SELECT doc_id, y, x,
        |         CAST(4 + doc_id % 5 AS INT) AS w,
        |         CAST(3 + doc_id % 4 AS INT) AS h,
        |         (doc_id + 17 * y + 29 * x) % 256 AS b,
        |         (doc_id + 23 * y + 31 * x) % 256 AS g,
        |         (doc_id + 13 * y + 37 * x) % 256 AS r
        |  FROM xs)
        |SELECT doc_id AS media_id,
        |       max(w) AS width, max(h) AS height,
        |       CAST(sum(b) AS BIGINT) AS sum_b,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(r) AS BIGINT) AS sum_r,
        |       CAST((max(w) + 1) // 2 AS INT) AS half_w,
        |       CAST((max(h) + 1) // 2 AS INT) AS half_h,
        |       CAST(sum(CASE WHEN y % 2 = 0 AND x % 2 = 0
        |                THEN b + g + r ELSE 0 END) AS BIGINT) AS half_sum
        |FROM p GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // q142/q142b share one oracle: expression form and broadcast-join
    // form must be hash-indistinguishable.
    "q142_blocklist_screen" -> blocklistSql,
    "q142b_blocklist_join" -> blocklistSql,

    "q149_phrase_blocklist" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS tok,
        |             generate_subscripts(toks, 1) AS i FROM d),
        |b AS (SELECT doc_id, tok,
        |             lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        |      FROM t),
        |hits AS (
        |  SELECT doc_id, tok AS hit FROM t WHERE tok IN ('scan')
        |  UNION ALL
        |  SELECT doc_id, tok || ' ' || nxt AS hit FROM b
        |  WHERE nxt IS NOT NULL
        |    AND (tok || ' ' || nxt) IN ('hash join', 'slow merge')),
        |agg AS (SELECT doc_id, count(*) AS n_hits,
        |               count(DISTINCT hit) AS n_terms FROM hits GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(agg.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(coalesce(agg.n_terms, 0) AS BIGINT) AS n_terms,
        |       coalesce(agg.n_hits, 0) < 4 AS keep
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q143_media_dlq" -> mediaDlqOracle,
    // the streamed dual-write reassembles the same audit — one oracle
    "q143b_media_stream" -> mediaDlqOracle,

    "q144_lsh_band_plan" ->
      """WITH b AS (
        |  SELECT CAST(i AS INT) AS bands, CAST(128 // i AS INT) AS rows_per_band
        |  FROM generate_series(1, 128) AS g(i) WHERE 128 % i = 0),
        |t AS (SELECT unnest([0.5, 0.7, 0.8, 0.9]) AS threshold),
        |c AS (
        |  SELECT t.threshold, b.bands, b.rows_per_band,
        |         power(1.0 / b.bands, 1.0 / b.rows_per_band) AS infl,
        |         1.0 - power(1.0 - power(t.threshold, b.rows_per_band), b.bands) AS p
        |  FROM b, t),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY threshold
        |              ORDER BY abs(infl - threshold), bands) AS rk
        |  FROM c)
        |SELECT threshold, bands, rows_per_band,
        |       round(infl, 6) AS inflection,
        |       round(p, 6) AS p_at_threshold,
        |       rk = 1 AS chosen
        |FROM r ORDER BY threshold, bands""".stripMargin,

    "q145_html_extract" -> htmlExtractOracle,
    "q147_web_funnel" -> webFunnelOracle,
    // the streamed funnel's final published report is the full-corpus
    // report — same oracle
    "q147b_funnel_stream" -> webFunnelOracle,
    "q152_funnel_audit" -> funnelAuditOracle,
    "q153_pca_project" -> pcaProjectSql,
    "q153b_pca2_project" -> pca2ProjectSql,
    "q154_embedding_drift" -> embeddingDriftSql,
    "q155_coreset_select" -> farthestPointSql,
    // the streamed coreset's final published selection is the
    // full-corpus selection — same oracle
    "q155b_coreset_stream" -> farthestPointSql,
    // single-global-window CDF replay vs the engine's two-phase
    // prefix sums — same exact integers, different formulation
    "q156_ks_drift" ->
      """WITH o AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents
        |  WHERE doc_id % 2 = 0),
        |ne AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents
        |  WHERE doc_id % 2 = 1),
        |u AS (SELECT v, 1 AS a, 0 AS b FROM o
        |      UNION ALL SELECT v, 0, 1 FROM ne),
        |pv AS (SELECT v, CAST(sum(a) AS BIGINT) AS c_old,
        |              CAST(sum(b) AS BIGINT) AS c_new
        |       FROM u GROUP BY 1),
        |t AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
        |             CAST(sum(c_new) AS BIGINT) AS n_new FROM pv),
        |c AS (SELECT v,
        |        CAST(sum(c_old) OVER (ORDER BY v) AS BIGINT) AS cum_old,
        |        CAST(sum(c_new) OVER (ORDER BY v) AS BIGINT) AS cum_new
        |      FROM pv),
        |d AS (SELECT c.v, abs(cum_old * t.n_new - cum_new * t.n_old) AS d_num,
        |             t.n_old, t.n_new
        |      FROM c, t)
        |SELECT v AS at_value, CAST(d_num AS BIGINT) AS d_num, n_old, n_new,
        |       round(CAST(d_num AS DOUBLE) / nullif(n_old * n_new, 0), 6) AS ks
        |FROM d ORDER BY d_num DESC, v ASC LIMIT 1""".stripMargin,

    "q146_token_drift" -> tokenDriftOracle,
    // the streaming monitor's final published report is bit-identical
    // to the batch path — same oracle
    "q146b_drift_stream" -> tokenDriftOracle,

    "q150_length_drift" ->
      """WITH o AS (
        |  SELECT CAST(least(9, greatest(0,
        |           CAST(floor(length(text) / 50.0) AS INT))) AS INT) AS category
        |  FROM documents WHERE doc_id % 2 = 0),
        |n AS (
        |  SELECT CAST(least(9, greatest(0,
        |           CAST(floor(length(text) / 50.0) AS INT))) AS INT) AS category
        |  FROM documents WHERE doc_id % 2 = 1),
        |oc AS (SELECT category, count(*) AS n_old FROM o GROUP BY 1),
        |nc AS (SELECT category, count(*) AS n_new FROM n GROUP BY 1),
        |j AS (
        |  SELECT coalesce(oc.category, nc.category) AS category,
        |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
        |  FROM oc FULL OUTER JOIN nc ON oc.category = nc.category),
        |t AS (SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new,
        |             count(*) AS n_categories FROM j)
        |SELECT j.category,
        |       CAST(j.n_old AS BIGINT) AS n_old,
        |       CAST(j.n_new AS BIGINT) AS n_new,
        |       round(
        |         ((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE)
        |          - (j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))
        |         * ln(((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE))
        |              / ((j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))),
        |         6) AS psi_term
        |FROM j, t ORDER BY category""".stripMargin,

    // full margin-mining replay: forward top-4 neighborhoods, backward
    // top-4 over the candidate set, DECIMAL neighborhood sums, argmax
    // margin per source — the same exact arithmetic, independently
    // formulated
    "q151_margin_mine" ->
      """WITH src AS (
        |  SELECT vec_id AS src_id, embedding AS sv FROM embeddings
        |  WHERE vec_id % 2 = 0 AND vec_id < 40),
        |tgt AS (SELECT vec_id AS tgt_id, embedding AS tv FROM embeddings
        |        WHERE vec_id % 2 = 1),
        |bwd AS (SELECT vec_id AS bwd_id, embedding AS bv FROM embeddings
        |        WHERE vec_id % 2 = 0),
        |fwd0 AS (
        |  SELECT s.src_id, t.tgt_id,
        |         round(list_cosine_similarity(CAST(t.tv AS DOUBLE[]),
        |                                      CAST(s.sv AS DOUBLE[])), 6) AS cos_sim
        |  FROM src s CROSS JOIN tgt t),
        |fwd AS (
        |  SELECT src_id, tgt_id, cos_sim,
        |         row_number() OVER (PARTITION BY src_id
        |                            ORDER BY cos_sim DESC, tgt_id) AS rnk
        |  FROM fwd0),
        |cand AS (SELECT * FROM fwd WHERE rnk <= 4),
        |dx AS (SELECT src_id,
        |              CAST(sum(CAST(cos_sim AS DECIMAL(18,6))) AS DOUBLE) AS sum_x,
        |              count(*) AS n_x
        |       FROM cand GROUP BY 1),
        |ys AS (SELECT DISTINCT tgt_id FROM cand),
        |bwd0 AS (
        |  SELECT t.tgt_id, b.bwd_id,
        |         round(list_cosine_similarity(CAST(b.bv AS DOUBLE[]),
        |                                      CAST(t.tv AS DOUBLE[])), 6) AS cs
        |  FROM tgt t JOIN ys USING (tgt_id) CROSS JOIN bwd b),
        |bwdr AS (
        |  SELECT tgt_id, cs,
        |         row_number() OVER (PARTITION BY tgt_id
        |                            ORDER BY cs DESC, bwd_id) AS rnk
        |  FROM bwd0),
        |dy AS (SELECT tgt_id,
        |              CAST(sum(CAST(cs AS DECIMAL(18,6))) AS DOUBLE) AS sum_y,
        |              count(*) AS n_y
        |       FROM bwdr WHERE rnk <= 4 GROUP BY 1),
        |scored AS (
        |  SELECT c.src_id, c.tgt_id, c.cos_sim,
        |         (dx.sum_x / dx.n_x + dy.sum_y / dy.n_y) / 2 AS den
        |  FROM cand c JOIN dx USING (src_id) JOIN dy USING (tgt_id)),
        |m AS (
        |  SELECT src_id, tgt_id, cos_sim, round(cos_sim / den, 6) AS margin,
        |         row_number() OVER (PARTITION BY src_id
        |                            ORDER BY round(cos_sim / den, 6) DESC,
        |                                     tgt_id) AS rnk
        |  FROM scored WHERE den > 0)
        |SELECT src_id, tgt_id, cos_sim, margin FROM m
        |WHERE rnk = 1 AND margin > 1.0 ORDER BY src_id""".stripMargin,

    "q88_dedup_corpus" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
        |  FROM documents WHERE doc_id < 600),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.95),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE id <> cluster_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents d LEFT JOIN dropped ON d.doc_id = dropped.id
        |WHERE d.doc_id < 600 AND dropped.id IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |         least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS f_len,
        |         CAST(length(text)
        |              - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |              AS DOUBLE) / greatest(length(text), 1) AS f_punct,
        |         CAST(len(list_filter(toks, x -> list_contains(
        |             ['the','a','an','and','or','of','to','in','is','it'], x)))
        |              AS DOUBLE) / greatest(len(toks), 1) AS f_stop,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / greatest(len(toks), 1) AS f_distinct
        |  FROM t),
        |z AS (
        |  SELECT doc_id,
        |         -2.4 + 2.0 * f_len + -3.0 * f_punct
        |              + 1.5 * f_stop + 2.5 * f_distinct AS z
        |  FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score,
        |       z >= 0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,

    "q85_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
        |            ELSE o_orderpriority END AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q80_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,

    "q37_heavy_hitters" ->
      """WITH c AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_partkey),
        |r AS (
        |  SELECT l_partkey, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, l_partkey) AS INT) AS rank
        |  FROM c)
        |SELECT l_partkey, n, rank FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q35_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |per AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(max(n) AS BIGINT) AS max_session_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q36_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q23b_ivf_recall" ->
      """SELECT 'ivf_recall_at_5_nprobe_half_ge_0.7' AS metric, TRUE AS ok""".stripMargin,

    // both rows are THEOREMS of the probed-search construction (more
    // cells ⊇ candidates; all cells = brute force), so the expected
    // frame is constant — a violation fails the hash compare
    "q148_nprobe_sweep" ->
      """SELECT 'recall_at_full_probe_eq_1' AS metric, TRUE AS ok
        |UNION ALL SELECT 'recall_monotone_in_nprobe', TRUE
        |ORDER BY metric""".stripMargin,

    // gate (exact logit SQL) -> contamination WITHOUT self-exclusion
    // (a benchmark doc in the corpus must drop) -> one survivor per
    // fingerprint -> content-derived aggregate (winner-independent,
    // so the stream's arrival-order dedup hashes identically)
    "q108_stream_curate" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, text, toks,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |gated AS (SELECT * FROM z WHERE z >= 0),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |           [list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)])) AS s
        |  FROM t WHERE doc_id % 50 = 0),
        |gsh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(
        |           [list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)])) AS s
        |  FROM gated),
        |contam AS (SELECT DISTINCT doc_id FROM gsh JOIN bench USING (s)),
        |clean AS (SELECT g.* FROM gated g
        |          WHERE NOT EXISTS (SELECT 1 FROM contam c
        |                            WHERE c.doc_id = g.doc_id)),
        |ded AS (
        |  SELECT any_value(len(toks)) AS n_tokens, any_value(z) AS z
        |  FROM clean
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       round(sum(z), 4) AS sum_z
        |FROM ded""".stripMargin,

    "q107b_pq_contract" ->
      """SELECT 'pq_adc_recall_at_10_ge_0.2' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'pq_mse_below_half_dim_variance', TRUE
        |ORDER BY metric""".stripMargin,

    "q109b_ivf_adc_contract" ->
      """SELECT 'ivf_adc_recall_at_10_vs_exact_ge_0.15' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'ivf_adc_recall_at_10_vs_full_adc_ge_0.6', TRUE
        |ORDER BY metric""".stripMargin,

    "q110_adc_refine" ->
      """SELECT 'refined_is_subset_of_candidates' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'refined_recall_ge_raw_adc_recall', TRUE
        |UNION ALL
        |SELECT 'refined_recall_at_10_ge_0.3', TRUE
        |ORDER BY metric""".stripMargin,

    "q111_ann_index_roundtrip" ->
      """SELECT 'codebooks_roundtrip_bit_exact' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'disk_search_equals_memory_search', TRUE
        |ORDER BY metric""".stripMargin,

    "q113_stream_index_ingest" ->
      """SELECT 'streamed_index_row_count_matches_batch' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'streamed_index_search_equals_batch_search', TRUE
        |ORDER BY metric""".stripMargin,

    "q114_ivfpq_refine" ->
      """SELECT 'pipeline_recall_at_10_ge_0.25' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'pipeline_recall_ge_raw_ivf_adc_recall', TRUE
        |ORDER BY metric""".stripMargin,

    "q115_compact_index" ->
      """SELECT 'batch_dimension_present_before_compaction' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'batch_dimension_removed_after_compaction', TRUE
        |UNION ALL
        |SELECT 'compacted_search_equals_streamed_search', TRUE
        |ORDER BY metric""".stripMargin,

    "q112_dsir_weights" ->
      (dsirWeightCtes +
        """
          |SELECT d.doc_id, round(coalesce(w, 0.0), 4) AS dsir_log_weight
          |FROM documents d LEFT JOIN lw USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin),

    "q116_cross_entropy" ->
      (crossEntropyScoreSql +
        """,
          |ranked AS (
          |  SELECT doc_id, n_bigrams, cross_entropy,
          |         ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS t
          |  FROM scored)
          |SELECT doc_id, n_bigrams, cross_entropy,
          |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          |              ELSE 'tail' END AS bucket
          |FROM ranked ORDER BY doc_id""".stripMargin),

    "q116b_cross_entropy_hashed" ->
      (crossEntropyScoreSql +
        """
          |SELECT doc_id, n_bigrams, cross_entropy
          |FROM scored ORDER BY doc_id""".stripMargin),

    // q116's oracle verbatim: the KLL-bucketed two-phase rank must
    // reproduce the exact global ntile
    "q116c_tertiles_scale" ->
      (crossEntropyScoreSql +
        """,
          |ranked AS (
          |  SELECT doc_id, n_bigrams, cross_entropy,
          |         ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS t
          |  FROM scored)
          |SELECT doc_id, n_bigrams, cross_entropy,
          |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          |              ELSE 'tail' END AS bucket
          |FROM ranked ORDER BY doc_id""".stripMargin),

    "q117_clean_segments" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         [trim(x) FOR x IN regexp_split_to_array(text, '\bline\b')
        |          IF length(trim(x)) > 0] AS segs
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, segs,
        |         [x FOR x IN segs IF
        |            len(regexp_split_to_array(lower(x), '\s+')) >= 5
        |            AND list_has_any(
        |              regexp_split_to_array(lower(x), '\s+'),
        |              ['the','a','an','and','or','of','to','in','is','it'])
        |            AND NOT list_has_any(
        |              regexp_split_to_array(lower(x), '\s+'), ['slow'])] AS kept
        |  FROM s)
        |SELECT doc_id, CAST(len(segs) AS INT) AS n_segments,
        |       CAST(len(kept) AS INT) AS n_kept,
        |       array_to_string(kept, ' ') AS clean_text
        |FROM k WHERE len(kept) >= 1 ORDER BY doc_id""".stripMargin,

    "q118_paragraph_dedup" -> paragraphDedupSql,
    "q118b_paragraph_dedup_hashed" -> paragraphDedupSql,
    "q119_bpe_merges" -> bpeMergesSql,
    "q120_bpe_apply" -> bpeApplySql,

    "q121_stream_query_serve" ->
      """SELECT 'every_query_served_exactly_k_results' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'streamed_serving_equals_batch_search', TRUE
        |ORDER BY metric""".stripMargin,

    "q122_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         len(toks) AS n,
        |         list_sum([length(x) FOR x IN toks]) * 1.0 /
        |           greatest(len(toks), 1) AS meanlen,
        |         len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 AS symbols,
        |         len([x FOR x IN toks IF regexp_matches(x, '[A-Za-z]')]) * 1.0 /
        |           greatest(len(toks), 1) AS alphafrac,
        |         len(list_intersect(
        |           list_distinct([lower(x) FOR x IN toks]),
        |           ['the','a','an','and','or','of','to','in','is','it']))
        |           AS nstops
        |  FROM t)
        |SELECT doc_id,
        |       n >= 40 AND n <= 70 AS words_in_range,
        |       meanlen >= 4.0 AND meanlen <= 4.6 AS mean_word_len_in_range,
        |       symbols / greatest(n, 1) <= 0.1 AS symbol_ratio_ok,
        |       alphafrac >= 0.8 AS alpha_word_frac_ok,
        |       nstops >= 2 AS enough_stopwords,
        |       (n >= 40 AND n <= 70) AND (meanlen >= 4.0 AND meanlen <= 4.6)
        |         AND (symbols / greatest(n, 1) <= 0.1) AND (alphafrac >= 0.8)
        |         AND (nstops >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "q123_dsir_sample" -> {
      val digitTerms = (1 to 13)
        .map(i => s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * power(16, ${13 - i})")
        .mkString(" +\n           ")
      dsirWeightCtes + s""",
         |dw AS (
         |  SELECT d.doc_id, d.lang, round(coalesce(w, 0.0), 4) AS lw,
         |         md5(CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d LEFT JOIN lw USING (doc_id)),
         |es AS (
         |  SELECT doc_id, lang, lw,
         |         ln((($digitTerms) + 1.0) / power(16, 13)) / exp(lw) AS es_key
         |  FROM dw),
         |r AS (
         |  SELECT doc_id, lang, lw,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY es_key DESC, doc_id) AS rk
         |  FROM es)
         |SELECT doc_id, lang, lw AS dsir_log_weight
         |FROM r WHERE rk <= 25
         |ORDER BY lang, doc_id""".stripMargin
    },

    "q124_curation_funnel" -> curationFunnelSql,

    // q124's oracle verbatim: the KLL-bucketed rank tail-cut must
    // reproduce the exact global ntile's stage-5 attrition
    "q124b_curation_scale" -> curationFunnelSql,


    "q125_unicode_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'cafe' || chr(769) || ' nin' || chr(771) || 'o SPARK'
        |    WHEN 1 THEN 'café niño Façade'
        |    WHEN 2 THEN 'Ünïcode ølsen ß'
        |    ELSE '  plain   ASCII  ' END AS s
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(s) AS INT) AS raw_len,
        |       CAST(length(nfc_normalize(s)) AS INT) AS nfc_len,
        |       md5(nfc_normalize(s)) AS nfc_md5,
        |       trim(regexp_replace(strip_accents(lower(s)), '\s+', ' ', 'g'))
        |         AS folded_text
        |FROM d ORDER BY doc_id""".stripMargin,

    "q126_train_classifier" -> classifierOracle("weights"),
    "q126b_classifier_scores" -> classifierOracle("scores"),
    "q129_classifier_holdout" -> classifierOracle("eval"),
    "q131_stream_classifier" -> classifierOracle("scores"),
    "q132_retrain_stream" -> classifierOracle("weights"),
    "q133_graph_centrality" -> graphCentralitySql,
    "q160_entity_resolution" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer),
        |tw AS (
        |  SELECT c_custkey + 1000000 AS c_custkey, c_name || 'X' AS c_name,
        |         c_nationkey, c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 25 = 0),
        |al AS (SELECT * FROM base UNION ALL SELECT * FROM tw)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS c_name_dist
        |FROM al a JOIN al b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |  AND a.c_acctbal = b.c_acctbal AND a.c_mktsegment = b.c_mktsegment
        |ORDER BY id_a, id_b""".stripMargin,

    // deviation prefix sums + running min = the exact CUSUM closed
    // form; μ and k by truncating division, all scaled longs
    "q162_changepoint" -> changepointSql,
    "q162b_changepoint_stream" -> changepointSql,

    "q163_l_diversity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |       CAST(floor(value / 100.0) AS BIGINT) AS value_band,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive,
        |       count(DISTINCT user_id) < 3 AS at_risk
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY event_type, day, value_band""".stripMargin,

    "q163b_l_diversity_enforce" ->
      """WITH c AS (
        |  SELECT event_id, event_type,
        |         count(DISTINCT user_id)
        |           OVER (PARTITION BY event_type, CAST(ts AS DATE),
        |                 CAST(floor(value / 100.0) AS BIGINT)) AS ns
        |  FROM events),
        |kept AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |         CAST(sum(event_id) AS BIGINT) AS kept_id_sum
        |  FROM c WHERE ns >= 3 GROUP BY 1),
        |allr AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1)
        |SELECT a.event_type, a.n_rows,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       a.n_rows - coalesce(k.n_kept, 0) AS n_suppressed,
        |       coalesce(k.kept_id_sum, 0) AS kept_id_sum
        |FROM allr a LEFT JOIN kept k USING (event_type)
        |ORDER BY a.event_type""".stripMargin,

    // entropy terms round to 6 dp and sum as DECIMAL (the q158
    // order-free discipline); only ln(n) − Σ/n is floating, at 4 dp
    "q164_lexical_diversity" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_types,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_hapax,
        |         sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS clnc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |       round(n_types / CAST(n_tokens AS DOUBLE), 4) AS ttr,
        |       round(n_hapax / CAST(n_types AS DOUBLE), 4) AS hapax_ratio,
        |       round(ln(CAST(n_tokens AS DOUBLE))
        |             - CAST(clnc AS DOUBLE) / n_tokens, 4) AS token_entropy
        |FROM a ORDER BY doc_id""".stripMargin,

    "q165_ngram_novelty" -> noveltySql,
    "q165b_novelty_hashed" -> noveltySql,
    "q166_k_core" -> kCoreSql,
    "q170_label_prop" -> labelPropSql,
    "q179_modularity" -> modularitySql,
    "q187_dedup_efficacy" -> dedupEfficacySql,

    "q185_zipf_fit" -> zipfFitSql,
    "q185b_zipf_stream" -> zipfFitSql,

    "q188_source_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |items AS (SELECT DISTINCT source, tok FROM t),
        |n AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM items GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM items a JOIN items b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT na.source AS src_a, nb.source AS src_b,
        |         na.n AS n_a, nb.n AS n_b,
        |         COALESCE(sh.n_shared, CAST(0 AS BIGINT)) AS n_shared
        |  FROM n na JOIN n nb ON na.source < nb.source
        |  LEFT JOIN sh ON sh.src_a = na.source AND sh.src_b = nb.source)
        |SELECT src_a, src_b, n_a, n_b, n_shared,
        |       n_shared * 1000000 // n_a AS cont_a_ppm,
        |       n_shared * 1000000 // n_b AS cont_b_ppm,
        |       n_shared * 1000000 // (n_a + n_b - n_shared) AS jaccard_ppm
        |FROM p ORDER BY src_a, src_b""".stripMargin,

    "q188b_overlap_contract" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |items AS (SELECT DISTINCT source, tok FROM t),
        |slots AS (
        |  SELECT source, k.k,
        |         min(substring(md5(tok || '#' || CAST(k.k AS VARCHAR)), 1, 15))
        |           AS mh
        |  FROM items CROSS JOIN (SELECT unnest(range(64)) AS k) k
        |  GROUP BY source, k.k),
        |est AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) * 15625
        |           AS BIGINT) AS est_ppm
        |  FROM slots a JOIN slots b ON a.k = b.k AND a.source < b.source
        |  GROUP BY 1, 2),
        |n AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM items GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM items a JOIN items b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT na.source AS src_a, nb.source AS src_b,
        |         COALESCE(sh.n_shared, CAST(0 AS BIGINT)) * 1000000
        |           // (na.n + nb.n - COALESCE(sh.n_shared, CAST(0 AS BIGINT)))
        |           AS jaccard_ppm
        |  FROM n na JOIN n nb ON na.source < nb.source
        |  LEFT JOIN sh ON sh.src_a = na.source AND sh.src_b = nb.source)
        |SELECT e.src_a, e.src_b, e.est_ppm, x.jaccard_ppm,
        |       abs(e.est_ppm - x.jaccard_ppm) AS abs_err_ppm,
        |       abs(e.est_ppm - x.jaccard_ppm) <= 250000 AS within_bound
        |FROM est e JOIN ex x ON e.src_a = x.src_a AND e.src_b = x.src_b
        |ORDER BY e.src_a, e.src_b""".stripMargin,

    "q190_quantile_norm" -> quantileNormSql,
    "q190b_quantile_stream" -> quantileNormSql,

    "q191_temperature_mixture" -> temperatureMixtureSql,
    "q191b_temperature_stream" -> temperatureMixtureSql,

    "q192_heaps_fit" ->
      """WITH ids AS (
        |  SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS span
        |  FROM documents),
        |b AS (
        |  SELECT d.doc_id, d.text,
        |         CAST(((d.doc_id - i.lo) * 16) // i.span AS INT) AS bk
        |  FROM documents d CROSS JOIN ids i),
        |tok AS (
        |  SELECT bk,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |           AS tok
        |  FROM b),
        |db AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM b GROUP BY 1),
        |tb AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_toks
        |       FROM tok GROUP BY 1),
        |vf AS (SELECT tok, min(bk) AS fb FROM tok GROUP BY 1),
        |vb AS (SELECT fb AS bk, CAST(count(*) AS BIGINT) AS n_new
        |       FROM vf GROUP BY 1),
        |cum AS (
        |  SELECT db.bk AS checkpoint,
        |         sum(db.n_docs) OVER (ORDER BY db.bk) AS docs_cum,
        |         sum(COALESCE(tb.n_toks, 0)) OVER (ORDER BY db.bk)
        |           AS tokens_cum,
        |         sum(COALESCE(vb.n_new, 0)) OVER (ORDER BY db.bk)
        |           AS vocab_cum
        |  FROM db LEFT JOIN tb ON tb.bk = db.bk
        |          LEFT JOIN vb ON vb.bk = db.bk),
        |xy AS (
        |  SELECT round(ln(CAST(tokens_cum AS DOUBLE)), 6) AS x,
        |         round(ln(CAST(vocab_cum AS DOUBLE)), 6) AS y
        |  FROM cum),
        |sm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * y, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(x * x, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxx
        |  FROM xy),
        |fit AS (
        |  SELECT round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 4)
        |           AS beta,
        |         round((sy - ((nn * sxy - sx * sy)
        |                      / (nn * sxx - sx * sx)) * sx) / nn, 4)
        |           AS ln_k
        |  FROM sm)
        |SELECT c.checkpoint, CAST(c.docs_cum AS BIGINT) AS docs_cum,
        |       CAST(c.tokens_cum AS BIGINT) AS tokens_cum,
        |       CAST(c.vocab_cum AS BIGINT) AS vocab_cum,
        |       f.beta, f.ln_k
        |FROM cum c CROSS JOIN fit f
        |ORDER BY c.checkpoint""".stripMargin,

    "q193_t_closeness" ->
      """WITH b AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(floor(value / 100.0) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS gc FROM b GROUP BY 1),
        |gg AS (
        |  SELECT v,
        |         CAST(sum(gc) OVER (ORDER BY v) AS BIGINT) AS gcum,
        |         CAST(sum(gc) OVER () AS BIGINT) AS n_total,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM g),
        |cls AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS class_size
        |  FROM b GROUP BY 1, 2),
        |cv AS (
        |  SELECT event_type, day, v, CAST(count(*) AS BIGINT) AS cc
        |  FROM b GROUP BY 1, 2, 3),
        |sp AS (
        |  SELECT c.event_type, c.day, c.class_size,
        |         g.v, g.gcum, g.n_total, g.m,
        |         COALESCE(cv.cc, CAST(0 AS BIGINT)) AS cc
        |  FROM cls c CROSS JOIN gg g
        |  LEFT JOIN cv ON cv.event_type = c.event_type
        |    AND cv.day = c.day AND cv.v = g.v),
        |cum AS (
        |  SELECT *, sum(cc) OVER (PARTITION BY event_type, day
        |    ORDER BY v) AS ccum
        |  FROM sp),
        |agg AS (
        |  SELECT event_type, day, class_size, max(n_total) AS n_total,
        |         max(m) AS m,
        |         sum(abs(CAST(ccum AS HUGEINT) * n_total
        |               - CAST(gcum AS HUGEINT) * class_size)) AS st
        |  FROM cum GROUP BY 1, 2, 3)
        |SELECT event_type, day, class_size, m AS n_values,
        |       CAST(st * 1000000 // (CAST(class_size AS HUGEINT)
        |         * n_total * greatest(m - 1, 1)) AS BIGINT) AS t_ppm,
        |       st * 1000000 > 250000 * CAST(class_size AS HUGEINT)
        |         * n_total * greatest(m - 1, 1) AS at_risk
        |FROM agg ORDER BY event_type, day""".stripMargin,

    "q194_packing_waste" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN length(trim(text)) > 0
        |           THEN CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |                AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END AS n_toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_toks,
        |         row_number() OVER (
        |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 13),
        |                    doc_id) AS rank_shuf,
        |         row_number() OVER (ORDER BY n_toks, doc_id) AS rank_sort
        |  FROM d),
        |u AS (
        |  SELECT '1_shuffled' AS strategy, (rank_shuf - 1) // 32 AS batch,
        |         n_toks FROM r
        |  UNION ALL
        |  SELECT '2_sorted' AS strategy, (rank_sort - 1) // 32 AS batch,
        |         n_toks FROM r),
        |p AS (
        |  SELECT strategy, batch, CAST(count(*) AS BIGINT) AS n,
        |         CAST(max(n_toks) AS BIGINT) AS mx,
        |         CAST(sum(n_toks) AS BIGINT) AS s
        |  FROM u GROUP BY 1, 2),
        |a AS (
        |  SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |         CAST(sum(s) AS BIGINT) AS real_tokens,
        |         CAST(sum(n * mx) AS BIGINT) AS padded_tokens
        |  FROM p GROUP BY 1)
        |SELECT strategy, n_batches, real_tokens, padded_tokens,
        |       CASE WHEN padded_tokens > 0
        |         THEN (padded_tokens - real_tokens) * 1000000
        |           // padded_tokens
        |         ELSE CAST(0 AS BIGINT) END AS waste_ppm
        |FROM a ORDER BY strategy""".stripMargin,

    "q196_unigram_vocab" -> unigramOracle("vocab"),
    "q197_unigram_fertility" -> unigramOracle("fertility"),

    "q195_benford" ->
      """WITH v AS (
        |  SELECT abs(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders),
        |d AS (
        |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |           AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM v WHERE cents IS NOT NULL AND cents > 0 GROUP BY 1),
        |e(digit, benford_ppm) AS (VALUES
        |  (1, CAST(301029 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
        |  (3, CAST(124938 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
        |  (5, CAST(79181 AS BIGINT)), (6, CAST(66946 AS BIGINT)),
        |  (7, CAST(57991 AS BIGINT)), (8, CAST(51152 AS BIGINT)),
        |  (9, CAST(45757 AS BIGINT))),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows FROM d)
        |SELECT e.digit, COALESCE(d.n, CAST(0 AS BIGINT)) AS n, t.n_rows,
        |       CASE WHEN t.n_rows > 0
        |         THEN COALESCE(d.n, CAST(0 AS BIGINT)) * 1000000 // t.n_rows
        |         ELSE CAST(0 AS BIGINT) END AS share_ppm,
        |       e.benford_ppm,
        |       abs(CASE WHEN t.n_rows > 0
        |             THEN COALESCE(d.n, CAST(0 AS BIGINT)) * 1000000
        |               // t.n_rows
        |             ELSE CAST(0 AS BIGINT) END - e.benford_ppm)
        |         AS abs_dev_ppm
        |FROM e LEFT JOIN d ON d.digit = e.digit CROSS JOIN t
        |ORDER BY e.digit""".stripMargin,

    "q186_trimmed_mean" ->
      """WITH e AS (
        |  SELECT event_type AS key, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT key, cents,
        |         row_number() OVER (PARTITION BY key
        |           ORDER BY cents, event_id) AS ra,
        |         row_number() OVER (PARTITION BY key
        |           ORDER BY cents DESC, event_id DESC) AS rd,
        |         count(*) OVER (PARTITION BY key) // 10 AS k
        |  FROM e)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN ra > k AND rd > k THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_kept,
        |       CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents,
        |       CAST(sum(CASE WHEN ra > k AND rd > k THEN cents END)
        |            // sum(CASE WHEN ra > k AND rd > k THEN 1 END)
        |         AS BIGINT) AS trimmed_mean_cents
        |FROM r GROUP BY key ORDER BY key""".stripMargin,

    "q184_mutual_info" ->
      """WITH j AS (
        |  SELECT event_type AS x, extract(hour FROM ts) AS y,
        |         CAST(count(*) AS BIGINT) AS n_xy
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
        |my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
        |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM j)
        |SELECT j.x, CAST(j.y AS INT) AS y, j.n_xy, mx.n_x, my.n_y,
        |       round((j.n_xy / CAST(t.n AS DOUBLE)) *
        |             ln(j.n_xy * CAST(t.n AS DOUBLE)
        |                / (mx.n_x * CAST(my.n_y AS DOUBLE))), 6) AS mi_term
        |FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
        |ORDER BY x, y""".stripMargin,

    // isqrt = float-seeded floor sqrt, ±1-corrected — exact on both
    // engines; allocation and selection replayed end to end
    "q183_neyman_sample" ->
      """WITH e AS (
        |  SELECT event_type AS s, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |st AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS n_pop,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM e GROUP BY 1),
        |w AS (
        |  SELECT s, n_pop, n_pop * syy - sy * sy AS x,
        |         CAST(floor(sqrt(CAST(n_pop * syy - sy * sy AS DOUBLE)))
        |           AS BIGINT) AS s0
        |  FROM st),
        |wt AS (
        |  SELECT s, n_pop,
        |         s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
        |            - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END) AS weight
        |  FROM w),
        |al AS (
        |  SELECT s, n_pop, weight,
        |         CASE WHEN sum(weight) OVER () > 0
        |              THEN least(n_pop,
        |                         (500 * weight) // sum(weight) OVER ())
        |              ELSE 0 END AS alloc
        |  FROM wt),
        |rk AS (
        |  SELECT e.s, e.event_id,
        |         row_number() OVER (PARTITION BY e.s
        |           ORDER BY substring(md5(CAST(e.event_id AS VARCHAR)), 1, 15),
        |                    e.event_id) AS rn
        |  FROM e),
        |sm AS (
        |  SELECT rk.s, CAST(count(*) AS BIGINT) AS n_sampled,
        |         CAST(sum(event_id) AS BIGINT) AS sampled_id_sum
        |  FROM rk JOIN al ON al.s = rk.s AND rk.rn <= al.alloc
        |  GROUP BY 1)
        |SELECT al.s AS event_type, al.n_pop,
        |       CAST(al.weight AS BIGINT) AS weight,
        |       CAST(al.alloc AS BIGINT) AS alloc,
        |       coalesce(sm.n_sampled, 0) AS n_sampled,
        |       coalesce(sm.sampled_id_sum, 0) AS sampled_id_sum
        |FROM al LEFT JOIN sm ON sm.s = al.s
        |ORDER BY event_type""".stripMargin,

    "q182_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id AS u, ts, event_type AS e FROM events),
        |s1 AS (
        |  SELECT u, min(ts) AS t FROM ev WHERE e = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT ev.u, min(ev.ts) AS t, s1.t AS tp
        |  FROM ev JOIN s1 ON s1.u = ev.u
        |  WHERE ev.e = 'click' AND ev.ts > s1.t
        |    AND ev.ts <= s1.t + INTERVAL 24 HOUR
        |  GROUP BY 1, 3),
        |s3 AS (
        |  SELECT ev.u, min(ev.ts) AS t, s2.t AS tp
        |  FROM ev JOIN s2 ON s2.u = ev.u
        |  WHERE ev.e = 'purchase' AND ev.ts > s2.t
        |    AND ev.ts <= s2.t + INTERVAL 24 HOUR
        |  GROUP BY 1, 3),
        |d AS (
        |  SELECT CAST(2 AS INT) AS step, 'click' AS stage,
        |         CAST(epoch_us(t) - epoch_us(tp) AS BIGINT) AS delta_us
        |  FROM s2
        |  UNION ALL
        |  SELECT CAST(3 AS INT), 'purchase',
        |         CAST(epoch_us(t) - epoch_us(tp) AS BIGINT)
        |  FROM s3)
        |SELECT step, stage, CAST(count(*) AS BIGINT) AS n_conversions,
        |       round(quantile_cont(delta_us, 0.5), 4) AS p50_us,
        |       round(quantile_cont(delta_us, 0.95), 4) AS p95_us
        |FROM d GROUP BY 1, 2 ORDER BY step""".stripMargin,

    // every counter rebuilt from the md5 bucket definition; the
    // 3-hex-char bucket STRING is the join key (no int conversion)
    "q180_cms_rollup" ->
      """WITH it AS (
        |  SELECT CAST(user_id AS VARCHAR) AS item FROM events
        |  WHERE user_id IS NOT NULL),
        |tk AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n,
        |         CAST(row_number() OVER (ORDER BY count(*) DESC, item)
        |           AS INT) AS rank
        |  FROM it GROUP BY 1
        |  QUALIFY rank <= 10),
        |c0 AS (SELECT substring(md5(item || '#0'), 13, 3) AS b,
        |              CAST(count(*) AS BIGINT) AS c FROM it GROUP BY 1),
        |c1 AS (SELECT substring(md5(item || '#1'), 13, 3) AS b,
        |              CAST(count(*) AS BIGINT) AS c FROM it GROUP BY 1),
        |c2 AS (SELECT substring(md5(item || '#2'), 13, 3) AS b,
        |              CAST(count(*) AS BIGINT) AS c FROM it GROUP BY 1),
        |c3 AS (SELECT substring(md5(item || '#3'), 13, 3) AS b,
        |              CAST(count(*) AS BIGINT) AS c FROM it GROUP BY 1)
        |SELECT tk.item, tk.n,
        |       least(x0.c, x1.c, x2.c, x3.c) AS n_est, tk.rank
        |FROM tk
        |JOIN c0 x0 ON x0.b = substring(md5(tk.item || '#0'), 13, 3)
        |JOIN c1 x1 ON x1.b = substring(md5(tk.item || '#1'), 13, 3)
        |JOIN c2 x2 ON x2.b = substring(md5(tk.item || '#2'), 13, 3)
        |JOIN c3 x3 ON x3.b = substring(md5(tk.item || '#3'), 13, 3)
        |ORDER BY rank""".stripMargin,

    "q181_volume_trend" ->
      """WITH h AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hr,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ix AS (
        |  SELECT key, y,
        |         CAST(row_number() OVER (PARTITION BY key ORDER BY hr) - 1
        |           AS BIGINT) AS x
        |  FROM h),
        |a AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n_obs,
        |         CAST(sum(y) AS BIGINT) AS sum_y,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM ix GROUP BY 1)
        |SELECT key, n_obs, sum_y,
        |       CAST((sum_y * 1000000) // n_obs AS BIGINT) AS mean_y_ppm,
        |       CAST(((n_obs * sxy - sx * sum_y) * 1000000)
        |            // (n_obs * sxx - sx * sx) AS BIGINT) AS slope_ppm
        |FROM a ORDER BY key""".stripMargin,
    "q171_skipping_report" -> skippingSql,
    "q206_hilbert_layout" -> hilbertSkippingSql,

    "q208_kmv_overlap" -> kmvOverlapSql,

    // q215 serves the same overlap from the stream-merged sketches —
    // exact order-free merge => bit-equal state, one oracle
    "q215_stream_kmv_state" -> kmvOverlapSql,

    // q210/q210b: exact ascending rank, the integer competence closed
    // form (ceil via +den-1 then truncating //), md5 within-phase
    // order; the stream twin recomputes the corpus-global schedule
    "q210_curriculum" -> curriculumSql,
    "q210b_curriculum_stream" -> curriculumSql,

    // q211: the oracle reads ONLY the parquet source — equality pins
    // type fidelity across the ORC write/read boundary
    "q211_orc_roundtrip" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total,
        |       max(o_orderdate) AS last_order,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // q212: the soundex chain itself (translate + RE2-safe collapse),
    // the planted twins, and the block/verify joins all replayed
    "q212_phonetic_er" -> phoneticErSql,

    // q213: spans derived from the chunking CLOSED FORM (turn i covers
    // [7i, min(7(i+1), n))) — the Spark window is pinned to the spec
    "q213_chat_mask" ->
      """WITH d AS (
        |  SELECT doc_id AS conv_id,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |t AS (
        |  SELECT conv_id, n,
        |         unnest(generate_series(0, (n + 6) // 7 - 1)) AS turn_idx
        |  FROM d)
        |SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
        |       CASE WHEN turn_idx % 2 = 0 THEN 'user'
        |            ELSE 'assistant' END AS role,
        |       CAST(least((turn_idx + 1) * 7, n) - turn_idx * 7 AS BIGINT)
        |         AS n_toks,
        |       CAST(turn_idx * 7 AS BIGINT) AS tok_start,
        |       CAST(least((turn_idx + 1) * 7, n) AS BIGINT) AS tok_end,
        |       (turn_idx % 2 = 1) AS in_loss
        |FROM t ORDER BY conv_id, turn_idx""".stripMargin,

    // q213b: the rendered template re-serialized with an ordered
    // string_agg, digested
    "q213b_chat_render" ->
      """WITH d AS (
        |  SELECT doc_id AS conv_id,
        |         regexp_split_to_array(trim(text), '\s+') AS toks,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |t AS (
        |  SELECT conv_id, n, toks,
        |         unnest(generate_series(0, (n + 6) // 7 - 1)) AS i
        |  FROM d),
        |c AS (
        |  SELECT conv_id, n, i,
        |         CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |         array_to_string(toks[i * 7 + 1 : least((i + 1) * 7, n)], ' ')
        |           AS content
        |  FROM t)
        |SELECT conv_id,
        |       CAST(count(*) AS BIGINT) AS n_turns,
        |       CAST(max(n) AS BIGINT) AS total_toks,
        |       md5(string_agg('<|' || role || '|>' || content || '<|eot|>',
        |                      '' ORDER BY i)) AS render_md5
        |FROM c GROUP BY conv_id ORDER BY conv_id""".stripMargin,


    // q217: the 12-bit hashes rebuilt digit-by-digit, both offsets,
    // and the full PSM byte string
    "q217_fim_transform" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS n
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, t, n,
        |         ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#a'), 1, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#a'), 2, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#a'), 3, 1)) - 1)) AS ha,
        |         ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#b'), 1, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#b'), 2, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#b'), 3, 1)) - 1)) AS hb
        |  FROM d),
        |s AS (
        |  SELECT *, CASE WHEN n >= 3 THEN 1 + ha % (n - 2) END AS a FROM h),
        |s2 AS (
        |  SELECT *, CASE WHEN n >= 3 THEN a + 1 + hb % (n - a - 1) END AS b
        |  FROM s)
        |SELECT doc_id, n AS n_toks, n >= 3 AS fim_applied,
        |       CAST(a AS BIGINT) AS split_a, CAST(b AS BIGINT) AS split_b,
        |       md5(CASE WHEN n >= 3
        |            THEN '<PRE> ' || array_to_string(t[1 : CAST(a AS INT)], ' ')
        |                 || ' <SUF> '
        |                 || array_to_string(t[CAST(b + 1 AS INT) : CAST(n AS INT)], ' ')
        |                 || ' <MID> '
        |                 || array_to_string(t[CAST(a + 1 AS INT) : CAST(b AS INT)], ' ')
        |            ELSE array_to_string(t, ' ') END) AS psm_md5
        |FROM s2 ORDER BY doc_id""".stripMargin,


    // q218: rolling windows, boundaries, ordered chunk folds, and
    // the doc-frequency join all replayed
    "q218_cdc_chunks" -> cdcChunksSql,

    // q221 rebuilds the same shared-chunk report from the
    // stream-maintained chunk store — one oracle
    "q221_stream_cdc_store" -> cdcChunksSql,


    // q219: samples, frame assignment, exact energies, gradient
    // bits, and the quadratic verify all regenerated
    "q219_audio_neardup" -> audioNearDupSql,

    // q220: each modality's census embedded as a subquery of its own
    // shared oracle (ORDER BY stripped), then the reduction rollup
    "q220_multimodal_dedup" -> multimodalDedupSql,


    // q222: keyframe index closed form, luma at the identity grid,
    // gradient bits, quadratic verify, census — all regenerated
    "q222_video_neardup" -> videoNearDupSql,

    // q227/q228: streamed index ≡ batch fingerprints row-for-row
    // (deterministic decode + idempotent batch partitions), so the
    // index-served censuses share their batch twins' oracles verbatim
    "q227_stream_audio_index" -> audioNearDupSql,
    "q228_stream_video_index" -> videoNearDupSql,

    // q229: decode succeeds on exactly the non-corrupt ids — the
    // planted corruption classes are pure id arithmetic
    "q229_jpeg_dlq" ->
      """SELECT doc_id % 10 NOT IN (4, 7) AS decoded,
        |       CAST(count(*) AS BIGINT) AS n_media,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |GROUP BY 1 ORDER BY decoded""".stripMargin,

    // q230: samples, window + clip frame geometries, exact energies,
    // gradient bits, candidate offsets, the vote, both censuses
    "q230_audio_seq_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 32 AS base, doc_id % 32 AS delayed,
        |         CAST(6 + (doc_id // 32) % 4 AS BIGINT) AS nw
        |  FROM documents WHERE doc_id % 32 IN (0, 1)),
        |g AS (SELECT d.*, unnest(generate_series(0, nw * 100 - 1)) AS gi FROM d),
        |s AS (
        |  SELECT doc_id, nw, gi,
        |         ((base * 7919
        |           + (CASE WHEN delayed = 1 AND gi >= 100
        |              THEN gi - 100 ELSE gi END) * 104729) % 4096) - 2048 AS v
        |  FROM g),
        |we AS (
        |  SELECT doc_id, nw, gi // 100 AS k, ((gi % 100) * 61) // 100 AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3, 4),
        |ww AS (
        |  SELECT doc_id, nw, k, f, en,
        |         lead(en) OVER (PARTITION BY doc_id, k ORDER BY f) AS nen
        |  FROM we),
        |wfp AS (
        |  SELECT doc_id, max(nw) AS nw, k,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM ww GROUP BY doc_id, k),
        |ce AS (
        |  SELECT doc_id, nw, (gi * 61) // (nw * 100) AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3),
        |cw AS (
        |  SELECT doc_id, nw, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM ce),
        |cfp AS (
        |  SELECT doc_id, max(nw) * 100 AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM cw GROUP BY doc_id),
        |cp AS (
        |  SELECT a.doc_id AS ia, c.doc_id AS ib
        |  FROM cfp a JOIN cfp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |csym AS (SELECT ia AS media_id, ib AS nbr FROM cp
        |         UNION ALL SELECT ib, ia FROM cp),
        |cn AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_clip_nbrs
        |       FROM csym GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ma, c.doc_id AS mb, c.k - a.k AS o
        |  FROM wfp a JOIN wfp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |votes AS (
        |  SELECT cand.ma, cand.mb, cand.o,
        |         CAST(sum(CASE WHEN bit_count(xor(a.fp, c.fp)) <= 2
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS votes
        |  FROM cand
        |  JOIN wfp a ON a.doc_id = cand.ma
        |  JOIN wfp c ON c.doc_id = cand.mb AND c.k = a.k + cand.o
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT ma, mb, max(votes) AS max_votes FROM votes GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM wfp GROUP BY 1),
        |sp AS (
        |  SELECT b.ma, b.mb FROM best b
        |  JOIN lens la ON la.doc_id = b.ma
        |  JOIN lens lb ON lb.doc_id = b.mb
        |  WHERE b.max_votes * 2 >= least(la.len, lb.len) + 1),
        |ssym AS (SELECT ma AS media_id, mb AS nbr FROM sp
        |         UNION ALL SELECT mb, ma FROM sp),
        |sn AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_seq_nbrs,
        |         min(nbr) AS min_seq_nbr
        |  FROM ssym GROUP BY media_id)
        |SELECT c.doc_id AS media_id, CAST(c.n_samples AS BIGINT) AS n_samples,
        |       l.len AS n_windows,
        |       COALESCE(cn.n_clip_nbrs, 0) AS n_clip_nbrs,
        |       COALESCE(sn.n_seq_nbrs, 0) AS n_seq_nbrs,
        |       sn.min_seq_nbr,
        |       (sn.min_seq_nbr IS NULL OR sn.min_seq_nbr > c.doc_id) AS keep
        |FROM cfp c
        |JOIN lens l ON l.doc_id = c.doc_id
        |LEFT JOIN cn ON cn.media_id = c.doc_id
        |LEFT JOIN sn ON sn.media_id = c.doc_id
        |ORDER BY media_id""".stripMargin,

    // q223: cluster pattern, the closed-form decoded fingerprint
    // (strict ±88-luma strips survive lossy decode bit-exactly),
    // and the census rebuilt from the cluster membership alone
    "q223_jpeg_neardup" -> jpegNearDupSql,

    // q231: streamed JPEG index ≡ batch fingerprints row-for-row
    // (deterministic decode + idempotent partitions) — q223's oracle
    "q231_stream_jpeg_index" -> jpegNearDupSql,
    // q232/q233: PNG is lossless and the mixed corpus reuses the same
    // strip recipe, so the JPEG closed-form census is the oracle for
    // all three image-codec censuses
    "q232_png_neardup" -> jpegNearDupSql,
    "q233_mixed_image_neardup" -> jpegNearDupSql,
    // q234: same census at thumbnail dims — the 2:1 bilinear resample
    // provably preserves strip values and the dHash sampling grid
    "q234_thumbnail_neardup" -> jpegNearDupSql.replace(
      "CAST(44 AS INT) AS width, CAST(24 AS INT) AS height",
      "CAST(22 AS INT) AS width, CAST(12 AS INT) AS height"),
    // q235: FLAC is lossless — the mixed WAV/FLAC corpus decodes to
    // q219's exact samples, so its closed-form census is the oracle
    "q235_flac_neardup" -> audioNearDupSql,
    // q246: the census closed form on the SOURCE samples of the
    // margin-designed staircase corpus — the MPEG-decoded fingerprints
    // must land exactly on it (lossy wire, invariant fingerprint)
    "q246_mpeg_neardup" -> mpegNearDupSql,
    // q247: streamed ingest of the same corpus — deterministic decode
    // means the maintained index reproduces q246 exactly
    "q247_stream_mpeg_index" -> mpegNearDupSql,
    // q236: streamed index ≡ batch fingerprints (deterministic
    // decode + idempotent partitions) — q219/q235's oracle again
    "q236_stream_flac_index" -> audioNearDupSql,
    // q258: archive-grain membership + text identity — corrupt
    // archives (id % 7 == 3) drop WHOLE, survivors replay exactly
    "q258_targz_ingest" ->
      """SELECT doc_id // 16 AS archive_id, doc_id,
        |       length(text) AS n_chars,
        |       md5(text) AS digest
        |FROM documents WHERE (doc_id // 16) % 7 != 3
        |ORDER BY doc_id""".stripMargin,

    // q259: member-grain membership — exactly ONE doc (the first of
    // each corrupted archive) drops; 15 siblings survive
    "q259_zip_ingest" ->
      """SELECT doc_id // 16 AS archive_id, doc_id,
        |       length(text) AS n_chars,
        |       md5(text) AS digest
        |FROM documents
        |WHERE NOT ((doc_id // 16) % 5 = 2 AND doc_id % 16 = 0)
        |ORDER BY doc_id""".stripMargin,

    // q260: the CSV roundtrip must be lossless (so the good-side
    // rollup equals the parquet originals) and the three planted
    // type-corrupt lines must land in the DLQ group, exactly
    "q260_csv_ingest" ->
      """SELECT * FROM (
        |  SELECT o_orderstatus, count(*) AS n_rows,
        |         round(sum(o_totalprice), 2) AS sum_total,
        |         count(DISTINCT o_orderpriority) AS n_prio,
        |         max(o_orderdate) AS last_order
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'DLQ', 3, NULL, 0, NULL
        |) ORDER BY o_orderstatus""".stripMargin,

    // q237: gzip is lossless and the planted trailer corruption is
    // membership-deterministic — the oracle replays text identity
    // and the DLQ split straight from the documents table
    "q237_gzip_corpus" ->
      """SELECT doc_id,
        |       (doc_id % 10 != 6) AS ok,
        |       CASE WHEN doc_id % 10 != 6 THEN length(text) END AS n_chars,
        |       CASE WHEN doc_id % 10 != 6 THEN md5(text) END AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q224: every frame fingerprint in closed form, candidate
    // offsets from the frame-level quadratic verify, the aligned
    // vote, the majority threshold, and both censuses replayed
    "q224_video_seq_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 32 AS base, doc_id % 32 AS delayed,
        |         CAST(8 + (doc_id // 32) % 5 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 32 IN (0, 1)),
        |fr AS (SELECT d.*, unnest(generate_series(0, n - 1)) AS f FROM d),
        |sfr AS (
        |  SELECT doc_id, base, n, f,
        |         CASE WHEN delayed = 1 THEN greatest(f - 1, 0) ELSE f END AS sf
        |  FROM fr),
        |gys AS (SELECT sfr.*, unnest(generate_series(0, 5)) AS gy FROM sfr),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, n, f, gy, gx,
        |         ((base * 37 + sf * 7 + gy * 11 + gx * 29
        |           + (gx * gy + sf + base) % 13) % 16) * 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, n, f, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)
        |           AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(n) AS n, f,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id, f),
        |keyf AS (SELECT doc_id, n, fp FROM fp WHERE f = n // 2),
        |kp AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM keyf a JOIN keyf c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |ksym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM kp
        |  UNION ALL SELECT idb, ida FROM kp),
        |kn AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_key_nbrs
        |  FROM ksym GROUP BY media_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ma, c.doc_id AS mb, c.f - a.f AS o
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |votes AS (
        |  SELECT cand.ma, cand.mb, cand.o,
        |         CAST(sum(CASE WHEN bit_count(xor(a.fp, c.fp)) <= 2
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS votes
        |  FROM cand
        |  JOIN fp a ON a.doc_id = cand.ma
        |  JOIN fp c ON c.doc_id = cand.mb AND c.f = a.f + cand.o
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT ma, mb, max(votes) AS max_votes FROM votes GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM fp GROUP BY 1),
        |sp AS (
        |  SELECT b.ma, b.mb FROM best b
        |  JOIN lens la ON la.doc_id = b.ma
        |  JOIN lens lb ON lb.doc_id = b.mb
        |  WHERE b.max_votes * 2 >= least(la.len, lb.len) + 1),
        |ssym AS (
        |  SELECT ma AS media_id, mb AS nbr FROM sp
        |  UNION ALL SELECT mb, ma FROM sp),
        |sn AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_seq_nbrs,
        |         min(nbr) AS min_seq_nbr
        |  FROM ssym GROUP BY media_id)
        |SELECT k.doc_id AS media_id, CAST(k.n AS BIGINT) AS n_frames,
        |       COALESCE(kn.n_key_nbrs, 0) AS n_key_nbrs,
        |       COALESCE(sn.n_seq_nbrs, 0) AS n_seq_nbrs,
        |       sn.min_seq_nbr,
        |       (sn.min_seq_nbr IS NULL OR sn.min_seq_nbr > k.doc_id) AS keep
        |FROM keyf k
        |LEFT JOIN kn ON kn.media_id = k.doc_id
        |LEFT JOIN sn ON sn.media_id = k.doc_id
        |ORDER BY media_id""".stripMargin,

    // q240: the WARC fixture is lossless on every wire — record
    // counts, URIs, and text identity replay from documents alone
    "q240_warc_ingest" ->
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_records,
        |       'http://example.com/doc/' || doc_id AS target_uri,
        |       md5(text) AS digest,
        |       length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q241: streamed store ≡ batch parse (deterministic decode +
    // idempotent partitions) — q240's oracle verbatim
    "q241_stream_warc" ->
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_records,
        |       'http://example.com/doc/' || doc_id AS target_uri,
        |       md5(text) AS digest,
        |       length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q243: membership replay — the sampled pair table minus each
    // 4096-id block's last row (no in-block successor); both verdicts
    // must be uniformly true (the measured NCD gap is 0.12 vs 0.55
    // around the 0.3 cut)
    "q243_ncd_verify" ->
      """WITH s AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 16 = 0 AND length(text) >= 50)
        |SELECT doc_id, true AS self_dup, true AS cross_distinct
        |FROM s
        |WHERE doc_id < (SELECT max(s2.doc_id) FROM s s2
        |                WHERE s2.doc_id // 4096 = s.doc_id // 4096)
        |ORDER BY doc_id""".stripMargin,

    // q242: planted tEXt values replay from documents alone
    "q242_image_metadata" ->
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_meta,
        |       'doc ' || doc_id AS title,
        |       COALESCE(lang, '') AS language,
        |       CAST(doc_id % 7 AS VARCHAR) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q238: every frame fingerprint replayed from the planted-shot
    // recipe, then the SAME lag + bit_count rule and aggregation
    "q238_shot_detect" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(12 + (doc_id // 16) % 7 AS BIGINT) AS n,
        |         CAST(2 + (doc_id // 16) % 3 AS BIGINT) AS sl
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, n - 1)) AS f FROM d),
        |sfr AS (SELECT doc_id, base, n, f, f // sl AS s FROM fr),
        |gys AS (SELECT sfr.*, unnest(generate_series(0, 5)) AS gy FROM sfr),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, n, f, gy, gx,
        |         ((base * 37 + s * 7 + gy * 11 + gx * 29
        |           + (gx * gy + s + base) % 13) % 16) * 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, n, f, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)
        |           AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(n) AS n, f,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, n, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, n, f,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged)
        |SELECT doc_id AS media_id, max(n) AS n_frames,
        |       CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
        |       CAST(sum(CASE WHEN ib THEN f END) AS BIGINT) AS boundary_idx_sum,
        |       CAST(max(CASE WHEN ib THEN f END) AS BIGINT) AS last_shot_start
        |FROM marked GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // q239: scene assignment, frame fingerprints, segmentation,
    // shot representatives, the cross-clip pair surface, and the
    // census all replayed from the shared-scene-pool recipe
    "q239_scene_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(5 + (doc_id // 16) % 3 AS BIGINT) AS ns
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, ns * 2 - 1)) AS f FROM d),
        |sfr AS (
        |  SELECT doc_id, base, ns, f,
        |         CASE WHEN (base + f // 2) % 4 = 1
        |              THEN 1000 + base * 8 + f // 2
        |              ELSE (base + f // 2) % 6 END AS sc
        |  FROM fr),
        |gys AS (SELECT sfr.*, unnest(generate_series(0, 5)) AS gy FROM sfr),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, f, gy, gx,
        |         ((sc * 31 + gy * 11 + gx * 29
        |           + (gx * gy + sc) % 13) % 16) * 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, f, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)
        |           AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, f,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, f, fp,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged),
        |shots AS (
        |  SELECT doc_id, fp,
        |         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY f) - 1 AS BIGINT)
        |           AS shot_idx, ib
        |  FROM marked),
        |reps AS (
        |  SELECT doc_id, shot_idx, doc_id * 64 + shot_idx AS uid, fp
        |  FROM shots WHERE ib),
        |pairs AS (
        |  SELECT a.uid AS ua, c.uid AS ub
        |  FROM reps a JOIN reps c ON a.uid < c.uid
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2
        |    AND a.doc_id != c.doc_id),
        |sym AS (
        |  SELECT DISTINCT uid FROM (
        |    SELECT ua AS uid FROM pairs UNION ALL SELECT ub FROM pairs)),
        |shared AS (
        |  SELECT r.doc_id, r.shot_idx FROM reps r JOIN sym ON sym.uid = r.uid),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots
        |  FROM reps GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shots,
        |         max(CASE WHEN shot_idx = 0 THEN 1 ELSE 0 END) AS intro_l
        |  FROM shared GROUP BY doc_id)
        |SELECT tot.doc_id AS media_id, tot.n_shots,
        |       COALESCE(sh.n_shared_shots, 0) AS n_shared_shots,
        |       (COALESCE(sh.intro_l, 0) = 1) AS intro_shared
        |FROM tot LEFT JOIN sh ON sh.doc_id = tot.doc_id
        |ORDER BY media_id""".stripMargin,

    // q250: the MPEG-1 strip-walk keyframe fingerprint in closed form
    // (adjacent-distinct level walk → 10 gradient bits → ×6-row
    // replication constant), then q222's pair + census tail verbatim
    "q250_mpeg_keyframe_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base,
        |         CAST(6 + (doc_id // 4) % 5 AS BIGINT) AS n
        |  FROM documents),
        |k AS (
        |  SELECT d.*, (n + 1) // 2 AS m,
        |         2 * (((n + 1) // 2) // 2) AS kf
        |  FROM d),
        |ks AS (SELECT doc_id, n, m, base * 97 + kf * 31 AS s FROM k),
        |g AS (SELECT ks.*, unnest(generate_series(0, 10)) AS gx FROM ks),
        |dd AS (
        |  SELECT doc_id, n, m, s, gx,
        |         CASE WHEN gx = 0 THEN 0
        |              ELSE (s * (gx + 3) + gx * gx) % 2 END AS dbit
        |  FROM g),
        |lv AS (
        |  SELECT doc_id, n, m, gx,
        |         (s + gx + sum(dbit)
        |            OVER (PARTITION BY doc_id ORDER BY gx)) % 3 AS lev
        |  FROM dd),
        |bt AS (
        |  SELECT doc_id, n, m, gx, lev,
        |         lead(lev) OVER (PARTITION BY doc_id ORDER BY gx) AS nlev
        |  FROM lv),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_frames, max(m) AS n_sampled,
        |         CAST(sum(CASE WHEN gx < 10 AND lev < nlev
        |                  THEN (CAST(1 AS BIGINT) << gx) * 1127000493261825
        |                  ELSE 0 END) AS BIGINT) AS key_fp
        |  FROM bt GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.key_fp, c.key_fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_frames, f.n_sampled, f.key_fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin,

    // q251: per-frame strip-walk fingerprints replayed (shot-keyed
    // walk), then q238's lag + bit_count rule and census verbatim
    "q251_mpeg_shot_detect" -> MpegShotOracleSql,
    // q253: the IDENTICAL closed form — the I+P wire and the luma
    // flicker are fingerprint-invariant by construction
    "q253_mpeg_ipp_shot_detect" -> MpegShotOracleSql,
    // q255: same closed form again on the I/P/B wire — bidirectional
    // prediction and the display reorder are fingerprint-invariant
    "q255_mpeg_b_shot_detect" -> MpegShotOracleSql,

    // q252: scene assignment + scene-keyed strip walk, then q239's
    // segmentation, representative, pair, and census replay verbatim
    "q252_mpeg_scene_dedup" -> MpegSceneOracleSql,
    // q254: q252 replayed on the I+P wire (same invariance argument)
    "q254_mpeg_ipp_scene_dedup" -> MpegSceneOracleSql,
    // q256: q252's closed form on the I/P/B wire
    "q256_mpeg_b_scene_dedup" -> MpegSceneOracleSql,

    // q257: BOTH closed forms joined — the video strip-walk shot
    // census (q251's chain) and the audio staircase energy
    // fingerprint (q246's chain) replayed from the documents table
    "q257_muxed_av_census" -> (MpegShotCtes +
      """,
        |vstats AS (
        |  SELECT doc_id AS media_id, max(n) AS n_frames,
        |         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
        |         CAST(sum(CASE WHEN ib THEN f END) AS BIGINT) AS boundary_idx_sum,
        |         CAST(max(CASE WHEN ib THEN f END) AS BIGINT) AS last_shot_start
        |  FROM marked GROUP BY doc_id),
        |ad AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(200 + (doc_id // 16) % 50 AS BIGINT) AS ns,
        |         (doc_id // 16) % 4 AS variant
        |  FROM documents WHERE doc_id % 16 = 0),
        |ai AS (SELECT ad.*, unnest(generate_series(0, ns - 1)) AS j FROM ad),
        |asamp AS (
        |  SELECT doc_id, ns, j,
        |         400 * (1 + (base * 7 + 3 * ((j * 61) // ns)) % 4)
        |           + (CASE WHEN variant > 0 AND (j * 61) // ns = 56 + variant
        |              THEN 800 ELSE 0 END) AS v
        |  FROM ai),
        |ae AS (
        |  SELECT doc_id, ns, (j * 61) // ns AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM asamp GROUP BY 1, 2, 3),
        |aw AS (
        |  SELECT doc_id, ns, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM ae),
        |afp AS (
        |  SELECT doc_id, max(ns) AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS audio_fp
        |  FROM aw GROUP BY doc_id)
        |SELECT vstats.media_id, vstats.n_frames, vstats.n_shots,
        |       vstats.boundary_idx_sum, vstats.last_shot_start,
        |       afp.audio_fp, afp.n_samples
        |FROM vstats JOIN afp ON afp.doc_id = vstats.media_id
        |ORDER BY media_id""".stripMargin),


    // q225: the rendered template rebuilt turn by turn, the exact
    // render-identity verdicts, and the simhash fingerprints
    // reassembled from md5(token) bits (q13b's rebuild) over the
    // RENDERED token stream — both tiers' keep rules replayed
    "q225_conv_dedup" ->
      """WITH d AS (
        |  SELECT doc_id AS conv_id, lang,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |dd AS (
        |  SELECT * FROM d
        |  UNION ALL
        |  SELECT conv_id + 10000000, lang, toks FROM d WHERE conv_id % 10 = 3),
        |ch AS (
        |  SELECT conv_id, lang, toks,
        |         unnest(range((len(toks) + 6) // 7)) AS i
        |  FROM dd),
        |r AS (
        |  SELECT conv_id, lang,
        |         string_agg(
        |           '<|' || CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END
        |             || '|>'
        |             || array_to_string(
        |                  toks[CAST(i * 7 + 1 AS INT)
        |                       :CAST(least((i + 1) * 7, len(toks)) AS INT)], ' ')
        |             || '<|eot|>', '' ORDER BY i) AS rendered
        |  FROM ch GROUP BY conv_id, lang),
        |ex AS (
        |  SELECT lang, conv_id,
        |         conv_id = min(conv_id) OVER (PARTITION BY rendered) AS keep
        |  FROM r),
        |exa AS (
        |  SELECT 'exact_render' AS method, lang,
        |         CAST(count(*) AS BIGINT) AS n_convs,
        |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM ex GROUP BY lang),
        |toks2 AS (
        |  SELECT conv_id,
        |         unnest(regexp_split_to_array(trim(rendered), '\s+')) AS tok
        |  FROM r),
        |th AS (SELECT conv_id, substring(md5(tok), 1, 15) AS hx FROM toks2),
        |bitsum AS (
        |  SELECT conv_id, b.b,
        |         SUM(CASE WHEN (strpos('0123456789abcdef',
        |                               substring(hx, 15 - b.b // 4, 1)) - 1)
        |                       & (1 << (b.b % 4)) != 0 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) b
        |  GROUP BY conv_id, b.b),
        |fp AS (
        |  SELECT conv_id,
        |         SUM(CASE WHEN s > 0
        |             THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS fp
        |  FROM bitsum GROUP BY conv_id),
        |prs AS (
        |  SELECT a.conv_id AS ia, b.conv_id AS ib
        |  FROM fp a JOIN fp b ON a.conv_id < b.conv_id
        |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
        |mn AS (
        |  SELECT conv_id, min(nbr) AS mn FROM (
        |    SELECT ia AS conv_id, ib AS nbr FROM prs
        |    UNION ALL SELECT ib, ia FROM prs) GROUP BY conv_id),
        |nra AS (
        |  SELECT 'near_simhash' AS method, r.lang,
        |         CAST(count(*) AS BIGINT) AS n_convs,
        |         CAST(sum(CASE WHEN mn.mn IS NULL OR mn.mn > r.conv_id
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM r LEFT JOIN mn ON mn.conv_id = r.conv_id
        |  GROUP BY r.lang)
        |SELECT method, lang, n_convs, n_kept, n_convs - n_kept AS n_removed
        |FROM (SELECT * FROM exa UNION ALL SELECT * FROM nra)
        |ORDER BY method, lang""".stripMargin,

    // q226: both fingerprint families regenerated (the image dHash
    // closed form + the caption simhash md5-bit rebuild), both pair
    // sets, the OR-union, and the per-side + combined censuses
    "q226_crossmodal_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 16 <= 1 THEN doc_id - doc_id % 16
        |              ELSE doc_id END AS base,
        |         doc_id % 4 AS variant
        |  FROM documents),
        |d2 AS (
        |  SELECT doc_id, base, variant,
        |         CAST(16 + base % 5 AS INT) AS w,
        |         CAST(12 + base % 3 AS INT) AS h
        |  FROM d),
        |gys AS (SELECT d2.*, unnest(generate_series(0, 5)) AS gy FROM d2),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, gy, gx,
        |         ((base * 37 + ((gy * h) // 6) * 11 + ((gx * w) // 11) * 29
        |           + (((gx * w) // 11) * ((gy * h) // 6) + base) % 13) % 16) * 2
        |           + (variant * (1 + ((gy * h) // 6) * 5 + ((gx * w) // 11) * 3))
        |             % 3 % 2 AS gray
        |  FROM grid),
        |bb AS (
        |  SELECT doc_id, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS ngray
        |  FROM v),
        |ifp AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |           THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |           ELSE 0 END) AS BIGINT) AS fp
        |  FROM bb GROUP BY doc_id),
        |ip AS (
        |  SELECT a.doc_id AS ia, c.doc_id AS ib
        |  FROM ifp a JOIN ifp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |th AS (SELECT doc_id, substring(md5(tok), 1, 15) AS hx FROM toks),
        |bs AS (
        |  SELECT doc_id, b.b,
        |         SUM(CASE WHEN (strpos('0123456789abcdef',
        |                               substring(hx, 15 - b.b // 4, 1)) - 1)
        |                       & (1 << (b.b % 4)) != 0 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) b
        |  GROUP BY doc_id, b.b),
        |cfp AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN s > 0
        |             THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS fp
        |  FROM bs GROUP BY doc_id),
        |cp AS (
        |  SELECT a.doc_id AS ia, c.doc_id AS ib
        |  FROM cfp a JOIN cfp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |isym AS (SELECT ia AS pair_id, ib AS nbr FROM ip
        |         UNION ALL SELECT ib, ia FROM ip),
        |csym AS (SELECT ia AS pair_id, ib AS nbr FROM cp
        |         UNION ALL SELECT ib, ia FROM cp),
        |asym AS (SELECT DISTINCT pair_id, nbr FROM
        |         (SELECT * FROM isym UNION ALL SELECT * FROM csym)),
        |inn AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_img_nbrs
        |        FROM isym GROUP BY 1),
        |cnn AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_cap_nbrs
        |        FROM csym GROUP BY 1),
        |ann AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_dup_nbrs,
        |               min(nbr) AS min_nbr
        |        FROM asym GROUP BY 1)
        |SELECT dd.doc_id AS pair_id,
        |       COALESCE(inn.n_img_nbrs, 0) AS n_img_nbrs,
        |       COALESCE(cnn.n_cap_nbrs, 0) AS n_cap_nbrs,
        |       COALESCE(ann.n_dup_nbrs, 0) AS n_dup_nbrs,
        |       ann.min_nbr,
        |       (ann.min_nbr IS NULL OR ann.min_nbr > dd.doc_id) AS keep
        |FROM documents dd
        |LEFT JOIN inn ON inn.pair_id = dd.doc_id
        |LEFT JOIN cnn ON cnn.pair_id = dd.doc_id
        |LEFT JOIN ann ON ann.pair_id = dd.doc_id
        |ORDER BY pair_id""".stripMargin,

    // q216: both corrupted strings and every count rebuilt — the
    // md5 coin, sentinel ordinals, and ordered folds all replayed
    "q216_span_corrupt" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id, t, n,
        |         unnest(generate_series(0, (n + 4) // 5 - 1)) AS b
        |  FROM d),
        |c AS (
        |  SELECT doc_id, t, b,
        |         least(n - b * 5, 5) AS block_len,
        |         substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |                    || CAST(b AS VARCHAR)), 1, 2) < '28' AS corrupt
        |  FROM bl),
        |kk AS (
        |  SELECT *, sum(CASE WHEN corrupt THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY doc_id ORDER BY b) - 1 AS k
        |  FROM c),
        |p AS (
        |  SELECT doc_id, b, corrupt, block_len, k,
        |         CASE WHEN corrupt
        |              THEN array_to_string(t[b*5+1 : b*5+3], ' ')
        |              ELSE '' END AS removed,
        |         CASE WHEN corrupt
        |              THEN array_to_string(t[b*5+4 : b*5+5], ' ')
        |              ELSE array_to_string(t[b*5+1 : b*5+5], ' ')
        |              END AS rest
        |  FROM kk),
        |q AS (
        |  SELECT doc_id, b, corrupt, block_len,
        |         CASE WHEN corrupt
        |              THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        |                   || CASE WHEN length(rest) > 0
        |                           THEN ' ' || rest ELSE '' END
        |              ELSE rest END AS in_piece,
        |         CASE WHEN corrupt
        |              THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || removed
        |              END AS tgt_piece
        |  FROM p)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_corrupt_blocks,
        |       CAST(sum(CASE WHEN corrupt THEN least(block_len, 3)
        |                ELSE 0 END) AS BIGINT) AS n_corrupt_toks,
        |       md5(string_agg(in_piece, ' ' ORDER BY b)) AS input_md5,
        |       md5(coalesce(string_agg(tgt_piece, ' ' ORDER BY b), ''))
        |         AS target_md5
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q214: score, ordered argmax/argmin with id ties, margin and
    // singleton filters — the whole pair assembly replayed
    "q214_preference_pairs" ->
      """WITH s AS (
        |  SELECT lang,
        |         len(regexp_split_to_array(trim(text), '\s+')) // 40
        |           AS len_bucket,
        |         doc_id,
        |         len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |           * 1000000
        |           // len(regexp_split_to_array(trim(text), '\s+')) AS ttr_ppm
        |  FROM documents),
        |r AS (
        |  SELECT s.*,
        |         row_number() OVER (PARTITION BY lang, len_bucket
        |                            ORDER BY ttr_ppm DESC, doc_id) AS rb,
        |         row_number() OVER (PARTITION BY lang, len_bucket
        |                            ORDER BY ttr_ppm ASC, doc_id) AS rw,
        |         count(*) OVER (PARTITION BY lang, len_bucket) AS nc
        |  FROM s)
        |SELECT b.lang, CAST(b.len_bucket AS BIGINT) AS len_bucket,
        |       b.doc_id AS chosen_id, CAST(b.ttr_ppm AS BIGINT) AS chosen_score,
        |       w.doc_id AS rejected_id, CAST(w.ttr_ppm AS BIGINT) AS rejected_score,
        |       CAST(b.ttr_ppm - w.ttr_ppm AS BIGINT) AS margin,
        |       CAST(b.nc AS BIGINT) AS n_candidates
        |FROM r b JOIN r w
        |  ON b.lang = w.lang AND b.len_bucket = w.len_bucket
        | AND b.rb = 1 AND w.rw = 1
        |WHERE b.nc >= 2 AND b.ttr_ppm > w.ttr_ppm
        |ORDER BY b.lang, b.len_bucket""".stripMargin,

    // q208b: exact pair counts value-pinned; the 4-sigma estimator
    // contracts are the boolean artifact
    "q208b_kmv_contract" ->
      (s"""WITH $kmvGramCtes,
          |cnt AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
          |itr AS (
          |  SELECT a.source AS src_a, b.source AS src_b,
          |         CAST(count(*) AS BIGINT) AS n_exact_inter
          |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
          |  GROUP BY 1, 2)
          |SELECT ca.source AS src_a, cb.source AS src_b,
          |       coalesce(i.n_exact_inter, 0) AS n_exact_inter,
          |       ca.n + cb.n - coalesce(i.n_exact_inter, 0) AS n_exact_union,
          |       TRUE AS ok
          |FROM cnt ca
          |JOIN cnt cb ON ca.source < cb.source
          |LEFT JOIN itr i ON i.src_a = ca.source AND i.src_b = cb.source
          |ORDER BY src_a, src_b""".stripMargin),

    // q207: exact per-type counts pin completeness (a dropped or
    // doubled micro-batch fails); the rank verdicts are the q178
    // contract booleans
    "q207_stream_sketch_state" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, TRUE AS ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the same edit recipe replayed per version; latest_version pins
    // the snapshot listing
    "q172_time_travel" ->
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        |v1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE c_custkey % 7 <> 0),
        |r AS (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |         sum(c_custkey) AS id_sum,
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents
        |  FROM base
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), count(*), sum(c_custkey),
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) FROM v1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), count(*), sum(c_custkey),
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) FROM v2)
        |SELECT version, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(id_sum AS BIGINT) AS id_sum,
        |       CAST(bal_cents AS BIGINT) AS bal_cents,
        |       CAST(2 AS BIGINT) AS latest_version
        |FROM r ORDER BY version""".stripMargin,

    "q173_skew_report" ->
      """WITH k AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN 'hot'
        |              ELSE event_type END AS key
        |  FROM events),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM k GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS n_keys FROM c)
        |SELECT key, n_rows,
        |       (n_rows * 1000000) // total AS share_ppm,
        |       (n_rows * n_keys + total - 1) // total AS suggested_salts
        |FROM c, t ORDER BY n_rows DESC, key LIMIT 10""".stripMargin,

    // the oracle is the FULL recompute — the hash check is the
    // merged ≡ recomputed incremental-maintenance theorem (q174b: the
    // same theorem under arbitrary micro-batch slicing)
    "q174_mv_merge" -> mvMergeSql,
    "q174b_mv_stream" -> mvMergeSql,
    "q176_calibration" -> classifierOracle("calibration"),
    "q189_threshold_yield" -> classifierOracle("yield"),

    // scopes + exact counts derived from the data; ok expected TRUE
    // (the q45/q66 derived-scope contract form)
    "q178_sketch_rollup" ->
      """SELECT 'week_' || CAST(CAST(date_trunc('week', ts) AS DATE)
        |                       AS VARCHAR) AS scope,
        |       CAST(count(*) AS BIGINT) AS n_rows, TRUE AS ok
        |FROM events WHERE value IS NOT NULL GROUP BY 1
        |UNION ALL
        |SELECT 'total_merged', CAST(count(*) AS BIGINT), TRUE
        |FROM events WHERE value IS NOT NULL
        |ORDER BY scope""".stripMargin,

    // the same full-outer value comparison per consecutive version
    "q177_version_diff" ->
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        |v1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE c_custkey % 7 <> 0),
        |d1 AS (
        |  SELECT CAST(0 AS BIGINT) AS from_version,
        |         CAST(1 AS BIGINT) AS to_version,
        |         CAST(sum(CASE WHEN a.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_added,
        |         CAST(sum(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_removed,
        |         CAST(sum(CASE WHEN a.c_custkey IS NOT NULL
        |                    AND b.c_custkey IS NOT NULL
        |                    AND a.c_acctbal <> b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |         CAST(sum(CASE WHEN a.c_acctbal = b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |  FROM base a FULL OUTER JOIN v1 b USING (c_custkey)),
        |d2 AS (
        |  SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        |         CAST(sum(CASE WHEN a.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         CAST(sum(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         CAST(sum(CASE WHEN a.c_custkey IS NOT NULL
        |                    AND b.c_custkey IS NOT NULL
        |                    AND a.c_acctbal <> b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN a.c_acctbal = b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM v1 a FULL OUTER JOIN v2 b USING (c_custkey))
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2
        |ORDER BY from_version""".stripMargin,

    "q175_pair_lift" ->
      """WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i
        |            FROM events),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
        |it AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM bi GROUP BY 1),
        |p AS (
        |  SELECT a.i AS item_a, b2.i AS item_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab, x.n_i AS n_a, y.n_i AS n_b,
        |       (n_ab * 1000000) // n_baskets AS support_ppm,
        |       (n_ab * 1000000) // x.n_i AS confidence_ppm,
        |       (n_ab * n_baskets * 1000000) // (x.n_i * y.n_i) AS lift_ppm
        |FROM p JOIN it x ON x.i = p.item_a
        |       JOIN it y ON y.i = p.item_b
        |       CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    // the EWMA recursion replayed as a recursive CTE: same first-row
    // seed, same truncating integer division (DuckDB // ≡ Scala Long /)
    "q167_ewma_smooth" ->
      """WITH RECURSIVE h AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hr,
        |         CAST(count(*) AS BIGINT) AS n,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY date_trunc('hour', ts)) AS rn
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT key, hr, n, rn, n * 1000000 AS s FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.key, h.hr, h.n, h.rn, r.s + ((h.n * 1000000 - r.s) // 8)
        |  FROM r JOIN h ON h.key = r.key AND h.rn = r.rn + 1)
        |SELECT key, hr, n, CAST(s AS BIGINT) AS ewma_scaled
        |FROM r ORDER BY key, hr""".stripMargin,

    "q168_seasonal_spikes" -> seasonalSpikesSql,
    "q168b_seasonal_stream" -> seasonalSpikesSql,

    "q198_holt_trend" -> holtTrendSql,
    "q198b_holt_stream" -> holtTrendSql,
    "q199_tokenizer_compare" -> unigramOracle("compare"),

    // search-invariance contract booleans (IVF-ADC itself is not
    // SQL-replayable; the q115 pattern)
    "q200_index_delete" ->
      """SELECT 'compaction_clears_tombstones' AS metric, TRUE AS ok
        |UNION ALL SELECT 'compaction_excises_rows_physically', TRUE
        |UNION ALL SELECT 'compaction_preserves_search', TRUE
        |UNION ALL SELECT 'deleted_search_equals_build_without', TRUE
        |UNION ALL SELECT 'no_deleted_id_surfaces', TRUE
        |ORDER BY metric""".stripMargin,

    // the q187 audit chain + the Pareto decision layer: dominance via
    // NOT EXISTS over the 4-row summary, recommendation by best
    // tokens-per-doc-removed ratio (ties on method name)
    "q201_dedup_recommend" ->
      s"""WITH RECURSIVE $dedupEfficacyCtes,
         |inp AS (SELECT n_docs AS in_docs, tok_sum AS in_toks
         |        FROM eff WHERE method = '0_input'),
         |dm AS (
         |  SELECT method, n_docs, tok_sum,
         |         in_docs - n_docs AS docs_removed,
         |         in_toks - tok_sum AS toks_removed
         |  FROM eff, inp WHERE method <> '0_input'),
         |pf AS (
         |  SELECT a.*,
         |         NOT EXISTS (SELECT 1 FROM dm b WHERE b.method <> a.method
         |           AND b.toks_removed >= a.toks_removed
         |           AND b.docs_removed <= a.docs_removed
         |           AND (b.toks_removed > a.toks_removed
         |                OR b.docs_removed < a.docs_removed))
         |           AS pareto_efficient
         |  FROM dm a),
         |rec AS (
         |  SELECT method AS rec_method FROM pf WHERE pareto_efficient
         |  ORDER BY toks_removed * 1000000 // (docs_removed + 1) DESC, method
         |  LIMIT 1)
         |SELECT pf.method, n_docs, tok_sum, docs_removed, toks_removed,
         |       CAST(toks_removed * 1000000 // (docs_removed + 1) AS BIGINT)
         |         AS toks_per_doc_removed_ppm,
         |       pareto_efficient,
         |       (pf.method = rec_method) AS recommended
         |FROM pf, rec ORDER BY pf.method""".stripMargin,

    // q202: the oracle regenerates luma ONLY at the 11x6 sampled grid
    // positions of the synth recipe (b=g=r=v makes gray = v exactly),
    // packs the 60 gradient bits with shifts, then takes the
    // quadratic bit_count(xor) <= 3 pairs — the Spark side must
    // recover identical fingerprints by PARSING THE ENCODED BMPs and
    // identical pairs through the banded pigeonhole join.
    "q202_image_neardup" -> imageNearDupSql,

    // q209 rebuilds the same census from the stream-maintained
    // fingerprint index — streamed ingest ≡ batch decode, one oracle
    "q209_stream_image_index" -> imageNearDupSql,


    "q203_sq_adc" ->
      """SELECT 'sq_adc_recall_at_10_ge_0.8' AS metric, TRUE AS ok
        |UNION ALL SELECT 'sq_recon_error_le_half_code_step', TRUE
        |ORDER BY metric""".stripMargin,

    // water-filling closed form: ascending-cap order, multiplied-through
    // cap predicate (exact longs), running-AND capped prefix, equal
    // truncating share for the uncapped remainder
    "q169_unimax_alloc" ->
      """WITH d AS (
        |  SELECT CASE WHEN doc_id % 20 = 0 THEN 'rare' ELSE lang END AS grp,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS tc
        |  FROM documents),
        |g AS (
        |  SELECT grp, CAST(sum(tc) AS BIGINT) AS n_tokens,
        |         CAST(sum(tc) * 2 AS BIGINT) AS cap_tokens
        |  FROM d GROUP BY 1),
        |b AS (SELECT CAST((sum(tc) * 18) // 10 AS BIGINT) AS bud FROM d),
        |w AS (
        |  SELECT g.*, bud,
        |         count(*) OVER ()
        |           - row_number() OVER (ORDER BY cap_tokens, grp) + 1 AS m,
        |         coalesce(sum(cap_tokens)
        |           OVER (ORDER BY cap_tokens, grp
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS cumb
        |  FROM g, b),
        |o AS (SELECT *, CASE WHEN cap_tokens * m <= bud - cumb
        |                     THEN 1 ELSE 0 END AS ok FROM w),
        |cp AS (
        |  SELECT *, min(ok) OVER (ORDER BY cap_tokens, grp
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |           AS capped
        |  FROM o),
        |f AS (
        |  SELECT *,
        |         coalesce(sum(CASE WHEN capped THEN cap_tokens END)
        |                  OVER (), 0) AS granted,
        |         sum(CASE WHEN capped THEN 0 ELSE 1 END) OVER () AS nu
        |  FROM cp)
        |SELECT grp, n_tokens, cap_tokens, capped,
        |       CAST(CASE WHEN capped THEN cap_tokens
        |                 ELSE (bud - granted) // nu END AS BIGINT)
        |         AS alloc_tokens
        |FROM f ORDER BY grp""".stripMargin,

    // matching + recursive closure + survivorship anti-join: the
    // golden table keeps singletons and each cluster's min key
    "q161_golden_record" -> goldenRecordSql,
    "q161b_golden_stream" -> goldenRecordSql,

    // exact-Jaccard edges, a<b<c oriented two-path + EXISTS closure —
    // each triangle once; coefficient = one rounded division
    "q159_triangle_audit" ->
      s"""WITH $jaccardPairsCtes,
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
         |t0 AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b
         |  WHERE EXISTS (SELECT 1 FROM e e3
         |                WHERE e3.a = e1.a AND e3.b = e2.b)),
         |tn AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
         |         SELECT a AS id FROM t0
         |         UNION ALL SELECT b FROM t0
         |         UNION ALL SELECT c FROM t0)
         |       GROUP BY 1),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |         SELECT a AS id FROM e UNION ALL SELECT b FROM e)
         |       GROUP BY 1)
         |SELECT dg.id, dg.deg, coalesce(tn.triangles, 0) AS triangles,
         |       CASE WHEN dg.deg >= 2
         |            THEN round(2.0 * coalesce(tn.triangles, 0)
         |                       / (dg.deg * (dg.deg - 1)), 6)
         |            ELSE 0.0 END AS clustering_coeff
         |FROM dg LEFT JOIN tn USING (id) ORDER BY dg.id""".stripMargin,

    "q136_bm25_search" -> (bm25OracleCtes +
      """
        |SELECT query_id, rank, doc_id, score FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // q204 serves the SAME retrieval from the stream-maintained
    // inverted index — index-served ≡ from-text, one oracle
    "q204_stream_bm25_index" -> (bm25OracleCtes +
      """
        |SELECT query_id, rank, doc_id, score FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // q205: ALL FIVE MMR greedy stages unrolled — per stage, the
    // remaining set (NOT EXISTS vs selected), max-sim-to-selected,
    // and the scaled-long argmax with lower-id ties
    "q205_mmr_rerank" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |sc AS (
        |  SELECT q.query_id, e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.qv AS DOUBLE[])), 6) AS cs
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |cand AS (
        |  SELECT query_id, vec_id, CAST(round(cs * 1000000) AS BIGINT) AS rel
        |  FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY cs DESC, vec_id) <= 20),
        |cv AS (
        |  SELECT c.query_id, c.vec_id, e.embedding
        |  FROM cand c JOIN embeddings e USING (vec_id)),
        |sim AS (
        |  SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
        |         CAST(round(round(list_cosine_similarity(
        |             CAST(a.embedding AS DOUBLE[]),
        |             CAST(b.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT) AS s
        |  FROM cv a JOIN cv b
        |    ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
        |s1 AS (
        |  SELECT query_id, vec_id AS sel, 7 * rel AS score FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY 7 * rel DESC, vec_id) = 1),
        |sel1 AS (SELECT query_id, sel FROM s1),
        |r2 AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM sel1 p
        |    WHERE p.query_id = c.query_id AND p.sel = c.vec_id)),
        |m2 AS (
        |  SELECT r.query_id, r.vec_id, r.rel, max(s.s) AS ms
        |  FROM r2 r
        |  JOIN sel1 p ON p.query_id = r.query_id
        |  JOIN sim s ON s.query_id = r.query_id
        |   AND s.id_a = r.vec_id AND s.id_b = p.sel
        |  GROUP BY 1, 2, 3),
        |s2 AS (
        |  SELECT query_id, vec_id AS sel, 7 * rel - 3 * ms AS score FROM m2
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY 7 * rel - 3 * ms DESC, vec_id) = 1),
        |sel2 AS (SELECT * FROM sel1 UNION ALL SELECT query_id, sel FROM s2),
        |r3 AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM sel2 p
        |    WHERE p.query_id = c.query_id AND p.sel = c.vec_id)),
        |m3 AS (
        |  SELECT r.query_id, r.vec_id, r.rel, max(s.s) AS ms
        |  FROM r3 r
        |  JOIN sel2 p ON p.query_id = r.query_id
        |  JOIN sim s ON s.query_id = r.query_id
        |   AND s.id_a = r.vec_id AND s.id_b = p.sel
        |  GROUP BY 1, 2, 3),
        |s3 AS (
        |  SELECT query_id, vec_id AS sel, 7 * rel - 3 * ms AS score FROM m3
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY 7 * rel - 3 * ms DESC, vec_id) = 1),
        |sel3 AS (SELECT * FROM sel2 UNION ALL SELECT query_id, sel FROM s3),
        |r4 AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM sel3 p
        |    WHERE p.query_id = c.query_id AND p.sel = c.vec_id)),
        |m4 AS (
        |  SELECT r.query_id, r.vec_id, r.rel, max(s.s) AS ms
        |  FROM r4 r
        |  JOIN sel3 p ON p.query_id = r.query_id
        |  JOIN sim s ON s.query_id = r.query_id
        |   AND s.id_a = r.vec_id AND s.id_b = p.sel
        |  GROUP BY 1, 2, 3),
        |s4 AS (
        |  SELECT query_id, vec_id AS sel, 7 * rel - 3 * ms AS score FROM m4
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY 7 * rel - 3 * ms DESC, vec_id) = 1),
        |sel4 AS (SELECT * FROM sel3 UNION ALL SELECT query_id, sel FROM s4),
        |r5 AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM sel4 p
        |    WHERE p.query_id = c.query_id AND p.sel = c.vec_id)),
        |m5 AS (
        |  SELECT r.query_id, r.vec_id, r.rel, max(s.s) AS ms
        |  FROM r5 r
        |  JOIN sel4 p ON p.query_id = r.query_id
        |  JOIN sim s ON s.query_id = r.query_id
        |   AND s.id_a = r.vec_id AND s.id_b = p.sel
        |  GROUP BY 1, 2, 3),
        |s5 AS (
        |  SELECT query_id, vec_id AS sel, 7 * rel - 3 * ms AS score FROM m5
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY 7 * rel - 3 * ms DESC, vec_id) = 1)
        |SELECT query_id, CAST(rank AS INT) AS rank, sel AS vec_id,
        |       score AS mmr_scaled
        |FROM (
        |  SELECT query_id, 1 AS rank, sel, score FROM s1
        |  UNION ALL SELECT query_id, 2, sel, score FROM s2
        |  UNION ALL SELECT query_id, 3, sel, score FROM s3
        |  UNION ALL SELECT query_id, 4, sel, score FROM s4
        |  UNION ALL SELECT query_id, 5, sel, score FROM s5)
        |ORDER BY query_id, rank""".stripMargin,

    // both BM25 passes + the integer expansion replayed: feedback
    // docs from pass-1 ranks, new-term counts with an anti-join
    // against the original terms, the df≤N/2 guard, (cnt desc, term)
    // top-3, then the second chain over q ∪ expansion
    "q157_prf_search" -> (bm25OracleCtes +
      s""",
         |fb AS (SELECT query_id, doc_id FROM rk WHERE rank <= 5),
         |cand AS (
         |  SELECT f.query_id, tk.term, CAST(count(*) AS BIGINT) AS cnt
         |  FROM fb f
         |  JOIN (SELECT doc_id, unnest(t) AS term FROM tok) tk
         |    USING (doc_id)
         |  LEFT JOIN q qq ON qq.query_id = f.query_id AND qq.term = tk.term
         |  WHERE qq.term IS NULL
         |  GROUP BY 1, 2),
         |cdf AS (
         |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df2
         |  FROM (SELECT doc_id, unnest(t) AS term FROM tok)
         |  WHERE term IN (SELECT DISTINCT term FROM cand) GROUP BY 1),
         |exp AS (
         |  SELECT query_id, term FROM (
         |    SELECT c.query_id, c.term,
         |           row_number() OVER (PARTITION BY c.query_id
         |                              ORDER BY c.cnt DESC, c.term) AS r
         |    FROM cand c JOIN cdf ON cdf.term = c.term CROSS JOIN st
         |    WHERE 2 * cdf.df2 <= st.n)
         |  WHERE r <= 3),
         |q2 AS (SELECT query_id, term FROM q
         |       UNION SELECT query_id, term FROM exp),
         |${bm25PassSql("q2", "p2")}
         |SELECT query_id, rank, doc_id, score FROM p2rk
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // retriever + qrel rule + metrics replayed: relevance = doc holds
    // ≥2 distinct query terms; DCG terms rounded then DECIMAL-summed
    // (order-free) exactly as the engine computes them
    "q158_retrieval_eval" -> (bm25OracleCtes +
      """,
        |dtk AS (
        |  SELECT doc_id,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS dt
        |  FROM documents),
        |qr0 AS (
        |  SELECT q.query_id, dtk.doc_id, count(*) AS hits
        |  FROM q JOIN dtk ON list_contains(dtk.dt, q.term) GROUP BY 1, 2),
        |qr AS (SELECT query_id, doc_id FROM qr0 WHERE hits >= 2),
        |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |       FROM qr GROUP BY 1),
        |top AS (
        |  SELECT r.query_id, r.rank, (qr.doc_id IS NOT NULL) AS rel
        |  FROM rk r LEFT JOIN qr
        |    ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
        |  WHERE r.rank <= 10),
        |pq AS (
        |  SELECT query_id,
        |         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
        |           AS rel_in_topk,
        |         min(CASE WHEN rel THEN rank END) AS frr,
        |         sum(CASE WHEN rel THEN
        |               CAST(round(1.0 / (ln(rank + 1.0) / ln(2.0)), 6)
        |                    AS DECIMAL(18,6)) END) AS dcg
        |  FROM top GROUP BY 1),
        |id0 AS (SELECT query_id, unnest(range(1, least(n_rel, 10) + 1)) AS r
        |        FROM nr WHERE n_rel >= 1),
        |idl AS (SELECT query_id,
        |               sum(CAST(round(1.0 / (ln(r + 1.0) / ln(2.0)), 6)
        |                        AS DECIMAL(18,6))) AS idcg
        |        FROM id0 GROUP BY 1)
        |SELECT nr.query_id, nr.n_rel,
        |       coalesce(pq.rel_in_topk, 0) AS rel_in_topk,
        |       round(coalesce(pq.rel_in_topk, 0)
        |             / CAST(nr.n_rel AS DOUBLE), 6) AS recall_at_k,
        |       round(coalesce(1.0 / pq.frr, 0.0), 6) AS mrr,
        |       round(coalesce(CAST(pq.dcg AS DOUBLE)
        |             / CAST(idl.idcg AS DOUBLE), 0.0), 6) AS ndcg
        |FROM nr LEFT JOIN pq USING (query_id) LEFT JOIN idl USING (query_id)
        |ORDER BY nr.query_id""".stripMargin),


    "q138_rag_retrieval" ->
      """WITH q(query_id, term) AS (
        |  VALUES ('disc', 'vector'), ('disc', 'spark'),
        |         ('stop', 'the'), ('stop', 'a'),
        |         ('mixed', 'merge'), ('mixed', 'window'), ('mixed', 'customer')),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 32 THEN 1
        |              ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM n),
        |ch AS (
        |  SELECT doc_id * 1000 + chunk_id AS cid,
        |         toks[chunk_id*24 + 1 : chunk_id*24 + 32] AS ct
        |  FROM c),
        |dl AS (SELECT cid, CAST(len(ct) AS BIGINT) AS dl FROM ch),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        |tf AS (
        |  SELECT cid, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT cid, unnest(ct) AS term FROM ch)
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT q.query_id, tf.cid,
        |         round(sum(
        |           ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
        |           (tf.tf * (1.2 + 1.0)) /
        |           (tf.tf + 1.2 * (1.0 - 0.75
        |                           + 0.75 * dl.dl / (CAST(st.sdl AS DOUBLE) / st.n)))
        |         ), 4) AS score
        |  FROM tf JOIN q USING (term) JOIN df USING (term)
        |  JOIN dl ON dl.cid = tf.cid CROSS JOIN st
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, cid, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, cid) AS INT) AS rank
        |  FROM sc)
        |SELECT query_id, rank, CAST(cid // 1000 AS BIGINT) AS doc_id,
        |       CAST(cid % 1000 AS INT) AS chunk_id, score,
        |       md5(array_to_string(ch.ct, ' ')) AS chunk_md5
        |FROM rk JOIN ch USING (cid)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q137_hybrid_retrieval" -> (bm25OracleCtes +
      """,
        |seeds(query_id, seed_id) AS (
        |  VALUES ('disc', 7), ('stop', 11), ('mixed', 23)),
        |cq AS (
        |  SELECT s.query_id, s.seed_id, e.embedding AS qv
        |  FROM seeds s JOIN embeddings e ON e.vec_id = s.seed_id),
        |cs AS (
        |  SELECT cq.query_id, e.vec_id AS doc_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(cq.qv AS DOUBLE[])), 6) AS cs
        |  FROM embeddings e JOIN cq ON e.vec_id != cq.seed_id),
        |crk AS (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cs DESC, doc_id) AS INT) AS rank
        |  FROM cs),
        |bmr AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 50),
        |cr AS (SELECT query_id, doc_id, rank FROM crk WHERE rank <= 50),
        |fu AS (
        |  SELECT coalesce(b.query_id, c.query_id) AS query_id,
        |         coalesce(b.doc_id, c.doc_id) AS doc_id,
        |         round(coalesce(CAST(1 AS DOUBLE) / (60 + b.rank), 0)
        |             + coalesce(CAST(1 AS DOUBLE) / (60 + c.rank), 0), 6) AS rrf
        |  FROM bmr b FULL OUTER JOIN cr c
        |    ON b.query_id = c.query_id AND b.doc_id = c.doc_id),
        |frk AS (
        |  SELECT query_id, doc_id, rrf,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY rrf DESC, doc_id) AS INT) AS rank
        |  FROM fu)
        |SELECT query_id, rank, doc_id, rrf FROM frk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    "q135_split_leakage" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 40 = 0),
        |d AS (
        |  SELECT doc_id, md5(text) AS fp,
        |         CASE WHEN strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
        |              + strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
        |              + strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) < 3277
        |              THEN 'train' ELSE 'holdout' END AS split
        |  FROM docs2),
        |cl AS (
        |  SELECT fp, count(*) AS n_docs,
        |         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
        |         sum(CASE WHEN split = 'holdout' THEN 1 ELSE 0 END) AS n_holdout,
        |         sum(doc_id) AS id_sum
        |  FROM d GROUP BY 1)
        |SELECT CASE WHEN n_train > 0 AND n_holdout > 0 THEN 'leaking'
        |            WHEN n_docs > 1 THEN 'dup_within_split'
        |            ELSE 'unique' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |       CAST(sum(n_train) AS BIGINT) AS n_train,
        |       CAST(sum(n_holdout) AS BIGINT) AS n_holdout,
        |       CAST(sum(id_sum) AS BIGINT) AS id_sum
        |FROM cl GROUP BY 1 ORDER BY status""".stripMargin,

    "q134_k_anonymity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |       CAST(floor(value / 100.0) AS BIGINT) AS value_band,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       count(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY event_type, day, value_band""".stripMargin,

    "q134b_k_anonymity_enforce" ->
      """WITH c AS (
        |  SELECT event_id, event_type,
        |         count(*) OVER (PARTITION BY event_type, CAST(ts AS DATE),
        |                        CAST(floor(value / 100.0) AS BIGINT)) AS cs
        |  FROM events),
        |kept AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |         CAST(sum(event_id) AS BIGINT) AS kept_id_sum
        |  FROM c WHERE cs >= 5 GROUP BY 1),
        |allr AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1)
        |SELECT a.event_type, a.n_rows,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       a.n_rows - coalesce(k.n_kept, 0) AS n_suppressed,
        |       coalesce(k.kept_id_sum, 0) AS kept_id_sum
        |FROM allr a LEFT JOIN kept k USING (event_type)
        |ORDER BY a.event_type""".stripMargin,

    "q130_corpus_datasheet" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks,
        |         md5(text) AS fp
        |  FROM documents),
        |b AS (SELECT doc_id, lang, len(toks) AS n, fp FROM t),
        |m AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n) AS BIGINT) AS n_tokens,
        |         round(quantile_cont(n, 0.5), 4) AS p50_tokens,
        |         round(quantile_cont(n, 0.9), 4) AS p90_tokens
        |  FROM b GROUP BY 1),
        |fpc AS (SELECT lang, fp, count(*) AS c FROM b GROUP BY 1, 2),
        |d AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct_texts,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS n_dup_docs
        |  FROM fpc GROUP BY 1),
        |v AS (
        |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
        |  FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY 1)
        |SELECT m.lang, n_docs, n_tokens, p50_tokens, p90_tokens,
        |       n_distinct_texts, n_dup_docs, vocab_size
        |FROM m JOIN d USING (lang) JOIN v USING (lang)
        |ORDER BY lang""".stripMargin,
    "q127_tokenizer_fertility" -> bpeMergesOracle("fertility"),

    "q128_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv, label AS qlab
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id, e.label != q.qlab AS is_neg,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, is_neg, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id, is_neg
        |              ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, CASE WHEN is_neg THEN 'neg' ELSE 'pos' END AS role,
        |       rank, vec_id, cos_sim
        |FROM ranked
        |WHERE (is_neg AND rank <= 5) OR (NOT is_neg AND rank = 1)
        |ORDER BY query_id, role, rank""".stripMargin,

    "q32b_sketch_bounds" ->
      """SELECT 'ApproxCountDistinct_l_orderkey_within_5pct' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'ApproxQuantile_0.5_l_extendedprice_rank_within_2.5pct', TRUE
        |ORDER BY metric""".stripMargin,

    "q32c_kll_bounds" ->
      """SELECT 'KLL_q50_l_extendedprice_rank_within_2.5pct' AS metric, TRUE AS ok
        |UNION ALL
        |SELECT 'KLL_q95_l_extendedprice_rank_within_2.5pct', TRUE
        |ORDER BY metric""".stripMargin,

    "q45_group_quantiles" ->
      """SELECT DISTINCT l_returnflag, TRUE AS ok
        |FROM lineitem ORDER BY l_returnflag""".stripMargin,

    "q46_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
        |         + strpos('123456789abcdef',
        |                  substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
        |         + strpos('123456789abcdef',
        |                   substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 3277 THEN 'train'
        |            WHEN bucket < 3687 THEN 'val'
        |            ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q47_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens AS start_offset
        |  FROM t)
        |SELECT source, CAST(start_offset // 512 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |       CAST(min(start_offset) AS BIGINT) AS bin_start
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q49_quota_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 15),
        |                    doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 8
        |ORDER BY lang, doc_id""".stripMargin,

    "q48_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |                        FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)]) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM sh c JOIN bench b
        |    ON c.doc_id != b.bench_id AND len(list_intersect(c.s, b.s)) > 0),
        |flagged AS (
        |  SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
        |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |SELECT contaminated,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_dedup_agg_path" ->
      """WITH dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY l_orderkey
        |      ORDER BY l_shipdate DESC, l_linenumber DESC,
        |               l_partkey DESC, l_suppkey DESC) AS rn
        |    FROM lineitem) WHERE rn = 1)
        |SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM dedup
        |WHERE l_orderkey IS NOT NULL
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q31_sql_star" ->
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q17_validate_events" -> validateEventsOracle,
    "q19_stream_validate" -> validateEventsOracle,

    "q19b_stateful_edges" ->
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |         lag(value) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, value FROM w
        |WHERE value > 200.0 AND (prev IS NULL OR prev <= 200.0)
        |ORDER BY event_id""".stripMargin,

    // same semantics, same oracle — q19c runs it on transformWithState
    "q19c_stateful_tws" ->
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |         lag(value) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, value FROM w
        |WHERE value > 200.0 AND (prev IS NULL OR prev <= 200.0)
        |ORDER BY event_id""".stripMargin,

    "q18_window_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q18b_window_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts)
        |         - to_minutes(15 * CAST(k.k AS INT)) AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    "q18c_window_stream" ->
      """WITH wm AS (
        |  SELECT max(make_timestamp(epoch_ns(ts) // 1000))
        |           - INTERVAL 10 MINUTE AS w
        |  FROM events)
        |SELECT * FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - to_minutes(15 * CAST(k.k AS INT)) AS window_start,
        |         event_type,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         round(sum(value), 2) AS sum_value
        |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
        |  GROUP BY window_start, event_type)
        |WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |ORDER BY window_start, event_type""".stripMargin,

    "q20_props_json" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 97 = 0 THEN 'not-json' ELSE props END AS props
        |  FROM events),
        |parsed AS (
        |  SELECT event_type,
        |         CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INT) AS k
        |  FROM ev)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |       CAST(sum(k) AS BIGINT) AS sum_k
        |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q21_sim_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos_sim, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q22_cosine_neardup" ->
      """WITH bounded AS (SELECT * FROM embeddings WHERE vec_id < 800)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM bounded a JOIN bounded b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q22b_srp_neardup" ->
      """WITH twins AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |         CAST(list_transform(CAST(embedding AS DOUBLE[]),
        |                             x -> x + 0.001 * x * x) AS FLOAT[]) AS embedding
        |  FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM twins)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    "q25_multimodal_decode" -> multimodalDecodeOracle,

    "q24_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       sha256(text) AS sha256
        |FROM documents ORDER BY media_id""".stripMargin,

    "q26_monthly_report" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q27_dq_check_results" ->
      """WITH m AS (
        |  SELECT count(*) AS n,
        |         CAST(count(l_orderkey) AS DOUBLE) / count(*) AS compl_o,
        |         CAST(sum(CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity > 0)
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS cv_q_bad,
        |         CAST(sum(CASE WHEN NOT (l_discount IS NOT NULL AND l_discount <= 0.05)
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS cv_d_bad,
        |         CAST(count(l_extendedprice) AS DOUBLE) / count(*) AS compl_e
        |  FROM lineitem),
        |u AS (
        |  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / sum(c)
        |           AS uniq_v
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)),
        |rows_ AS (
        |  SELECT 'IsComplete l_orderkey' AS constraint,
        |         compl_o = 1.0 AS ok, compl_o AS val FROM m, u
        |  UNION ALL SELECT 'ColumnValues l_quantity gt_0',
        |         cv_q_bad = 0, cv_q_bad FROM m, u
        |  UNION ALL SELECT 'ColumnValues l_discount le_005',
        |         cv_d_bad = 0, cv_d_bad FROM m, u
        |  UNION ALL SELECT 'RowCount between 50 and 10000000',
        |         n BETWEEN 50 AND 10000000, CAST(n AS DOUBLE) FROM m, u
        |  UNION ALL SELECT 'Completeness l_extendedprice > 0.95',
        |         compl_e > 0.95, compl_e FROM m, u
        |  UNION ALL SELECT 'Uniqueness l_orderkey > 0.99',
        |         uniq_v > 0.99, uniq_v FROM m, u),
        |overall AS (SELECT CASE WHEN bool_and(ok) THEN 'Success' ELSE 'Error' END AS st
        |            FROM rows_)
        |SELECT 'DataQualityCheck' AS check, 'Error' AS check_level,
        |       overall.st AS check_status, rows_.constraint,
        |       CASE WHEN rows_.ok THEN 'Success' ELSE 'Failure' END AS constraint_status,
        |       CASE WHEN rows_.ok THEN ''
        |            ELSE printf('observed=%.4f', rows_.val) END AS constraint_message
        |FROM rows_, overall ORDER BY rows_.constraint""".stripMargin,

    "q28_anti_join" ->
      """-- NOT EXISTS (not NOT IN): l_orderkey is non-NULL here, but the
        |-- NULL-safe form is the template (NOT IN + one NULL = no rows)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q29_outer_join" ->
      """WITH rev AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN rev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_items,
        |       round(sum(coalesce(rev, 0.0)), 2) AS revenue
        |FROM orders LEFT JOIN rev USING (o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q30_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)

  /** ByteHistogram's byte histogram in SQL: UTF-8 bytes via one hex() of
    * the whole blob, each byte's value from two hex-digit lookups
    * (strpos over '123456789abcdef' maps '0'→0 … 'f'→15). The final
    * select LEFT JOINs the per-byte aggregation back onto documents so
    * an empty/null payload — which unnest(range(0)) would silently
    * drop — still yields a row with n_bytes = 0 and an all-zero
    * histogram, matching the Spark side.
    */
  /** Oracle for q145: the synth page shell + the exact
    * [[graft.ext.Text.htmlToText]] regex chain, replayed in SQL
    * (DuckDB needs the explicit 'g' flag where Spark's
    * `regexp_replace` is always global). Built programmatically so
    * the nesting stays readable.
    */
  private def htmlSynthSql: String = htmlSynthSqlWith("text")

  private def htmlSynthSqlWith(content: String): String =
    s"""'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |'</title><style>p { color: red; }</style></head><body>' ||
      |'<nav>home about contact</nav><!-- rev ' || CAST(doc_id AS VARCHAR) ||
      |' --><p>' || $content || '</p>' ||
      |'<script>if (1 < 2 && 3 > 0) { x = "y"; }</script>' ||
      |'<p>Tom &amp; Jerry say &quot;hi&quot;, 1 &lt; 2, &#39;q&#39;, ' ||
      |'A&nbsp;B, raw &amp;lt; stays</p>' ||
      |'<footer>(c) example corp</footer></body></html>'""".stripMargin

  /** The [[graft.ext.Text.htmlToText]] regex chain around `inner`, in
    * DuckDB SQL (explicit 'g' flags where Spark's `regexp_replace` is
    * always global).
    */
  private def htmlChainSql(inner: String): String = {
    var e = inner
    for (t <- Seq("script", "style", "head", "nav", "footer", "aside"))
      e = s"regexp_replace($e, '(?is)<$t\\b[^>]*>.*?</$t>', ' ', 'g')"
    e = s"regexp_replace($e, '(?s)<!--.*?-->', ' ', 'g')"
    e = s"regexp_replace($e, '(?s)<[^>]+>', ' ', 'g')"
    for ((pat, rep) <- Seq(
        "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&"))
      e = s"regexp_replace($e, '$pat', '$rep', 'g')"
    s"trim(regexp_replace($e, '\\s+', ' ', 'g'))"
  }

  private def htmlExtractOracle: String = {
    val e = htmlChainSql("html")
    s"""WITH pages AS (
       |  SELECT doc_id, $htmlSynthSql AS html FROM documents)
       |SELECT doc_id, $e AS extracted,
       |       CAST(len($e) AS BIGINT) AS n_chars
       |FROM pages ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q147: the full funnel replayed stage by stage —
    * extract (shared chain), blocklist threshold, length + type-token
    * gate, fingerprint dedup — each stage reporting (docs, id sum,
    * token sum).
    */
  /** The planted-failure-class content CASE shared by the q147-family
    * oracles (must mirror [[webFunnelPages]] exactly).
    */
  private def webFunnelContentSql: String =
    """CASE WHEN doc_id % 10 = 0
      |  THEN 'limited offer from our partner store click here to claim your reward today'
      |  WHEN doc_id % 10 = 5 THEN trim(repeat('buy ', 80))
      |  ELSE text END""".stripMargin

  private def webFunnelOracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    val stage = "SELECT stage, CAST(n_docs AS BIGINT) AS n_docs, " +
      "CAST(id_sum AS BIGINT) AS id_sum, CAST(tok_sum AS BIGINT) AS tok_sum"
    def row(name: String, rel: String): String =
      s"""SELECT '$name' AS stage, count(*) AS n_docs, sum(doc_id) AS id_sum,
         |       sum(len($toks)) AS tok_sum FROM $rel""".stripMargin
    s"""WITH pages AS (
       |  SELECT doc_id, ${htmlChainSql(htmlSynthSqlWith(s"($webFunnelContentSql)"))} AS text
       |  FROM documents),
       |s1 AS (
       |  SELECT * FROM pages
       |  WHERE len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |        t -> t IN ('merge', 'slow'))) < 4),
       |s2 AS (
       |  SELECT * FROM s1
       |  WHERE len($toks) >= 20
       |    AND len(list_distinct($toks)) / CAST(len($toks) AS DOUBLE) > 0.2),
       |s3 AS (
       |  SELECT doc_id, text FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |      ORDER BY doc_id) AS rn FROM s2) WHERE rn = 1),
       |r AS (
       |  ${row("0_extract", "pages")}
       |  UNION ALL ${row("1_blocklist", "s1")}
       |  UNION ALL ${row("2_quality", "s2")}
       |  UNION ALL ${row("3_exact_dedup", "s3")})
       |$stage FROM r ORDER BY stage""".stripMargin
  }

  /** Oracle for q152: every funnel stage's per-doc predicate replayed
    * — blocklist hit count, length + type-token gate, min-survivor-id
    * per fingerprint class — then the first-failing-stage CASE. The
    * dedup rule here (window min over survivors) and q147's
    * (row_number = 1) are deliberately different formulations of the
    * same keep rule, so agreement is a genuine two-way check.
    */
  private def funnelAuditOracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH pages AS (
       |  SELECT doc_id, ${htmlChainSql(htmlSynthSqlWith(s"($webFunnelContentSql)"))} AS text
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, text,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |        t -> t IN ('merge', 'slow'))) < 4 AS pass_blocklist,
       |    len($toks) >= 20
       |      AND len(list_distinct($toks)) / CAST(len($toks) AS DOUBLE) > 0.2
       |      AS pass_quality
       |  FROM pages),
       |g AS (
       |  SELECT *,
       |    min(CASE WHEN pass_blocklist AND pass_quality THEN doc_id END)
       |      OVER (PARTITION BY
       |              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
       |      AS canon_id
       |  FROM f)
       |SELECT doc_id, pass_blocklist, pass_quality,
       |  CASE WHEN NOT pass_blocklist THEN '1_blocklist'
       |       WHEN NOT pass_quality THEN '2_quality'
       |       WHEN doc_id <> canon_id THEN '3_duplicate'
       |       ELSE 'kept' END AS verdict
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** Shared by q143 (batch DLQ audit) and q143b (the streaming
    * dual-write whose good ∪ DLQ union must reassemble it exactly).
    */
  private def mediaDlqOracle: String =
    """SELECT doc_id AS media_id,
      |       CAST(CASE WHEN doc_id % 7 = 0 THEN 21
      |                 ELSE 68 + 2 * (50 + doc_id % 50) END AS INT) AS n_bytes,
      |       doc_id % 7 <> 0 AS ok,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE 50 + doc_id % 50 END AS n_samples
      |FROM documents ORDER BY media_id""".stripMargin

  /** Shared by q146 (batch drift report) and q146b (the streaming
    * monitor whose final published report must be bit-identical).
    */
  /** q166 oracle: the SAME 8 peel rounds the Spark side runs,
    * unrolled as CTE stages over the exact-Jaccard edge set (LSH ≡
    * exact at this threshold, the q13/q133 equivalence) — each round
    * drops under-degree nodes and the edges touching them; `converged`
    * is a property of the final graph (no surviving node under k), the
    * same definition on both sides even if round 8 lands exactly on
    * the fixpoint.
    */
  /** q161/q161b shared oracle: matching + recursive closure +
    * survivorship anti-join — the streaming twin's final snapshot
    * must be bit-identical to the batch golden table.
    */
  private def goldenRecordSql: String =
      """WITH RECURSIVE base AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer),
        |tw AS (
        |  SELECT c_custkey + 1000000 AS c_custkey, c_name || 'X' AS c_name,
        |         c_nationkey, c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 25 = 0),
        |al AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
        |p AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM al a JOIN al b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1
        |    AND a.c_acctbal = b.c_acctbal
        |    AND a.c_mktsegment = b.c_mktsegment),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION ALL SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE id <> cluster_id)
        |SELECT al.* FROM al LEFT JOIN dropped ON al.c_custkey = dropped.id
        |WHERE dropped.id IS NULL
        |ORDER BY c_custkey""".stripMargin

  /** q162/q162b shared oracle: deviation prefix sums + running min =
    * the exact CUSUM closed form; μ and k by truncating division, all
    * scaled longs.
    */
  private def changepointSql: String =
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |              CAST(count(*) AS BIGINT) AS nh FROM h),
        |d AS (SELECT hr, n,
        |        ((st.tot * 1000000) // st.nh) AS mu,
        |        n * 1000000 - ((st.tot * 1000000) // st.nh)
        |          - (((st.tot * 1000000) // st.nh) // 2) AS dev
        |      FROM h, st),
        |p AS (SELECT hr, n, mu,
        |        CAST(sum(dev) OVER (ORDER BY hr) AS BIGINT) AS pp FROM d),
        |m AS (SELECT hr, n, mu, pp,
        |        min(pp) OVER (ORDER BY hr) AS mn FROM p)
        |SELECT hr, n,
        |       pp - least(CAST(0 AS BIGINT), mn) AS cusum_scaled,
        |       (pp - least(CAST(0 AS BIGINT), mn)) > mu * 3 AS alarm
        |FROM m ORDER BY hr""".stripMargin

  /** q174/q174b shared oracle: the hourly rollup recomputed from
    * scratch — merged (batch or streamed) state must equal it.
    */
  /** q168/q168b shared oracle: scaled-integer hour-of-day baselines
    * joined back onto the hourly series.
    */
  private def seasonalSpikesSql: String =
      """WITH h AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hr,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT key, extract(hour FROM hr) AS hod,
        |         CAST((sum(n) * 1000000) // count(*) AS BIGINT)
        |           AS baseline_scaled
        |  FROM h GROUP BY 1, 2)
        |SELECT h.key, h.hr, h.n, p.baseline_scaled,
        |       h.n * 1000000 > p.baseline_scaled * 2 AS is_spike
        |FROM h JOIN p ON p.key = h.key AND p.hod = extract(hour FROM h.hr)
        |ORDER BY h.key, h.hr""".stripMargin

  /** q185/q185b shared oracle: the decimal-summed Zipf OLS. */
  private def zipfFitSql: String =
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |           AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |tk AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        |  FROM c QUALIFY rank <= 100),
        |xy AS (
        |  SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
        |         round(ln(CAST(n AS DOUBLE)), 6) AS y
        |  FROM tk),
        |sm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * y, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(x * x, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT nn AS n_top,
        |       round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 4)
        |         AS slope,
        |       round((sy - ((nn * sxy - sx * sy)
        |                    / (nn * sxx - sx * sx)) * sx) / nn, 4)
        |         AS intercept
        |FROM sm""".stripMargin

  /** q198/q198b shared oracle: the Holt level+trend recursion
    * replayed as a recursive CTE — same seed (l_1 = y_1, b_1 = 0),
    * same truncating integer division as q167 (DuckDB // ≡ Scala
    * Long / toward zero); the new level is inlined into b's update
    * because SQL can't reference a same-SELECT alias. The stateful
    * stream must produce the identical series.
    */
  private def holtTrendSql: String =
    """WITH RECURSIVE h AS (
      |  SELECT event_type AS key, date_trunc('hour', ts) AS hr,
      |         CAST(count(*) AS BIGINT) AS n,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY date_trunc('hour', ts)) AS rn
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT key, hr, n, rn, n * 1000000 AS l, CAST(0 AS BIGINT) AS b
      |  FROM h WHERE rn = 1
      |  UNION ALL
      |  SELECT h.key, h.hr, h.n, h.rn,
      |         (r.l + r.b) + ((h.n * 1000000 - (r.l + r.b)) // 8) AS l,
      |         r.b + ((((r.l + r.b)
      |                   + ((h.n * 1000000 - (r.l + r.b)) // 8))
      |                  - r.l) - r.b) // 4 AS b
      |  FROM r JOIN h ON h.key = r.key AND h.rn = r.rn + 1)
      |SELECT key, hr, n, CAST(l AS BIGINT) AS level_scaled,
      |       CAST(b AS BIGINT) AS trend_scaled,
      |       CAST(l + b AS BIGINT) AS forecast_scaled
      |FROM r ORDER BY key, hr""".stripMargin

  /** q191/q191b shared oracle: the temperature-weighted (T=2 →
    * sqrt) source allocation — the streamed snapshot-recompute twin
    * must bit-equal the batch allocation.
    */
  private def temperatureMixtureSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CASE WHEN length(trim(text)) > 0
      |           THEN CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |                AS BIGINT)
      |           ELSE CAST(0 AS BIGINT) END AS n_toks
      |  FROM documents),
      |c AS (
      |  SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY 1),
      |w AS (
      |  SELECT source, n_tokens,
      |         CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5) * 1000000)
      |           AS BIGINT) AS w_scaled
      |  FROM c),
      |s AS (
      |  SELECT *, CAST(sum(w_scaled) OVER () AS BIGINT) AS wsum FROM w),
      |p AS (
      |  SELECT source, n_tokens, w_scaled,
      |         CASE WHEN wsum > 0
      |           THEN CAST(CAST(w_scaled AS HUGEINT) * 1000000 // wsum
      |             AS BIGINT)
      |           ELSE CAST(0 AS BIGINT) END AS share_ppm
      |  FROM s),
      |tg AS (
      |  SELECT *,
      |         CAST(CAST(share_ppm AS HUGEINT) * 100000 // 1000000
      |           AS BIGINT) AS target_tokens
      |  FROM p)
      |SELECT source, n_tokens, w_scaled, share_ppm, target_tokens,
      |       CASE WHEN n_tokens > 0
      |         THEN CAST(CAST(target_tokens AS HUGEINT) * 1000000
      |           // n_tokens AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS epochs_ppm
      |FROM tg ORDER BY source""".stripMargin

  /** q190/q190b oracle: the q14 quality expression + a plain
    * per-source window — the naive form the two-phase decomposition
    * must equal.
    */
  private def quantileNormSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |         regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source,
      |         round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
      |                + (1.0 - least((CAST(length(text) - length(
      |                      regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
      |                      AS DOUBLE)
      |                    / greatest(length(text), 1)) * 5.0, 1.0))
      |                + least((CAST(len(list_filter(toks,
      |                      x -> list_contains(['the','a','an','and','or',
      |                        'of','to','in','is','it'], x))) AS DOUBLE)
      |                    / greatest(len(toks), 1)) * 5.0, 1.0)) / 3.0, 4)
      |           AS quality
      |  FROM t),
      |r AS (
      |  SELECT doc_id, source, quality,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY quality, doc_id) AS BIGINT) AS q_rank,
      |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
      |           AS group_n
      |  FROM q)
      |SELECT doc_id, source, quality, q_rank, group_n,
      |       q_rank * 1000000 // group_n AS quantile_ppm
      |FROM r ORDER BY doc_id""".stripMargin

  private def mvMergeSql: String =
    """SELECT date_trunc('hour', ts) AS hr,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         // count(*) AS avg_cents
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  /** q187 oracle: all four dedup pipelines replayed — exact keep-min,
    * the paragraph keep-first chain, the LSH≡exact-Jaccard closure
    * survivors, and the span-excision chain — each summarized as
    * (surviving docs, surviving tokens).
    */
  private def dedupEfficacySql: String =
    s"""WITH RECURSIVE $dedupEfficacyCtes
       |SELECT * FROM eff ORDER BY method""".stripMargin

  /** The q187 replay chain ending in the 5-row `eff` summary CTE —
    * shared with q201's Pareto recommendation oracle.
    */
  private def dedupEfficacyCtes: String =
    s"""$jaccardPairsCtes,
       |exk AS (
       |  SELECT doc_id, text,
       |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM documents),
       |pt AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |pn AS (
       |  SELECT doc_id, toks,
       |         CASE WHEN len(toks) <= 16 THEN 1
       |              ELSE (len(toks) - 16 + 15) // 16 + 1 END AS n_chunks
       |  FROM pt),
       |pc AS (
       |  SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, toks FROM pn),
       |px AS (
       |  SELECT doc_id, chunk_id,
       |         array_to_string(toks[chunk_id*16 + 1 : chunk_id*16 + 16], ' ')
       |           AS chunk_text
       |  FROM pc),
       |pr AS (
       |  SELECT *, row_number() OVER (PARTITION BY chunk_text
       |                               ORDER BY doc_id, chunk_id) AS rn
       |  FROM px),
       |pd AS (
       |  SELECT doc_id,
       |         string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
       |                    ORDER BY chunk_id) AS dtext
       |  FROM pr GROUP BY doc_id
       |  HAVING sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0),
       |med AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM med
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN med e ON e.src = reach.id),
       |comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
       |mdrop AS (SELECT id FROM comp WHERE id <> cid),
       |sxt AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 7),
       |sxg AS (
       |  SELECT doc_id,
       |         unnest([{'pos': i - 1,
       |                  'gram': list_aggregate(toks[i:i+6], 'string_agg', ' ')}
       |                 FOR i IN range(1, len(toks) - 7 + 2)]) AS e
       |  FROM sxt),
       |sxng AS (SELECT doc_id, e.pos AS pos, e.gram AS gram FROM sxg),
       |sxrep AS (SELECT gram FROM sxng GROUP BY gram
       |          HAVING count(DISTINCT doc_id) >= 2),
       |sxhit AS (SELECT doc_id, pos FROM sxng JOIN sxrep USING (gram)),
       |sxisl0 AS (SELECT doc_id, pos,
       |                  CASE WHEN pos - lag(pos) OVER (
       |                         PARTITION BY doc_id ORDER BY pos) > 7
       |                       THEN 1 ELSE 0 END AS ni
       |           FROM sxhit),
       |sxisl AS (SELECT doc_id, pos,
       |                 sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                   AS grp
       |          FROM sxisl0),
       |sxsp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + 6 AS end_tok
       |         FROM sxisl GROUP BY doc_id, grp),
       |sxtall AS (
       |  -- same trim(text) <> '' guard as every other leg: an empty
       |  -- doc has 0 tokens, not the single '' element regexp_split
       |  -- returns — keeps the contract data-independent
       |  SELECT doc_id,
       |         CASE WHEN trim(text) <> ''
       |              THEN regexp_split_to_array(trim(text), '\\s+')
       |              ELSE [] END AS toks
       |  FROM documents),
       |sxtok AS (
       |  SELECT doc_id,
       |         unnest([{'pos': i - 1, 'tok': toks[i]}
       |                 FOR i IN range(1, len(toks) + 1)]) AS e
       |  FROM sxtall),
       |sxkeep AS (
       |  SELECT k.doc_id, k.e.pos AS pos
       |  FROM sxtok k
       |  WHERE NOT EXISTS (SELECT 1 FROM sxsp
       |                    WHERE sxsp.doc_id = k.doc_id
       |                      AND k.e.pos BETWEEN sxsp.start_tok
       |                                      AND sxsp.end_tok)),
       |sxagg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept
       |  FROM sxkeep GROUP BY doc_id),
       |eff AS (
       |SELECT '0_input' AS method, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN trim(text) <> ''
       |                     THEN len(regexp_split_to_array(trim(text), '\\s+'))
       |                     ELSE 0 END) AS BIGINT) AS tok_sum
       |FROM documents
       |UNION ALL
       |SELECT '1_exact', CAST(count(*) AS BIGINT),
       |       CAST(sum(CASE WHEN trim(text) <> ''
       |                     THEN len(regexp_split_to_array(trim(text), '\\s+'))
       |                     ELSE 0 END) AS BIGINT)
       |FROM exk WHERE rn = 1
       |UNION ALL
       |SELECT '2_paragraph', CAST(count(*) AS BIGINT),
       |       CAST(sum(len(regexp_split_to_array(trim(dtext), '\\s+')))
       |         AS BIGINT)
       |FROM pd
       |UNION ALL
       |SELECT '3_minhash', CAST(count(*) AS BIGINT),
       |       CAST(sum(CASE WHEN trim(d.text) <> ''
       |                     THEN len(regexp_split_to_array(trim(d.text), '\\s+'))
       |                     ELSE 0 END) AS BIGINT)
       |FROM documents d LEFT JOIN mdrop ON d.doc_id = mdrop.id
       |WHERE mdrop.id IS NULL
       |UNION ALL
       |SELECT '4_spans', CAST(count(*) AS BIGINT),
       |       CAST(sum(coalesce(sxagg.n_kept, 0)) AS BIGINT)
       |FROM sxtall LEFT JOIN sxagg USING (doc_id))""".stripMargin

  private def kCoreSql: String = {
    val k = 2
    val rounds = 8
    val peels = (1 to rounds).map { r =>
      // AS MATERIALIZED: each round references its predecessor three
      // times — un-materialized, DuckDB inlines the whole pairs chain
      // 3^8 times (the q153 fd-exhaustion lesson)
      s"""n$r AS MATERIALIZED (
         |  SELECT id FROM (SELECT a AS id FROM g${r - 1}
         |                  UNION ALL SELECT b FROM g${r - 1})
         |  GROUP BY id HAVING count(*) >= $k),
         |g$r AS MATERIALIZED (
         |  SELECT a, b FROM g${r - 1}
         |  WHERE a IN (SELECT id FROM n$r) AND b IN (SELECT id FROM n$r))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardPairsCtes,
       |g0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs),
       |$peels,
       |dg AS MATERIALIZED (
       |  SELECT id, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS id FROM g$rounds UNION ALL SELECT b FROM g$rounds)
       |  GROUP BY id),
       |cv AS (SELECT count(*) = 0 AS converged FROM dg WHERE deg < $k)
       |SELECT dg.id, dg.deg, cv.converged FROM dg, cv
       |ORDER BY dg.id""".stripMargin
  }

  /** q170 oracle: the four synchronous LPA rounds unrolled over the
    * exact-Jaccard edges — neighbor votes UNION ALL the self-vote,
    * per-node argmax with (count desc, label asc). MATERIALIZED for
    * the same 3^R-inlining reason as kCoreSql.
    */
  private def labelPropSql: String =
    s"""WITH $labelPropCtes,
       |cs AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |       FROM l4 GROUP BY 1)
       |SELECT l4.id, l4.lbl AS community, cs.community_size
       |FROM l4 JOIN cs USING (lbl) ORDER BY l4.id""".stripMargin

  /** The q170/q179 shared LPA CTE chain: exact-Jaccard edges, both
    * directions, l0 = own-id labels, four unrolled vote/argmax rounds
    * ending at `l4`.
    */
  private def labelPropCtes: String = {
    val rounds = (1 to 4).map { r =>
      s"""v$r AS MATERIALIZED (
         |  SELECT dst AS id, lbl, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT e.dst, l.lbl FROM ed e JOIN l${r - 1} l ON l.id = e.src
         |    UNION ALL SELECT id, lbl FROM l${r - 1})
         |  GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |           row_number() OVER (PARTITION BY id
         |                              ORDER BY c DESC, lbl) AS rn
         |    FROM v$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$jaccardPairsCtes,
       |ed AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM ed),
       |$rounds""".stripMargin
  }

  /** q179 oracle: Newman modularity terms of the l4 LPA partition —
    * same exact integer formula, truncating division.
    */
  private def modularitySql: String =
    s"""WITH $labelPropCtes,
       |eg AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eg),
       |wi AS (
       |  SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
       |  FROM eg JOIN l4 la ON la.id = eg.a JOIN l4 lb ON lb.id = eg.b
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |dg AS (
       |  SELECT l4.lbl AS community, CAST(count(*) AS BIGINT) AS deg_sum,
       |         CAST(count(DISTINCT n.id) AS BIGINT) AS n_nodes
       |  FROM (SELECT a AS id FROM eg UNION ALL SELECT b FROM eg) n
       |  JOIN l4 ON l4.id = n.id GROUP BY 1)
       |SELECT dg.community, n_nodes, coalesce(wi.e_in, 0) AS e_in, deg_sum,
       |       CAST((4 * m * coalesce(wi.e_in, 0) - deg_sum * deg_sum)
       |            * 1000000 // (4 * m * m) AS BIGINT) AS q_term_scaled
       |FROM dg LEFT JOIN wi USING (community), mm
       |ORDER BY community""".stripMargin

  /** q171 oracle: each layout's file model is one row_number window
    * over (layout key, event_id) with (rn−1)//500 as the file id; the
    * z-value replays with the q67 bit-interleave fragment.
    */
  private def skippingSql: String = {
    val zTerms = (0 until 10).map(b =>
      s"(((x >> $b) & 1) << ${2 * b + 1}) | (((y >> $b) & 1) << ${2 * b})")
      .mkString(" | ")
    def block(name: String, orderKey: String) =
      s"""${name}_f AS (
         |  SELECT band,
         |         ((row_number() OVER (ORDER BY $orderKey, event_id)) - 1)
         |           // 500 AS f
         |  FROM src),
         |${name}_s AS (
         |  SELECT min(band) AS mn, max(band) AS mx FROM ${name}_f GROUP BY f),
         |${name}_r AS (
         |  SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(sum(CASE WHEN mx < 100 OR mn > 199
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
         |  FROM ${name}_s)""".stripMargin
    s"""WITH src AS (
       |  SELECT event_id, ts, user_id % 1000 AS band,
       |         user_id % 1000 AS x, extract(hour FROM ts) AS y
       |  FROM events),
       |${block("by_ts", "ts")},
       |${block("by_band", "band")},
       |${block("zorder_band_hour", s"($zTerms)")},
       |${block("hash_random", "md5(CAST(event_id AS VARCHAR))")}
       |SELECT layout, n_files, n_skipped,
       |       n_files - n_skipped AS n_scanned
       |FROM (SELECT * FROM by_ts_r
       |      UNION ALL SELECT * FROM by_band_r
       |      UNION ALL SELECT * FROM zorder_band_hour_r
       |      UNION ALL SELECT * FROM hash_random_r)
       |ORDER BY layout""".stripMargin
  }

  /** q206: the Hilbert xy2d walk replayed as a per-row recursive CTE
    * (10 bit levels of (x, y, d) state with the N−1 rotation
    * mirrors), the z-interleave inline, then q171's file model —
    * row_number // rowsPerFile, per-file min/max, range-prune count —
    * per (layout × predicate).
    */
  private def hilbertSkippingSql: String = {
    val zTerms = (0 until 10).map(b =>
      s"(((band >> $b) & 1) << ${2 * b + 1}) | (((hr >> $b) & 1) << ${2 * b})")
      .mkString(" | ")
    def block(layout: String, orderKey: String, statCol: String,
        lo: Int, hi: Int, pred: String, tag: String) =
      s"""${tag}_f AS (
         |  SELECT $statCol AS v,
         |         ((row_number() OVER (ORDER BY $orderKey, event_id)) - 1)
         |           // 500 AS f
         |  FROM keyed),
         |${tag}_s AS (
         |  SELECT min(v) AS mn, max(v) AS mx FROM ${tag}_f GROUP BY f),
         |${tag}_r AS (
         |  SELECT '$layout' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(sum(CASE WHEN mx < $lo OR mn > $hi
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
         |         '$pred' AS predicate
         |  FROM ${tag}_s)""".stripMargin
    s"""WITH RECURSIVE src AS (
       |  SELECT event_id, user_id % 1000 AS band,
       |         extract(hour FROM ts) AS hr
       |  FROM events),
       |h AS (
       |  SELECT event_id, band AS x, hr AS y, CAST(0 AS BIGINT) AS d,
       |         9 AS i
       |  FROM src
       |  UNION ALL
       |  SELECT event_id,
       |         CASE WHEN ry = 0 THEN fy ELSE fx END,
       |         CASE WHEN ry = 0 THEN fx ELSE fy END,
       |         d + s * s * xor(3 * rx, ry),
       |         i - 1
       |  FROM (
       |    SELECT event_id, d, i, s, rx, ry,
       |           CASE WHEN ry = 0 AND rx = 1 THEN 1023 - x ELSE x END AS fx,
       |           CASE WHEN ry = 0 AND rx = 1 THEN 1023 - y ELSE y END AS fy
       |    FROM (
       |      SELECT h.*, CAST(power(2, i) AS BIGINT) AS s,
       |             CASE WHEN (x & CAST(power(2, i) AS BIGINT)) > 0
       |                  THEN 1 ELSE 0 END AS rx,
       |             CASE WHEN (y & CAST(power(2, i) AS BIGINT)) > 0
       |                  THEN 1 ELSE 0 END AS ry
       |      FROM h WHERE i >= 0) t1) t2),
       |hd AS (SELECT event_id, d FROM h WHERE i = -1),
       |keyed AS (
       |  SELECT s.event_id, s.band, s.hr, ($zTerms) AS z, hd.d
       |  FROM src s JOIN hd USING (event_id)),
       |${block("zorder_band_hour", "z", "band", 100, 199, "band_100_199", "zb")},
       |${block("hilbert_band_hour", "d", "band", 100, 199, "band_100_199", "hb")},
       |${block("zorder_band_hour", "z", "hr", 3, 8, "hour_3_8", "zh")},
       |${block("hilbert_band_hour", "d", "hr", 3, 8, "hour_3_8", "hh")}
       |SELECT layout, n_files, n_skipped,
       |       n_files - n_skipped AS n_scanned, predicate
       |FROM (SELECT * FROM zb_r UNION ALL SELECT * FROM hb_r
       |      UNION ALL SELECT * FROM zh_r UNION ALL SELECT * FROM hh_r)
       |ORDER BY predicate, layout""".stripMargin
  }

  /** Shared q208/q208b prefix: distinct (source, 3-gram shingle)
    * pairs in the exact [[graft.ext.Dedup.wordShingles]] form —
    * short texts keep their single full-token shingle.
    */
  private val kmvGramCtes: String =
    """dt AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT source,
      |         unnest(CASE WHEN len(toks) >= 3
      |                THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                      FOR i IN range(1, len(toks) - 1)]
      |                ELSE [array_to_string(toks, ' ')] END) AS gram
      |  FROM dt)""".stripMargin

  /** q202/q209 shared oracle: regenerate luma at the sampled grid,
    * pack the 60 gradient bits, quadratic bit_count(xor) pairs,
    * neighbor census.
    */
  private val imageNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(16 + (doc_id // 4) % 5 AS INT) AS w,
        |         CAST(12 + (doc_id // 4) % 3 AS INT) AS h
        |  FROM documents),
        |gys AS (SELECT d.*, unnest(generate_series(0, 5)) AS gy FROM d),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, w, h, gy, gx,
        |         ((base * 37 + ((gy * h) // 6) * 11 + ((gx * w) // 11) * 29
        |           + (((gx * w) // 11) * ((gy * h) // 6) + base) % 13) % 16) * 2
        |           + (variant * (1 + ((gy * h) // 6) * 5 + ((gx * w) // 11) * 3)) % 3 % 2
        |           AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, w, h, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(w) AS width, max(h) AS height,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.width, f.height, f.fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q218/q221 shared oracle: rolling windows, boundaries, ordered
    * chunk folds, and the doc-frequency join.
    */
  private val cdcChunksSql: String =
    """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1)
        |           AS pos
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, pos, tok,
        |         concat_ws(' ',
        |           lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
        |           lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
        |           tok) AS win
        |  FROM tk),
        |f AS (
        |  SELECT *, pos >= 3 AND substr(md5(win), 1, 2) < '15' AS boundary
        |  FROM w),
        |a AS (
        |  SELECT *, coalesce(sum(CASE WHEN boundary THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS chunk_idx
        |  FROM f),
        |c AS (
        |  SELECT doc_id, chunk_idx,
        |         string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
        |         CAST(count(*) AS BIGINT) AS chunk_toks
        |  FROM a GROUP BY 1, 2),
        |dfq AS (
        |  SELECT chunk_text, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(chunk_toks) AS BIGINT) AS n_toks,
        |       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared_chunks
        |FROM c JOIN dfq USING (chunk_text)
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin

  /** q222/q220 shared oracle: keyframe closed form, luma, bits,
    * quadratic verify, census.
    */
  private val videoNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(8 + (doc_id // 4) % 5 AS BIGINT) AS n
        |  FROM documents),
        |k AS (
        |  SELECT d.*, (n + 1) // 2 AS m,
        |         2 * (((n + 1) // 2) // 2) AS kf
        |  FROM d),
        |gys AS (SELECT k.*, unnest(generate_series(0, 5)) AS gy FROM k),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, n, m, gy, gx,
        |         ((base * 37 + kf * 7 + gy * 11 + gx * 29
        |           + (gx * gy + kf + base) % 13) % 16) * 2
        |           + (variant * (1 + gy * 5 + gx * 3)) % 3 % 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, n, m, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_frames, max(m) AS n_sampled,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS key_fp
        |  FROM b GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.key_fp, c.key_fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_frames, f.n_sampled, f.key_fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q219/q220 shared oracle: audio samples, frame energies,
    * gradient bits, quadratic verify, census.
    */
  /** q223/q231 shared oracle: cluster pattern constants, the
    * closed-form decoded fingerprint, census from membership.
    */
  private val jpegNearDupSql: String =
    """WITH cl AS (
        |  SELECT doc_id, ((doc_id // 4) * 37 + 11) % 6 AS c FROM documents),
        |pat AS (
        |  SELECT doc_id, c,
        |         CASE c WHEN 0 THEN 731 WHEN 1 THEN 292 WHEN 2 THEN 341
        |                WHEN 3 THEN 682 WHEN 4 THEN 819 ELSE 204 END AS p
        |  FROM cl),
        |m1 AS (
        |  SELECT c, min(doc_id) AS m1, CAST(count(*) AS BIGINT) AS n
        |  FROM cl GROUP BY c),
        |m2 AS (
        |  SELECT cl.c, min(cl.doc_id) AS m2
        |  FROM cl JOIN m1 ON cl.c = m1.c WHERE cl.doc_id > m1.m1
        |  GROUP BY cl.c)
        |SELECT p.doc_id AS media_id,
        |       CAST(44 AS INT) AS width, CAST(24 AS INT) AS height,
        |       CAST(p.p * 1127000493261825 AS BIGINT) AS fp,
        |       m1.n - 1 AS n_nbrs,
        |       CASE WHEN m1.n = 1 THEN NULL
        |            WHEN p.doc_id = m1.m1 THEN m2.m2 ELSE m1.m1 END AS min_nbr,
        |       (m1.n = 1 OR p.doc_id = m1.m1) AS keep
        |FROM pat p JOIN m1 ON p.c = m1.c LEFT JOIN m2 ON p.c = m2.c
        |ORDER BY media_id""".stripMargin

  /** q248/q248b oracle: the planted-skew fixture replayed in SQL —
    * lineitem ×8, hot key 0 for 80% of orderkeys, 98-key dim. All
    * terms are integer-valued doubles × ints, so the BIGINT-cast sum
    * is exact and accumulation-order-free.
    */
  private val skewEvidenceSql: String =
    """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
        |              ELSE l_orderkey % 97 + 1 END AS k,
        |         l_quantity AS v
        |  FROM lineitem, unnest(generate_series(1, 16)) AS r(rep)),
        |d AS (
        |  SELECT k, k * 7 % 13 + 1 AS w
        |  FROM unnest(generate_series(0, 97)) AS t(k))
        |SELECT f.k, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(f.v * d.w) AS BIGINT) AS wv
        |FROM f JOIN d ON f.k = d.k
        |GROUP BY 1 ORDER BY 1""".stripMargin

  private val audioNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(200 + (doc_id // 4) % 50 AS BIGINT) AS n
        |  FROM documents),
        |i AS (
        |  SELECT doc_id, n, base, variant,
        |         unnest(generate_series(0, n - 1)) AS j
        |  FROM d),
        |s AS (
        |  SELECT doc_id, n, j,
        |         ((base * 7919 + j * 104729) % 4096) - 2048
        |           + variant * (CASE WHEN j % 5 = 0 THEN 1 ELSE 0 END) AS v
        |  FROM i),
        |e AS (
        |  SELECT doc_id, n, (j * 61) // n AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, n, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM e),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM w GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_samples, f.fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q246 oracle: the audioNearDupSql census tail on the staircase
    * recipe — frame-constant amplitudes 400·(1 + (7·base + 3f) mod 4)
    * with the per-variant +800 boost at frame 56+variant. Computed
    * entirely from the SOURCE samples; the Spark side must recover
    * the same fingerprints from the MPEG/FLAC/WAV wires.
    */
  private val mpegNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(200 + (doc_id // 4) % 50 AS BIGINT) AS n
        |  FROM documents),
        |i AS (
        |  SELECT doc_id, n, base, variant,
        |         unnest(generate_series(0, n - 1)) AS j
        |  FROM d),
        |s AS (
        |  SELECT doc_id, n, j,
        |         400 * (1 + (base * 7 + 3 * ((j * 61) // n)) % 4)
        |           + (CASE WHEN variant > 0 AND (j * 61) // n = 56 + variant
        |              THEN 800 ELSE 0 END) AS v
        |  FROM i),
        |e AS (
        |  SELECT doc_id, n, (j * 61) // n AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, n, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM e),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM w GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_samples, f.fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q220: reduction rollup over the three modality censuses —
    * image/audio reuse their shared oracle bodies as subqueries.
    */
  private def multimodalDedupSql: String = {
    def sub(sql: String): String =
      sql.trim.stripSuffix("ORDER BY media_id").trim
    s"""WITH img AS (${sub(imageNearDupSql)}),
       |aud AS (${sub(audioNearDupSql)}),
       |vid AS (${sub(videoNearDupSql)}),
       |txt AS (
       |  SELECT doc_id,
       |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
       |           AS keep
       |  FROM documents)
       |SELECT modality, n_items, n_kept,
       |       (n_items - n_kept) * 1000000 // n_items AS reduction_ppm
       |FROM (
       |  SELECT '1_text_exact' AS modality, CAST(count(*) AS BIGINT) AS n_items,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM txt
       |  UNION ALL
       |  SELECT '2_image_dhash', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM img
       |  UNION ALL
       |  SELECT '3_audio_energy', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM aud
       |  UNION ALL
       |  SELECT '4_video_keyframe', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM vid)
       |ORDER BY modality""".stripMargin
  }

  /** q210/q210b shared oracle: exact rank, integer competence closed
    * form, md5 within-phase order.
    */
  private val curriculumSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |           AS difficulty
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, difficulty,
      |         CAST(row_number() OVER (ORDER BY difficulty, doc_id) AS BIGINT)
      |           AS difficulty_rank,
      |         CAST(count(*) OVER () AS BIGINT) AS n_docs
      |  FROM d),
      |p AS (
      |  SELECT r.*,
      |         (difficulty_rank * difficulty_rank * 4 + n_docs * n_docs - 1)
      |           // (n_docs * n_docs) AS first_phase
      |  FROM r)
      |SELECT doc_id, difficulty, difficulty_rank, n_docs, first_phase,
      |       CAST(row_number() OVER (PARTITION BY first_phase
      |            ORDER BY md5('cur#' || CAST(doc_id AS VARCHAR)), doc_id)
      |         AS INT) AS phase_order
      |FROM p ORDER BY doc_id""".stripMargin

  /** q212 oracle: NARA soundex as translate + per-digit RE2 collapse
    * (validated against the canonical R163/A261/T522/P236/H555 set),
    * then the registry, twins, block join, and verify replayed.
    */
  private val phoneticErSql: String = {
    val collapse = "0123456".foldLeft("no9")((acc, d) =>
      s"regexp_replace($acc, '$d{2,}', '$d', 'g')")
    s"""WITH names AS (
       |  SELECT ['Robert','Robertson','Ashcraft','Tymczak','Pfister',
       |          'Honeyman','Washington','Lee','Gutierrez','Jackson',
       |          'Schmidt','Snyder','Oconnor','Macdonald','Herzog',
       |          'Castillo','Nguyen','Okafor','Svensson','Almeida'] AS ns),
       |base AS (
       |  SELECT c_custkey AS pid,
       |         ns[CAST(c_custkey % 20 + 1 AS INT)] AS surname,
       |         chr(CAST(c_custkey % 26 + 65 AS INT)) AS initial
       |  FROM customer, names WHERE c_custkey < 150),
       |twins AS (
       |  SELECT pid + 1000 AS pid,
       |         CASE WHEN pid % 2 = 0
       |              THEN surname || substr(surname, length(surname), 1)
       |              ELSE surname || 'ey' END AS surname,
       |         initial
       |  FROM base WHERE pid % 7 = 0),
       |reg AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
       |sx0 AS (
       |  SELECT reg.*,
       |         regexp_replace(upper(surname), '[^A-Z]', '', 'g') AS up
       |  FROM reg),
       |sx1 AS (
       |  SELECT *, translate(up, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |                      '01230129022455012623019202') AS coded
       |  FROM sx0),
       |sx2 AS (SELECT *, regexp_replace(coded, '9', '', 'g') AS no9 FROM sx1),
       |sx3 AS (SELECT *, regexp_replace($collapse, '0', '', 'g') AS no0,
       |               substr(coded, 1, 1) AS fc
       |        FROM sx2),
       |keyed AS (
       |  SELECT pid, surname, initial,
       |         substr(up, 1, 1) ||
       |           rpad(substr(CASE WHEN fc IN ('0', '9') THEN no0
       |                            ELSE substr(no0, 2, 1000000) END,
       |                1, 3), 3, '0') AS sdx
       |  FROM sx3)
       |SELECT a.pid AS id_a, b.pid AS id_b, a.sdx AS block_sdx,
       |       CAST(levenshtein(a.surname, b.surname) AS BIGINT) AS surname_lev
       |FROM keyed a JOIN keyed b ON a.sdx = b.sdx AND a.pid < b.pid
       |WHERE levenshtein(a.surname, b.surname) <= 2
       |  AND a.initial = b.initial
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q208: the whole KMV lifecycle rebuilt from raw text — bottom-256
    * md5-hex signatures (hex-string order ≡ numeric order on the
    * fixed 15-char prefix; 'g' outranks every hex digit and plays
    * θ = 2^60), θ-truncated prefixes, exact sub-θ set counts, and the
    * one fixed-order IEEE scale factor for the estimates.
    */
  private def kmvOverlapSql: String = {
    val thetaDigits = (1 to 15).map(j =>
      s"(strpos('0123456789abcdef', substr(th, $j, 1)) - 1) * ${1L << (4 * (15 - j))}")
      .mkString("\n|              + ")
    s"""WITH $kmvGramCtes,
       |hh AS (
       |  SELECT DISTINCT source, substring(md5(gram), 1, 15) AS h FROM g),
       |sk AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hh),
       |ksel AS (SELECT source, h, rn FROM sk WHERE rn <= 256),
       |th AS (
       |  SELECT source,
       |         CASE WHEN max(rn) >= 256
       |              THEN min(CASE WHEN rn = 256 THEN h END)
       |              ELSE 'g' END AS theta_hex
       |  FROM ksel GROUP BY source),
       |pr AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         least(a.theta_hex, b.theta_hex) AS th
       |  FROM th a JOIN th b ON a.source < b.source),
       |ap AS (
       |  SELECT p.src_a, p.src_b, k.h FROM pr p
       |  JOIN ksel k ON k.source = p.src_a AND k.h < p.th),
       |bp AS (
       |  SELECT p.src_a, p.src_b, k.h FROM pr p
       |  JOIN ksel k ON k.source = p.src_b AND k.h < p.th),
       |cc AS (
       |  SELECT a.src_a, a.src_b, CAST(count(*) AS BIGINT) AS n_common
       |  FROM ap a JOIN bp b
       |    ON a.src_a = b.src_a AND a.src_b = b.src_b AND a.h = b.h
       |  GROUP BY 1, 2),
       |uu AS (
       |  SELECT src_a, src_b, CAST(count(DISTINCT h) AS BIGINT) AS n_trunc_union
       |  FROM (SELECT * FROM ap UNION ALL SELECT * FROM bp)
       |  GROUP BY 1, 2),
       |tnum AS (
       |  SELECT src_a, src_b,
       |         CASE WHEN th = 'g' THEN CAST(1152921504606846976 AS BIGINT)
       |              ELSE CAST($thetaDigits AS BIGINT) END AS theta
       |  FROM pr)
       |SELECT u.src_a, u.src_b,
       |       coalesce(c.n_common, 0) AS n_common,
       |       u.n_trunc_union,
       |       coalesce(c.n_common, 0) * 1000000 // u.n_trunc_union
       |         AS est_jaccard_ppm,
       |       CAST(floor(CAST(coalesce(c.n_common, 0) AS DOUBLE)
       |            * (1152921504606846976.0 / CAST(t.theta AS DOUBLE)))
       |         AS BIGINT) AS est_intersection,
       |       CAST(floor(CAST(u.n_trunc_union AS DOUBLE)
       |            * (1152921504606846976.0 / CAST(t.theta AS DOUBLE)))
       |         AS BIGINT) AS est_union
       |FROM uu u
       |LEFT JOIN cc c USING (src_a, src_b)
       |JOIN tnum t USING (src_a, src_b)
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** q165/q165b shared oracle: per-doc distinct 3-grams left-joined
    * against the English reference slice's distinct 3-grams — the
    * hashed twin must produce the identical report.
    */
  private def noveltySql: String =
    """WITH dt AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |dgd AS (
      |  SELECT DISTINCT doc_id,
      |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 FOR i IN range(1, len(toks) - 1)]) AS gram
      |  FROM dt WHERE len(toks) >= 3),
      |rg AS (
      |  SELECT DISTINCT
      |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 FOR i IN range(1, len(toks) - 1)]) AS gram
      |  FROM dt JOIN documents USING (doc_id)
      |  WHERE len(toks) >= 3 AND lang = 'en'),
      |pd AS (
      |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |         CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_novel
      |  FROM dgd d LEFT JOIN rg r USING (gram) GROUP BY 1)
      |SELECT doc_id,
      |       coalesce(n_grams, 0) AS n_grams,
      |       coalesce(n_novel, 0) AS n_novel,
      |       CASE WHEN coalesce(n_grams, 0) > 0
      |            THEN round(n_novel / CAST(n_grams AS DOUBLE), 4) END
      |         AS novelty
      |FROM documents LEFT JOIN pd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private def tokenDriftOracle: String =
    """WITH o AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS category
      |  FROM documents WHERE doc_id % 2 = 0),
      |n AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS category
      |  FROM documents WHERE doc_id % 2 = 1),
      |oc AS (SELECT category, count(*) AS n_old FROM o GROUP BY 1),
      |nc AS (SELECT category, count(*) AS n_new FROM n GROUP BY 1),
      |j AS (
      |  SELECT coalesce(oc.category, nc.category) AS category,
      |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      |  FROM oc FULL OUTER JOIN nc ON oc.category = nc.category),
      |t AS (SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new,
      |             count(*) AS n_categories FROM j)
      |SELECT j.category,
      |       CAST(j.n_old AS BIGINT) AS n_old,
      |       CAST(j.n_new AS BIGINT) AS n_new,
      |       round(
      |         ((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE)
      |          - (j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))
      |         * ln(((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE))
      |              / ((j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))),
      |         6) AS psi_term
      |FROM j, t ORDER BY category""".stripMargin

  /** Shared by q142 (expression form) and q142b (broadcast-join form):
    * whichever plan produced the screen, the verdicts must hash equal.
    */
  private def blocklistSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                     t -> t IN ('merge', 'slow')) AS hits
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(hits) AS BIGINT) AS n_hits,
      |       CAST(len(list_distinct(hits)) AS BIGINT) AS n_terms,
      |       len(hits) < 4 AS keep
      |FROM h ORDER BY doc_id""".stripMargin

  private def multimodalDecodeOracle: String = {
    val hist = (0 until graft.ext.Multimodal.ByteHistogram.featureDim)
      .map(j => s"CAST(sum(CASE WHEN bv % 8 = $j THEN 1 ELSE 0 END) AS BIGINT) AS f$j")
      .mkString(",\n       ")
    val zhist = (0 until graft.ext.Multimodal.ByteHistogram.featureDim)
      .map(j => s"coalesce(h.f$j, 0) AS f$j")
      .mkString(",\n       ")
    s"""WITH b AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hx,
       |         unnest(range(octet_length(encode(text)))) AS i
       |  FROM documents),
       |v AS (
       |  SELECT doc_id,
       |         strpos('123456789abcdef', substring(hx, CAST(2*i+1 AS INT), 1)) * 16
       |         + strpos('123456789abcdef', substring(hx, CAST(2*i+2 AS INT), 1)) AS bv
       |  FROM b),
       |h AS (
       |  SELECT doc_id,
       |       $hist
       |  FROM v GROUP BY doc_id)
       |SELECT d.doc_id AS media_id, 'text/plain' AS mime,
       |       CAST(coalesce(octet_length(encode(d.text)), 0) AS INT) AS n_bytes,
       |       $zhist
       |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
       |ORDER BY media_id""".stripMargin
  }

  private def profileSimilarityOracle: String = {
    val slots = (0 until 24)
      .map(h => s"coalesce(avg(CASE WHEN hour(ts) = $h THEN value END), 0.0)")
      .mkString(", ")
    s"""WITH p AS (
       |  SELECT user_id, list_value($slots) AS profile
       |  FROM events GROUP BY user_id),
       |q AS (SELECT * FROM p WHERE user_id < 20),
       |pairs AS (
       |  SELECT a.user_id AS key_a, b.user_id AS key_b,
       |         round(list_cosine_similarity(a.profile, b.profile), 4) AS cos_sim
       |  FROM q a JOIN q b ON a.user_id != b.user_id),
       |ranked AS (
       |  SELECT key_a, key_b, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY key_a
       |              ORDER BY cos_sim DESC, key_b) AS INT) AS rank
       |  FROM pairs)
       |SELECT key_a, key_b, cos_sim, rank FROM ranked
       |WHERE rank <= 3 ORDER BY key_a, rank""".stripMargin
  }

  private def validateEventsOracle: String =
    """SELECT event_id,
      |       NOT (value IS NULL OR value <= 0
      |            OR (value IS NOT NULL AND value > 0 AND value < 0.05)
      |            OR event_type = 'error') AS is_valid,
      |       concat_ws(' | ',
      |         CASE WHEN value IS NULL OR value <= 0 THEN 'Invalid or zero value' END,
      |         CASE WHEN value IS NOT NULL AND value > 0 AND value < 0.05
      |              THEN 'Value below threshold' END,
      |         CASE WHEN event_type = 'error' THEN 'Error event' END) AS error_reason,
      |       value > 450.0 AS is_alert
      |FROM events ORDER BY event_id""".stripMargin
}
