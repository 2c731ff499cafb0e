package graft.stream

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's canary records (FIXTURES.md §A2;
    * ref: streaming/producer.py:33-76): expected routing 2 bad,
    * 1 good + 1 alert, plus zero-price and below-threshold probes.
    */
  private lazy val canaries = Seq(
    ("test-small-cap-coin", BigDecimal("0.50"), BigDecimal("500000"), BigDecimal("-5")),
    ("test-crashed-coin", BigDecimal("2.00"), BigDecimal("5000000"), BigDecimal("-18.5")),
    ("test-surge-coin", BigDecimal("100.00"), BigDecimal("20000000"), BigDecimal("25.0")),
    ("test-zero-price", BigDecimal("0"), BigDecimal("2000000"), BigDecimal("1")),
    ("test-dust-price", BigDecimal("0.005"), BigDecimal("2000000"), BigDecimal("1"))
  ).toDF("coin_id", "current_price", "market_cap", "price_change_percentage_24h")

  test("crypto canary records route exactly as the reference consumer") {
    val (good, bad) = Validate.split(canaries, Validate.cryptoRules)
    assert(good.select("coin_id").as[String].collect().toSeq == Seq("test-surge-coin"))
    val reasons = bad.select("coin_id", "error_reason").as[(String, String)].collect().toMap
    assert(reasons("test-small-cap-coin") == "Market cap below threshold")
    assert(reasons("test-crashed-coin") == "Extreme price drop")
    assert(reasons("test-zero-price") == "Invalid or zero price")
    assert(reasons("test-dust-price") == "Price below threshold")
    val alerts = Validate.alerts(canaries, Validate.cryptoAlert)
    assert(alerts.select("coin_id").as[String].collect().toSeq == Seq("test-surge-coin"))
  }

  test("multiple failure reasons accumulate with ' | '") {
    val df = Seq(("multi-bad", BigDecimal("0"), BigDecimal("1"), BigDecimal("-20")))
      .toDF("coin_id", "current_price", "market_cap", "price_change_percentage_24h")
    val reason = Validate.annotate(df, Validate.cryptoRules)
      .select("error_reason").as[String].head()
    assert(reason ==
      "Invalid or zero price | Market cap below threshold | Extreme price drop")
  }

  /** Two valid events (one a surge), one error event, one below threshold. */
  private lazy val routedEvents = Seq(
    (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 100.0, "{}"),
    (2L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L, "error", 10.0, "{}"),
    (3L, Timestamp.valueOf("2024-01-01 10:20:00"), 8L, "click", 0.01, "{}"),
    (4L, Timestamp.valueOf("2024-01-01 10:30:00"), 8L, "purchase", 470.0, "{}")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("foreachBatch routing stream writes good/bad sinks and counts alerts") {
    val tmp = tempDir("graft-stream")
    routedEvents.write.mode("overwrite").parquet(s"$tmp/in")
    assert(Jobs.runRoutingStream(spark, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt") == 1L)
    val good = spark.read.parquet(s"$tmp/out/good")
    assert(good.select("event_id").as[Long].collect().toSet == Set(1L, 4L))
    assert(spark.read.parquet(s"$tmp/out/bad").select("event_id").as[Long].collect().toSet ==
      Set(2L, 3L))
    assert(good.filter(Jobs.eventAlert).select("event_id").as[Long].collect().toSet ==
      Set(4L))
  }

  test("foreachBatch runners: a replayed batch leaves every sink unchanged") {
    // a crash between the sink write and the offset commit: deleting
    // batch 0's commit entry makes the rerun deliver batch 0 again
    def replay(ckpt: String): Unit = Seq("0", ".0.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/commits/$f")))
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    val clips = {
      val wav = graft.ext.Multimodal.Wav.encodePcm16(Array.tabulate(300)(_.toShort), 8000)
      Seq((1L, wav, "audio/wav"), (2L, wav.take(21), "audio/wav"))
        .toDF("media_id", "payload", "mime")
    }
    // (runner, input, sinks under out/, run → alert count if it has one)
    val cases = Seq[(String, org.apache.spark.sql.DataFrame, Seq[String], String => Option[Long])](
      ("routing", routedEvents, Seq("good", "bad"), tmp =>
        Some(Jobs.runRoutingStream(spark, s"$tmp/in", s"$tmp/out", s"$tmp/ckpt"))),
      ("media decode", clips, Seq("good", "dlq"), tmp => {
        Jobs.runMediaDecodeStream(spark, s"$tmp/in", clips.schema,
          s"$tmp/out/good", s"$tmp/out/dlq", s"$tmp/ckpt")
        None
      }))
    cases.foreach { case (name, input, sinks, run) =>
      val tmp = tempDir("graft-replay")
      input.coalesce(1).write.parquet(s"$tmp/in")
      assert(run(tmp).forall(_ == 1L), name)
      val first = sinks.map(s => rows(s"$tmp/out/$s"))
      assert(first.forall(_.nonEmpty), name)
      replay(s"$tmp/ckpt")
      assert(run(tmp).forall(_ == 1L), name)
      assert(sinks.map(s => rows(s"$tmp/out/$s")) == first, s"$name: a sink changed on replay")
    }
  }

  test("watermarked windowed stream emits closed windows, drops late data") {
    val tmp = tempDir("graft-window")
    val in = s"$tmp/in"
    val ckpt = s"$tmp/ckpt"
    // batch 1: two events in hour 10, one in hour 11
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view", 10.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "view", 20.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 11:05:00"), 1L, "view", 30.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in)
    val first = Jobs.runWindowedStream(spark, in, ckpt, s"$tmp/out", lateness = "10 minutes")
    // watermark after batch 1 = 10:55 → hour-10 window not closed yet
    assert(first.isEmpty)
    // batch 2: an event far past hour 11 plus a LATE hour-10 straggler
    Seq(
      (4L, Timestamp.valueOf("2024-01-01 12:30:00"), 1L, "view", 40.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-01 10:40:00"), 1L, "view", 99.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in)
    val second = Jobs.runWindowedStream(spark, in, ckpt, s"$tmp/out", lateness = "10 minutes")
    val rows = second.orderBy("window_start")
      .select(col("window_start").cast("string"), col("n_events"), col("sum_value"))
      .as[(String, Long, Double)].collect().toSeq
    // hour-10 and hour-11 windows closed by the 12:30 event; the late
    // 10:40 straggler arrived beyond the watermark in the same batch —
    // whether it lands depends on batch-internal ordering, so assert
    // the closed windows only
    assert(rows.exists(r => r._1 == "2024-01-01 10:00:00" && r._2 >= 2L))
    assert(rows.contains(("2024-01-01 11:00:00", 1L, 30.0)))
  }

  test("sliding windows (1h every 15min) overlap and close under the watermark") {
    val tmp = tempDir("graft-slide")
    val in = s"$tmp/in"
    val ckpt = s"$tmp/ckpt"
    // one event at 10:20 → member of windows starting 09:30..10:15
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:20:00"), 1L, "view", 10.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in)
    Jobs.runWindowedStream(spark, in, ckpt, s"$tmp/out",
      lateness = "10 minutes", slide = Some("15 minutes"))
    // advance the watermark far enough to close all four windows
    Seq(
      (2L, Timestamp.valueOf("2024-01-01 13:00:00"), 1L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in)
    val out = Jobs.runWindowedStream(spark, in, ckpt, s"$tmp/out",
      lateness = "10 minutes", slide = Some("15 minutes"))
    val starts = out.filter(col("sum_value") === 10.0)
      .select(col("window_start").cast("string")).as[String].collect().toSet
    assert(starts == Set(
      "2024-01-01 09:30:00", "2024-01-01 09:45:00",
      "2024-01-01 10:00:00", "2024-01-01 10:15:00"))
  }

  test("kv upsert stream keeps the latest record per key across batches") {
    val tmp = tempDir("graft-kvstream")
    val in = s"$tmp/in"
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 10.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "click", 20.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 10:06:00"), 8L, "view", 30.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in)
    Jobs.runKvUpsertStream(spark, in, s"$tmp/kv", s"$tmp/ckpt")
    // second batch: user 7 updates again, user 9 appears
    Seq(
      (4L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L, "purchase", 99.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-01 11:01:00"), 9L, "view", 5.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in)
    Jobs.runKvUpsertStream(spark, in, s"$tmp/kv", s"$tmp/ckpt")
    val kv = spark.read.parquet(s"$tmp/kv")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(kv == Map(7L -> 4L, 8L -> 3L, 9L -> 5L))
  }

  /** One event-tuple micro-batch file per element of `slices`, written
    * with strictly increasing mod times (the load-bearing trick:
    * `maxFilesPerTrigger = 1` replays files in mod-time order, so
    * batches process oldest-first like the driver queries' replays).
    * Returns the input dir for `readStream`.
    */
  private def writeOrderedSlices(
      tmp: String,
      slices: Seq[Seq[(Long, Timestamp, Long, String, Double, String)]]): String = {
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    in
  }

  test("streaming dedup drops duplicates within AND across micro-batches") {
    val tmp = tempDir("graft-dedupstream")
    val e1 = (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 10.0, "{}")
    val e2 = (2L, Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "click", 20.0, "{}")
    val e3 = (3L, Timestamp.valueOf("2024-01-01 10:30:00"), 8L, "view", 30.0, "{}")
    // file 0: e1 twice (batch-local dup) + e2; file 1: e2 again
    // (cross-batch dup) + e3
    val in = writeOrderedSlices(tmp, Seq(Seq(e1, e1, e2), Seq(e2, e3)))
    val out = Jobs.runDedupStream(spark, in, lateness = "1 day")
      .select("event_id").as[Long].collect().toSeq.sorted
    assert(out == Seq(1L, 2L, 3L))
  }

  test("streaming curation gates quality, drops contamination, dedups across batches") {
    val tmp = tempDir("graft-curatestream")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    // quality weights that admit everything (bias 5) — isolate the
    // contamination and dedup behaviors; doc 4's weights drop it below
    val good = "alpha beta gamma delta epsilon zeta eta theta"
    val leaked = "secret bench one two three four five six"
    val t0 = System.currentTimeMillis() - 60000
    val slices = Seq(
      Seq((1L, good, Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, leaked, Timestamp.valueOf("2024-01-01 10:01:00"))),
      Seq((3L, good, Timestamp.valueOf("2024-01-01 10:02:00")), // cross-batch dup of 1
        (4L, "unique seven eight nine ten eleven twelve thirteen",
          Timestamp.valueOf("2024-01-01 10:03:00"))))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val benchHashes = Seq(Tuple1(leaked)).toDF("text")
      .select(explode(graft.ext.VectorKernels.shingleHashes(
        graft.ext.Text.tokens(col("text")), 5)).as("h"))
      .distinct().as[Long].collect().toSeq
    val out = Jobs.runCurateStream(spark, in,
      weights = Seq(5.0, 0.0, 0.0, 0.0, 0.0), // admit all: test contamination+dedup
      benchShingleHashes = benchHashes, shingleSize = 5, lateness = "1 day")
      .select("doc_id").as[Long].collect().toSet
    // 2 contaminated (shares every 5-gram with the benchmark doc);
    // exactly one of {1, 3} survives dedup; 4 unique and clean
    assert(!out.contains(2L), s"contaminated doc survived: $out")
    assert(out.contains(4L), s"clean unique doc dropped: $out")
    assert((out & Set(1L, 3L)).size == 1, s"dup handling wrong: $out")
    // quality gate: harsh bias drops everything
    val gated = Jobs.runCurateStream(spark, in,
      weights = Seq(-100.0, 0.0, 0.0, 0.0, 0.0),
      benchShingleHashes = benchHashes, shingleSize = 5, lateness = "1 day")
    assert(gated.count() == 0)
  }

  test("stream-stream interval join matches within the gap, across batches") {
    val tmp = tempDir("graft-ssjoin")
    // file 0: u7 clicks; file 1: u7 purchase 30 min later (cross-batch
    // match), u7 purchase 2 h later (outside gap), u8 purchase with no
    // click, and a u7 purchase BEFORE the click (wrong order)
    val f0 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 09:00:00"), 7L, "purchase", 1.0, "{}"))
    val f1 = Seq(
      (3L, Timestamp.valueOf("2024-01-01 10:30:00"), 7L, "purchase", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 12:30:00"), 7L, "purchase", 1.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-01 10:15:00"), 8L, "purchase", 1.0, "{}"))
    val in = writeOrderedSlices(tmp, Seq(f0, f1))
    val out = Jobs.runIntervalJoinStream(spark, in, lateness = "1 day", maxGap = "1 hour")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L)))
  }

  test("streaming session windows merge across batches, emit only closed sessions") {
    val tmp = tempDir("graft-sessionstream")
    // u7's session spans both files (10:00, 10:20 | 10:35) — one merged
    // session [10:00, 11:05). u8 has a late session (12:50) whose end
    // (13:20) is past the final watermark (13:00 - 10min = 12:50) → open,
    // not emitted. The 13:00 event advances the watermark.
    val f0 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:20:00"), 7L, "view", 2.0, "{}"))
    val f1 = Seq(
      (3L, Timestamp.valueOf("2024-01-01 10:35:00"), 7L, "view", 4.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 12:50:00"), 8L, "view", 8.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L, "view", 16.0, "{}"))
    val in = writeOrderedSlices(tmp, Seq(f0, f1))
    val out = Jobs.runSessionStream(spark, in, gap = "30 minutes", lateness = "10 minutes")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"), col("sum_value"))
      .as[(Long, String, String, Long, Double)].collect().toSeq.sortBy(_._1)
    // only u7's merged session closed (end 11:05 <= watermark 12:50)
    assert(out == Seq(
      (7L, "2024-01-01 10:00:00", "2024-01-01 11:05:00", 3L, 7.0)))
  }

  test("streaming validation equals batch validation on the same data") {
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = Validate.annotate(batch, Jobs.eventRules)
      .select("event_id", "is_valid").orderBy("event_id")
      .as[(Long, Boolean)].collect().toSeq
    val streamed = Jobs.runValidationStream(spark, "/root/testdata/sf0.001")
      .select("event_id", "is_valid").orderBy("event_id")
      .as[(Long, Boolean)].collect().toSeq
    assert(streamed == expected)
  }

  test("idempotent sink stream: restart with the same checkpoint re-commits nothing") {
    val tmp = tempDir("graft-idemstream")
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    def routed() = spark.read.parquet(s"$out/good").unionByName(spark.read.parquet(s"$out/bad"))
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .orderBy(col("event_id")).limit(200).write.parquet(in)
    Jobs.runRoutingStream(spark, in, out, ckpt)
    val first = routed().count()
    assert(first == 200L)
    // restart: same checkpoint, no new input → nothing re-runs, nothing duplicates
    assert(Jobs.runRoutingStream(spark, in, out, ckpt) == 0L)
    assert(routed().count() == first)
    // incremental: new input arrives → ONLY the delta is processed
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .orderBy(col("event_id")).limit(300)
      .filter(col("event_id") >= 200).write.mode("append").parquet(in)
    Jobs.runRoutingStream(spark, in, out, ckpt)
    val after = routed()
    assert(after.count() == first + 100)
    assert(after.select("event_id").distinct().count() == after.count())
  }

  test("idempotentBatchWrite: batch re-delivery overwrites, never duplicates") {
    val path = tempDir("graft-idem") + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    graft.sinks.Writers.idempotentBatchWrite(b0, 0L, path)
    graft.sinks.Writers.idempotentBatchWrite(b1, 1L, path)
    // failure replay: the SAME batch id arrives again (same content)
    graft.sinks.Writers.idempotentBatchWrite(b1, 1L, path)
    val got = spark.read.parquet(path).select("id", "v")
      .as[(Long, String)].collect().toSeq
    assert(got.sorted == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // an append-mode sink under the same replay WOULD duplicate — pin
    // the contrast so the exactly-once claim stays honest
    val appendPath = path + "_append"
    b1.write.mode("append").parquet(appendPath)
    b1.write.mode("append").parquet(appendPath)
    assert(spark.read.parquet(appendPath).count() == 2L)
  }

  test("changelog stream: incremental merge converges to the batch apply") {
    val tmp = tempDir("graft-cdc-stream")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    // three seq-ordered slices: update, delete, revive + new key
    val slices = Seq(
      Seq((1L, "a1", 11.0, 10L, "U"), (2L, "b", 0.0, 11L, "D")),
      Seq((3L, "c", 0.0, 20L, "D"), (1L, "a2", 12.0, 21L, "U")),
      Seq((3L, "c2", 33.0, 30L, "I"), (4L, "d", 40.0, 31L, "I")))
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    slices.zipWithIndex.foreach { case (s, i) =>
      s.toDF("k", "name", "v", "seq", "op")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val allChanges = slices.flatten.toDF("k", "name", "v", "seq", "op")
    val v = graft.stream.Jobs.runChangelogStream(spark, base, in,
      allChanges.schema, Seq("k"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    assert(v == 2L) // one micro-batch per file
    val streamed = spark.read.parquet(s"$tmp/snap/v=$v")
      .as[(Long, String, Double)].collect().toSet
    val batch = graft.etl.Transform.applyChangelog(
      base, allChanges, Seq("k"), "seq", "op")
      .as[(Long, String, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, "a2", 12.0), (3L, "c2", 33.0), (4L, "d", 40.0)))
    // every intermediate version stayed on disk — v=0 reflects slice 0 only
    val v0 = spark.read.parquet(s"$tmp/snap/v=0")
      .as[(Long, String, Double)].collect().toSet
    assert(v0 == Set((1L, "a1", 11.0), (3L, "c", 30.0)))

    // RESUMED checkpoint: a late slice 3 arrives and the SAME
    // checkpoint dir is reused — the file source skips batches 0-2, and
    // the recovered version pointer (highest v=*) must make the new
    // batch merge into the LAST PUBLISHED snapshot, not back into base
    val late = Seq((4L, "d2", 44.0, 40L, "U"), (5L, "e", 50.0, 41L, "I"))
    late.toDF("k", "name", "v", "seq", "op")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice3")
    val part3 = new java.io.File(s"$tmp/slice3").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst3 = new java.io.File(s"$in/part-3.parquet")
    java.nio.file.Files.move(part3.toPath, dst3.toPath)
    dst3.setLastModified(t0 + 3000L)
    val v2 = graft.stream.Jobs.runChangelogStream(spark, base, in,
      allChanges.schema, Seq("k"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    assert(v2 == 3L)
    val resumed = spark.read.parquet(s"$tmp/snap/v=$v2")
      .as[(Long, String, Double)].collect().toSet
    // earlier changes (a2, c2) survive — a regression to merging into
    // base would lose them and resurrect deleted key 2
    assert(resumed == Set(
      (1L, "a2", 12.0), (3L, "c2", 33.0), (4L, "d2", 44.0), (5L, "e", 50.0)))
    // fully-caught-up rerun: checkpoint covers every file → no new
    // snapshot, the recovered version returns instead of throwing
    val v3 = graft.stream.Jobs.runChangelogStream(spark, base, in,
      allChanges.schema, Seq("k"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    assert(v3 == 3L)

    // RETENTION: every superseded version is a full snapshot copy —
    // pruning keeps the newest `keep` (>= 2 preserves the one-batch
    // replay window), and the published pointer + latest content are
    // untouched; a resumed stream still works from the kept versions
    def vdirs(): Seq[String] = new java.io.File(s"$tmp/snap").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("v="))
      .sortBy(_.stripPrefix("v=").toLong).toSeq
    assert(vdirs() == Seq("v=0", "v=1", "v=2", "v=3"))
    graft.sinks.Writers.pruneSnapshotVersions(spark, s"$tmp/snap", keep = 2)
    assert(vdirs() == Seq("v=2", "v=3"))
    val afterPrune = spark.read.parquet(s"$tmp/snap/v=3")
      .as[(Long, String, Double)].collect().toSet
    assert(afterPrune == resumed)
    // a caught-up rerun after pruning recovers v=3 and changes nothing
    val v4 = graft.stream.Jobs.runChangelogStream(spark, base, in,
      allChanges.schema, Seq("k"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    assert(v4 == 3L)
    // keep <= current count is a no-op; keep < 2 is refused loudly
    graft.sinks.Writers.pruneSnapshotVersions(spark, s"$tmp/snap", keep = 5)
    assert(vdirs() == Seq("v=2", "v=3"))
    intercept[IllegalArgumentException] {
      graft.sinks.Writers.pruneSnapshotVersions(spark, s"$tmp/snap", keep = 1)
    }
  }

  test("changelog stream: full replay of published batches rewrites no version") {
    val tmp = tempDir("graft-cdc-replay")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val slices = Seq(
      Seq((1L, "a1", 11.0, 10L, "U"), (2L, "b", 0.0, 11L, "D")),
      Seq((3L, "c", 0.0, 20L, "D"), (1L, "a2", 12.0, 21L, "U")),
      Seq((3L, "c2", 33.0, 30L, "I"), (4L, "d", 40.0, 31L, "I")))
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    slices.zipWithIndex.foreach { case (s, i) =>
      s.toDF("k", "name", "v", "seq", "op")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val schema = slices.head.toDF("k", "name", "v", "seq", "op").schema
    def run() = Jobs.runChangelogStream(spark, base, in, schema,
      Seq("k"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    // per version: the rows, and every file's name and bytes
    def published(): Seq[(Seq[(Long, String, Double)], Seq[(String, Seq[Byte])])] =
      (0 to 2).map { v =>
        val dir = new java.io.File(s"$tmp/snap/v=$v")
        (spark.read.parquet(dir.getPath).as[(Long, String, Double)]
          .collect().sorted.toSeq,
          dir.listFiles().map(_.getName).sorted.toSeq.map(n => n ->
            Files.readAllBytes(new java.io.File(dir, n).toPath).toSeq))
      }
    assert(run() == 2L)
    val before = published()
    assert(before.head._1 == Seq((1L, "a1", 11.0), (3L, "c", 30.0)))
    // checkpoint lost, every version already published: Spark
    // re-delivers batches 0-2, and each must recognize itself as
    // published — a re-merge would fold slice 0 into v=2 and rewrite
    // the v=0 a reader may already hold
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(s"$tmp/ckpt"))
    assert(run() == 2L)
    val after = published()
    (0 to 2).foreach { v =>
      assert(after(v)._1 == before(v)._1, s"replay rewrote the rows of v=$v")
      assert(after(v)._2 == before(v)._2, s"replay rewrote the files of v=$v")
    }
  }

  test("plan recompute stream: full replay of published batches is a no-op, not a wedge") {
    val tmp = tempDir("graft-planreplay")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    val slices = Seq(Seq((1L, 10L), (2L, 20L)), Seq((3L, 30L)), Seq((4L, 40L)))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "n_tokens")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    def planOf(c: org.apache.spark.sql.DataFrame) =
      c.agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok"))
    val first = graft.stream.Jobs.runPlanRecomputeStream(spark, in,
      slices.head.toDF("doc_id", "n_tokens").schema, s"$tmp/work", planOf)
      .as[(Long, Long)].collect().toSeq
    assert(first == Seq((4L, 100L)))
    // simulate the worst replay: every plan version is already
    // PUBLISHED but the checkpoint is gone, so Spark re-delivers ALL
    // batches. Each must recognize itself as published and skip —
    // re-appending would read corpus/v=N as its own prev (an
    // overwrite-while-reading failure) and duplicate rows.
    val ckpt = new java.io.File(s"$tmp/work/ckpt")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(ckpt)
    val replayed = graft.stream.Jobs.runPlanRecomputeStream(spark, in,
      slices.head.toDF("doc_id", "n_tokens").schema, s"$tmp/work", planOf)
      .as[(Long, Long)].collect().toSeq
    assert(replayed == Seq((4L, 100L)), s"replay changed the plan: $replayed")
  }

  test("agg merge stream: delta-sized merges accumulate; full replay never double-counts") {
    val tmp = tempDir("graft-aggmerge")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    val slices = Seq(Seq(("a", 1L), ("b", 2L)), Seq(("a", 10L)), Seq(("b", 5L)))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    def stateOf(b: org.apache.spark.sql.DataFrame) =
      b.groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    def run() = graft.stream.Jobs.runAggMergeStream(spark, in,
      slices.head.toDF("k", "v").schema, s"$tmp/work", stateOf,
      Seq("k"), Seq("n", "s"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val expected = Seq(("a", 2L, 11L), ("b", 2L, 7L))
    assert(run() == expected)
    // checkpoint wiped, every state version already published: each
    // re-delivered batch must skip — a re-merge would DOUBLE-COUNT
    // (the failure mode idempotence exists to prevent in an MV)
    val ckpt = new java.io.File(s"$tmp/work/ckpt")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(ckpt)
    assert(run() == expected, "replay double-counted the merged state")
  }

  test("bm25 index stream: streamed index equals batch build; replay appends nothing") {
    val tmp = tempDir("graft-bm25idx")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    val slices = Seq(
      Seq((1L, "spark merges fast"), (2L, "the vector index")),
      Seq((3L, "spark spark window")),
      Seq((4L, "merge the merge")))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val all = slices.flatten.toDF("doc_id", "text")
    def snap() = {
      val (p, d, s) = graft.stream.Jobs.runBm25IndexStream(spark, in,
        all.schema, s"$tmp/work")
      (p.select("doc_id", "term", "tf").as[(Long, String, Long)].collect().toSet,
        d.select("doc_id", "dl").as[(Long, Long)].collect().toSet,
        s.select("n", "sdl").as[(Long, Long)].collect().toSeq)
    }
    val streamed = snap()
    val (bp, bd, bs) = graft.ext.Text.bm25Index(all, "doc_id", "text")
    assert(streamed._1 ==
      bp.select("doc_id", "term", "tf").as[(Long, String, Long)].collect().toSet)
    assert(streamed._2 == bd.select("doc_id", "dl").as[(Long, Long)].collect().toSet)
    assert(streamed._3 == bs.select("n", "sdl").as[(Long, Long)].collect().toSeq)
    // checkpoint wiped, every batch already published: a replayed
    // batch that appended again would double postings AND stats
    val ckpt = new java.io.File(s"$tmp/work/ckpt")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(ckpt)
    assert(snap() == streamed, "replay changed the maintained index")
  }

  test("kll merge stream: counts exact, quantiles rank-accurate, replay merges nothing twice") {
    val tmp = tempDir("graft-kllstream")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    // 300 values of key "a" (1..300) split across 3 batches
    val slices = Seq(0, 1, 2).map(b => (1 to 100).map(i => ("a", (b * 100 + i).toDouble)))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    def run() = {
      val st = graft.stream.Jobs.runKllMergeStream(spark, in,
        slices.head.toDF("k", "v").schema, s"$tmp/work", "k", "v", 64)
      st.select(col("k"), col("n_rows"),
        graft.ext.KllAgg.quantile(col("sk"), 0.5).as("q50"))
        .as[(String, Long, Double)].collect().toSeq
    }
    val first = run()
    assert(first.map(t => (t._1, t._2)) == Seq(("a", 300L)))
    val q50 = first.head._3
    assert(math.abs(q50 - 150.0) <= 15.0, s"p50 estimate off: $q50")
    // wiped checkpoint, all states published: replay must not re-merge
    val ckpt = new java.io.File(s"$tmp/work/ckpt")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(ckpt)
    assert(run() == first, "replay changed the sketch state")
  }

  test("kmv merge stream: streamed signatures bit-equal the batch sketch; replay is a no-op") {
    val tmp = tempDir("graft-kmvstream")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    // overlapping shingle sets across batches: the same shingle
    // arrives twice for g1 — the distinct-before-cut rule must hold
    val slices = Seq(
      Seq(("g1", "a b c d e"), ("g2", "p q r s t")),
      Seq(("g1", "a b c x y"), ("g2", "u v w p q")),
      Seq(("g1", "m n o a b")))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val all = slices.flatten.toDF("source", "text")
    def run() = graft.stream.Jobs.runKmvMergeStream(spark, in,
      all.schema, s"$tmp/work", "source", "text", shingleSize = 3, k = 4)
      .as[(String, Seq[Long])].collect().toMap
    val streamed = run()
    val batch = graft.ext.Dedup.kmvSketch(all, "source", "text", 3, 4)
      .as[(String, Seq[Long])].collect().toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed("g1").length == 4) // g1 has >4 distinct shingles
    val ckpt = new java.io.File(s"$tmp/work/ckpt")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(ckpt)
    assert(run() == streamed, "replay changed the sketch state")
  }

  test("cdc chunk stream: streamed store equals batch chunking; cross-batch shares merge") {
    val tmp = tempDir("graft-cdcstream")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    // the SAME long passage appears in batches 0 and 2 under
    // different doc ids — its chunks must count as shared (n_docs=2)
    // even though no single batch ever sees both copies
    val passage = (1 to 40).map(i => s"p${i * 3 % 11}x$i").mkString(" ")
    val other = (1 to 40).map(i => s"q${i * 5 % 13}y$i").mkString(" ")
    val slices = Seq(
      Seq((1L, "en", passage)), Seq((2L, "en", other)), Seq((3L, "en", passage)))
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val all = slices.flatten.toDF("doc_id", "lang", "text")
    def run() = {
      val (chunks, state) = graft.stream.Jobs.runCdcChunkStream(
        spark, in, all.schema, s"$tmp/work")
      (chunks.select("doc_id", "chunk_idx", "chunk_text")
        .as[(Long, Long, String)].collect().toSet,
        state.as[(String, Long)].collect().toMap)
    }
    val (sc, st) = run()
    val bc = graft.ext.Dedup.cdcChunks(all, "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_text")
      .as[(Long, Long, String)].collect().toSet
    assert(sc == bc)
    // every chunk of the duplicated passage merged to n_docs_with = 2
    val dupChunks = bc.filter(_._1 == 1L).map(_._3)
    assert(dupChunks.forall(st(_) == 2L), st.toString)
    assert(bc.filter(_._1 == 2L).map(_._3).forall(st(_) == 1L))
    // wiped checkpoint: replay must not double-count the merged state
    val ckpt = new java.io.File(s"$tmp/work/ckpt")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(ckpt)
    assert(run() == ((sc, st)), "replay changed the chunk store")
  }

  test("index ingest stream: streamed IVF-PQ index bit-equals the batch build") {
    // planted 4-cluster geometry (the AnnIndexSpec fixture) so cell
    // assignment is unambiguous whatever the micro-batch carving
    val patterns = IndexedSeq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val rnd = new scala.util.Random(11)
    val planted = (0 until 80).map { i =>
      val a = i % 4
      (i.toLong,
        (patterns(a) ++ patterns(a)).map(x => x + 0.1f * (rnd.nextFloat() - 0.5f)))
    }
    val df = planted.toDF("vec_id", "embedding")
    val centroids = graft.ext.Similarity.trainKmeansCentroids(
      df, "vec_id", "embedding", k = 4, iters = 4)
    val cbs = graft.ext.Features.pqTrainCodebooks(
      df, "vec_id", "embedding", m = 2, k = 4, iters = 4)

    // stream the corpus in as 3 uneven micro-batches
    val tmp = tempDir("graft-ingest")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    Seq(planted.take(10), planted.slice(10, 50), planted.drop(50))
      .zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("vec_id", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
        val part = new java.io.File(s"$tmp/slice$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$in/part-$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(t0 + i * 1000L)
      }
    val idxDir = s"$tmp/index"
    graft.stream.Jobs.runIndexIngestStream(spark, in, df.schema,
      "vec_id", "embedding", centroids, cbs, idxDir)

    // streamed codes ≡ batch codes row-for-row (same frozen quantizers)
    val batchCodes = graft.ext.Features.pqEncode(
      graft.ext.Similarity.assignCells(df, "vec_id", "embedding", centroids),
      "vec_id", "embedding", cbs, carryCols = Seq("label"))
      .select("vec_id", "label", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val idx = graft.ext.AnnIndex.read(spark, idxDir)
    val streamed = idx.codes.select("vec_id", "label", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(streamed == batchCodes)
    assert(idx.codebooks == cbs)

    // a caught-up rerun (same checkpoint) re-commits nothing new
    graft.stream.Jobs.runIndexIngestStream(spark, in, df.schema,
      "vec_id", "embedding", centroids, cbs, idxDir)
    assert(graft.ext.AnnIndex.read(spark, idxDir).codes.count() == 80L)

    // resuming with DIFFERENT quantizers would silently mix
    // incompatible codes into one table — must refuse loudly
    val otherCbs = cbs.map(_.map(_.map(_ + 1.0f)))
    val e = intercept[IllegalArgumentException] {
      graft.stream.Jobs.runIndexIngestStream(spark, in, df.schema,
        "vec_id", "embedding", centroids, otherCbs, idxDir)
    }
    assert(e.getMessage.contains("codebooks differ"))
    val otherCents = centroids.map(_.map(_ + 1.0f))
    val e2 = intercept[IllegalArgumentException] {
      graft.stream.Jobs.runIndexIngestStream(spark, in, df.schema,
        "vec_id", "embedding", otherCents, cbs, idxDir)
    }
    assert(e2.getMessage.contains("centroids differ"))
  }

  test("query serve stream: streamed search equals batch search; rerun serves nothing twice") {
    val patterns = IndexedSeq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val rnd = new scala.util.Random(13)
    val planted = (0 until 80).map { i =>
      val a = i % 4
      (i.toLong,
        (patterns(a) ++ patterns(a)).map(x => x + 0.1f * (rnd.nextFloat() - 0.5f)))
    }
    val df = planted.toDF("vec_id", "embedding")
    val labeled = graft.ext.Similarity.kmeansLabels(
      df, "vec_id", "embedding", k = 4, iters = 4)
    val cbs = graft.ext.Features.pqTrainCodebooks(
      df, "vec_id", "embedding", m = 2, k = 4, iters = 4)
    val codes = graft.ext.Features.pqEncode(
      labeled, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    val tmp = tempDir("graft-serve")
    val idxDir = s"$tmp/index"
    graft.ext.AnnIndex.write(codes,
      graft.ext.Similarity.clusterCentroids(labeled), cbs, idxDir)

    // 6 queries arrive as 2 micro-batches
    val queries = planted.take(6).map { case (id, v) => (id, v) }
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    Seq(queries.take(2), queries.drop(2)).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("query_id", "query_vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val qdf = queries.toDF("query_id", "query_vec")
    graft.stream.Jobs.runQueryServeStream(spark, in, qdf.schema,
      idxDir, s"$tmp/out", k = 5, nprobe = 2)
    val cols = Seq("query_id", "vec_id", "rank")
    val streamed = spark.read.parquet(s"$tmp/out/results")
      .select(cols.head, cols.tail: _*)
      .as[(Long, Long, Int)].collect().toSet
    val batch = graft.ext.AnnIndex.searchTopK(
      graft.ext.AnnIndex.read(spark, idxDir), qdf, k = 5, nprobe = 2)
      .select(cols.head, cols.tail: _*)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 6 * 5)

    // a caught-up rerun re-serves nothing (checkpoint covers both
    // batches): result partitions stay exactly batch_id=0 and batch_id=1
    graft.stream.Jobs.runQueryServeStream(spark, in, qdf.schema,
      idxDir, s"$tmp/out", k = 5, nprobe = 2)
    val parts = new java.io.File(s"$tmp/out/results").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts == Seq("batch_id=0", "batch_id=1"))
    assert(spark.read.parquet(s"$tmp/out/results").count() == 30L)
  }

  test("batch_id= store compaction: folds all but the newest, content identical") {
    val tmp = tempDir("graft-batchcompact")
    // 4 one-clip slices → 4 batch_id= partitions in the media index
    val clips = (0L until 4L).map { id =>
      val samples = Array.tabulate(300)(j => ((id * 7919 + j * 104729) % 4096 - 2048).toShort)
      (id, graft.ext.Multimodal.Wav.encodePcm16(samples, 8000), "audio/wav")
    }
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    clips.zipWithIndex.foreach { case (row, i) =>
      Seq(row).toDF("media_id", "payload", "mime")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType, nullable = true),
      org.apache.spark.sql.types.StructField("mime",
        org.apache.spark.sql.types.StringType, nullable = true)))
    Jobs.runWavHashIndexStream(spark, in, schema, s"$tmp/work")
    val idxRoot = s"$tmp/work/index"
    def parts(): Seq[String] = new java.io.File(idxRoot).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch_id="))
      .sortBy(_.stripPrefix("batch_id=").toLong).toSeq
    assert(parts() == Seq("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"))
    val before = spark.read.parquet(idxRoot).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    // fold everything except the newest (the only possible orphan)
    graft.sinks.Writers.compactBatchPartitions(spark, idxRoot)
    assert(parts() == Seq("batch_id=2", "batch_id=3"), parts().toString)
    val after = spark.read.parquet(idxRoot).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
    // ≤ 2 partitions → no-op (nothing worth folding)
    graft.sinks.Writers.compactBatchPartitions(spark, idxRoot)
    assert(parts() == Seq("batch_id=2", "batch_id=3"))
    // the stream continues across the compaction: a 5th slice lands as
    // batch 4 and the full content is intact
    val extra = {
      val samples = Array.tabulate(300)(j => ((4 * 7919 + j * 104729) % 4096 - 2048).toShort)
      (4L, graft.ext.Multimodal.Wav.encodePcm16(samples, 8000), "audio/wav")
    }
    Seq(extra).toDF("media_id", "payload", "mime")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice4")
    val part4 = new java.io.File(s"$tmp/slice4").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst4 = new java.io.File(s"$in/part-4.parquet")
    java.nio.file.Files.move(part4.toPath, dst4.toPath)
    dst4.setLastModified(System.currentTimeMillis())
    Jobs.runWavHashIndexStream(spark, in, schema, s"$tmp/work")
    assert(parts() == Seq("batch_id=2", "batch_id=3", "batch_id=4"))
    assert(spark.read.parquet(idxRoot).count() == 5L)

    // CRASH RECOVERY: simulate dying between the swap's delete(root)
    // and rename(staging, root) — root missing, the complete table
    // stranded in __staging. Both the maintenance entry point and the
    // stream entry must complete the swap instead of losing the store.
    val all = spark.read.parquet(idxRoot).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    new java.io.File(idxRoot).renameTo(new java.io.File(idxRoot + "__staging"))
    assert(!new java.io.File(idxRoot).isDirectory)
    graft.sinks.Writers.recoverStagedSwap(spark, idxRoot)
    assert(new java.io.File(idxRoot).isDirectory)
    assert(!new java.io.File(idxRoot + "__staging").exists())
    val recovered = spark.read.parquet(idxRoot).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(recovered == all)
    // the stream entry recovers too (a restart after the crash)
    new java.io.File(idxRoot).renameTo(new java.io.File(idxRoot + "__staging"))
    Jobs.runWavHashIndexStream(spark, in, schema, s"$tmp/work") // caught up: no new batches
    assert(spark.read.parquet(idxRoot).count() == 5L)
  }

  /** One (doc_id, lang, text) micro-batch file per slice, mod-time
    * ordered like [[writeOrderedSlices]].
    */
  private def writeDocSlices(
      tmp: String, slices: Seq[Seq[(Long, String, String)]]): String = {
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    slices.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "lang", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    in
  }

  test("near-dup stream: band index partition-prunes; crash replay never self-matches") {
    val tmp = tempDir("graft-neardupband")
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val tX = "one two three four five six seven eight nine ten eleven twelve"
    val tY = "red orange yellow green blue indigo violet white black brown pink gray"
    val tZ = "cat dog bird fish horse cow sheep goat pig duck hen owl"
    val slices = Seq(
      Seq((1L, "en", t1), (2L, "en", tX)),
      Seq((3L, "en", t1 + " nu"), (4L, "en", tY)), // 3 near-dups 1 cross-batch
      Seq((5L, "en", tY + " cyan"), (6L, "en", tZ))) // 5 near-dups 4
    val in = writeDocSlices(tmp, slices)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val kept = Jobs.runNearDupDedupStream(spark, in, schema, s"$tmp/work")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L, 6L))

    // the stored bands table prunes twice: the replay guard
    // (v < beforeV) is a directory-partition filter, and the
    // touched-bucket bp values push into the parquet scan as an In
    // filter pruning row groups via the sort's min/max stats — no
    // hive (band, pb) directory explosion (that layout was a
    // measured 21× q139 regression)
    val bandsRoot = s"$tmp/work/index/bands"
    val pruned = Jobs.nearDupStoredBandScan(spark, bandsRoot, Seq(0, 1, 513), 2L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("(v"), plan)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("In(bp"), plan)
    // full combo set + unbounded version sees every stored band row
    val allBp = (0 until 16 * 256).toSeq
    val full = Jobs.nearDupStoredBandScan(spark, bandsRoot, allBp, Long.MaxValue)
    assert(full.count() == 4 * 16L) // 4 survivors × 16 bands

    // the stored DOCS table (the verify side) prunes the same way:
    // v < beforeV at listing, the candidate id-prefix set as a
    // pushed In on the sorted ip data column — the verify scan is
    // O(candidate row groups), not O(every doc ever admitted)
    val docsRoot = s"$tmp/work/index/docs"
    val prunedDocs = Jobs.nearDupStoredDocScan(spark, docsRoot, Seq(3, 77), 2L)
    val dplan = prunedDocs.queryExecution.executedPlan.toString
    assert(dplan.contains("PartitionFilters"), dplan)
    assert(dplan.contains("(v"), dplan)
    assert(dplan.contains("In(ip"), dplan)
    // the full prefix set + unbounded version sees every survivor,
    // and the write-side ip column matches the read-side derivation
    val allIp = (0 until 256).toSeq
    val fullDocs = Jobs.nearDupStoredDocScan(spark, docsRoot, allIp, Long.MaxValue)
    assert(fullDocs.count() == 4L) // the 4 survivors
    val ipCheck = spark.read.parquet(docsRoot)
      .select(col("id"), col("ip"),
        pmod(xxhash64(col("id")), lit(256)).cast("int").as("expect"))
      .filter(col("ip") =!= col("expect"))
    assert(ipCheck.count() == 0L)

    // CRASH REPLAY: simulate dying between the index write and the
    // kept/v= marker write of the LAST batch — the orphaned index
    // rows for batch 2's survivor (doc 6) are on disk, the marker is
    // not. Without the v < batchId read guard the replayed batch
    // would match doc 6 against its own orphaned fingerprint and
    // silently drop it as a "duplicate" of itself.
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(s"$tmp/work/kept/v=2"))
    rmrf(new java.io.File(s"$tmp/work/ckpt"))
    val replayed = Jobs.runNearDupDedupStream(spark, in, schema, s"$tmp/work")
      .select("doc_id").as[Long].collect().toSet
    assert(replayed == Set(1L, 2L, 4L, 6L))
  }

  test("near-dup index compaction: one generation, same results, orphans preserved") {
    val tmp = tempDir("graft-neardupcompact")
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val tX = "one two three four five six seven eight nine ten eleven twelve"
    val tY = "red orange yellow green blue indigo violet white black brown pink gray"
    val tZ = "cat dog bird fish horse cow sheep goat pig duck hen owl"
    val slices = Seq(
      Seq((1L, "en", t1), (2L, "en", tX)),
      Seq((3L, "en", t1 + " nu"), (4L, "en", tY)),
      Seq((5L, "en", tY + " cyan"), (6L, "en", tZ)))
    val in = writeDocSlices(tmp, slices)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = true)))
    // inline compaction ON (every 2 batches) — results identical to the
    // uncompacted run in the previous test
    val kept = Jobs.runNearDupDedupStream(spark, in, schema, s"$tmp/work",
      compactEvery = 2).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L, 6L))

    def gens(root: String): Seq[String] = {
      val d = new java.io.File(root)
      if (!d.isDirectory) Seq.empty
      else d.listFiles().filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("v=")).sorted.toSeq
    }
    val bandsRoot = s"$tmp/work/index/bands"
    val docsRoot = s"$tmp/work/index/docs"
    // batches 0..2 ran; compaction fired after batch 1 (v=0,v=1 → v=1),
    // batch 2 appended its own generation → exactly two remain
    assert(gens(bandsRoot) == Seq("v=1", "v=2"), gens(bandsRoot).toString)

    // CONTINUE the stream across the compaction: a new slice with a
    // near-dup of pre-compaction survivor 1 must still be caught
    val extra = Seq((7L, "en", t1 + " xi"), (8L, "en",
      "quark lepton boson hadron meson photon gluon neutrino muon tau pion kaon"))
    extra.toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice3")
    val part = new java.io.File(s"$tmp/slice3").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$in/part-3.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(System.currentTimeMillis())
    val kept2 = Jobs.runNearDupDedupStream(spark, in, schema, s"$tmp/work")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(1L, 2L, 4L, 6L, 8L))
    assert(gens(bandsRoot) == Seq("v=1", "v=2", "v=3"), gens(bandsRoot).toString)

    // ORPHAN PRESERVATION: kill batch 3's marker (kept/v=3) so its index
    // generation is orphaned; compact folds the published v=1,v=2 into
    // one v=2 generation and must carry the orphan v=3 across the swap
    // untouched — then a full replay still lands the same final set
    // (the replayed batch 3 must not match its own orphaned rows)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete(); ()
    }
    val publishedBands = Jobs.nearDupStoredBandScan(
      spark, bandsRoot, (0 until 16 * 256).toSeq, 3L)
      .collect().map(_.toString).sorted.toSeq
    rmrf(new java.io.File(s"$tmp/work/kept/v=3"))
    Jobs.compactNearDupIndex(spark, s"$tmp/work")
    assert(gens(bandsRoot) == Seq("v=2", "v=3"), gens(bandsRoot).toString)
    assert(gens(docsRoot) == Seq("v=2", "v=3"), gens(docsRoot).toString)
    // the published rows are bit-identical through the fold
    val foldedBands = Jobs.nearDupStoredBandScan(
      spark, bandsRoot, (0 until 16 * 256).toSeq, 3L)
      .collect().map(_.toString).sorted.toSeq
    assert(foldedBands == publishedBands)
    rmrf(new java.io.File(s"$tmp/work/ckpt"))
    val replayed = Jobs.runNearDupDedupStream(spark, in, schema, s"$tmp/work")
      .select("doc_id").as[Long].collect().toSet
    assert(replayed == Set(1L, 2L, 4L, 6L, 8L))

    // final standalone maintenance pass: everything published folds to
    // ONE generation, and the compacted table still row-group-prunes
    // (sorted bp column, pushed In filter)
    Jobs.compactNearDupIndex(spark, s"$tmp/work")
    assert(gens(bandsRoot) == Seq("v=3"), gens(bandsRoot).toString)
    assert(gens(docsRoot) == Seq("v=3"), gens(docsRoot).toString)
    val plan = Jobs.nearDupStoredBandScan(spark, bandsRoot, Seq(0, 1, 513), 99L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(bp"), plan)
    val finalScan = Jobs.nearDupStoredBandScan(
      spark, bandsRoot, (0 until 16 * 256).toSeq, Long.MaxValue)
    assert(finalScan.count() == 5 * 16L) // 5 survivors × 16 bands
  }
}
