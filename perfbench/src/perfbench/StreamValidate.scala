package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}
import org.apache.spark.sql.types.LongType

import graft.schema.Schemas
import graft.sinks.Writers
import graft.stream.Validate

/** `stream_validate`: the reference's streaming half. One long-running
  * Structured Streaming query over a JSON file source; each micro-batch
  * runs `Validate.split(cryptoRules)`, writes good and bad rows with
  * `Writers.idempotentBatchWrite`, and counts `Validate.alerts` on the
  * good rows.
  *
  *  - Phase 1, open loop: one generator thread lands one file of
  *    `EventsPerFile` events per trigger interval, `LeadMs` before the
  *    trigger boundary, on a fixed schedule that does not slow when the
  *    query slows, stamping each event with the time its file was due.
  *    Latency runs from that stamp to the end of the trigger that
  *    committed the event, so it is trigger time plus `LeadMs`. The rate
  *    sits far below saturation (perfbench/DESIGN.md has the sweep), so
  *    per-trigger overhead dominates (`stream`, file listing in
  *    `sources`, per-trigger commits in `sinks`).
  *  - Phase 2: `Drains` times, a pre-landed backlog directory appears
  *    at once (one rename), `LeadMs` before a trigger boundary, and the
  *    same query drains it: the large-batch path, where per-row cost in
  *    `exec` is a larger share of the trigger.
  */
object StreamValidate extends Workload {

  val TriggerKeys: Seq[String] = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution")

  /** Processing-time trigger interval. Spark aligns trigger starts to
    * multiples of it, and inputs land `LeadMs` before a boundary, so an
    * input's wait for its trigger is fixed and short, and the latency
    * moves only with how long the triggers take.
    */
  val TriggerMs = 1500
  val LeadMs = 30
  /** Phase-1 rate and backlog size; the system properties exist for the
    * saturation sweep in perfbench/DESIGN.md.
    */
  val EventsPerSecond: Int = sys.props.get("perfbench.stream.eps").fold(2000)(_.toInt)
  val EventsPerFile: Int = EventsPerSecond * TriggerMs / 1000
  val Phase1Share = 0.6
  val Drains = 3
  val BacklogFiles = 10
  val BacklogEventsPerFile: Int = sys.props.get("perfbench.stream.backlog").fold(160000)(_.toInt) / BacklogFiles
  /** The warmup pass lands small files one at a time, then one backlog. */
  val WarmupFiles = 1
  val WarmupBacklogEvents = 40000
  val extraWarmups = 0
  private val CommitTimeoutMs = 60000L

  private val schema = Schemas.streamPayload.add("event_id", LongType)

  /** The system under test: validate, route and alert per micro-batch.
    * Alert counts are kept per batch id, so a replayed batch does not
    * count twice.
    */
  private def start(spark: SparkSession, land: Path, out: Path,
      alerts: ConcurrentHashMap[Long, Long], tracer: Option[Tracer]): StreamingQuery =
    spark.readStream.schema(schema).json(s"$land/*/*.json")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the stream thread's jobs carry the query's call site, not the
        // library's frames, so spans attribute them
        def span[A](m: String)(f: => A): A = tracer.fold(f)(_.span(m)(f))
        batch.persist()
        try {
          val (good, bad) = span("stream")(Validate.split(batch, Validate.cryptoRules))
          span("sinks") {
            Writers.idempotentBatchWrite(good, batchId, out.resolve("good").toString)
            Writers.idempotentBatchWrite(bad, batchId, out.resolve("bad").toString)
          }
          alerts.put(batchId, span("stream")(Validate.alerts(good, Validate.cryptoAlert).count()))
        } finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", out.resolve("checkpoint").toString)
      .trigger(SparkTrigger.ProcessingTime(TriggerMs.toLong))
      .start()

  /** Write a file beside its final name, under a name the source skips;
    * the returned action renames it in, so the source never lists a
    * half-written file and landing costs one rename.
    */
  private def stage(dir: Path, name: String, lines: java.util.List[String]): () => Unit = {
    val tmp = Files.write(dir.resolve(s".$name.tmp"), lines)
    () => Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def landFile(dir: Path, name: String, lines: java.util.List[String]): Unit =
    stage(dir, name, lines)()

  /** Triggers that read data, in batch order. */
  private def dataTriggers(q: StreamingQuery): Seq[(Long, Trigger)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => p.batchId -> Tracer.trigger(p)).sortBy(_._1)

  /** Wait until `rows` rows have been committed; the triggers so far,
    * or None on timeout or query failure.
    */
  private def awaitRows(q: StreamingQuery, rows: Long): Option[Seq[Trigger]] = {
    val deadline = System.currentTimeMillis() + CommitTimeoutMs
    while (System.currentTimeMillis() < deadline && q.isActive) {
      val ts = dataTriggers(q).map(_._2)
      if (ts.map(_.rows).sum >= rows) return Some(ts)
      Thread.sleep(5)
    }
    None
  }

  /** A backlog of `files` files of `perFile` events, written to a staging
    * directory; `release` renames it into the landing area in one step.
    */
  private final case class Backlog(staged: Path, landed: Path, rows: Long, invalid: Int, surges: Int) {
    def release(): Unit = Files.move(staged, landed, StandardCopyOption.ATOMIC_MOVE)
  }

  private def backlog(land: Path, name: String, seed: Long, fileSalt: Int, firstId: Long,
      files: Int, perFile: Int): Backlog = {
    val staged = Files.createDirectories(land.resolveSibling("staging").resolve(name))
    var invalid = 0
    var surges = 0
    for (f <- 0 until files) {
      val ev = Gen.events(seed, fileSalt + f, firstId + f.toLong * perFile, perFile)
      Files.write(staged.resolve(f"f-$f%05d.json"), ev.stamped(System.currentTimeMillis()))
      invalid += ev.invalid
      surges += ev.surges
    }
    Backlog(staged, land.resolve(name), files.toLong * perFile, invalid, surges)
  }

  def warmup(spark: SparkSession, dir: Path, seed: Long): Double = {
    val land = Files.createDirectories(dir.resolve("land"))
    val g0 = System.nanoTime()
    val small = (0 until WarmupFiles).map(k =>
      Gen.events(seed, (1 << 20) + k, k.toLong * EventsPerFile, EventsPerFile))
    val big = backlog(land, "b", seed, 1 << 21, WarmupFiles.toLong * EventsPerFile,
      BacklogFiles, WarmupBacklogEvents / BacklogFiles)
    val genS = (System.nanoTime() - g0) / 1e9
    val alerts = new ConcurrentHashMap[Long, Long]()
    val q = start(spark, land, dir.resolve("out"), alerts, None)
    try {
      val p0 = Files.createDirectories(land.resolve("p0"))
      for ((f, k) <- small.zipWithIndex) {
        landFile(p0, s"f-$k.json", f.stamped(System.currentTimeMillis()))
        require(awaitRows(q, (k + 1L) * EventsPerFile).isDefined, "warmup stream did not commit")
      }
      big.release()
      require(awaitRows(q, WarmupFiles.toLong * EventsPerFile + big.rows).isDefined,
        "warmup stream did not commit")
    } finally q.stop()
    genS
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val land = Files.createDirectories(ctx.dir.resolve("land"))
    val out = ctx.dir.resolve("out")
    val phase1Ms = (ctx.seconds * Phase1Share * 1000).toLong
    val nFiles = math.max(4, math.round(phase1Ms.toDouble / TriggerMs).toInt)

    // ---- inputs, generated before the clock starts ----
    val g0 = System.nanoTime()
    val prime = Gen.events(ctx.seed, 0, 0L, EventsPerFile)
    val files = (0 until nFiles).map(k =>
      Gen.events(ctx.seed, 1 + k, (1L + k) * EventsPerFile, EventsPerFile))
    val p1Rows = (1L + nFiles) * EventsPerFile
    val backlogs = (0 until Drains).map(b => backlog(land, s"b$b", ctx.seed,
      10000 + b * BacklogFiles, p1Rows + b.toLong * BacklogFiles * BacklogEventsPerFile,
      BacklogFiles, BacklogEventsPerFile))
    val genS = (System.nanoTime() - g0) / 1e9
    val totalRows = p1Rows + backlogs.map(_.rows).sum
    val planted = (prime +: files).map(f => (f.invalid, f.surges)) ++
      backlogs.map(b => (b.invalid, b.surges))

    val alerts = new ConcurrentHashMap[Long, Long]()
    val q = start(spark, land, out, alerts, ctx.tracer)
    var failedOps = 0
    val due = new Array[Long](nFiles)
    val landed = new Array[Long](nFiles)
    var p1Triggers = Seq.empty[Trigger]
    val drains = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)] // events/s, traced
    var traceFromMs = Long.MaxValue
    try {
      // a priming file: the query's first data trigger plans and compiles
      val p0 = Files.createDirectories(land.resolve("p0"))
      landFile(p0, "f.json", prime.stamped(System.currentTimeMillis()))
      require(awaitRows(q, EventsPerFile).isDefined, "priming file was not committed")

      // ---- phase 1: open loop ----
      val p1 = Files.createDirectories(land.resolve("p1"))
      val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs - LeadMs
      val generator = new Thread(() => {
        for (k <- 0 until nFiles) {
          due(k) = t0 + k.toLong * TriggerMs
          val release = stage(p1, f"f-$k%05d.json", files(k).stamped(due(k)))
          val wait = due(k) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          release()
          landed(k) = System.currentTimeMillis()
        }
      }, "perfbench-generator")
      generator.setDaemon(true)
      generator.start()
      // traced runs trace the second half of phase 1 only: from the
      // landing of file nFiles/2, after the trigger before it has ended
      ctx.tracer.foreach { tr =>
        Thread.sleep(math.max(0L, t0 + (nFiles / 2).toLong * TriggerMs - System.currentTimeMillis()))
        traceFromMs = System.currentTimeMillis()
        tr.open("p1")
      }
      generator.join()
      val committed = awaitRows(q, p1Rows)
      ctx.tracer.foreach(_.close())
      p1Triggers = committed.getOrElse(dataTriggers(q).map(_._2))

      // ---- phase 2: drain fixed backlogs ----
      for ((b, i) <- backlogs.zipWithIndex) {
        val traced = ctx.tracer.filter(_ => i % 2 == 1)
        val before = dataTriggers(q).map(_._2.rows).sum
        // release just before a trigger boundary, so the backlog does not
        // wait out a trigger interval first
        Thread.sleep(math.max(0L, (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs - LeadMs -
          System.currentTimeMillis()))
        def drain(): Option[Double] = {
          val tLand = System.currentTimeMillis()
          b.release()
          awaitRows(q, before + b.rows).map { ts =>
            val end = ts.scanLeft(0L)(_ + _.rows).zip(ts).collectFirst {
              case (cum, t) if cum + t.rows >= before + b.rows => t.endMs
            }.get
            b.rows / ((end - tLand) / 1e3)
          }
        }
        traced.fold(drain())(_.op("p2")(drain())) match {
          case Some(eps) => drains += ((eps, traced.isDefined))
          case None => failedOps += 1
        }
      }
    } finally q.stop()

    // ---- phase-1 latency: file k's rows are the (k+1)-th block of
    // EventsPerFile rows after the priming file; files are read in landing
    // order, each by the first trigger whose cumulative rows cover it ----
    val cum = p1Triggers.scanLeft(0L)(_ + _.rows).tail
    val fileBatch = (0 until nFiles).map { k =>
      val lastRow = (k + 2L) * EventsPerFile
      cum.indexWhere(_ >= lastRow) match {
        case -1 => None
        case i => Some(p1Triggers(i))
      }
    }
    failedOps += fileBatch.count(_.isEmpty)
    val lat = (0 until nFiles).flatMap(k => fileBatch(k).map(t => (k, (t.endMs - due(k)) / 1e3, t)))
    val untracedLat = lat.filter(_._3.endMs < traceFromMs).map(_._2)
    val tracedLat = lat.filter(x => x._3.startMs >= traceFromMs).map(_._2)

    // ---- output checks against the planted truth (untimed) ----
    val good = spark.read.parquet(out.resolve("good").toString)
    val bad = spark.read.parquet(out.resolve("bad").toString)
    val ids = good.select("event_id").union(bad.select("event_id"))
    val idStats = ids.agg(count(lit(1)), countDistinct("event_id"), min("event_id"), max("event_id")).head()
    val readRows = dataTriggers(q).map(_._2.rows).sum
    val (goodN, badN) = (good.count(), bad.count())
    val checks = Seq(
      "good rows + bad rows equal the generated rows" -> (goodN + badN == totalRows),
      "bad rows equal the planted invalid rows" -> (badN == planted.map(_._1).sum),
      "alerts equal the planted surges" -> (alerts.values.asScala.map(_.toLong).sum == planted.map(_._2).sum),
      "no event is committed twice" ->
        (idStats.getLong(0) == totalRows && idStats.getLong(1) == totalRows &&
          idStats.getLong(2) == 0L && idStats.getLong(3) == totalRows - 1 && readRows == totalRows),
      "every phase-1 file and backlog was committed" -> (failedOps == 0))
    val attempted = nFiles + Drains
    val failed = if (checks.forall(_._2)) failedOps else attempted

    // ---- metrics ----
    def e2e(latency: Seq[Double], eps: Seq[Double]): Map[String, Double] =
      (if (latency.isEmpty) Map.empty[String, Double] else Map("op_p50_s" -> Stats.median(latency))) ++
        (if (eps.isEmpty) Map.empty[String, Double] else Map("rows_per_s" -> Stats.median(eps)))
    val untracedEps = drains.filterNot(_._2).map(_._1).toSeq
    val perEvent = untracedLat.flatMap(l => Iterator.fill(EventsPerFile)(l))
    val tail = Stats.tail(perEvent)
    val late = (0 until nFiles).map(k => (landed(k) - due(k)).toDouble)
    // backlog at each trigger end: files landed by then minus files committed
    val backlogAt = p1Triggers.zip(cum).map { case (t, c) =>
      (t.endMs, landed.count(l => l > 0 && l <= t.endMs) - math.max(0L, c / EventsPerFile - 1))
    }
    val info = Seq(
      f"stream.latency_p50_s ${if (untracedLat.isEmpty) Double.NaN else Stats.median(untracedLat)}%.4f s (files=${untracedLat.size}, events=${perEvent.size})",
      tail.fold("stream.latency_tail_s n/a")(t =>
        f"stream.latency_tail_s ${t.value}%.4f s (${t.label}, n=${t.n} events)"),
      f"stream.drain_eps ${if (untracedEps.isEmpty) Double.NaN else Stats.median(untracedEps)}%.1f 1/s (drains=${untracedEps.size}, events per drain=${BacklogFiles * BacklogEventsPerFile})",
      f"stream.rate $EventsPerSecond events/s, one $EventsPerFile-event file per $TriggerMs ms trigger, phase 1 ${phase1Ms / 1e3}%.1f s",
      f"stream.gen_late_ms p50 ${Stats.median(late)}%.1f max ${late.max}%.1f",
      s"stream.backlog_files max ${if (backlogAt.isEmpty) 0 else backlogAt.map(_._2).max}",
      lat.map(x => f"${x._2}%.2f").mkString("stream.file_latency_s ", " ", ""),
      drains.map(x => f"${x._1}%.0f").mkString("stream.drain_eps_each ", " ", ""))

    val layers = ctx.tracer.map { tr =>
      val traced = tr.triggers("p1").filter(_.rows > 0)
      traced.foreach(t => tr.addOp("p1", t.startMs, t.endMs))
      val p1 = tr.report("p1")
      val p2 = tr.report("p2")
      val triggerMs = TriggerKeys.map { k =>
        s"stream.trigger_ms.$k" ->
          (if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.durationMs.getOrElse(k, 0L).toDouble)))
      }
      p1.filterNot(_._1.startsWith("exec.")) ++ p2.filter(_._1.startsWith("exec.")) ++ triggerMs ++ Map(
        "stream.triggers" -> traced.size.toDouble,
        "stream.rows_per_trigger" -> (if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.rows.toDouble))),
        "stream.backlog_files" -> (if (backlogAt.isEmpty) 0.0 else backlogAt.map(_._2).max.toDouble),
        "stream.backlog_slope" -> slope(backlogAt.map { case (t, b) => (t / 1e3, b.toDouble) }),
        "stream.gen_late_ms_p50" -> Stats.median(late),
        "stream.gen_late_ms_max" -> late.max)
    }.getOrElse(Map.empty)

    Outcome(attempted, failed, e2e(untracedLat, untracedEps),
      e2e(tracedLat, drains.filter(_._2).map(_._1).toSeq), layers, checks, info, genS)
  }

  /** Least-squares slope of y over x; 0 for fewer than two points. */
  private def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    }
}
