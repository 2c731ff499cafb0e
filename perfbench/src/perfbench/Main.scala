package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload hands one measurement: a ready session, an empty
  * directory of its own, the seed, the time to measure for, and the
  * tracer when this is a traced run.
  */
final case class Ctx(
    spark: SparkSession, dir: Path, seed: Long, seconds: Double, tracer: Option[Tracer])

/** What a measurement found.
  *
  * @param e2e       end-to-end metrics of the untraced operations
  * @param tracedE2e the same metrics over the traced operations (traced run only)
  * @param layers    per-layer metrics the workload measures itself
  * @param checks    named output checks and whether each held
  * @param info      extra human-readable lines
  */
final case class Outcome(
    attempted: Int,
    failed: Int,
    e2e: Map[String, Double],
    tracedE2e: Map[String, Double],
    layers: Map[String, Double],
    checks: Seq[(String, Boolean)],
    info: Seq[String],
    genS: Double)

trait Workload {
  /** One pass of the workload's op on inputs of its own; returns the
    * seconds it spent generating inputs, which set-up time excludes. The
    * first pass is part of set-up; `extraWarmups` more passes follow
    * untimed, to get the measured ops past the JIT ramp.
    */
  def warmup(spark: SparkSession, dir: Path, seed: Long): Double

  def extraWarmups: Int

  def measure(ctx: Ctx): Outcome
}

/** Benchmark entry point (run through `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <empty dir> --cpus <n>
  * }}}
  *
  * Prints the run's metrics by name with their units, then one JSON
  * line `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exits 1 when an output check fails or an operation fails.
  */
object Main {

  val Workloads: Map[String, Workload] = Map(
    "medallion_daily" -> MedallionDaily,
    "stream_validate" -> StreamValidate,
    "corpus_dedup" -> CorpusDedup)

  /** End-to-end metrics: (name, unit). What "op" means is per workload:
    * a daily medallion run, an event's stamp-to-commit latency, a dedup
    * batch; `rows_per_s` is Bronze rows, backlog events or documents per
    * second.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "op_p50_s" -> "s", "rows_per_s" -> "1/s", "setup_s" -> "s")

  /** Per-layer metrics: every traced run reports all of them, with 0
    * where a workload does not exercise the layer.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.gap_s" -> "s", "driver.jobs" -> "count", "driver.sql_execs" -> "count",
    "driver.plan_ms.analysis" -> "ms", "driver.plan_ms.optimization" -> "ms",
    "driver.plan_ms.planning" -> "ms") ++
    Modules.all.flatMap(m => Seq(s"jobs.$m.count" -> "count", s"jobs.$m.busy_s" -> "s")) ++
    Seq(
      "jobs.unattributed_share" -> "ratio",
      "sinks.files_written" -> "count", "sinks.bytes_written" -> "bytes",
      "sinks.job_commit_ms" -> "ms", "sinks.task_commit_ms" -> "ms",
      "sources.files_listed" -> "count", "sources.metadata_ms" -> "ms") ++
    StreamValidate.TriggerKeys.map(k => s"stream.trigger_ms.$k" -> "ms") ++
    Seq(
      "stream.triggers" -> "count", "stream.rows_per_trigger" -> "count",
      "stream.backlog_files" -> "count", "stream.backlog_slope" -> "files/s",
      "stream.gen_late_ms_p50" -> "ms", "stream.gen_late_ms_max" -> "ms",
      "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_cpu_s" -> "s",
      "exec.task_run_s" -> "s", "exec.gc_s" -> "s", "exec.sched_delay_s" -> "s",
      "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
      "exec.spill_bytes" -> "bytes",
      "ext.ns_per_doc" -> "ns", "ext.candidate_pairs" -> "count",
      "ext.verified_pairs" -> "count", "ext.verified_ratio" -> "ratio",
      "harness.session_s" -> "s", "harness.warmup_s" -> "s", "harness.extra_warmup_s" -> "s",
      "harness.gen_s" -> "s", "harness.heap_peak_mb" -> "MB",
      "harness.loadavg_start" -> "load", "harness.loadavg_end" -> "load",
      "overhead.op_p50_s" -> "s", "overhead.rows_per_s" -> "1/s",
      "trace.ops" -> "count")

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, cpus: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), need("cpus").toInt)
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(o.seconds > 0 && o.cpus > 0, "seconds and cpus must be positive")
    o
  }

  def session(work: Path, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case NonFatal(e) => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val wl = Workloads(o.workload)
    val loadStart = loadavg()
    // set-up is the cold path: JVM start to session ready, plus the first
    // pass of the op, whose class loading, codegen and JIT only a fresh JVM pays
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work, o.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val ready = System.currentTimeMillis()
    val gen1 = wl.warmup(spark, Files.createDirectories(o.work.resolve("warmup-1")), o.seed)
    val warmupS = (System.currentTimeMillis() - ready) / 1e3 - gen1
    val sessionS = (ready - jvmStart) / 1e3
    val setupS = sessionS + warmupS
    val e0 = System.nanoTime()
    val genExtra = (2 to wl.extraWarmups + 1).map(r =>
      wl.warmup(spark, Files.createDirectories(o.work.resolve(s"warmup-$r")), o.seed)).sum
    val extraWarmupS = (System.nanoTime() - e0) / 1e9 - genExtra

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val out = wl.measure(Ctx(spark, Files.createDirectories(o.work.resolve("run")), o.seed,
      o.seconds, tracer))
    val loadEnd = loadavg()

    val e2e = out.e2e + ("setup_s" -> setupS)
    val failedChecks = out.checks.filterNot(_._2).map(_._1)
    val correct = failedChecks.isEmpty && out.failed == 0 && out.attempted > 0 &&
      EndToEnd.forall { case (k, _) => e2e.get(k).exists(v => v > 0 && !v.isInfinite) }

    println(s"# workload ${o.workload} seed ${o.seed} seconds ${o.seconds} trace ${if (o.trace) 1 else 0} cpus ${o.cpus}")
    out.info.foreach(l => println(s"# $l"))
    EndToEnd.foreach { case (k, u) => println(f"# $k ${e2e.getOrElse(k, Double.NaN)}%.6f $u") }
    println(f"# ops_failed_frac ${out.failed.toDouble / math.max(1, out.attempted)}%.4f (${out.failed}/${out.attempted})")
    println(f"# set-up: session $sessionS%.3f s, first pass $warmupS%.3f s; ${wl.extraWarmups} more warmup passes $extraWarmupS%.3f s (untimed)")
    println(f"# loadavg start $loadStart%.2f end $loadEnd%.2f; input generation ${out.genS}%.2f s (untimed)")
    out.checks.foreach { case (name, ok) => println(s"# check ${if (ok) "ok  " else "FAIL"} $name") }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) EndToEnd.map { case (k, u) => (k, e2e.getOrElse(k, 0.0), u) }
      else {
        val harness = Map(
          "harness.session_s" -> sessionS,
          "harness.warmup_s" -> warmupS,
          "harness.extra_warmup_s" -> extraWarmupS,
          "harness.gen_s" -> (gen1 + genExtra + out.genS),
          "harness.heap_peak_mb" -> heapPeakMb(),
          "harness.loadavg_start" -> loadStart,
          "harness.loadavg_end" -> loadEnd) ++
          Seq("op_p50_s", "rows_per_s").map(k =>
            s"overhead.$k" -> (out.tracedE2e.getOrElse(k, 0.0) - out.e2e.getOrElse(k, 0.0)))
        val all = out.layers ++ harness
        PerLayer.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    tracer.foreach(_.stop())
    stopSession(spark)

    val body = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}
