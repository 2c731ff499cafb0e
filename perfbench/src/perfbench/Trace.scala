package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The library's modules, as named by the package of a `graft.*` frame. */
object Modules {
  val all: Seq[String] = Seq("pipeline", "etl", "dq", "gold", "sinks", "sources", "stream", "ext")

  private val Frame = """(?:^|/)graft\.([a-z]+)\.""".r.unanchored

  /** Module of the innermost library frame of a call-site long form
    * (innermost frame first, one frame per line), if any.
    */
  def ofCallSite(site: String): Option[String] =
    Option(site).iterator.flatMap(_.split('\n')).collectFirst {
      case Frame(pkg) if all.contains(pkg) => pkg
    }
}

/** A trigger of a streaming query, as its progress event reports it. */
final case class Trigger(startMs: Long, durationMs: Map[String, Long], rows: Long) {
  def endMs: Long = startMs + durationMs.getOrElse("triggerExecution", 0L)
}

/** In-memory trace of one run: Spark job spans attributed to modules,
  * task/stage totals, planning phases and write/scan SQL metrics, and
  * streaming trigger progress — collected by listeners the benchmark
  * installs and written out once, when the run reports.
  *
  * Events count only while a window is open (`open(bucket)` …
  * `close()`); each window names the bucket its counters land in, so
  * one run can trace two phases separately. The listeners stay
  * registered for the tracer's lifetime and ignore events outside a
  * window; the listener bus is drained at every window edge, so an
  * event lands in the window its work ran in.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  @volatile private var bucket: Option[String] = None

  private val counters = mutable.Map.empty[(String, String), Double]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val execDetails = mutable.Map.empty[Long, String]
  private val ops = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val triggerLog = mutable.ArrayBuffer.empty[(String, Trigger)]

  private def add(name: String, v: Double): Unit = bucket.foreach { b =>
    counters.synchronized { counters((b, name)) = counters.getOrElse((b, name), 0.0) + v }
  }

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execDetails.synchronized { execDetails(s.executionId) = s.details }
        add("driver.sql_execs", 1)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = bucket.foreach { b =>
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val module = e.stageInfos.sortBy(-_.stageId).iterator
        .flatMap(s => Modules.ofCallSite(s.details)).nextOption()
        .orElse(prop("spark.sql.execution.id").flatMap(id =>
          execDetails.synchronized(execDetails.get(id.toLong))).flatMap(Modules.ofCallSite))
        .orElse(prop(SpanKey))
        .getOrElse(Unattributed)
      jobs.synchronized { jobs(e.jobId) = JobRec(b, e.time, -1L, module) }
      add("driver.jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && bucket.isDefined) {
        val info = e.taskInfo
        add("exec.tasks", 1)
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (bucket.isDefined) {
        for ((phase, summary) <- qe.tracker.phases if PlanPhases.contains(phase))
          add(s"driver.plan_ms.$phase", summary.durationMs.toDouble)
        var joinRowsMax = 0L
        planNodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec =>
            val m = w.cmd.metrics
            def v(k: String) = m.get(k).map(_.value.toDouble).getOrElse(0.0)
            add("sinks.files_written", v("numFiles"))
            add("sinks.bytes_written", v("numOutputBytes"))
            add("sinks.job_commit_ms", v("jobCommitTime"))
            add("sinks.task_commit_ms", v("taskCommitTime"))
          case s: FileSourceScanExec =>
            def v(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
            add("sources.files_listed", v("numFiles"))
            add("sources.metadata_ms", v("metadataTime"))
          case j if j.getClass.getSimpleName.endsWith("JoinExec") =>
            j.metrics.get("numOutputRows").foreach(r => joinRowsMax = math.max(joinRowsMax, r.value))
          case _ =>
        }
        add("sql.join_rows_max", joinRowsMax.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      bucket.foreach { b =>
        triggerLog.synchronized { triggerLog += b -> Tracer.trigger(e.progress) }
      }
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Start counting into `b`. */
  def open(b: String): Unit = {
    PerfbenchAccess.drainListenerBus(sc)
    bucket = Some(b)
  }

  /** Stop counting, once every event posted so far has landed. */
  def close(): Unit = {
    PerfbenchAccess.drainListenerBus(sc)
    bucket = None
  }

  /** Run `f` as one traced operation in bucket `b`; its wall interval is
    * an op for the per-op figures and the driver gap.
    */
  def op[A](b: String)(f: => A): A = {
    open(b)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      ops.synchronized { ops += ((b, t0, t1)) }
      close()
    }
  }

  /** Record an externally timed op interval (a streaming trigger). */
  def addOp(b: String, startMs: Long, endMs: Long): Unit =
    ops.synchronized { ops += ((b, startMs, endMs)) }

  /** Run `f` inside a span of `module`: jobs that no library frame
    * claims are attributed to the innermost open span.
    */
  def span[A](module: String)(f: => A): A = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, module)
    try f finally sc.setLocalProperty(SpanKey, prev)
  }

  def triggers(b: String): Seq[Trigger] =
    triggerLog.synchronized(triggerLog.collect { case (`b`, t) => t }.toVector)

  def stop(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-op layer metrics of bucket `b`: counters and job-busy time
    * divided by the bucket's op count, and the driver gap (op wall
    * minus the union of job spans inside it).
    */
  def report(b: String): Map[String, Double] = {
    val bOps = ops.synchronized(ops.filter(_._1 == b).toVector)
    val n = math.max(1, bOps.size).toDouble
    val bJobs = jobs.synchronized(jobs.values.filter(j => j.bucket == b && j.end >= 0).toVector)
    val c = counters.synchronized(counters.collect { case ((`b`, k), v) => k -> v }.toMap)
    val perOp = CounterNames.map(k => k -> c.getOrElse(k, 0.0) / n).toMap
    val byModule = (Modules.all :+ Unattributed).map { m =>
      val js = bJobs.filter(_.module == m)
      m -> (js.size.toDouble, js.map(j => (j.end - j.start) / 1e3).sum)
    }.toMap
    val busyAll = byModule.values.map(_._2).sum
    val gaps = bOps.map { case (_, s, e) =>
      val covered = unionLength(bJobs.map(j => (math.max(s, j.start), math.min(e, j.end))))
      (e - s - covered) / 1e3
    }
    perOp ++
      Modules.all.flatMap { m =>
        Seq(s"jobs.$m.count" -> byModule(m)._1 / n, s"jobs.$m.busy_s" -> byModule(m)._2 / n)
      } ++
      Map(
        "jobs.unattributed_share" -> (if (busyAll > 0) byModule(Unattributed)._2 / busyAll else 0.0),
        "driver.gap_s" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
        "trace.ops" -> bOps.size.toDouble)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
  private val PlanPhases = Set("analysis", "optimization", "planning")

  /** Counters reported per op, whether or not a run touched them. */
  val CounterNames: Seq[String] = Seq(
    "driver.jobs", "driver.sql_execs",
    "driver.plan_ms.analysis", "driver.plan_ms.optimization", "driver.plan_ms.planning",
    "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.sched_delay_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "sinks.files_written", "sinks.bytes_written", "sinks.job_commit_ms", "sinks.task_commit_ms",
    "sources.files_listed", "sources.metadata_ms", "sql.join_rows_max")

  private final case class JobRec(bucket: String, start: Long, var end: Long, module: String)

  def trigger(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Trigger = {
    val d = mutable.Map.empty[String, Long]
    p.durationMs.forEach((k, v) => d(k) = v.longValue)
    Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli, d.toMap, p.numInputRows)
  }

  /** Walk an executed plan, through adaptive wrappers and query stages;
    * reused exchanges are skipped so no subtree counts twice.
    */
  def planNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other =>
      Iterator.single(other) ++ other.children.iterator.flatMap(planNodes) ++
        other.subqueries.iterator.flatMap(planNodes)
  }

  /** Total length of a set of [start, end) intervals (empty ones ignored). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
