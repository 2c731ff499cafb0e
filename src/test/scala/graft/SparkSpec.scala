package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlImplicits: org.apache.spark.sql.SQLImplicits = spark.implicits

  /** Scratch dir deleted at JVM exit — same hygiene as
    * `SparkEntry.tempDir`; without it every `sbt test` run leaves
    * dozens of graft-* trees in /tmp.
    */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)

  /** Run `f` and return the executed plan of every query execution it
    * ran, in completion order, as a QueryExecutionListener saw them.
    */
  def executedPlans(f: => Unit): Seq[SparkPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { f; ListenerBusAccess.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toVector)
  }

  /** Where `df`'s physical plan leaves whole-stage codegen: the
    * operators above the leaf scans that sit outside every
    * `WholeStageCodegenExec`, and the higher-order functions among the
    * plan's expressions (one takes its operator out of codegen). Both
    * are empty for a plan that runs as compiled code end to end. An
    * adaptive plan is read as it stands, so run it first.
    */
  def codegenGaps(df: DataFrame): (Seq[String], Seq[String]) = {
    def outside(p: SparkPlan, inStage: Boolean): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => outside(a.executedPlan, inStage)
      case w: WholeStageCodegenExec => outside(w.child, inStage = true)
      case i: InputAdapter => outside(i.child, inStage = false)
      case leaf if leaf.children.isEmpty => Nil
      case op => (if (inStage) Nil else Seq(op.nodeName)) ++ op.children.flatMap(outside(_, inStage))
    }
    val plan = df.queryExecution.executedPlan
    val hofs = plan.flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName }))
    (outside(plan, inStage = false), hofs)
  }

  /** Active job ids once the listener bus has caught up. A cancelled
    * job's end event is posted just after its waiter is released, so
    * the bus is drained until the ids clear or 2 s pass.
    */
  def activeJobsSettled(): Seq[Int] = {
    val sc = spark.sparkContext
    var left = 40
    ListenerBusAccess.drain(sc)
    while (sc.statusTracker.getActiveJobIds().nonEmpty && left > 0) {
      Thread.sleep(50); left -= 1; ListenerBusAccess.drain(sc)
    }
    sc.statusTracker.getActiveJobIds().toSeq
  }
}

object SparkSpec {
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
    }))
    p.toString
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
