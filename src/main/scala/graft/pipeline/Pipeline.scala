package graft.pipeline

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Engine-level orchestration (O-67..O-71): the reference's Step
  * Function DAG (ref: Step Function/crypto-etl-pipeline.asl.json:5-76)
  * as in-process stage composition — `Either` per stage, short-circuit
  * to the failure handler, no control-plane round-trips between stages.
  */
final case class StageFailure(stage: String, reason: String)

object Pipeline {

  /** A stage: pure DataFrame function that may gate the pipeline. */
  type Stage = DataFrame => Either[StageFailure, DataFrame]

  /** O-67: sequential DAG with per-stage catch. Exceptions become
    * failures (the ASL `Catch` → NotifyFailure path, ref :87-96).
    */
  def run(input: DataFrame, stages: Seq[(String, Stage)]): Either[StageFailure, DataFrame] =
    stages.foldLeft(Right(input): Either[StageFailure, DataFrame]) {
      case (Right(df), (name, stage)) =>
        Try(stage(df)).toEither.left.map(e => StageFailure(name, e.toString)).flatten
      case (left, _) => left
    }

  /** Lift a total transform into a stage. */
  def stage(f: DataFrame => DataFrame): Stage = df => Right(f(df))

  /** Run two independent legs at once and return both results
    * (O-70: the reference's `ThreadPoolExecutor` fan-out, ref:
    * glue/data_quality_dqdl.py:21-31); nest calls for more legs. Each
    * leg runs on its own new thread that carries the caller's active
    * session and a copy of its SparkContext local properties, so
    * `SQLConf.get`, a pooled `newSession()` and any job property the
    * caller set resolve in the leg as they do on the caller. Both legs'
    * jobs carry one per-call job tag. Once a leg fails, the call cancels
    * the tag's jobs again and again until the other leg has ended — a
    * cancel reaches only the jobs running at that moment, and a leg of
    * several jobs in a row would otherwise submit its next one — then
    * rethrows the failing leg's own error; no leg outlives the call.
    * The legs must share no output path or session-wide conf, and a
    * cancelled leg must leave its output as it was: an append and a
    * dynamic overwrite commit nothing until their job ends, while a
    * static overwrite deletes the old files before its write job runs,
    * so it is no leg — [[graft.sinks.Writers.stagedOverwrite]] is its
    * leg-safe form.
    */
  def par[A, B](a: => A, b: => B): (A, B) = {
    val session = SparkSession.active
    val sc = session.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val firstError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    final class Leg[T](body: => T) extends Thread(s"$tag-leg") {
      setDaemon(true)
      var result: T = _ // read after join(), which orders it
      // a new thread inherits a copy of the creator's local properties
      // (SparkContext.localProperties is inheritable); the session is set
      // explicitly so the leg never depends on how its thread was made
      override def run(): Unit = {
        SparkSession.setActiveSession(session)
        sc.addJobTag(tag)
        try result = body
        catch { case e: Throwable => firstError.compareAndSet(null, e) }
      }
    }
    val (la, lb) = (new Leg(a), new Leg(b))
    la.start(); lb.start()
    for (leg <- Seq(la, lb)) while (leg.isAlive) {
      leg.join(20)
      if (firstError.get != null)
        sc.cancelJobsWithTag(tag, "a sibling leg of Pipeline.par failed")
    }
    Option(firstError.get).foreach(e => throw e)
    (la.result, lb.result)
  }

  /** O-69: table-not-exists fallback
    * (ref: glue/data_aggregate_gold.py:73-91 try/except → start fresh).
    * Only a missing path means "start fresh"; any other read error
    * propagates instead of passing for an empty table.
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Success/failure notification record, the SNS-topic analogue of the
    * ASL NotifySuccess/NotifyFailure terminal states
    * (ref: Step Function/crypto-etl-pipeline.asl.json:77-96).
    */
  final case class RunNotification(
      pipeline: String, status: String, stage: String, reason: String)

  /** Run the DAG, then append one notification record to a JSON sink —
    * the notify-topic analogue; downstream consumers tail the path the
    * way the reference's subscribers consume the SNS topic. Returns the
    * run result so callers still branch on it; a record that cannot be
    * written turns a successful run into `Left(StageFailure("notify",
    * …))` and leaves a failed run's own `Left` as it was, so the call
    * never throws after the stages committed their sinks.
    */
  def runNotified(
      spark: SparkSession,
      pipelineName: String,
      input: DataFrame,
      stages: Seq[(String, Stage)],
      notifyPath: String): Either[StageFailure, DataFrame] = {
    val result = run(input, stages)
    val note = result match {
      case Right(_) => RunNotification(pipelineName, "SUCCEEDED", "", "")
      case Left(f) => RunNotification(pipelineName, "FAILED", f.stage, f.reason)
    }
    Try(appendNotification(spark, note, notifyPath)).toEither match {
      case Left(e) if result.isRight => Left(StageFailure("notify", e.toString))
      case _ => result
    }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One JSON line per record, written in-process through the Hadoop
    * `FileSystem` API — no Spark job. The line lands under an
    * `_`-prefixed name and is renamed to `part-<uuid>.json` once
    * closed; Spark's file listing skips `_` names, so a reader sees
    * the whole record or none.
    */
  private def appendNotification(
      spark: SparkSession, note: RunNotification, dir: String): Unit = {
    val record = json.createObjectNode()
      .put("pipeline", note.pipeline).put("status", note.status)
      .put("stage", note.stage).put("reason", note.reason)
    val name = s"part-${java.util.UUID.randomUUID()}.json"
    val tmp = new Path(dir, s"_$name")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, false)
    try out.write((json.writeValueAsString(record) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"notification: rename $tmp failed")
  }
}
