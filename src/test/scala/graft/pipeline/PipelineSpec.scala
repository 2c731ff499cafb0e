package graft.pipeline

import org.apache.spark.{JobExecutionStatus, ListenerBusAccess, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("run composes stages and short-circuits on failure") {
    val df = Seq(1, 2, 3).toDF("v")
    val ok = Pipeline.run(df, Seq(
      "keep" -> (df => Right(df)),
      "double" -> Pipeline.stage(_.withColumn("v", col("v") * 2))))
    assert(ok.isRight)
    assert(ok.toOption.get.agg(sum("v")).as[Long].head() == 12)

    val fail = Pipeline.run(df, Seq(
      "gate" -> (_ => Left(StageFailure("gate", "dq failed"))),
      "never" -> Pipeline.stage(identity)))
    assert(fail == Left(StageFailure("gate", "dq failed")))
  }

  test("exceptions inside a stage become StageFailures") {
    val df = Seq(1).toDF("v")
    val out = Pipeline.run(df, Seq(
      "boom" -> Pipeline.stage(_ => throw new RuntimeException("kaput"))))
    assert(out.isLeft)
    assert(out.left.toOption.get.stage == "boom")
    assert(out.left.toOption.get.reason.contains("kaput"))
  }

  test("runNotified appends a SUCCEEDED/FAILED record per run") {
    val tmp = tempDir("graft-notify")
    val df = Seq(1).toDF("v")
    assert(Pipeline.runNotified(spark, "etl", df,
      Seq("ok" -> Pipeline.stage(identity)), s"$tmp/notify").isRight)
    assert(Pipeline.runNotified(spark, "etl", df,
      Seq("gate" -> (_ => Left(StageFailure("gate", "dq failed")))),
      s"$tmp/notify").isLeft)
    val notes = spark.read.json(s"$tmp/notify")
      .select("status", "stage").as[(String, String)].collect().toSet
    assert(notes == Set(("SUCCEEDED", ""), ("FAILED", "gate")))
  }

  test("runNotified: a reason with quotes, escapes and non-ASCII text reads back unchanged") {
    val tmp = tempDir("graft-notify-escape")
    val reason = "quote \" backslash \\ newline \n tab \t non-ASCII é ✓ 日本 \uD83D\uDE80"
    val res = Pipeline.runNotified(spark, "etl", Seq(1).toDF("v"),
      Seq("gate" -> (_ => Left(StageFailure("gate", reason)))), s"$tmp/notify")
    assert(res == Left(StageFailure("gate", reason)))
    val notes = spark.read.json(s"$tmp/notify")
      .select("pipeline", "status", "stage", "reason").as[(String, String, String, String)]
      .collect().toSeq
    assert(notes == Seq(("etl", "FAILED", "gate", reason)))
  }

  test("runNotified writes its record without a Spark job") {
    val tmp = tempDir("graft-notify-nojob")
    val df = Seq(1).toDF("v")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Pipeline.runNotified(spark, "etl", df,
        Seq("id" -> Pipeline.stage(identity)), s"$tmp/notify").isRight)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs ran")
    val names = new java.io.File(s"$tmp/notify").list().filterNot(_.startsWith(".")).toSeq
    assert(names.size == 1 && names.head.matches("part-[0-9a-f-]{36}\\.json"), names)
  }

  test("runNotified: an orphaned temp record is invisible to readers") {
    val tmp = tempDir("graft-notify-orphan")
    assert(Pipeline.runNotified(spark, "etl", Seq(1).toDF("v"),
      Seq("ok" -> Pipeline.stage(identity)), s"$tmp/notify").isRight)
    // a record whose writer died before the rename
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/notify/_part-${java.util.UUID.randomUUID()}.json"),
      """{"pipeline":"etl","status":"FAILED","stage":"half","reason":"""")
    val notes = spark.read.json(s"$tmp/notify").select("status", "stage")
      .as[(String, String)].collect().toSeq
    assert(notes == Seq(("SUCCEEDED", "")))
  }

  test("runNotified never throws: an unwritable record fails only a successful run") {
    val tmp = tempDir("graft-notify-unwritable")
    // a plain file where the notification directory should be
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/notify"), "not a directory")
    val df = Seq(1).toDF("v")
    val ok = Pipeline.runNotified(spark, "etl", df,
      Seq("ok" -> Pipeline.stage(identity)), s"$tmp/notify")
    assert(ok.left.toOption.map(_.stage) == Some("notify"), ok)
    assert(ok.left.toOption.get.reason.contains(s"$tmp/notify"), ok)
    val failed = Pipeline.runNotified(spark, "etl", df,
      Seq("gate" -> (_ => Left(StageFailure("gate", "dq failed")))), s"$tmp/notify")
    assert(failed == Left(StageFailure("gate", "dq failed")))
  }

  test("readOrEmpty falls back to an empty frame with the right schema") {
    val schema = StructType(Seq(StructField("x", LongType)))
    val out = Pipeline.readOrEmpty(spark, "/nonexistent/path", schema)
    assert(out.schema == schema)
    assert(out.isEmpty)
  }

  test("readOrEmpty reads an existing table and lets other errors through") {
    val tmp = tempDir("graft-read-or-empty")
    val schema = StructType(Seq(StructField("x", LongType)))
    Seq(1L, 2L).toDF("x").write.parquet(s"$tmp/t")
    val out = Pipeline.readOrEmpty(spark, s"$tmp/t", schema)
    assert(out.schema == schema)
    assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a path no filesystem can serve is an error, not an empty table
    intercept[java.io.IOException] {
      Pipeline.readOrEmpty(spark, "nosuchfs://bucket/t", schema)
    }
  }

  for (failing <- Seq("b", "a")) test(s"par: leg $failing fails, its sibling's job is cancelled, " +
      "the caller gets the original error") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException(s"leg $failing failed")
    var longJob = -1
    // 4 tasks that run until killed (or 30 s)
    def long(): Long = sc.parallelize(1 to 4, 4).map { x =>
      val deadline = System.nanoTime() + 30000000000L
      while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline) Thread.sleep(10)
      x
    }.count()
    // throw once the sibling's job is running
    def fail(): Long = {
      while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(10)
      longJob = sc.statusTracker.getActiveJobIds().head
      throw boom
    }
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      if (failing == "b") Pipeline.par(long(), fail()) else Pipeline.par(fail(), long())
    }
    assert(thrown eq boom)
    assert(activeJobsSettled().isEmpty, "a job outlived par")
    assert(sc.statusTracker.getJobInfo(longJob).map(_.status) == Some(JobExecutionStatus.FAILED))
    assert((System.nanoTime() - t0) / 1e9 < 20, "the sibling's job ran to its end")
    assert(sc.getJobTags().isEmpty, "par tagged the caller's thread")
  }

  test("par: a sibling failing between two of a leg's jobs still stops the leg's next job") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("leg b failed")
    val between = new java.util.concurrent.CountDownLatch(1)
    val ranAfter = new java.util.concurrent.atomic.AtomicInteger
    // one quick job, a driver-side pause with no job running, then ten
    // 1 s jobs in a row
    def several(): Unit = {
      sc.parallelize(1 to 4, 4).count()
      between.countDown()
      Thread.sleep(300)
      for (_ <- 1 to 10) {
        sc.parallelize(1 to 4, 4).map { x =>
          val deadline = System.nanoTime() + 1000000000L
          while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline) Thread.sleep(10)
          x
        }.count()
        ranAfter.incrementAndGet()
      }
    }
    // fail in the pause, when the tag has no job to cancel yet
    def fail(): Unit = { between.await(); throw boom }
    val thrown = intercept[IllegalStateException](Pipeline.par(several(), fail()))
    assert(thrown eq boom)
    assert(ranAfter.get == 0, s"${ranAfter.get} of the leg's jobs ran to their end after the failure")
    assert(activeJobsSettled().isEmpty, "a job outlived par")
  }

  test("par: both legs see the calling thread's session, conf and local properties") {
    val key = "graft.test.par"
    def probe(): (SparkSession, String, String) =
      (SparkSession.active, SQLConf.get.getConfString(key, "unset"),
        spark.sparkContext.getLocalProperty(key))
    // two callers in turn: a reused pool thread would still carry the first
    for (i <- 1 to 2) {
      val session = spark.newSession()
      session.conf.set(key, s"conf-$i")
      var seen: ((SparkSession, String, String), (SparkSession, String, String)) = null
      val caller = new Thread(() => {
        SparkSession.setActiveSession(session)
        session.sparkContext.setLocalProperty(key, s"prop-$i")
        seen = Pipeline.par(probe(), probe())
      })
      caller.start(); caller.join()
      val want = (session, s"conf-$i", s"prop-$i")
      assert(seen != null && seen._1 == want && seen._2 == want, s"caller $i: $seen")
    }
  }
}
