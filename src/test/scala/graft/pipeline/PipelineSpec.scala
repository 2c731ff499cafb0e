package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("run composes stages and short-circuits on failure") {
    val df = Seq(1, 2, 3).toDF("v")
    val ok = Pipeline.run(df, Seq(
      "nonEmpty" -> Pipeline.nonEmpty("nonEmpty"),
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

  test("nonEmpty gates empty inputs") {
    val empty = spark.emptyDataFrame
    assert(Pipeline.nonEmpty("s")(empty).isLeft)
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
}
