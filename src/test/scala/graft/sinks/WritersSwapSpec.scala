package graft.sinks

import java.io.File

import graft.SparkSpec

/** Crash-state regression suite for the staged-swap fold protocol
  * ([[Writers.foldPartitionedStore]] / [[Writers.recoverStagedSwap]]).
  *
  * The pre-r12 protocol renamed survivors root → staging BEFORE
  * deleting root, so a crash mid-move left root present-but-incomplete
  * while recovery no-opped (root exists) and the NEXT fold's
  * `delete(staging)` destroyed the only copy of the moved survivor.
  * The r12 protocol (staging+manifest first, root renamed aside to
  * `__old` before any survivor moves, every rename/delete checked)
  * makes every intermediate state recoverable; each test below
  * hand-builds one such state and asserts recovery restores the full
  * table, then that a subsequent fold runs clean.
  */
class WritersSwapSpec extends SparkSpec {
  import spark.implicits._

  /** A 4-partition `batch_id=` store with one distinct row each. */
  private def freshStore(dir: String): (String, Seq[String]) = {
    val root = s"$dir/index"
    (0L to 3L).foreach { id =>
      Seq((id * 10, s"row$id")).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$root/batch_id=$id")
    }
    val all = spark.read.parquet(root).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    (root, all)
  }

  private def rows(root: String): Seq[String] =
    spark.read.parquet(root).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq

  private def mustMove(src: String, dst: String): Unit =
    assert(new File(src).renameTo(new File(dst)), s"fixture move $src -> $dst")

  /** Hand-builds the protocol state just after step N of:
    * (1) staging written (fold of ids ≤ 2 + manifest listing batch_id=3)
    * (2) root renamed → __old
    * (3) survivor batch_id=3 moved old → staging
    * (4) staging renamed → root   (5) old deleted, manifest deleted.
    */
  private def buildCrashState(root: String, step: Int): Unit = {
    val staging = root + "__staging"
    spark.read.parquet(root)
      .filter($"batch_id" <= 2).drop("batch_id")
      .write.mode("overwrite").parquet(s"$staging/batch_id=2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging, "_fold_manifest"),
      "batch_id=3".getBytes("UTF-8"))
    if (step >= 2) mustMove(root, root + "__old")
    if (step >= 3) mustMove(s"${root}__old/batch_id=3", s"$staging/batch_id=3")
    if (step >= 4) mustMove(staging, root)
  }

  test("recovery: crash after staging write, before root renamed (state 1)") {
    val tmp = tempDir("graft-swap1")
    val (root, all) = freshStore(tmp)
    buildCrashState(root, step = 1)
    // root untouched and complete; recovery must not disturb it
    Writers.recoverStagedSwap(spark, root)
    assert(rows(root) == all)
    // and the next fold (which deletes the stale staging) completes
    Writers.compactBatchPartitions(spark, root)
    assert(rows(root) == all)
    assert(!new File(root + "__staging").exists())
    assert(!new File(root + "__old").exists())
  }

  test("recovery: crash after root renamed aside, no survivor moved (state 2)") {
    val tmp = tempDir("graft-swap2")
    val (root, all) = freshStore(tmp)
    buildCrashState(root, step = 2)
    assert(!new File(root).exists())
    Writers.recoverStagedSwap(spark, root)
    assert(rows(root) == all)
    assert(!new File(root + "__staging").exists())
    assert(!new File(root + "__old").exists())
    assert(!new File(s"$root/_fold_manifest").exists())
    // rolled FORWARD: ids ≤ 2 folded into batch_id=2, survivor intact
    val parts = new File(root).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(parts == Seq("batch_id=2", "batch_id=3"))
  }

  test("recovery: crash after survivor moved, before staging renamed in (state 3)") {
    // the exact state the pre-r12 protocol destroyed data from
    val tmp = tempDir("graft-swap3")
    val (root, all) = freshStore(tmp)
    buildCrashState(root, step = 3)
    Writers.recoverStagedSwap(spark, root)
    assert(rows(root) == all)
    assert(!new File(root + "__staging").exists())
    assert(!new File(root + "__old").exists())
  }

  test("recovery: crash after swap committed, before cleanup (state 4)") {
    val tmp = tempDir("graft-swap4")
    val (root, all) = freshStore(tmp)
    buildCrashState(root, step = 4)
    assert(new File(root + "__old").exists())
    Writers.recoverStagedSwap(spark, root)
    assert(rows(root) == all)
    assert(!new File(root + "__old").exists())
    assert(!new File(s"$root/_fold_manifest").exists())
  }

  test("recovery safety net: old exists, root and staging both missing") {
    val tmp = tempDir("graft-swap5")
    val (root, all) = freshStore(tmp)
    mustMove(root, root + "__old")
    Writers.recoverStagedSwap(spark, root)
    assert(rows(root) == all)
    assert(!new File(root + "__old").exists())
  }

  test("fold itself recovers a crash state left by a previous fold") {
    // the pre-r12 data-loss scenario end to end: a fold interrupted in
    // state 3 followed by ANOTHER fold (not an explicit recover) must
    // not delete the stranded survivor with the stale staging dir
    val tmp = tempDir("graft-swap6")
    val (root, all) = freshStore(tmp)
    buildCrashState(root, step = 3)
    Writers.compactBatchPartitions(spark, root)
    assert(rows(root) == all)
    assert(!new File(root + "__staging").exists())
    assert(!new File(root + "__old").exists())
  }

  test("kvUpsert recovers its own interrupted swap instead of dropping history") {
    val tmp = tempDir("graft-swap7")
    val path = s"$tmp/kv"
    Writers.kvUpsert(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"), path)
    // simulate the crash between delete(dst) and rename(tmp, dst)
    mustMove(path, path + "__staging")
    Writers.kvUpsert(spark, Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"), path)
    val got = spark.read.parquet(path).as[(Int, String)].collect().sorted.toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("stagedOverwrite replaces the table it reads; a failed write leaves it whole") {
    val tmp = tempDir("graft-staged")
    val root = s"$tmp/t"
    Writers.stagedOverwrite(Seq(1, 2).toDF("k"), root)
    // the new table is read from the root it replaces
    Writers.stagedOverwrite(spark.read.parquet(root).union(Seq(3).toDF("k")), root)
    def ks = spark.read.parquet(root).as[Int].collect().sorted.toSeq
    assert(ks == Seq(1, 2, 3))
    val boom = org.apache.spark.sql.functions.udf((k: Int) =>
      if (k == 2) throw new IllegalStateException("boom") else k)
    intercept[Exception] {
      Writers.stagedOverwrite(spark.read.parquet(root).select(boom($"k").as("k")), root)
    }
    assert(ks == Seq(1, 2, 3))
    assert(!new File(root + "__old").exists())
    // the failed write's staging is not a table: recovery leaves root as it is
    Writers.recoverStagedSwap(spark, root)
    assert(ks == Seq(1, 2, 3))
  }
}
