package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Kill-safety (the r14 lesson — a timeout near the end of the sweep
  * zeroed the whole round's correctness): `oracle_sql.json` is pure
  * metadata, so it is written FIRST, before any query runs; per-query
  * dumps then stream incrementally, and a killed run still yields green
  * rows for everything dumped so far.
  *
  * Wall-clock: queries are correctness dumps, not timings, so they are
  * overlapped on a small thread pool (guide §2.6 back-fill — a query's
  * straggler tail no longer serializes the sweep). Every declared query
  * is partition-count invariant (the driver re-runs the suite at
  * different core counts), so concurrent session-conf nudges by the
  * stream runners (shuffle-partition sizing, state-store provider) are
  * performance-only.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args: run only these queries (dev iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", Scratch.sparkLocalDir)
      .config("spark.sql.warehouse.dir", Scratch.warehouseDir)
      .config("spark.sql.session.timeZone", "UTC")
      // pinned session-wide so Tables.withNanosAsLong's save/restore is
      // idempotent under the thread pool (prev is always Some("true"));
      // read-path harmless for non-nanos files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val t0 = System.nanoTime()
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    def dump(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        sess: SparkSession): Unit = {
      val qt0 = System.nanoTime()
      try {
        fn(sess, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] ${done.incrementAndGet()}%3d/${todo.size} $name ok in ${(System.nanoTime() - qt0) / 1e9}%.1f s (t+${(System.nanoTime() - t0) / 1e9}%.0f s)")
      } catch { case e: Throwable =>
        done.incrementAndGet()
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    todo.foreach { case (name, fn) =>
      // ADVICE r15: pooled dumps shared ONE SparkSession while runners
      // save/restore session confs (shuffle-partition sizing, the
      // RocksDB state-store provider) — interleaved restores could
      // strand a temporary value for the rest of the sweep. Each dump
      // gets its own newSession(): same SparkContext and conf DEFAULTS
      // (builder confs live in the SparkConf), isolated SQLConf, so a
      // runner's mutation can never leak into another query's plan.
      val sess = spark.newSession()
      pool.submit(new Runnable {
        def run(): Unit = {
          // SQLConf.get and anything else that reads the thread-local
          // ACTIVE session must see this dump's session, not the parent
          SparkSession.setActiveSession(sess)
          try dump(name, fn, sess)
          finally SparkSession.clearActiveSession()
        }
      }); ()
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    spark.stop()
  }
}
