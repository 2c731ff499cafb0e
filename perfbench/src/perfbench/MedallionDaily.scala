package perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Medallion
import graft.sources.Readers

/** `medallion_daily`: closed loop, one client. Each op lands one
  * simulated day of CoinGecko-shaped Bronze JSON (~130 rows, the
  * reference's 100-coin daily page plus planted defects) and runs
  * Bronze → Silver → DQ gate → Gold over it with the reference ruleset.
  * Every day appends to the same Silver/Gold directories, so Gold and
  * `dim_coins` persist across the run. Almost all of the work is fixed
  * per-run cost — many tiny jobs, file commits, DQ collects — so this
  * is where `driver`, `sinks` and `dq` changes show, and `ext` is idle.
  */
object MedallionDaily extends Workload {

  /** Days one warmup pass runs, on a lake of its own: the first day
    * creates the tables, the second appends. Per-day times keep falling
    * for ~8 days in a fresh JVM as the JIT catches up; the set-up pass and
    * `extraWarmups` more get the measured days past most of that ramp.
    */
  val WarmupDays = 2
  val extraWarmups = 1

  private val Epoch = LocalDate.of(2024, 1, 1)
  private def date(d: Int): LocalDate = Epoch.plusDays(d.toLong)

  /** Land day `d`'s Bronze file under `bronze`; returns the day's truth. */
  private def land(bronze: Path, seed: Long, d: Int): (Gen.Day, Path) = {
    val day = Gen.day(seed, d)
    val dir = Files.createDirectories(bronze.resolve(s"day=${date(d)}"))
    Files.write(dir.resolve("coins.json"), day.lines.asJava)
    (day, dir)
  }

  /** One daily run: read the landed Bronze and run the medallion. */
  private def runDay(spark: SparkSession, dayDir: Path, lake: Path, d: Int,
      tracer: Option[Tracer]): Boolean = {
    def span[A](m: String)(f: => A): A = tracer.fold(f)(_.span(m)(f))
    val bronze = span("sources")(Readers.jsonRecursive(spark, dayDir.toString))
    val now = date(d).atTime(12, 0).toInstant(ZoneOffset.UTC)
    span("pipeline")(Medallion.run(spark, bronze, lake.toString, now)).isRight
  }

  def warmup(spark: SparkSession, dir: Path, seed: Long): Double = {
    var genS = 0.0
    for (d <- 0 until WarmupDays) {
      val g0 = System.nanoTime()
      val (_, dayDir) = land(dir.resolve("bronze"), seed, d)
      genS += (System.nanoTime() - g0) / 1e9
      require(runDay(spark, dayDir, dir.resolve("lake"), d, None), s"warmup day $d failed")
    }
    genS
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val lake = ctx.dir.resolve("lake")
    val days = mutable.ArrayBuffer.empty[(Gen.Day, Double, Boolean, Boolean)] // truth, secs, ok, traced
    var genS = 0.0
    val start = System.nanoTime()
    var d = 0
    while ((System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val g0 = System.nanoTime()
      val (day, dayDir) = land(ctx.dir.resolve("bronze"), ctx.seed, d)
      genS += (System.nanoTime() - g0) / 1e9
      // traced runs alternate untraced and traced days, for the overhead
      val tracer = ctx.tracer.filter(_ => d % 2 == 1)
      var secs = 0.0
      def timed(): Boolean = {
        val t0 = System.nanoTime()
        try runDay(spark, dayDir, lake, d, tracer)
        finally secs = (System.nanoTime() - t0) / 1e9
      }
      val ok =
        try tracer.fold(timed())(_.op("op")(timed()))
        catch { case NonFatal(e) => System.err.println(s"day $d failed: $e"); false }
      days += ((day, secs, ok, tracer.isDefined))
      d += 1
    }

    // ---- output checks against the planted truth (untimed) ----
    val dates = days.indices.map(date(_).toString)
    val silver = spark.read.parquet(lake.resolve("silver").toString)
      .groupBy(col("update_date").cast("string").as("d"))
      .agg(count(lit(1)).as("n"), sum("market_cap").as("cap"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dlq = spark.read.json(lake.resolve("dlq").toString)
      .groupBy(get_json_object(col("raw_data"), "$.update_date").as("d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fact = spark.read.parquet(lake.resolve("fact_crypto_daily").toString)
      .groupBy(col("date").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val factDirs = Files.list(lake.resolve("fact_crypto_daily")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("date=")).toSet
    val perDay = days.zip(dates).map { case ((day, _, ok, _), dt) =>
      val want = day.silverMarketCap
      ok &&
        silver.get(dt).contains((want.size.toLong, want.values.sum)) &&
        dlq.getOrElse(dt, 0L) == day.invalidRows.toLong &&
        factDirs.contains(s"date=$dt") && fact.get(dt).contains(want.size.toLong)
    }
    val coins = days.flatMap(_._1.silverMarketCap.keys).toSet
    val dimCoins = spark.read.parquet(lake.resolve("dim_coins").toString)
    val dimOk = dimCoins.count() == coins.size &&
      dimCoins.select("coin_id").distinct().count() == coins.size
    val notes = spark.read.json(lake.resolve("notifications").toString)
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val notesOk = notes == Map("SUCCEEDED" -> days.size.toLong)

    val checks = Seq(
      "every day returns Right" -> days.forall(_._3),
      "silver rows and market cap per day equal the distinct valid (coin, day) rows" ->
        days.zip(dates).forall { case ((day, _, _, _), dt) =>
          silver.get(dt).contains((day.silverMarketCap.size.toLong, day.silverMarketCap.values.sum))
        },
      "dlq rows per day equal the planted invalid rows" ->
        days.zip(dates).forall { case ((day, _, _, _), dt) => dlq.getOrElse(dt, 0L) == day.invalidRows },
      "one fact partition per day, with the day's silver rows" ->
        (factDirs == dates.map(dt => s"date=$dt").toSet &&
          days.zip(dates).forall { case ((day, _, _, _), dt) =>
            fact.get(dt).contains(day.silverMarketCap.size.toLong) }),
      "dim_coins holds each distinct coin once" -> dimOk,
      "every notification record is SUCCEEDED" -> notesOk)
    val globalOk = dimOk && notesOk
    val failed = if (globalOk) perDay.count(!_) else days.size

    def e2e(sel: Seq[(Gen.Day, Double, Boolean, Boolean)]): Map[String, Double] =
      if (sel.isEmpty) Map.empty
      else Map(
        "op_p50_s" -> Stats.median(sel.map(_._2)),
        "rows_per_s" -> sel.map(_._1.lines.size).sum / sel.map(_._2).sum)
    val untraced = days.filter(x => x._3 && !x._4).toSeq
    val traced = days.filter(x => x._3 && x._4).toSeq
    val times = untraced.map(_._2)
    val tail = Stats.tail(times)
    val info = Seq(
      f"medallion.day_p50_s ${if (times.isEmpty) Double.NaN else Stats.median(times)}%.4f s (n=${times.size})",
      tail.fold(s"medallion.day_tail_s n/a (n=${times.size}; needs >= 20 days)")(t =>
        f"medallion.day_tail_s ${t.value}%.4f s (${t.label}, n=${t.n})"),
      f"medallion.bronze_rows_per_day ${days.map(_._1.lines.size).sum.toDouble / math.max(1, days.size)}%.1f",
      s"medallion.days ${days.size}",
      days.map(x => f"${x._2}%.2f").mkString("medallion.day_s "," ",""))
    val layers = ctx.tracer.map(_.report("op")).getOrElse(Map.empty)
    Outcome(days.size, failed, e2e(untraced), e2e(traced), layers, checks, info, genS)
  }
}
