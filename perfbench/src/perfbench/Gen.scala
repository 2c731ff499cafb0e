package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator derives its stream from
  * (seed, a per-input salt), so one seed always yields the same inputs,
  * and each generator returns the truth it planted next to the data.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private def num(x: Double, digits: Int): String =
    java.math.BigDecimal.valueOf(x).setScale(digits, java.math.RoundingMode.HALF_UP).toPlainString

  // ---- medallion_daily: one CoinGecko /coins/markets page per day ----

  val Universe = 150
  val CoinsPerDay = 124
  val InvalidShare = 0.05
  val DupShare = 0.05
  val RequiredFields = Seq("id", "symbol", "name", "current_price", "market_cap")

  /** One simulated day of Bronze rows plus what the pipeline must make of
    * them. `silverMarketCap` is, per coin with a valid row, the market cap
    * of the row the keep-latest dedup must keep (the lowest rank).
    */
  final case class Day(
      lines: Seq[String],
      invalidRows: Int,
      silverMarketCap: Map[String, Long])

  def coinId(i: Int): String = f"coin-$i%03d"

  def day(seed: Long, d: Int): Day = {
    val r = rng(seed, 0x1000L + d)
    val coins = r.ints(0, Universe).distinct().limit(CoinsPerDay).toArray.toSeq
    val lines = Seq.newBuilder[String]
    var invalid = 0
    val silver = Map.newBuilder[String, Long]
    for ((c, rank) <- coins.zipWithIndex) {
      val price = math.exp(r.nextDouble(-3.0, 10.5))
      val mcap = (price * r.nextDouble(5e6, 5e9)).toLong + 1000000L
      def row(rk: Int, cap: Long, drop: Option[String]) = {
        val change = r.nextDouble(-9.0, 9.0)
        val fields = Seq(
          "id" -> ("\"" + coinId(c) + "\""),
          "symbol" -> ("\"c" + coinId(c).drop(5) + "\""),
          "name" -> ("\"Coin " + c + "\""),
          "current_price" -> num(price, 6),
          "market_cap" -> cap.toString,
          "market_cap_rank" -> rk.toString,
          "fully_diluted_valuation" -> (cap * 2).toString,
          "total_volume" -> (cap / 20).toString,
          "high_24h" -> num(price * 1.04, 6),
          "low_24h" -> num(price * 0.96, 6),
          "price_change_24h" -> num(price * change / 100, 6),
          "price_change_percentage_24h" -> num(change, 5),
          "market_cap_change_24h" -> num(cap * change / 100, 2),
          "market_cap_change_percentage_24h" -> num(change, 5),
          "circulating_supply" -> num(cap / price, 2),
          "total_supply" -> num(cap / price * 1.5, 2),
          "max_supply" -> "null",
          "ath" -> num(price * 3.1, 6),
          "ath_change_percentage" -> num(-67.7, 3),
          "ath_date" -> "\"2021-11-10T14:24:11.849Z\"",
          "atl" -> num(price * 0.01, 8),
          "atl_change_percentage" -> num(9900.0, 3),
          "atl_date" -> "\"2015-10-20T00:00:00.000Z\"",
          "roi" -> "null",
          "last_updated" -> ("\"" + java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong) + "T12:00:00.000Z\""))
        fields.filterNot(f => drop.contains(f._1))
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      }
      if (r.nextDouble() < InvalidShare) {
        lines += row(rank + 1, mcap, Some(RequiredFields(r.nextInt(RequiredFields.size))))
        invalid += 1
      } else {
        lines += row(rank + 1, mcap, None)
        silver += coinId(c) -> mcap
        // a second listing of the same coin ranked lower: dedup drops it
        if (r.nextDouble() < DupShare) lines += row(rank + 1 + 1000, mcap + 7, None)
      }
    }
    val all = lines.result()
    // shuffle so duplicates and defects are not adjacent to their twins
    val shuffled = all.toArray
    for (i <- shuffled.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    Day(shuffled.toSeq, invalid, silver.result())
  }

  // ---- stream_validate: price events with planted defects and surges ----

  val StreamCoins = 100
  val StreamInvalidShare = 0.05
  val SurgeShare = 0.03

  /** A file of events; `invalid` rows break a validation rule, `surges`
    * are valid rows over the alert threshold. Lines are held without
    * their `timestamp` value, which the generator stamps when the file
    * is due.
    */
  final case class EventFile(unstamped: Seq[String], invalid: Int, surges: Int) {
    def stamped(stampMs: Long): java.util.List[String] = {
      val stamp = java.time.Instant.ofEpochMilli(stampMs).toString + "\"}"
      val out = new java.util.ArrayList[String](unstamped.size)
      unstamped.foreach(l => out.add(l + stamp))
      out
    }
  }

  def events(seed: Long, file: Int, firstId: Long, n: Int): EventFile = {
    val r = rng(seed, 0x2000000L + file)
    var invalid = 0
    var surges = 0
    val lines = (0 until n).map { i =>
      val c = r.nextInt(StreamCoins)
      var price = num(math.exp(r.nextDouble(-2.5, 10.5)), 8)
      var mcap = num(r.nextDouble(2e6, 1e12), 2)
      var pct = r.nextDouble(-9.0, 8.0)
      val u = r.nextDouble()
      if (u < StreamInvalidShare) {
        invalid += 1
        r.nextInt(5) match {
          case 0 => price = "0"
          case 1 => price = "0.005"
          case 2 => mcap = "500000.00"
          case 3 => pct = -20.0 - r.nextDouble(0, 30)
          case _ => price = "null"
        }
      } else if (u < StreamInvalidShare + SurgeShare) {
        surges += 1
        pct = 12.0 + r.nextDouble(0, 30)
      }
      s"""{"event_id":${firstId + i},"coin_id":"${coinId(c)}","symbol":"c$c","name":"Coin $c",""" +
        s""""current_price":$price,"market_cap":$mcap,"price_change_24h":${num(pct / 10, 6)},""" +
        s""""price_change_percentage_24h":${num(pct, 6)},"timestamp":""""
    }
    EventFile(lines, invalid, surges)
  }

  // ---- corpus_dedup: documents with planted near-duplicate pairs ----

  val Vocab = 4000
  val NearDupShare = 0.3
  val EditShare = 0.04

  /** A document batch: (id, text) rows and the planted near-duplicate
    * pairs as (smaller id, larger id), each with its exact Jaccard
    * similarity over word 3-shingle sets.
    */
  final case class Corpus(docs: Seq[(Long, String)], planted: Map[(Long, Long), Double])

  /** Word 3-shingle set of a single-space separated text. */
  def shingles(text: String): Set[String] =
    text.split(' ').sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def vocabulary(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 0x3000000L)
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < Vocab) {
      val len = 3 + r.nextInt(7)
      words += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    words.toIndexedSeq
  }

  def corpus(seed: Long, batch: Int, n: Int, vocab: IndexedSeq[String]): Corpus = {
    val r = rng(seed, 0x4000000L + batch)
    val copies = (n * NearDupShare).toInt
    val bases = n - copies
    val base = Array.fill(bases) {
      Array.fill(60 + r.nextInt(41))(vocab(r.nextInt(vocab.size)))
    }
    val copyOf = r.ints(0, bases).distinct().limit(copies).toArray
    val texts = base.map(_.mkString(" ")) ++ copyOf.map { b =>
      base(b).map(w => if (r.nextDouble() < EditShare) vocab(r.nextInt(vocab.size)) else w)
        .mkString(" ")
    }
    // ids are a seeded permutation, so copies do not sit next to their bases
    val ids = (0 until n).map(i => batch.toLong * 10000000L + i).toArray
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val planted = copyOf.zipWithIndex.map { case (b, k) =>
      val (x, y) = (ids(b), ids(bases + k))
      (math.min(x, y), math.max(x, y)) -> jaccard(texts(b), texts(bases + k))
    }.toMap
    Corpus(ids.toIndexedSeq.zip(texts.toIndexedSeq), planted)
  }

}
