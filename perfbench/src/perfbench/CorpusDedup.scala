package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ext.Dedup

/** `corpus_dedup`: closed loop, one client. Each op is one
  * `Dedup.minhashNearDupPairs` pass (the cache-handle form, unpersisted
  * after use as a long-lived session must) over a batch of `Docs`
  * generated documents stored as parquet, collecting the verified pairs.
  * The ops cycle through `Batches` distinct batches generated before the
  * clock starts, so every repeat of a batch checks that its pair set is
  * reproduced exactly; a digest of each batch's pair set is printed, so
  * two runs at one seed can be compared too. `NearDupShare` of the
  * documents are edited copies of another; that share is the input
  * property LSH cost depends on, so it is fixed.
  * Data-proportional, shuffle- and kernel-heavy, no sink writes: `ext`
  * and `exec` do most of the work and `driver` little.
  */
object CorpusDedup extends Workload {

  val Docs = 5000
  val NumHashes = 64
  val Bands = 16
  val Threshold = 0.5
  val RecallFloor = 0.95
  /** Distinct batches, generated before the clock starts and run in turn. */
  val Batches = 4
  val extraWarmups = 6

  private final case class Batch(path: String, corpus: Gen.Corpus)

  private def generate(spark: SparkSession, dir: Path, seed: Long, b: Int,
      vocab: IndexedSeq[String], docs: Int): Batch = {
    import spark.implicits._
    val corpus = Gen.corpus(seed, b, docs, vocab)
    val path = dir.resolve(s"corpus/batch=$b").toString
    corpus.docs.toDF("id", "text").write.parquet(path)
    Batch(path, corpus)
  }

  /** The op: near-duplicate pairs of one stored batch. */
  private def pairs(spark: SparkSession, b: Batch, tracer: Option[Tracer]): Seq[(Long, Long, Double)] = {
    def run() = {
      val (df, handle) = Dedup.minhashNearDupPairsWithHandle(
        spark.read.parquet(b.path), "id", "text",
        numHashes = NumHashes, bands = Bands, threshold = Threshold)
      try df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      finally handle.unpersist()
    }
    tracer.fold(run())(_.span("ext")(run()))
  }

  /** Problems with one batch's pairs, against the planted truth and an
    * exact Jaccard computed here; empty when the output is right.
    */
  private def problems(b: Batch, found: Seq[(Long, Long, Double)]): Seq[String] = {
    val text = b.corpus.docs.toMap
    val keys = found.map(p => (p._1, p._2))
    val expected = b.corpus.planted.filter(_._2 >= Threshold).keySet
    val recall = if (expected.isEmpty) 1.0 else keys.count(expected).toDouble / expected.size
    Seq(
      if (keys.distinct.size != keys.size) Some("duplicate pairs") else None,
      if (recall < RecallFloor) Some(f"recall $recall%.4f < $RecallFloor") else None,
      found.collectFirst {
        case (a, c, sim) if !(a < c) || !text.contains(a) || !text.contains(c) => s"bad pair ($a, $c)"
        case (a, c, sim) if math.abs(Gen.jaccard(text(a), text(c)) - sim) > 1e-6 || sim < Threshold =>
          f"pair ($a, $c) reports jaccard $sim%.6f, exact ${Gen.jaccard(text(a), text(c))}%.6f"
      }).flatten
  }

  /** A digest of a pair set, independent of the order pairs came back in. */
  private def digest(pairs: Set[(Long, Long, Double)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    pairs.toSeq.sorted.foreach(p => md.update(s"${p._1},${p._2},${p._3};".getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def warmup(spark: SparkSession, dir: Path, seed: Long): Double = {
    val g0 = System.nanoTime()
    val b = generate(spark, dir, seed, 1 << 20, Gen.vocabulary(seed), Docs)
    val genS = (System.nanoTime() - g0) / 1e9
    val p = problems(b, pairs(spark, b, None))
    require(p.isEmpty, s"warmup batch: ${p.mkString("; ")}")
    genS
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val g0 = System.nanoTime()
    val vocab = Gen.vocabulary(ctx.seed)
    val batches = (0 until Batches).map(b => generate(spark, ctx.dir, ctx.seed, b, vocab, Docs))
    val genS = (System.nanoTime() - g0) / 1e9
    val runs = mutable.ArrayBuffer.empty[(Batch, Double, Seq[String], Boolean, Int)] // secs, problems, traced, pairs
    val pairSets = mutable.Map.empty[Int, Set[(Long, Long, Double)]]
    var repeatable = true
    def record(b: Int, found: Seq[(Long, Long, Double)]): Unit = {
      val set = found.toSet
      repeatable &&= pairSets.getOrElseUpdate(b, set) == set
    }
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val batch = batches(i % Batches)
      // traced runs alternate untraced and traced batches, for the overhead
      val tracer = ctx.tracer.filter(_ => i % 2 == 1)
      var secs = 0.0
      def timed() = {
        val t0 = System.nanoTime()
        try pairs(spark, batch, tracer) finally secs = (System.nanoTime() - t0) / 1e9
      }
      val (probs, n) =
        try {
          val found = tracer.fold(timed())(_.op("op")(timed()))
          record(i % Batches, found)
          (problems(batch, found), found.size)
        } catch { case NonFatal(e) => (Seq(s"failed: $e"), 0) }
      runs += ((batch, secs, probs, tracer.isDefined, n))
      i += 1
    }
    // every batch that ran twice gave the same pairs; make sure one did
    if (runs.size <= Batches)
      try record(0, pairs(spark, batches(0), None)) catch { case NonFatal(_) => repeatable = false }

    val checks = Seq(
      s"recall of planted pairs >= $RecallFloor, every pair exact and above threshold" ->
        runs.forall(_._3.isEmpty),
      "the pair set is identical across runs of one batch" -> repeatable)
    runs.filter(_._3.nonEmpty).foreach(r => System.err.println(s"${r._1.path}: ${r._3.mkString("; ")}"))
    val failed = if (repeatable) runs.count(_._3.nonEmpty) else runs.size

    def e2e(sel: Seq[(Batch, Double, Seq[String], Boolean, Int)]): Map[String, Double] =
      if (sel.isEmpty) Map.empty
      else Map(
        "op_p50_s" -> Stats.median(sel.map(_._2)),
        "rows_per_s" -> sel.size.toDouble * Docs / sel.map(_._2).sum)
    val ok = runs.filter(_._3.isEmpty).toSeq
    val untraced = ok.filterNot(_._4)
    val times = untraced.map(_._2)
    val tail = Stats.tail(times)
    val copyShare = runs.map(_._1.corpus.planted.size.toDouble / Docs).sum / runs.size
    val info = Seq(
      f"dedup.batch_p50_s ${if (times.isEmpty) Double.NaN else Stats.median(times)}%.4f s (n=${times.size})",
      tail.fold(s"dedup.batch_tail_s n/a (n=${times.size}; needs >= 20 batches)")(t =>
        f"dedup.batch_tail_s ${t.value}%.4f s (${t.label}, n=${t.n})"),
      f"dedup.docs_per_batch $Docs copy_share $copyShare%.3f hashes $NumHashes bands $Bands threshold $Threshold",
      f"dedup.pairs_per_batch ${runs.map(_._5).sum.toDouble / runs.size}%.1f",
      pairSets.toSeq.sortBy(_._1).map { case (b, set) => s"$b:${digest(set)}" }
        .mkString("dedup.pairs_digest ", " ", ""),
      runs.map(x => f"${x._2}%.2f").mkString("dedup.batch_s ", " ", ""))

    val layers = ctx.tracer.map { tr =>
      val r = tr.report("op")
      val traced = ok.filter(_._4)
      val verified = if (traced.isEmpty) 0.0 else traced.map(_._5).sum.toDouble / traced.size
      val candidates = r.getOrElse("sql.join_rows_max", 0.0)
      r ++ Map(
        "ext.ns_per_doc" -> r.getOrElse("jobs.ext.busy_s", 0.0) * 1e9 / Docs,
        "ext.candidate_pairs" -> candidates,
        "ext.verified_pairs" -> verified,
        "ext.verified_ratio" -> (if (candidates > 0) verified / candidates else 0.0))
    }.getOrElse(Map.empty)

    Outcome(runs.size, failed, e2e(untraced), e2e(ok.filter(_._4)), layers, checks, info, genS)
  }
}
