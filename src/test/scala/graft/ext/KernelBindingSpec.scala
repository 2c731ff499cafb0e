package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, typedlit}

import graft.SparkSpec

/** Every kernel Column builder carries its expression in the plan, so
  * it resolves in ANY session on ANY thread with no registration step:
  * a fresh `newSession()` (Verify's per-dump sessions, a foreachBatch
  * clone) and a thread with no active session get the same rows and
  * the same auto-generated column names as the base session.
  */
class KernelBindingSpec extends SparkSpec {

  private def base(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, "g1", Array(1f, 0f, 0.5f, 2f), Array(0.5f, 1f, 0f, 1f), Seq(1L, 5L, 9L),
      Seq(0, 1), "the quick brown fox jumps over the lazy dog", Seq("a", "b", "a", "b"), 2.5),
    (2L, "g1", Array(0f, 1f, 1f, 0f), Array(1f, 1f, 1f, 1f), Seq(2L, 5L),
      Seq(1, 0), "the quick brown fox jumps over the lazy cat", Seq("b", "a", "b"), -1.0),
    (3L, "g2", Array(2f, 2f, 0f, 1f), Array(0f, 0f, 1f, 3f), Seq(7L),
      Seq(1, 1), "Crème brûlée à la carte", Seq("a", "b"), 4.0)
  )).toDF("id", "g", "a", "b", "h", "codes", "text", "syms", "x")

  private val codebooks = IndexedSeq(
    IndexedSeq(Seq(1f, 0f), Seq(0f, 1f)),
    IndexedSeq(Seq(0.5f, 2f), Seq(1f, 1f)))
  private val centroids = IndexedSeq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 1f, 0f))
  private val tokens = Text.tokens(col("text"))

  private def perRow(f: => org.apache.spark.sql.Column): SparkSession => DataFrame =
    s => base(s).select(col("id"), f)
  private def perGroup(f: => org.apache.spark.sql.Column): SparkSession => DataFrame =
    s => base(s).groupBy(col("g")).agg(f)

  private val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
    "VectorKernels.cosineF" -> perRow(VectorKernels.cosineF(col("a"), col("b"))),
    "VectorKernels.CosineF" -> perRow(VectorKernels.CosineF(col("a"), col("b"))),
    "VectorKernels.srpSig" -> perRow(VectorKernels.srpSig(col("a"), 8, 1)),
    "VectorKernels.simhashL" -> perRow(VectorKernels.simhashL(col("h"), 64)),
    "VectorKernels.shingleHashes" -> perRow(VectorKernels.shingleHashes(tokens, 2)),
    "VectorKernels.textShingleHashes" ->
      perRow(VectorKernels.textShingleHashes(col("text"), 2)),
    "VectorKernels.shingleStrings" -> perRow(VectorKernels.shingleStrings(tokens, 2)),
    "VectorKernels.minhashSigL" -> perRow(VectorKernels.minhashSigL(col("h"), 8)),
    "VectorKernels.bandHashes" -> perRow(VectorKernels.bandHashes(col("h"), 2, 2)),
    "VectorKernels.setJaccard" ->
      perRow(VectorKernels.setJaccard(col("h"), typedlit(Seq(5L, 9L)))),
    "VectorKernels.gramBuckets" -> perRow(VectorKernels.gramBuckets(tokens, 2, 4)),
    "VectorKernels.negL2" -> perRow(VectorKernels.negL2(col("a"), col("b"))),
    "VectorKernels.pqEncodeCodes" -> perRow(VectorKernels.pqEncodeCodes(col("a"), codebooks)),
    "VectorKernels.adcScore" ->
      perRow(VectorKernels.adcScore(col("a"), col("codes"), codebooks)),
    "VectorKernels.cosineArgmax" -> perRow(VectorKernels.cosineArgmax(col("a"), centroids)),
    "TextNorm.normalize" -> perRow(TextNorm.normalize(col("text"), "NFD")),
    "BpeKernels.mergeOnce" -> perRow(BpeKernels.mergeOnce(col("syms"), "a", "b")),
    "BpeKernels.adjacentPairs" -> perRow(BpeKernels.adjacentPairs(col("syms"))),
    "MinHashAgg.minhashAgg" -> perGroup(MinHashAgg.minhashAgg(col("text"), 8)),
    "KllAgg.kllAgg" -> perGroup(KllAgg.kllAgg(col("x"), 8)),
    "KllAgg.kllMergeAgg" -> (s => perGroup(KllAgg.kllAgg(col("x"), 8).as("sk"))(s)
      .agg(KllAgg.kllMergeAgg(col("sk"), 8))),
    "CountMinAgg.cmsAgg" -> perGroup(CountMinAgg.cmsAgg(col("text"), 2)),
    "TopKAgg.topKAgg" -> perGroup(TopKAgg.topKAgg(col("x"), col("id"), 2)),
    "TrainPrep.bloomContaminatedDocs" -> (s => TrainPrep.bloomContaminatedDocs(
      base(s), base(s).filter(col("id") === 1L), "id", "text", 2)),
    "Dedup.minhashNearDupPairs" ->
      (s => Dedup.minhashNearDupPairs(base(s), "id", "text")))

  private def run(build: SparkSession => DataFrame, s: SparkSession): (Seq[String], Seq[String]) = {
    val df = build(s)
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)
  }

  /** `run` on a thread of its own that has no active session. */
  private def runOnNewThread(
      build: SparkSession => DataFrame, s: SparkSession): (Seq[String], Seq[String]) = {
    var out: Either[Throwable, (Seq[String], Seq[String])] = null
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      out = try Right(run(build, s)) catch { case e: Throwable => Left(e) }
    })
    t.start()
    t.join()
    out.fold(e => throw e, identity)
  }

  test("kernel Columns resolve on a fresh session and a new thread with no registration") {
    cases.foreach { case (name, build) =>
      withClue(s"$name: ") {
        val expected = run(build, spark)
        assert(expected._2.nonEmpty)
        assert(run(build, spark.newSession()) == expected)
        assert(runOnNewThread(build, spark.newSession()) == expected)
      }
    }
  }
}
