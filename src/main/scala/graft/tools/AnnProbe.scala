package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: prints the RAW recall values behind the q23b/q107b/q109b
  * boolean contracts at a given sf dir, so the contract scaladocs can
  * quote measured numbers instead of estimates.
  * `runMain graft.tools.AnnProbe <sfdir>`
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val clustered = graft.ext.Similarity.kmeansLabels(base, "vec_id", "embedding",
      k = 10, iters = 3, scorer = graft.ext.VectorKernels.CosineF)
    val cbs = graft.ext.Features.pqTrainCodebooks(
      base, "vec_id", "embedding", m = 16, k = 16, iters = 3)
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = graft.ext.Similarity.bruteForceTopK(queries, base, 10,
      scorer = (a, b) => graft.ext.Features.negSquaredL2(a, b))
      .select(col("query_id"), col("vec_id"))
    val fullAdc = graft.ext.Features.pqAdcTopK(
      codes.select(col("vec_id"), col("codes")), queries, cbs, 10)
      .select(col("query_id"), col("vec_id"))
    val ivfAdc = graft.ext.Features.ivfAdcTopK(codes,
      graft.ext.Similarity.clusterCentroids(clustered), queries, cbs,
      k = 10, nprobe = 5)
      .select(col("query_id"), col("vec_id"))
    val nExact = exact.count().toDouble
    val cands = graft.ext.Features.pqAdcTopK(
      codes.select(col("vec_id"), col("codes")), queries, cbs, 30)
    val refined = graft.ext.Features.refineTopK(
      cands, base, queries, "embedding", k = 10)
      .select(col("query_id"), col("vec_id"))
    println(f"[annprobe] $dir")
    println(f"[annprobe] full_adc_vs_exact   = ${fullAdc.join(exact, Seq("query_id", "vec_id")).count() / nExact}%.3f")
    println(f"[annprobe] ivf_adc_vs_exact    = ${ivfAdc.join(exact, Seq("query_id", "vec_id")).count() / nExact}%.3f")
    println(f"[annprobe] ivf_adc_vs_full_adc = ${ivfAdc.join(fullAdc, Seq("query_id", "vec_id")).count() / fullAdc.count().toDouble}%.3f")
    println(f"[annprobe] refined_vs_exact    = ${refined.join(exact, Seq("query_id", "vec_id")).count() / nExact}%.3f")
    val ivfCands = graft.ext.Features.ivfAdcTopK(codes,
      graft.ext.Similarity.clusterCentroids(clustered), queries, cbs,
      k = 30, nprobe = 5)
    val pipeline = graft.ext.Features.refineTopK(
      ivfCands, base, queries, "embedding", k = 10)
      .select(col("query_id"), col("vec_id"))
    println(f"[annprobe] ivfpq_refine_vs_exact = ${pipeline.join(exact, Seq("query_id", "vec_id")).count() / nExact}%.3f")
    // persisted-index search: does dynamic partition pruning reach the scan?
    val tmp = java.nio.file.Files.createTempDirectory("annprobe-idx").toString
    graft.ext.AnnIndex.write(codes,
      graft.ext.Similarity.clusterCentroids(clustered), cbs, tmp)
    val idx = graft.ext.AnnIndex.read(spark, tmp)
    val plan = graft.ext.AnnIndex.searchTopK(idx, queries, k = 10, nprobe = 5)
      .queryExecution.executedPlan.toString
    println(s"[annprobe] disk_search_dpp      = ${plan.toLowerCase.contains("dynamicpruning")}")
    spark.stop()
  }
}
