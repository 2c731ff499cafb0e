package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an IVF-style
  * partitioned variant as the 100 TB scale path.
  *
  * Vector math uses higher-order functions (`zip_with`/`aggregate`) —
  * codegen-free but JVM-native and shuffle-free per pair; a custom
  * Catalyst Expression with `doGenCode` is the upgrade path if HOF
  * throughput disappoints at scale (SURVEY.md §7.3).
  */
object Similarity {

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    * retrieval lists — the standard hybrid-search combiner (lexical
    * BM25 + dense cosine): score = Σ 1/(kRrf + rank) over the lists a
    * doc appears in, re-ranked per query. Both inputs are
    * (query_id, doc_id, rank) frames; a full-outer join on the pair
    * key aligns them (a doc missing from one list simply contributes
    * nothing), and the final top-k is one per-query window. Rank
    * arithmetic is two IEEE divisions and one add — deterministic —
    * and the output fuses on the ROUNDED score + doc_id tie-break so
    * external engines agree.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, kRrf: Int, topK: Int): DataFrame = {
    require(kRrf > 0 && topK > 0, "kRrf and topK must be positive")
    val al = a.select(col("query_id"), col("doc_id"), col("rank").as("__ra"))
    val bl = b.select(col("query_id"), col("doc_id"), col("rank").as("__rb"))
    val fused = al.join(bl, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("__ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("__rb")), lit(0.0)), 6)
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** Elementwise double view of a float vector. */
  def asDouble(c: Column): Column = transform(c, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Exact brute-force top-k: queries × corpus cross join, cosine, rank
    * per query on (rounded score desc, id asc) for deterministic ties.
    *
    * Scale posture: the corpus side stays partitioned; the (small)
    * query side broadcasts, so this is a map-side pass over the corpus
    * — no shuffle until the per-query top-k window, which AQE sizes by
    * query count, not corpus size. For huge query sets, switch to
    * [[ivfTopK]].
    */
  def bruteForceTopK(
      queries: DataFrame, // (query_id, query_vec)
      corpus: DataFrame, // (vec_id, embedding)
      k: Int,
      scorer: (Column, Column) => Column = cosine): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(scorer(col("query_vec"), col("embedding")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rank"))
  }

  /** Margin-based nearest-neighbor pair mining (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 — the LASER/CCMatrix bitext-mining rule): a source
    * row x pairs with target y when y is x's best neighbor by MARGIN
    * score — cos(x,y) scaled by the mean of both rows' top-k
    * neighborhood similarities. Raw cosine over-mines hubs (rows close
    * to everything); the ratio margin cancels hubness by normalizing
    * each pair against what "close" means around BOTH endpoints:
    *
    *   margin(x,y) = cos(x,y) / ((avgTopK(x→tgt) + avgTopK(y→bwd)) / 2)
    *
    * `src` (src_id, src_vec) is the bounded mining slice and
    * broadcasts; `tgt` (tgt_id, tgt_vec) is the full target side;
    * `bwd` (bwd_id, bwd_vec) is the corpus the backward neighborhoods
    * are measured against (normally the full source-side corpus).
    * Returns (src_id, tgt_id, cos_sim, margin): y = argmax margin per
    * x, kept only when margin > `minMargin` (> 1 ⇒ closer than the
    * neighborhood average — the paper's operating point).
    *
    * Determinism: cosines round to 6dp; the top-k neighborhood sums
    * accumulate as DECIMAL(18,6) (exact, order-free), and the margin is
    * IEEE double arithmetic over those exact inputs — any engine
    * reproduces it bit-for-bit.
    *
    * 100 TB posture: both scoring passes are broadcast map passes over
    * a partitioned corpus — the forward pass is |src|-bounded, the
    * backward pass |src|·k-bounded, and no corpus×corpus pair ever
    * forms; the only shuffles are per-id top-k windows sized by
    * candidate counts. For an UNBOUNDED src side, produce the two
    * top-k candidate lists with the IVF-PQ stack ([[ivfTopK]] /
    * [[graft.ext.Features.ivfAdcTopK]]) and feed them through the same
    * margin arithmetic.
    */
  def marginMine(
      src: DataFrame, // (src_id, src_vec) — bounded, broadcasts
      tgt: DataFrame, // (tgt_id, tgt_vec)
      bwd: DataFrame, // (bwd_id, bwd_vec)
      k: Int,
      minMargin: Double,
      scorer: (Column, Column) => Column = cosine): DataFrame = {
    require(k > 0, "k must be positive")
    def topK(pairs: DataFrame, keyCol: String, idCol: String): DataFrame = {
      val w = Window.partitionBy(col(keyCol))
        .orderBy(col("__cs").desc, col(idCol).asc)
      pairs.withColumn("__rnk", row_number().over(w)).filter(col("__rnk") <= k)
    }
    def neighborhood(ranked: DataFrame, keyCol: String, sumAs: String,
        nAs: String): DataFrame =
      ranked.groupBy(col(keyCol)).agg(
        sum(col("__cs").cast("decimal(18,6)")).cast("double").as(sumAs),
        count(lit(1)).as(nAs))
    val fwd = topK(
      tgt.crossJoin(broadcast(src))
        .withColumn("__cs", round(scorer(col("tgt_vec"), col("src_vec")), 6)),
      "src_id", "tgt_id")
    val cand = fwd.select(col("src_id"), col("tgt_id"), col("__cs").as("cos_sim"))
    val dx = neighborhood(fwd, "src_id", "__sum_x", "__n_x")
    val yVecs = tgt.join(broadcast(cand.select(col("tgt_id")).distinct()),
      Seq("tgt_id"), "left_semi")
    val dy = neighborhood(
      topK(
        bwd.crossJoin(broadcast(yVecs))
          .withColumn("__cs", round(scorer(col("bwd_vec"), col("tgt_vec")), 6)),
        "tgt_id", "bwd_id"),
      "tgt_id", "__sum_y", "__n_y")
    val den = (col("__sum_x") / col("__n_x") + col("__sum_y") / col("__n_y")) /
      lit(2.0)
    val wBest = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    cand.join(dx, "src_id").join(dy, "tgt_id")
      .filter(den > 0.0)
      .withColumn("margin", round(col("cos_sim") / den, 6))
      .withColumn("__rnk", row_number().over(wBest))
      .filter(col("__rnk") === 1 && col("margin") > minMargin)
      .select(col("src_id"), col("tgt_id"), col("cos_sim"), col("margin"))
  }

  /** All near-duplicate pairs by cosine ≥ threshold (a < b to emit each
    * pair once). Exact and quadratic — the VERIFIER role: run it only on
    * a bounded sample (mirroring the exact-Jaccard q12 pattern); the
    * full-corpus surface is [[srpNearDupPairs]]. Pass the codegen'd
    * [[VectorKernels.cosineF]] scorer to keep the pairwise loop inside
    * whole-stage codegen.
    *
    * The streamed side is repartitioned so parallelism is set by the
    * shuffle-partition conf, not by the input's file-split count (a
    * single small parquet file otherwise caps the whole pairwise pass
    * at one task). The build side broadcasts ONLY when the caller
    * asserts the input is a bounded sample (`broadcastBuild = true`);
    * an unbounded caller keeps the default spillable join so a 100 TB
    * corpus can never hit the driver's broadcast limit.
    */
  def cosineNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double,
      scorer: (Column, Column) => Column = cosine,
      broadcastBuild: Boolean = false): DataFrame = {
    val a = embeddings.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
      .repartition(col("id_a"))
    val b0 = embeddings.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    val b = if (broadcastBuild) broadcast(b0) else b0
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(scorer(col("vec_a"), col("vec_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** SRP-LSH near-dup pairs for cosine similarity: multi-table
    * exact-signature blocking. Each vector gets `tables` independent
    * SRP signatures; vectors agreeing on ANY full signature become
    * candidates (shuffle on (table, sig) — bounded buckets, no
    * quadratic pass), then the codegen'd cosine verifies ≥ threshold,
    * so precision is exact and only recall is approximate.
    *
    * Parameter choice is threshold-driven: P(bit agree) = 1 − θ/π.
    * For dedup-grade thresholds (cos ≥ 0.85, p ≈ 0.87) use long
    * signatures (planes 16–24, a few tables) — tiny buckets, recall
    * ≈ 1. For moderate thresholds (cos ≈ 0.4, p ≈ 0.65) signatures
    * must be short (planes ~6) and tables many, trading bucket size
    * for recall — fundamental to LSH, not to this implementation.
    * This is the full-corpus scale path; [[cosineNearDupPairs]] is the
    * exact bounded-sample verifier.
    */
  def srpNearDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double,
      planes: Int = 16,
      tables: Int = 4,
      scorer: (Column, Column) => Column = cosine): DataFrame = {
    // repartition: signature computation and pairwise verify must not be
    // capped by the input's file-split count (one small file = one task)
    val base = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val sigs = base.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        graft.ext.VectorKernels.srpSig(col("vec"), planes, t)): _*))
        .as(Seq("table", "sig")))
    val candidates = sigs.select(col("table"), col("sig"), col("id").as("id_a"))
      .join(sigs.select(col("table"), col("sig"), col("id").as("id_b")),
        Seq("table", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos_sim", round(scorer(col("vec_a"), col("vec_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with [[kmeansLabels]],
    * then compare pairs ONLY within a cluster — the quadratic pairwise
    * pass shrinks from O(n²) to O(Σ|cluster|²), and each cluster's
    * pass is one keyed shuffle partition. A row is dropped iff some
    * LOWER-ID row in the same cluster is within `threshold` cosine;
    * the survivor of each duplicate group is its minimum id (the same
    * deterministic keep-rule as the exact/MinHash dedup family, so the
    * families compose). Returns (idCol, kept, dup_of) for every input
    * row, `dup_of` = the smallest co-clustered near-duplicate id
    * (NULL for kept rows).
    *
    * Semantics note (disclosed, matches the paper): dropping is
    * pairwise against ALL lower-id cluster members, not greedy-
    * sequential — a dropped row can still cause later drops. That is
    * ε-dedup as SemDeDup defines it, and it is what the exact oracle
    * verifies.
    *
    * 100 TB posture: k sets the blocking granularity — pick
    * k ≈ n/⌈target cluster size⌉ so each cluster's pairwise pass is
    * bounded (the paper uses ~100k clusters for billions of rows);
    * assignment is map-only (literal or broadcast-join, see
    * [[kmeansLabels]]), the pairwise pass shuffles on `label`, and
    * recall loss is exactly the near-dup pairs k-means splits across
    * clusters (near-identical vectors essentially never split — their
    * centroid scores differ by O(1−cos)).
    */
  def semanticDedup(
      embeddings: DataFrame, // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      threshold: Double,
      scorer: (Column, Column) => Column = cosine,
      literalMaxEntries: Int = 1024): DataFrame = {
    val labeled = kmeansLabels(
      embeddings.select(col(idCol), col(vecCol)), idCol, vecCol, k, iters,
      scorer, literalMaxEntries)
    val a = labeled.select(col("label"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = labeled.select(col("label"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    val dupOf = a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(scorer(col("vec_a"), col("vec_b")), 6) >= threshold)
      .groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("dup_of"))
    embeddings.select(col(idCol))
      .join(dupOf, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** Lloyd k-means over a float-vector column, cosine geometry, as
    * DataFrame ops: per iteration, assignment is ONE shuffle-free map
    * pass while k × dim ≤ `literalMaxEntries` (the centroid table
    * rides into the plan as a literal — the spiritual broadcast;
    * scoring stays in the codegen'd kernel when `scorer` is
    * [[graft.ext.VectorKernels.cosineF]]) and switches to a broadcast
    * centroid join + map-side `max_by` argmax beyond it (a k=1000,
    * dim=64 literal would carry 64k constants into the expression
    * tree and fall out of codegen), and the
    * centroid update is one (cluster, position) aggregate. Only
    * O(k × dim) values ever reach the driver — same contract as
    * MLlib's implementation, no MLlib dependency. Init is the
    * deterministic farthest-point heuristic (k-means++ without the
    * randomness) computed driver-side over a hash-ordered sample of
    * max(50k, 200) vectors (ONE top-N job, ~256 KB at k=10/dim=64):
    * start from the sample's first vector, repeatedly take the sample
    * vector least similar to its nearest chosen centroid. Seeding from
    * a spread sample cannot collapse all centroids into one dense
    * cluster the way naive lowest-k-ids can, and the coarse quantizer
    * doesn't need full-corpus init at 100 TB. Empty clusters keep
    * their previous centroid.
    *
    * Returns the input with a `label` cluster column — feed straight
    * into [[ivfTopK]].
    */
  /** Map-only cell assignment with FROZEN centroids — the coarse
    * quantizer applied as a pure function, factored out of
    * [[kmeansLabels]] so ingest paths (e.g. streaming index appends,
    * [[graft.stream.Jobs.runIndexIngestStream]]) assign new vectors
    * with the SAME arithmetic and tie-break the batch build used —
    * the property that makes a streamed index bit-equal to a batch
    * one.
    *
    * Two equivalent paths, switched on k × dim:
    *  - literal: the centroid table rides into the plan as a typedlit
    *    — a shuffle-FREE map pass, but the expression tree carries
    *    k·dim constants and stops codegenning (and eventually
    *    planning) for large k;
    *  - broadcast: centroids become a broadcast-joined k-row frame and
    *    the argmax is a map-side-combining max_by per id — one keyed
    *    shuffle of one row per vector, unbounded in k × dim.
    * Tie-break is identical (highest score, then lowest label).
    */
  def assignCells(
      embeddings: DataFrame, // (idCol, vecCol, …payload)
      idCol: String,
      vecCol: String,
      centroids: IndexedSeq[Seq[Float]],
      scorer: (Column, Column) => Column = cosine,
      literalMaxEntries: Int = 1024): DataFrame = {
    require(centroids.nonEmpty, "assignCells needs at least one centroid")
    def assignLiteral(c: IndexedSeq[Seq[Float]]): DataFrame =
      // the canonical cosine scorer takes the codegen'd argmax kernel
      // (r16): one compiled pass, centroids as ONE reference object
      // instead of k·dim plan literals in every consumer's analysis.
      // FeaturesSpec pins kernel ≡ the transform/array_position chain
      // (same per-centroid arithmetic as FloatCosineSimilarity, same
      // first-max tie-break); other scorers keep the literal chain.
      if (scorer eq VectorKernels.CosineF)
        embeddings.withColumn("label",
          VectorKernels.cosineArgmax(col(vecCol), c))
      else assignLiteralHof(c)

    def assignLiteralHof(c: IndexedSeq[Seq[Float]]): DataFrame =
      embeddings
        .withColumn("__scores", transform(typedlit(c), v => scorer(col(vecCol), v)))
        .withColumn("label",
          (array_position(col("__scores"), array_max(col("__scores"))) - 1).cast("int"))
        .drop("__scores")

    def assignBroadcast(c: IndexedSeq[Seq[Float]]): DataFrame = {
      val spark = embeddings.sparkSession
      import spark.implicits._
      val cdf = c.zipWithIndex.map { case (v, i) => (i, v) }.toDF("label", "__centroid")
      val payload = struct(embeddings.columns.toIndexedSeq.map(col): _*)
      embeddings.crossJoin(broadcast(cdf))
        .withColumn("__score", scorer(col(vecCol), col("__centroid")))
        .groupBy(col(idCol).as("__gid"))
        .agg(max_by(
          struct(payload.as("row"), col("label")),
          struct(col("__score"), -col("label"))).as("__m"))
        .select(col("__m.row.*"), col("__m.label").as("label"))
    }

    if (centroids.length.toLong * centroids.head.length <= literalMaxEntries)
      assignLiteral(centroids)
    else assignBroadcast(centroids)
  }

  /** Lloyd-iteration k-means TRAINING only: deterministic
    * farthest-point init over a bounded hash-ordered sample, `iters`
    * assign/mean rounds, returns the trained centroids. Factored out
    * of [[kmeansLabels]] so a caller can freeze the quantizer and
    * reuse it across batch builds and streaming ingest.
    */
  def trainKmeansCentroids(
      embeddings: DataFrame, // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scorer: (Column, Column) => Column = cosine,
      literalMaxEntries: Int = 1024): IndexedSeq[Seq[Float]] = {
    require(k > 0 && iters >= 0, "k must be > 0, iters >= 0")
    val sample: Array[Array[Float]] = embeddings
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(math.max(50 * k, 200))
      .select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray)

    def cosLocal(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    require(sample.nonEmpty, "cannot seed k-means from an empty input")
    val init = scala.collection.mutable.ArrayBuffer(sample.head)
    while (init.size < math.min(k, sample.length)) {
      init += sample.minBy(v => init.map(c => cosLocal(v, c)).max)
    }
    var centroids: IndexedSeq[Seq[Float]] = init.map(_.toSeq).toIndexedSeq
    // a sample smaller than k yields fewer centroids — iterate over
    // what exists (labels stay 0..kEff-1), a degenerate-but-valid
    // quantizer, instead of indexing past the end on the update
    val kEff = centroids.length
    for (_ <- 0 until iters) {
      val means = assignCells(embeddings, idCol, vecCol, centroids, scorer,
        literalMaxEntries)
        .select(col("label"), posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos")).agg(avg(col("v")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      centroids = (0 until kEff).map(i => means.getOrElse(i, centroids(i)))
    }
    centroids
  }

  def kmeansLabels(
      embeddings: DataFrame, // (idCol, vecCol)
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scorer: (Column, Column) => Column = cosine,
      literalMaxEntries: Int = 1024): DataFrame =
    assignCells(embeddings, idCol, vecCol,
      trainKmeansCentroids(embeddings, idCol, vecCol, k, iters, scorer,
        literalMaxEntries),
      scorer, literalMaxEntries)

  /** IVF-style ANN: partition the corpus by a coarse cluster id
    * (`label` — from [[kmeansLabels]] or pre-assigned), compute
    * centroids, probe the `nprobe` nearest clusters per query, then
    * exact-search only those partitions. At 100 TB the corpus stays
    * hash-partitioned by cluster; only ~nprobe/nclusters of it is read
    * per query batch, and the centroid table (tiny) broadcasts.
    */
  /** Per-cluster centroid table from a labeled corpus: positional mean
    * via posexplode → regroup. O(k) output rows — the broadcastable
    * coarse-quantizer table both [[ivfTopK]] and
    * [[graft.ext.Features.ivfAdcTopK]] probe.
    */
  def clusterCentroids(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col("label"), posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), _.getField("m")).as("centroid"))

  /** The `nprobe` nearest cluster cells per query (tiny cross join —
    * both sides are broadcast-scale): (query_id, query_vec, label).
    */
  def probeCells(
      centroids: DataFrame, // (label, centroid)
      queries: DataFrame, // (query_id, query_vec)
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("label").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(cosine(col("query_vec"), col("centroid")), 6))
      .withColumn("c_rank", row_number().over(wProbe))
      .filter(col("c_rank") <= nprobe)
      .select(col("query_id"), col("query_vec"), col("label"))
  }

  def ivfTopK(
      embeddings: DataFrame, // (vec_id, embedding, label)
      queries: DataFrame, // (query_id, query_vec)
      k: Int,
      nprobe: Int,
      scorer: (Column, Column) => Column = cosine): DataFrame = {
    val centroids = clusterCentroids(embeddings)
    val probed = probeCells(centroids, queries, nprobe)

    // exact search restricted to probed clusters
    val scored = embeddings.join(broadcast(probed), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(scorer(col("query_vec"), col("embedding")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rank"))
  }

  // ------------------------------------------ diverse coreset selection

  /** k-center GREEDY (farthest-point) coreset selection — Gonzalez
    * 1985's 2-approximation, the shape Sener & Savarese 2018 use for
    * active-learning core-sets: starting from the lowest-id vector,
    * repeatedly pick the vector whose distance to the chosen set is
    * LARGEST. The selection maximizes coverage diversity — the
    * embedding-space answer to "which k examples best represent this
    * corpus" (seed-prompt pools, eval-set picks, dedup anchors).
    *
    * Determinism: distances are EXACT — vectors quantize to longs
    * (q = round(x·scaleQ), the PCA q153 convention) and squared L2 is
    * an integer sum, so there is no float accumulation order and no
    * rounding boundary anywhere; ties break to the lowest id. An
    * external SQL engine replays the whole selection bit-for-bit via
    * the incremental form md_r = least(md_{r−1}, d²(·, c_r)) — equal
    * to this implementation's fresh least-over-all-centers because
    * `least` is associative over the same exact values.
    *
    * Execution shape (the BPE/q119 iterative discipline): the chosen
    * set is a bounded driver literal (≤ k·dim longs); each round is
    * ONE distributed map pass (min distance to ≤ k foldable literal
    * centers, already-chosen ids excluded by a foldable NOT IN) +
    * TakeOrderedAndProject(1) — driver traffic is one row per round,
    * nothing corpus-sized ever moves. Exact overflow bound:
    * dim·(2·scaleQ·|x|_max)² < 2⁶³ per pair — ~10⁹ headroom at the
    * defaults.
    *
    * Returns (sel_rank, idCol, min_dist_q2) — min_dist_q2 is the
    * exact scaled squared distance to the previously-chosen set at
    * selection time (0 for the seed). Stops early (fewer than k rows)
    * only when the corpus has fewer than k vectors.
    */
  def farthestPointSample(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      scaleQ: Long = 10000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val base = df.select(col(idCol),
      transform(col(vecCol),
        x => round(x.cast("double") * scaleQ, 0).cast("long")).as("__q"))
    def sqDistTo(center: Seq[Long]): Column =
      aggregate(
        zip_with(col("__q"), typedLit(center), (a, b) => {
          val d = a - b; d * d
        }),
        lit(0L), (acc, v) => acc + v)

    val seed = base.orderBy(col(idCol).asc).limit(1).collect()
    require(seed.nonEmpty, "farthestPointSample: empty input")
    def idOf(r: org.apache.spark.sql.Row): Long = r.getLong(0)
    def qOf(r: org.apache.spark.sql.Row): Seq[Long] = r.getSeq[Long](1)

    var chosen = Vector((idOf(seed(0)), qOf(seed(0)), 0L))
    var exhausted = false
    while (chosen.size < k && !exhausted) {
      val minDist = chosen.map(c => sqDistTo(c._2)).reduce(least(_, _))
      val next = base
        .filter(!col(idCol).isin(chosen.map(_._1): _*))
        .select(col(idCol), col("__q"), minDist.as("__d"))
        .orderBy(col("__d").desc, col(idCol).asc)
        .limit(1).collect()
      if (next.isEmpty) exhausted = true
      else chosen :+= ((idOf(next(0)), qOf(next(0)), next(0).getLong(2)))
    }

    val spark = df.sparkSession
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("sel_rank", idCol, "min_dist_q2")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998, SIGIR — the standard diversity re-ranker): from a
    * retriever's per-query candidate list, greedily select k results
    * trading relevance against redundancy with what is already
    * selected —
    *
    *   rank 1 = argmax rel;
    *   rank j = argmax λs·rel(d) − (scale−λs)·max_{s∈selected} sim(d,s)
    *
    * (λ = λs/scale; rank 1's score is λs·rel, i.e. the empty-set max
    * is 0). All arithmetic on caller-scaled LONGS (rel and sim as
    * rounded-cosine micro-units), ties to the lower id — so the whole
    * greedy is deterministic and an external engine replays it stage
    * by stage.
    *
    * `candidates` = (query_id, vec_id, rel); `sims` = (query_id,
    * id_a, id_b, sim) covering every ordered candidate pair of a
    * query. The per-query greedy runs in a cogroup over BOTH frames —
    * the disclosed bounded sequential tier (C candidates, C² sims per
    * query, retriever-bounded, never corpus-sized: the EWMA/throttle
    * class). At 100 TB the corpus-sized work is the retriever's; this
    * layer only ever touches queries × C².
    */
  def mmrRerank(candidates: DataFrame, sims: DataFrame, k: Int,
      lambdaScaled: Long = 7, scale: Long = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambdaScaled >= 0 && lambdaScaled <= scale,
      s"lambdaScaled=$lambdaScaled must sit in [0, scale=$scale]")
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates
      .select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rel").cast("long"))
      .as[(Long, Long, Long)]
    val sim = sims
      .select(col("query_id").cast("long"), col("id_a").cast("long"),
        col("id_b").cast("long"), col("sim").cast("long"))
      .as[(Long, Long, Long, Long)]
    cand.groupByKey(_._1).cogroup(sim.groupByKey(_._1)) { (q, cs, ss) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      val sm = ss.map(s => (s._2, s._3) -> s._4).toMap
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val remaining = scala.collection.mutable.SortedSet(rel.keys.toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        var bestId = -1L
        var bestScore = Long.MinValue
        remaining.foreach { d =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.iterator
              .map(s => sm.get((d, s)).orElse(sm.get((s, d))).getOrElse(0L)).max
          val score = lambdaScaled * rel(d) - (scale - lambdaScaled) * maxSim
          // strict > keeps the LOWEST id among ties (ascending scan)
          if (score > bestScore) { bestScore = score; bestId = d }
        }
        out += ((q, rank, bestId, bestScore))
        selected += bestId
        remaining -= bestId
        rank += 1
      }
      out.iterator
    }.toDF("query_id", "rank", "vec_id", "mmr_scaled")
  }

  /** Normalized compression distance (Cilibrasi & Vitányi 2005,
    * "Clustering by compression") over the shared from-scratch
    * DEFLATE engine: `NCD(a,b) = (C(ab) − min(C(a),C(b))) /
    * max(C(a),C(b))` with C = deflate byte size. The
    * parameter-free similarity signal — no shingles, no tokenizer,
    * no embedding — useful as an independent VERIFY tier on
    * candidate pairs other blockers propose (it is O(len) per pair
    * and must never be a pair-generation surface at scale).
    * Deterministic: the engine has no randomness, so a given byte
    * pair always scores identically.
    */
  def ncdBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val ca = graft.ext.Png.deflate(a, graft.ext.Png.DeflateDynamic).length
    val cb = graft.ext.Png.deflate(b, graft.ext.Png.DeflateDynamic).length
    val cab = graft.ext.Png.deflate(a ++ b, graft.ext.Png.DeflateDynamic).length
    if (math.max(ca, cb) == 0) 0.0
    else (cab - math.min(ca, cb)).toDouble / math.max(ca, cb)
  }
}
