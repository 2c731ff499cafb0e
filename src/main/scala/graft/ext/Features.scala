package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-scaling operators over embedding columns (`array<float>`):
  * per-dimension corpus statistics and min-max normalization — the
  * standard preprocessing before distance-based similarity or model
  * input. Min/max are EXACT aggregates (no floating accumulation
  * order), so unlike mean/stddev the statistics — and the scaled
  * values, one IEEE subtract + divide each — are bit-identical across
  * engines and across any partitioning: the rare fully
  * hash-checkable float pipeline.
  */
object Features {

  /** Per-dimension (dim, vmin, vmax) over the vector column, dim
    * 0-based. One posexplode map pass + one aggregation keyed on the
    * dimension index — output is O(dim) rows regardless of corpus
    * size.
    */
  def dimMinMax(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))

  /** Min-max scale in exploded row form: (id, dim, v, vmin, vmax,
    * scaled) with scaled = (v − vmin)/(vmax − vmin), all in double.
    * The O(dim)-row stats frame rides a broadcast join, so the vector
    * side never shuffles. Constant dimensions (vmax = vmin) scale to
    * NULL (`try_divide` — ANSI mode would otherwise raise on the zero
    * range) rather than an arbitrary constant — callers decide.
    */
  def minMaxScaleRows(
      df: DataFrame, idCol: String, vecCol: String, stats: DataFrame): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .join(broadcast(stats), Seq("dim"))
      .select(col(idCol), col("dim"),
        col("v").cast("double").as("v"),
        col("vmin").cast("double").as("vmin"),
        col("vmax").cast("double").as("vmax"))
      .withColumn("scaled",
        try_divide(col("v") - col("vmin"), col("vmax") - col("vmin")))

  /** Min-max scale keeping the vector SHAPE: the stats (O(dim)
    * doubles, collected driver-side — the one permissible collect,
    * like the k-means centroids) become literal arrays and the scan
    * is a pure map pass with zero shuffle and zero join — the 100 TB
    * form. Parity with [[minMaxScaleRows]] is pinned by FeaturesSpec.
    */
  /** Collected literal (mins, maxs) arrays from a stats frame — the
    * shared driver hop of the map-only vector forms. The literal
    * arrays are indexed positionally by dim, so a stats frame with
    * gaps or a non-0-based dim set (which would silently misalign
    * every dimension after the gap) is refused loudly.
    */
  private def statsLiterals(stats: DataFrame): (Column, Column) = {
    val collected = stats.select(col("dim"), col("vmin").cast("double"),
        col("vmax").cast("double"))
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2))))
      .sortBy(_._1)
    require(collected.map(_._1).sameElements(collected.indices),
      "stats must cover a contiguous 0-based dim range; found: " +
        collected.map(_._1).mkString("[", ",", "]"))
    (typedlit(collected.map(_._2._1)), typedlit(collected.map(_._2._2)))
  }

  /** Per-element map over `vec` zipped with its 0-based index, guarded
    * for empty arrays: `sequence(0, size - 1)` DESCENDS to [0, -1]
    * when size = 0 and the i = −1 element crashes `element_at` — an
    * empty vector must yield an empty result (of `resultType`, which
    * both branches of the guard must share) instead.
    */
  private def zipWithDim(vec: Column, resultType: String)(
      f: (Column, Column) => Column): Column =
    when(size(vec) === 0, vec.cast(resultType))
      .otherwise(zip_with(vec.cast("array<double>"),
        sequence(lit(0), size(vec) - 1), f))

  def scaleVectors(
      df: DataFrame, idCol: String, vecCol: String, stats: DataFrame): DataFrame = {
    val (mins, maxs) = statsLiterals(stats)
    df.select(col(idCol),
      zipWithDim(col(vecCol), "array<double>")(
        (x, i) => try_divide(x - element_at(mins, i + 1),
          element_at(maxs, i + 1) - element_at(mins, i + 1))).as("scaled_vec"))
  }

  /** Scalar uint8 quantization of the vector column against
    * per-dimension [vmin, vmax] stats: code = round(255·(v−vmin)/
    * (vmax−vmin)), clamped to [0, 255]; constant dimensions code to 0.
    * The 4× (vs float32) storage cut that makes billion-vector ANN
    * indexes fit in memory — reconstruction error is bounded by half a
    * step, (vmax−vmin)/510 per dimension. Same literal-stats map-only
    * plan as [[scaleVectors]] (zero shuffle, zero join), and every
    * arithmetic step is order-free IEEE, so the codes — not just their
    * statistics — are reproducible bit-for-bit in an oracle engine.
    */
  def quantizeVectors(
      df: DataFrame, idCol: String, vecCol: String, stats: DataFrame): DataFrame = {
    val (mins, maxs) = statsLiterals(stats)
    df.select(col(idCol),
      zipWithDim(col(vecCol), "array<int>")(
        (x, i) => {
          val lo = element_at(mins, i + 1)
          val hi = element_at(maxs, i + 1)
          // explicit constant-dim branch: NULL-through-greatest varies
          // by engine, a CASE does not
          when(hi === lo, lit(0)).otherwise(
            least(lit(255L), greatest(lit(0L),
              round(try_divide(x - lo, hi - lo) * 255.0, 0).cast("long")))
              .cast("int"))
        }).as("codes"))
  }

  /** Inverse of [[quantizeVectors]]: v̂ = vmin + code/255·(vmax−vmin)
    * (constant dimensions reconstruct to vmin exactly). Map-only, same
    * literal-stats plan.
    */
  def dequantizeVectors(
      df: DataFrame, idCol: String, codesCol: String, stats: DataFrame): DataFrame = {
    val (mins, maxs) = statsLiterals(stats)
    df.select(col(idCol),
      zipWithDim(col(codesCol), "array<double>")(
        (c, i) => {
          val lo = element_at(mins, i + 1)
          val hi = element_at(maxs, i + 1)
          lo + (c / lit(255.0)) * (hi - lo)
        }).as("recon_vec"))
  }

  // --------------------------------------------- product quantization

  /** Negative squared L2 between two float/double vectors (higher =
    * closer) — the PQ geometry (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011). PQ DID become a hot
    * path (the r15 "not yet optimized" list), so this is now the
    * codegen'd [[graft.ext.FloatNegSquaredL2]] kernel; FeaturesSpec
    * pins it value-identical (incl. null/ragged/NaN semantics) to the
    * interpreted chain it replaced, kept below as
    * [[negSquaredL2Hof]] for that spec.
    */
  def negSquaredL2(a: Column, b: Column): Column =
    VectorKernels.negL2(a, b)

  /** The original higher-order-function formulation — the kernel's
    * semantic referee (FeaturesSpec pins kernel ≡ chain).
    */
  private[ext] def negSquaredL2Hof(a: Column, b: Column): Column =
    -aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, v) => acc + v)

  /** Train PQ codebooks: split each vector into `m` contiguous
    * subvectors of dim/m and run Lloyd k-means (negL2 geometry)
    * independently per subspace over a BOUNDED hash-ordered sample —
    * max(100·k, 200) vectors, ONE top-N job, then pure driver Scala
    * (sample·k·dim flops per iteration, microseconds at any k this
    * API admits). Sample-training is the standard PQ practice (FAISS
    * trains codebooks on ≤ ~100k vectors regardless of corpus size —
    * codebook quality saturates long before the corpus does), so the
    * 100 TB posture is exactly this: O(sample·dim) driver traffic
    * once, and everything per-corpus-row (encode, decode, ADC search)
    * stays distributed and map-only. Init per subspace is the
    * deterministic farthest-point heuristic; empty clusters keep
    * their previous centroid; ties assign to the lowest code. Returns
    * `m` codebooks of `k` centroids.
    */
  def pqTrainCodebooks(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): IndexedSeq[IndexedSeq[Seq[Float]]] = {
    require(m > 0 && k > 0 && k <= 256 && iters >= 0,
      "m > 0, 0 < k <= 256 (codes are byte-ranged), iters >= 0")
    val sample: Array[Array[Float]] = df
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(math.max(100 * k, 200))
      .select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m")
    // a ragged corpus would otherwise die later in slice/zip with an
    // opaque error — refuse it loudly at the sample
    sample.find(_.length != dim).foreach(v => throw new IllegalArgumentException(
      s"ragged vector dims in sample: saw both $dim and ${v.length}"))
    val sub = dim / m

    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    (0 until m).map { j =>
      val slices = sample.map(_.slice(j * sub, (j + 1) * sub))
      val init = scala.collection.mutable.ArrayBuffer(slices.head)
      while (init.size < math.min(k, slices.length)) {
        init += slices.maxBy(v => init.map(c => l2(v, c)).min)
      }
      var centroids: IndexedSeq[Array[Float]] = init.map(_.clone()).toIndexedSeq
      for (_ <- 0 until iters) {
        // assign (nearest centroid, ties to lowest code), then mean
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Long](k)
        slices.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < centroids.length) {
            val d = l2(v, centroids(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += v(i); i += 1 }
        }
        centroids = centroids.zipWithIndex.map { case (prev, c) =>
          if (counts(c) == 0) prev
          else Array.tabulate(sub)(i => (sums(c)(i) / counts(c)).toFloat)
        }
      }
      centroids.map(_.toSeq)
    }
  }

  /** Encode each vector as `m` byte-ranged codes (nearest codebook
    * centroid per subspace, negL2, ties to the lowest code). Map-only:
    * the codebooks ride the plan as literals — k·dim constants, the
    * same literal budget as [[Similarity.kmeansLabels]]'s small-k
    * path. Compression = 32·dim/(m·⌈log₂k⌉): 32× at m=16, k=16 over float32×64 (64-bit codes vs 2048-bit vectors).
    */
  def pqEncode(
      df: DataFrame, idCol: String, vecCol: String,
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]],
      carryCols: Seq[String] = Nil): DataFrame =
    // carryCols ride the same map pass (e.g. the IVF `label` for
    // ivfAdcTopK) — carrying them here costs nothing; joining them
    // back later costs a keyed shuffle of the whole corpus.
    // Encoding is the codegen'd [[graft.ext.FloatPqEncode]] kernel
    // (one compiled pass, codebooks as one reference object instead
    // of m·k·sub plan literals); FeaturesSpec pins it value-identical
    // to [[pqEncodeHof]], the interpreted chain it replaced.
    df.select((col(idCol) +: carryCols.map(col)) :+
      VectorKernels.pqEncodeCodes(col(vecCol), codebooks).as("codes"): _*)

  /** The original HOF/literal formulation — the kernel's semantic
    * referee (FeaturesSpec pins kernel ≡ chain).
    */
  private[ext] def pqEncodeHof(
      df: DataFrame, idCol: String, vecCol: String,
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]],
      carryCols: Seq[String] = Nil): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    df.select((col(idCol) +: carryCols.map(col)) :+
      array((0 until m).map { j =>
        val cb = typedlit(codebooks(j))
        val sl = slice(col(vecCol), j * sub + 1, sub)
        val scores = transform(cb, c => negSquaredL2Hof(sl, c))
        (array_position(scores, array_max(scores)) - 1).cast("int")
      }: _*).as("codes"): _*)
  }

  /** Reconstruct vectors from PQ codes: concatenate each subspace's
    * centroid. Map-only over the same codebook literals.
    */
  def pqDecode(
      df: DataFrame, idCol: String, codesCol: String,
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]]): DataFrame = {
    val m = codebooks.length
    df.select(col(idCol),
      flatten(array((0 until m).map { j =>
        element_at(typedlit(codebooks(j)),
          element_at(col(codesCol), j + 1) + 1)
      }: _*)).as("recon_vec"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * full-precision, every corpus vector is scored from its codes
    * alone — score = −Σⱼ‖qⱼ − centroidⱼ(codeⱼ)‖², the PQ search
    * kernel. Same shape as [[Similarity.bruteForceTopK]]: corpus side
    * stays partitioned, queries broadcast, one per-query top-k window;
    * the corpus never rematerializes its float vectors.
    */
  /** The per-(query, codes-row) ADC score expression shared by
    * [[pqAdcTopK]] and [[ivfAdcTopK]]:
    * −Σⱼ‖qⱼ − centroidⱼ(codeⱼ)‖² over `query_vec` and `codes`.
    */
  private def adcScore(codebooks: IndexedSeq[IndexedSeq[Seq[Float]]]): Column =
    // codegen'd [[graft.ext.FloatAdcScore]] kernel — one compiled pass,
    // codebooks as one reference object; FeaturesSpec pins it
    // value-identical to [[adcScoreHof]], the interpreted chain it
    // replaced (same first-term-seeded outer accumulation, so −0.0
    // survives exactly).
    VectorKernels.adcScore(col("query_vec"), col("codes"), codebooks)

  /** The original per-subspace HOF formulation — the kernel's semantic
    * referee (FeaturesSpec pins kernel ≡ chain).
    */
  private[ext] def adcScoreHof(codebooks: IndexedSeq[IndexedSeq[Seq[Float]]]): Column = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    (0 until m).map { j =>
      negSquaredL2Hof(
        slice(col("query_vec"), j * sub + 1, sub),
        element_at(typedlit(codebooks(j)),
          element_at(col("codes"), j + 1) + 1))
    }.reduce(_ + _)
  }

  def pqAdcTopK(
      codes: DataFrame, // (vec_id, codes)
      queries: DataFrame, // (query_id, query_vec)
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]],
      k: Int): DataFrame = {
    val scored = codes.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_score", round(adcScore(codebooks), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_score"), col("rank"))
  }

  /** IVF-ADC top-k — the `IndexIVFPQ` composition (Jégou et al. 2011;
    * the shape FAISS ships as its default billion-scale index): the
    * coarse quantizer ([[graft.ext.Similarity.kmeansLabels]] cells)
    * restricts each query to its `nprobe` nearest cells, and the fine
    * quantizer (PQ codes) ADC-scores ONLY those cells' rows — the
    * corpus never rematerializes its float vectors AND never runs a
    * full scan.
    *
    * 100 TB posture: the code table stays hash-partitioned by `label`
    * (at rest: partitioned storage, so probing prunes partitions at
    * the scan); the probe table is O(queries × nprobe) and broadcasts;
    * scoring touches ~nprobe/k_coarse of the corpus as a map pass over
    * 8-byte-per-row codes (not wide float vectors); the only shuffle
    * left is the per-query top-k window, sized by query count.
    */
  def ivfAdcTopK(
      codes: DataFrame, // (vec_id, label, codes) — pqEncode ⋈ kmeansLabels
      centroids: DataFrame, // (label, centroid) — Similarity.clusterCentroids
      queries: DataFrame, // (query_id, query_vec)
      codebooks: IndexedSeq[IndexedSeq[Seq[Float]]],
      k: Int,
      nprobe: Int): DataFrame = {
    val probed = graft.ext.Similarity.probeCells(centroids, queries, nprobe)
    val scored = codes.join(broadcast(probed), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_score", round(adcScore(codebooks), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_score"), col("rank"))
  }

  /** Exact re-rank of an ANN candidate list — the FAISS
    * `IndexRefineFlat` stage: an approximate searcher (ADC, IVF-ADC,
    * SRP…) proposes `C ≫ k` candidates per query, then ONLY those
    * candidates' full-precision vectors are fetched and exactly
    * re-scored, and the top `k` by exact distance survive. Refinement
    * recovers most of the quantizer's ranking error at a cost
    * proportional to the CANDIDATE set, not the corpus.
    *
    * 100 TB posture: the corpus is touched once, by an id-keyed join
    * that fetches `queries × C` vectors (the candidate table is
    * orders of magnitude smaller than the corpus, so AQE picks a
    * broadcast or shuffled-hash join on `vec_id` — never a scan-wide
    * cross join); exact scoring is a map pass over that sliver; the
    * final per-query top-k window is sized by `queries × C`. Output
    * is a subset of the candidates by construction — refinement
    * reorders, it never hallucinates ids.
    */
  def refineTopK(
      candidates: DataFrame, // (query_id, vec_id) from any ANN searcher
      base: DataFrame, // (vec_id, vec) full-precision corpus
      queries: DataFrame, // (query_id, query_vec)
      vecCol: String,
      k: Int,
      scorer: (Column, Column) => Column = negSquaredL2): DataFrame = {
    // the candidate list is a SET: a duplicated (query, vec) pair from
    // a sloppy searcher would otherwise occupy two ranks and push a
    // real neighbor out of the top k. The dedup shuffle is sized by
    // queries × C, not the corpus.
    val fetched = candidates.select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .join(base.select(col("vec_id"), col(vecCol)), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("exact_score", round(scorer(col(vecCol), col("query_vec")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("exact_score").desc, col("vec_id").asc)
    fetched.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("exact_score"), col("rank"))
  }

  // ------------------------------- scalar-quantizer ADC search (SQ8)

  /** ADC top-k over SCALAR-quantized codes — the search half of the
    * FAISS `IndexScalarQuantizer` (QT_8bit) lifecycle, public FAISS
    * practice, completing the quantizer q98 only stores: queries stay
    * full-precision, every corpus vector is scored from its uint8
    * codes alone via [[dequantizeVectors]] reconstruction feeding the
    * exact [[Similarity.bruteForceTopK]] shape (broadcast queries,
    * [[negSquaredL2]], per-query top-k window). Reconstruction is a
    * codegen'd map pass over the same literal-stats plan as encode —
    * the corpus float vectors never rematerialize, so search IO is
    * the 4×-compressed codes. For huge corpora this composes with IVF
    * cell probing exactly like [[pqAdcTopK]]: SQ8 buys 4× memory at
    * near-exact recall where 16×4-bit PQ buys 32× at coarser recall.
    */
  def sqAdcTopK(codes: DataFrame, queries: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    val recon = dequantizeVectors(codes, "vec_id", "codes", stats)
      .withColumnRenamed("recon_vec", "embedding")
    Similarity.bruteForceTopK(queries, recon, k,
      scorer = (a, b) => negSquaredL2(a, b))
  }

  // --------------------------------------- principal-component analysis

  /** Top principal component of the embedding corpus by SCALED-INTEGER
    * power iteration, plus every vector's projection onto it — the
    * embedding-curation primitive behind outlier ranking and
    * whitening-before-dedup, in the repo's bit-reproducible iterative
    * discipline (4th instance after BPE q119, the classifier q126, and
    * PageRank q133).
    *
    * Pipeline (reference shape: Spark MLlib's RowMatrix PCA — Gramian
    * built distributed, the dim×dim eigensolve is model-sized driver
    * work):
    *  1. quantize: q_i = round(x_i · scaleQ) as long — one map pass;
    *  2. exact integer moments, distributed: M_i = Σ q_i (one keyed
    *     agg) and S_ij = Σ q_i·q_j (id-keyed self-join of the exploded
    *     form, partial-agg'd into dim² cells);
    *  3. centered covariance ·n², exact: C_ij = n·S_ij − M_i·M_j —
    *     long arithmetic throughout, so the matrix is identical on any
    *     partitioning and any engine;
    *  4. normalize C to |Cn| ≤ scaleC via one truncating division and
    *     power-iterate in pure Long on the driver (the matrix is
    *     O(dim²) — the pqTrainCodebooks-class bounded hop): w = Cn·v,
    *     v' = (w · scaleV) div max|w|, L∞ normalization so no sqrt
    *     enters the arithmetic;
    *  5. project: proj_scaled = Σ q_i·v_i as a broadcast-literal map
    *     pass over the corpus — no shuffle.
    *
    * Every step is integer-exact, so an external SQL engine replays
    * the whole run — covariance, all iterations, projections —
    * bit-for-bit (truncating `div` ↔ DuckDB `//`, verified on
    * negatives). Overflow bound: exact while n·(scaleQ·|x|_max)² <
    * 2⁶³ — at the defaults and |x| ≤ 0.5 that is ~3.7e11 vectors
    * (≈ 100 TB of 64-dim float32); scaleQ is the dial trading
    * per-element precision for headroom beyond that.
    *
    * Covariance is PSD, so the dominant eigenvalue is ≥ 0 and the
    * iterate's sign never oscillates; the deterministic all-ones start
    * fixes the returned sign. A zero iterate (all-constant corpus)
    * keeps the previous vector — deterministic on both sides.
    *
    * Returns (idCol, proj_scaled, proj) with proj = proj_scaled /
    * (scaleQ·scaleV) rounded to 6 dp.
    */
  def pcaProjectScaled(
      df: DataFrame, idCol: String, vecCol: String, iters: Int = 6,
      scaleQ: Long = 10000L, scaleC: Long = 1000000L,
      scaleV: Long = 100000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val qv = pcaQuantize(df, idCol, vecCol, scaleQ)
    val cn = pcaNormalizedCov(qv, idCol, scaleC)
    val v = pcaPowerIterate(cn, iters, scaleV)
    qv.select(col(idCol), pcaDot(v).as("proj_scaled"))
      .withColumn("proj",
        round(col("proj_scaled").cast("double")
          / (scaleQ * scaleV).toDouble, 6))
  }

  /** Top TWO principal components: [[pcaProjectScaled]] plus one
    * Hotelling deflation — C₂ = Cn − (vᵀCn v)·v vᵀ/(vᵀv)² — and a
    * second power iteration, all still integer-exact (the deflation's
    * cross products exceed 2⁶³, so they run in BigInt ↔ the replaying
    * engine's int128; truncating division parity verified on
    * negatives). Deflation against the APPROXIMATE first component is
    * the standard Hotelling shape: the second component is orthogonal
    * to the returned v₁, which is what projection consumers need.
    * Returns (idCol, proj1_scaled, proj2_scaled, proj1, proj2) — a
    * genuine 2-D reduction of the corpus, the visualization/whitening
    * surface.
    */
  def pcaProject2Scaled(
      df: DataFrame, idCol: String, vecCol: String, iters: Int = 6,
      scaleQ: Long = 10000L, scaleC: Long = 1000000L,
      scaleV: Long = 100000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val qv = pcaQuantize(df, idCol, vecCol, scaleQ)
    val cn = pcaNormalizedCov(qv, idCol, scaleC)
    val v1 = pcaPowerIterate(cn, iters, scaleV)
    val v2 = pcaPowerIterate(pcaDeflate(cn, v1), iters, scaleV)
    val denom = (scaleQ * scaleV).toDouble
    qv.select(col(idCol),
      pcaDot(v1).as("proj1_scaled"), pcaDot(v2).as("proj2_scaled"))
      .withColumn("proj1", round(col("proj1_scaled").cast("double") / denom, 6))
      .withColumn("proj2", round(col("proj2_scaled").cast("double") / denom, 6))
  }

  private def pcaQuantize(
      df: DataFrame, idCol: String, vecCol: String, scaleQ: Long): DataFrame =
    df.select(col(idCol),
      transform(col(vecCol),
        x => round(x.cast("double") * scaleQ, 0).cast("long")).as("__q"))

  /** Exact integer covariance ·n², normalized to |Cn| ≤ scaleC by one
    * truncating division. First moments + per-dim count are an O(dim)
    * driver hop (the count doubles as the ragged-dimension guard);
    * second moments come back as the bounded O(dim²) model hop.
    */
  private def pcaNormalizedCov(
      qv: DataFrame, idCol: String, scaleC: Long): Array[Array[Long]] = {
    val ex = qv.select(col(idCol), posexplode(col("__q")).as(Seq("i", "q")))
    val mRows = ex.groupBy(col("i"))
      .agg(sum(col("q")).as("m"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    require(mRows.nonEmpty, "pca: empty input")
    require(mRows.map(_._3).distinct.length == 1,
      "pca: ragged vector dimensions")
    val dim = mRows.length
    val n = mRows.head._3
    val mArr = {
      val a = new Array[Long](dim)
      mRows.foreach { case (i, m, _) => a(i) = m }
      a.toSeq
    }
    val a = ex.select(col(idCol).as("__id"), col("i"), col("q"))
    val b = ex.select(col(idCol).as("__id"), col("i").as("j"), col("q").as("p"))
    val mLit = typedLit(mArr)
    val cRows = a.join(b, "__id")
      .groupBy(col("i"), col("j")).agg(sum(col("q") * col("p")).as("s"))
      .select(col("i"), col("j"),
        (lit(n) * col("s")
          - element_at(mLit, col("i") + 1) * element_at(mLit, col("j") + 1))
          .as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val cMat = Array.ofDim[Long](dim, dim)
    cRows.foreach { case (i, j, c) => cMat(i)(j) = c }
    val maxAbs = cRows.map(r => math.abs(r._3)).foldLeft(0L)(math.max)
    val divisor = math.max(maxAbs / scaleC, 1L)
    cMat.map(_.map(_ / divisor))
  }

  /** Pure-Long power iteration with L∞ normalization (no sqrt): w =
    * Cn·v, v' = (w·scaleV) div max|w|; a zero iterate keeps v.
    */
  private def pcaPowerIterate(
      cn: Array[Array[Long]], iters: Int, scaleV: Long): Array[Long] = {
    val dim = cn.length
    var v = Array.fill(dim)(scaleV)
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L
        var j = 0
        while (j < dim) { acc += cn(i)(j) * v(j); j += 1 }
        acc
      }
      val m = w.map(math.abs).foldLeft(0L)(math.max)
      if (m != 0L) v = w.map(wi => wi * scaleV / m)
      it += 1
    }
    v
  }

  /** Hotelling deflation, integer-exact: C₂ᵢⱼ = Cnᵢⱼ −
    * (vᵢ·vⱼ·vᵀCn v) div (vᵀv)². The cross products exceed long range,
    * so they run in BigInt (↔ int128 in a replaying SQL engine; both
    * divisions truncate toward zero). v is never all-zero (L∞
    * normalization pins max|v| = scaleV), so vᵀv > 0.
    */
  private def pcaDeflate(
      cn: Array[Array[Long]], v: Array[Long]): Array[Array[Long]] = {
    val dim = v.length
    val w = Array.tabulate(dim) { i =>
      var acc = 0L
      var j = 0
      while (j < dim) { acc += cn(i)(j) * v(j); j += 1 }
      acc
    }
    val num = (0 until dim).map(i => BigInt(v(i)) * w(i)).sum
    val den = (0 until dim).map(i => BigInt(v(i)) * v(i)).sum
    val den2 = den * den
    Array.tabulate(dim, dim) { (i, j) =>
      (BigInt(cn(i)(j)) - (BigInt(v(i)) * v(j) * num) / den2).toLong
    }
  }

  /** Broadcast-literal integer dot product against the quantized
    * column — the shuffle-free projection map pass.
    */
  private def pcaDot(v: Array[Long]): Column =
    aggregate(zip_with(col("__q"), typedLit(v.toSeq), (q, c) => q * c),
      lit(0L), (acc, x) => acc + x)
}
