package graft.ext

import org.apache.spark.sql.{Column, DataFrame, KernelColumns}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators: deterministic corpus splitting,
  * fixed-token-budget sequence packing, and benchmark decontamination.
  * The three set-level jobs an LLM pretraining pipeline runs AFTER
  * dedup/quality filtering (`ext/Dedup`, `ext/Text`) and before
  * tokenized shards ship.
  *
  * All three are pure DataFrame compositions — map passes, one keyed
  * shuffle, or a broadcast semi-join — and all use the portable
  * md5-hash convention where hashing is involved, so every operator is
  * exactly reproducible in an oracle engine.
  */
object TrainPrep {

  /** Number of md5-prefix buckets used by [[hashSplit]]: 16³ (three
    * hex chars), the same bucket arithmetic as the CMS aggregate.
    */
  val SplitBuckets: Int = 4096

  /** Deterministic id-hash bucket in [0, 4096): the first three hex
    * chars of md5(id) — portable (an oracle decodes the same three
    * chars positionally), uniform, and STABLE: a document's split
    * never changes when the corpus grows, which is the property that
    * keeps yesterday's eval set out of tomorrow's train set.
    */
  def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 3), 16, 10).cast("int")

  /** Deterministic train/val/test (or any) split. `cuts` are
    * (label, upperBucketExclusive) pairs, ascending, last one at
    * [[SplitBuckets]] — e.g. 80/10/10 ≈
    * `Seq("train" -> 3277, "val" -> 3687, "test" -> 4096)`.
    * Pure map pass (no shuffle, no RNG): membership is a function of
    * the id alone, so the split is reproducible across runs, engines,
    * and corpus versions.
    */
  def hashSplit(df: DataFrame, idCol: String, cuts: Seq[(String, Int)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == SplitBuckets,
      s"last cut must close the range at $SplitBuckets")
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must be ascending")
    val b = splitBucket(col(idCol))
    val label = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, upper), rest) => when(b < upper, lit(name)).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /** Contiguous sequence packing: within each `groupCol` shard, order
    * documents by `orderCol`, lay their tokens end-to-end, and cut a
    * bin every `budget` tokens — a document lands in the bin where its
    * FIRST token falls (boundaries may straddle bins, exactly like
    * fixed-length pretraining sequence assembly over a concatenated
    * shard). One window (one shuffle on the shard key); at 100 TB the
    * shard key IS the storage shard, so packing never needs a global
    * sort — the real pipelines pack per shard for the same reason.
    * Emits `bin` plus the document's start offset within its shard.
    */
  def packSequences(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      tokenCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("start_offset", sum(col(tokenCol)).over(w) - col(tokenCol))
      .withColumn("bin", floor(col("start_offset") / budget).cast("long"))
  }

  /** Overlapping fixed-size token chunking: each document's token
    * sequence is cut into windows of `chunkSize` tokens whose starts
    * step by `stride` (stride < chunkSize ⇒ consecutive chunks share
    * `chunkSize − stride` tokens of context — the standard sliding
    * context-window prep for long documents). Chunk starts are
    * 0, stride, 2·stride, …; the chunk count is
    * ⌈(n − chunkSize)/stride⌉ + 1 (one chunk when n ≤ chunkSize), so
    * the final chunk may run short rather than re-reading earlier
    * tokens. Pure map pass + explode — no shuffle, no state; chunk
    * identity is (doc, chunk_id), deterministic across engines.
    */
  def chunkDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    df.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chunks",
        when(col("n_tokens") <= chunkSize, lit(1L))
          .otherwise(expr(s"(n_tokens - $chunkSize + ${stride - 1}) div $stride") + 1L))
      .select(col(idCol), col("toks"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("chunk_toks",
        slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
      .select(col(idCol), col("chunk_id").cast("int").as("chunk_id"),
        col("chunk_toks"), size(col("chunk_toks")).as("n_chunk_tokens"))
  }

  /** Deterministic quota sampling: keep (up to) `quota` documents per
    * `groupCol` — the corpus-mixing knob ("N docs per language/source")
    * — selected by portable md5-hash rank instead of RNG, so the
    * sample is uniform-random-like yet exactly reproducible across
    * runs and engines. One window per group key (one keyed shuffle);
    * at scale prefilter obvious non-members cheaply if quotas are
    * tiny relative to group sizes. Unlike [[hashSplit]], membership is
    * NOT stable under corpus growth (new docs can displace old ones
    * inside the quota) — that is inherent to fixed-size sampling.
    */
  def quotaSample(df: DataFrame, groupCol: String, idCol: String, quota: Int): DataFrame = {
    require(quota > 0, "quota must be positive")
    val h = substring(md5(col(idCol).cast("string")), 1, 15)
    val w = Window.partitionBy(col(groupCol)).orderBy(h, col(idCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= quota)
      .drop("__rank")
  }

  /** NEYMAN-allocation stratified sampling (Neyman 1934, the optimal
    * allocation of survey statistics): a total `budget` of rows split
    * across strata proportionally to N_h·S_h — bigger AND
    * more-variable strata get more samples, the estimator-variance-
    * minimizing rule that uniform quota sampling ([[quotaSample]])
    * ignores. Everything is exact integer arithmetic on a quantized
    * LONG value column: N_h·S_h collapses to isqrt(n_h·Σy² − (Σy)²)
    * (the per-stratum weight needs no division at all), where isqrt
    * is the float-seeded, ±1-corrected exact floor square root — the
    * double's relative error is ~2⁻⁵³, so the correction closes it on
    * both engines bit-for-bit. Allocation is floor(budget·w_h div Σw),
    * capped at the stratum population, remainder < #strata unallocated
    * (disclosed); within a stratum the md5-rank picks the rows (the
    * [[quotaSample]] convention), so the exact selection replays.
    *
    * Shape: one stats aggregation (corpus-sized pass), windows over
    * the O(#strata) frame, a broadcast allocation join back, one
    * ranked window per stratum.
    *
    * Returns the per-stratum audit: (stratumCol, n_pop, weight,
    * alloc, n_sampled, sampled_id_sum).
    */
  def neymanSample(
      df: DataFrame, stratumCol: String, idCol: String, valueCol: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    def isqrt(x: Column): Column = {
      val s0 = floor(sqrt(x.cast("double"))).cast("long")
      s0 + when((s0 + 1) * (s0 + 1) <= x, 1L).otherwise(0L) -
        when(s0 * s0 > x, 1L).otherwise(0L)
    }
    val stats = df
      .select(col(stratumCol).as("__s"), valueCol.cast("long").as("__y"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("n_pop"), sum(col("__y")).as("__sy"),
        sum(col("__y") * col("__y")).as("__syy"))
      .withColumn("weight",
        isqrt(col("n_pop") * col("__syy") - col("__sy") * col("__sy")))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val alloc = stats
      .withColumn("__wsum", sum(col("weight")).over(wAll))
      .withColumn("alloc",
        when(col("__wsum") > 0,
          least(col("n_pop"), expr(s"(${budget}L * weight) div __wsum")))
          .otherwise(lit(0L)))
      .select(col("__s"), col("n_pop"), col("weight"), col("alloc"))
    val h = substring(md5(col("__id").cast("string")), 1, 15)
    val wRank = Window.partitionBy(col("__s")).orderBy(h, col("__id"))
    df.select(col(stratumCol).as("__s"), col(idCol).as("__id"))
      .join(broadcast(alloc), Seq("__s"))
      .withColumn("__rank", row_number().over(wRank))
      .filter(col("__rank") <= col("alloc"))
      .groupBy(col("__s"), col("n_pop"), col("weight"), col("alloc"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("__id")).as("sampled_id_sum"))
      .unionByName( // zero-alloc strata still report, with empty sample
        alloc.filter(col("alloc") === 0)
          .select(col("__s"), col("n_pop"), col("weight"), col("alloc"),
            lit(0L).as("n_sampled"), lit(0L).as("sampled_id_sum")))
      .withColumnRenamed("__s", stratumCol)
  }

  /** Deterministic weighted sampling WITHOUT replacement per group
    * (Efraimidis–Spirakis A-ES, public algorithm): keep the `k` items
    * with the largest `u^(1/w)` — equivalently the largest
    * `ln(u) / w` — where `u ∈ (0, 1]` derives from md5(id) instead of
    * an RNG. Inclusion probability scales with weight, and the sample
    * is exactly reproducible across runs, shards, and engines — the
    * corpus-mixing knob (domain up/down-sampling by quality or source
    * weight) in a replayable pipeline.
    *
    * The uniform uses the first THIRTEEN md5 hex digits (52 bits):
    * every intermediate value stays below 2^53, so the int→double
    * conversion and the oracle's positional digit reconstruction are
    * both EXACT — no float divergence in the ranking key. One window
    * pass per group; a top-k heap aggregate replaces the full sort at
    * extreme group sizes.
    */
  def weightedSample(
      df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("double")
    val u = (h + lit(1.0)) / lit(math.pow(16.0, 13))
    val esKey = log(u) / col(weightCol)
    val w = Window.partitionBy(col(groupCol)).orderBy(esKey.desc, col(idCol).asc)
    df.withColumn("__es_rank", row_number().over(w))
      .filter(col("__es_rank") <= k)
      .drop("__es_rank")
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least one word `n`-gram with any OTHER document of the benchmark
    * set — the standard eval-leakage check (n-gram collision against
    * held-out benchmarks) run as a shingle semi-join.
    *
    * The benchmark side is exploded to DISTINCT shingles and
    * broadcast (benchmarks are small by construction); the corpus
    * side streams through one map pass + the broadcast join, so the
    * cost is O(corpus shingles) with no shuffle of corpus text. At
    * 100 TB swap the shingle STRINGS for the codegen'd 64-bit shingle
    * hashes ([[VectorKernels.textShingleHashes]]) — same plan shape,
    * narrower rows; the string form is kept here for exact
    * cross-engine oracles.
    */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    contaminatedBy(corpus, benchmark, idCol,
      explode(Dedup.wordShingles(col(textCol), n)))

  /** The 100 TB form of [[contaminatedDocs]]: shingles ride the
    * broadcast join as 64-bit hashes from the codegen'd
    * [[VectorKernels.textShingleHashes]] kernel instead of strings —
    * one byte-walk per shingle, ~8-byte join keys, identical answers up
    * to hash collisions (P ≈ shingles²/2⁶⁴ per doc, negligible;
    * parity-tested). Use the string form when an exact cross-engine
    * oracle is needed, this one when the corpus is large.
    */
  def contaminatedDocsHashed(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    contaminatedBy(corpus, benchmark, idCol,
      explode(VectorKernels.textShingleHashes(col(textCol), n)))

  /** Bloom-filter decontamination — the sub-linear form of
    * [[contaminatedDocs]] for when the benchmark set is too large to
    * broadcast as an exact shingle table: build ONE Bloom filter over
    * the benchmark's distinct shingle hashes (`bloom_filter_agg`,
    * mergeable map-side partials), then probe every corpus shingle
    * with `might_contain` — a pure map pass over the corpus, no join
    * at all. The filter guarantees NO FALSE NEGATIVES: every truly
    * contaminated document is flagged; a tunable false-positive
    * fraction of clean documents is over-flagged (they waste review/
    * drop budget, they never leak eval data). At 100 TB this is the
    * standard first-stage gate, with the exact semi-join
    * ([[contaminatedDocsHashed]]) run only on the flagged survivors.
    *
    * Returns (doc_id, flagged) for every corpus document. The bloom
    * builds distributed (map-side partial filters, one merge); only
    * the FINISHED filter's bytes (numBits/8, ~1 MB at the default —
    * O(1) in corpus size, the k-means-centroids class of permissible
    * driver hop) return to the driver, because Spark's
    * `BloomFilterMightContain` requires a foldable filter expression —
    * the probe is then a pure map pass with the filter riding the
    * task binary.
    *
    * EAGER AT CALL TIME: building that foldable literal runs the
    * benchmark-side aggregation as a Spark job when this method is
    * CALLED, not when the returned DataFrame executes — callers
    * composing plans lazily see one extra job at definition time. Only
    * the ~1 MB filter hops to the driver; the corpus-side probe stays
    * fully lazy.
    *
    * SELF-FLAG BIAS: unlike [[contaminatedDocs]] (which excludes
    * `doc_id === bench_id` self-matches in its join), a bloom filter
    * cannot know WHICH benchmark document a shingle came from — so any
    * benchmark document also present in the corpus always flags itself.
    * Against a self-excluding exact oracle those guaranteed flags read
    * as false positives and consume the FP budget (they are the price
    * of the no-false-negative contract: a bench doc matching ANOTHER
    * bench doc must still flag). In production corpus ∩ benchmark is
    * real contamination and the self-flag is the desired answer; size
    * the FP budget for |benchmark ∩ corpus| / |corpus| of systematic
    * overlap when validating against an exact oracle.
    */
  def bloomContaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame = {
    require(expectedItems > 0 && numBits > 0, "bloom sizing must be positive")
    def shingled(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
        explode(VectorKernels.textShingleHashes(col(textCol), n)).as("sh"))
    val bfBytes = shingled(benchmark, "bench_id")
      .select(col("sh")).distinct()
      .agg(KernelColumns.aggregate(new BloomFilterAggregate(
        KernelColumns.expr(col("sh")), Literal(expectedItems), Literal(numBits))).as("bf"))
      .head().getAs[Array[Byte]](0)
    val ids = corpus.select(col(idCol).as("doc_id"))
    if (bfBytes == null) // empty benchmark → empty filter → nothing flags
      ids.select(col("doc_id"), lit(false).as("flagged"))
    else {
      val flagged = shingled(corpus, "doc_id")
        .filter(KernelColumns.column(
          BloomFilterMightContain(Literal(bfBytes), KernelColumns.expr(col("sh")))))
        .select(col("doc_id")).distinct()
        .withColumn("flagged", lit(true))
      ids.join(flagged, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("flagged"), lit(false)).as("flagged"))
    }
  }

  /** TWO-STAGE decontamination — the 100 TB composition the
    * [[bloomContaminatedDocs]] scaladoc describes, packaged as one
    * operator with EXACT semantics: stage 1 bloom-probes every corpus
    * document (a pure map pass, no join), stage 2 runs the exact
    * hashed-shingle semi-join ([[contaminatedDocsHashed]]) ONLY on the
    * flagged sliver. The bloom's no-false-negative contract makes the
    * composition exact: an unflagged doc provably shares no shingle
    * with the benchmark, so it never needs the join; a flagged doc
    * takes the exact verdict (bloom false positives — including the
    * guaranteed self-flags of benchmark docs present in the corpus —
    * are cleared here, because the exact stage excludes
    * `doc_id === bench_id` matches). Returns (doc_id, contaminated)
    * with byte-identical results to running [[contaminatedDocsHashed]]
    * over the whole corpus, while the expensive shingle join touches
    * only `fp_rate + contamination_rate` of the data.
    *
    * Inherits stage 1's call-time eagerness (the bloom literal builds
    * when this method is CALLED — see [[bloomContaminatedDocs]]).
    */
  def decontaminateTwoStage(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame =
    decontaminateTwoStageWithHandle(
      corpus, benchmark, idCol, textCol, n, expectedItems, numBits)._1

  /** [[decontaminateTwoStage]] plus a [[CacheHandle]] over the
    * bloom flag frame the operator persists internally: BOTH the
    * candidate semi-join and the final outer join consume it, and
    * without the persist the stage-1 probe — tokenize + shingle-hash
    * over the ENTIRE corpus — executes twice per action, undercutting
    * the operator's sub-linear pitch. Long-lived sessions should
    * `unpersist()` the handle after the terminal action (the contract
    * of [[Dedup.containmentPairsWithHandle]]).
    */
  def decontaminateTwoStageWithHandle(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): (DataFrame, CacheHandle) = {
    val flags = bloomContaminatedDocs(
      corpus, benchmark, idCol, textCol, n, expectedItems, numBits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = corpus.join(flags.filter(col("flagged")),
      corpus(idCol) === flags("doc_id"), "left_semi")
    val verdict = contaminatedDocsHashed(candidates, benchmark, idCol, textCol, n)
    val out = flags.join(verdict, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
    (out, new CacheHandle(Seq(flags)))
  }

  /** Per-group token-budget fill: within each `groupCol`, admit
    * documents in (quality DESC, id ASC) order until the group's token
    * budget is exhausted — "fill each language's budget with its best
    * documents", the greedy corpus-selection step that follows quality
    * scoring. Admission is PREFIX semantics: a document is admitted
    * iff the running token total including it (over all higher-ranked
    * docs, admitted or not) stays ≤ `budget` — the first straddling
    * doc ends the fill. The skip-and-continue variant (straddler
    * skipped, later smaller docs still fit) is a sequential recurrence
    * like [[graft.ext.TimeSeries.throttle]]; prefix fill is one window
    * and the standard corpus-selection behavior (rank cutoff), exactly
    * reproducible in any engine.
    *
    * One window per group key (one keyed shuffle) — never a global
    * sort: groups fill independently, which is also how a 100 TB
    * corpus would run it (the global-budget variant computes a quality
    * THRESHOLD from a quantile sketch first, then reduces to this
    * per-group form inside the boundary bucket).
    */
  def budgetFill(
      df: DataFrame, groupCol: String, idCol: String,
      qualityCol: String, tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    // output columns — an input already carrying them (e.g. a re-piped
    // fill result) would be silently clobbered, so refuse it loudly
    require(!df.columns.exists(Set("running_tokens", "admitted")),
      "input must not already contain a running_tokens or admitted column")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("running_tokens", sum(col(tokenCol)).over(w))
      .withColumn("admitted", col("running_tokens") <= budget)
  }

  /** SKIP-AND-CONTINUE token-budget fill: like [[budgetFill]] the
    * documents of each group are visited in (quality DESC, id ASC)
    * order, but a document that would overflow the remaining budget is
    * SKIPPED and the scan continues — later, smaller documents still
    * fit (knapsack-greedy admission; prefix fill stops at the first
    * straddler). The running admitted total depends on every prior
    * ADMIT decision, so like [[graft.ext.TimeSeries.throttle]] this is
    * an inherently sequential per-group recurrence with no window/lag
    * form — the documented last-resort tier: `flatMapSortedGroups`
    * hands each group's docs in order to a linear scan carrying one
    * running counter. One keyed shuffle + in-group sort, O(1) state
    * per group, groups scan in parallel — the same scale shape as a
    * window that can't be expressed as one.
    *
    * Input is typed rows (group, id, quality, tokens); output rows are
    * (group, id, quality, tokens, admitted_tokens, admitted) for EVERY
    * input doc, where `admitted_tokens` is the group's admitted total
    * AFTER this doc's decision — so the full decision trace, not just
    * the survivor set, is oracle-checkable.
    */
  def budgetFillSkip(
      docs: org.apache.spark.sql.Dataset[(String, Long, Double, Long)],
      budget: Long): org.apache.spark.sql.Dataset[(String, Long, Double, Long, Long, Boolean)] = {
    require(budget > 0, "budget must be positive")
    import docs.sparkSession.implicits._
    // sort exprs resolve against the Dataset's ACTUAL column names
    // (tuple encoders keep source-frame names) — address positionally
    val Array(_, idName, qName, tokName) = docs.columns
    val _ = tokName // tokens participate in the scan, not the sort
    docs.groupByKey(_._1)
      .flatMapSortedGroups(col(qName).desc, col(idName).asc) {
        (_: String, it: Iterator[(String, Long, Double, Long)]) =>
          var used = 0L
          it.map { d =>
            val admit = d._4 <= budget - used
            if (admit) used += d._4
            (d._1, d._2, d._3, d._4, used, admit)
          }
      }
  }

  /** GLOBAL token-budget fill: admit documents in corpus-wide
    * (quality DESC, id ASC) order until ONE global token budget is
    * exhausted — [[budgetFill]]'s semantics without the group key, the
    * form a curation run with a single token target uses. Same prefix
    * contract: a document is admitted iff the running total including
    * it (over ALL globally higher-ranked docs) stays ≤ `budget`; the
    * emitted `running_tokens` is the exact global prefix sum.
    *
    * A global ORDER BY is the one thing this must never compile to, so
    * it runs as a two-phase prefix sum over quality-range buckets:
    *  1. a KLL sketch ([[KllAgg]], one aggregation) yields `numBuckets`
    *     approximate quality quantiles — the bucket BOUNDARIES (an
    *     O(numBuckets)-doubles driver hop, the k-means-centroids class;
    *     boundary precision affects only bucket BALANCE, never the
    *     result, because buckets are order-respecting quality ranges);
    *  2. per-bucket token sums (one keyed aggregation, O(buckets)
    *     rows) prefix-sum over a single tiny window, giving each
    *     bucket the exact token total of every better bucket;
    *  3. that offset broadcast-joins back and one keyed window per
    *     bucket adds the within-bucket running sum — offset + within =
    *     the exact global running total, computed with only keyed
    *     shuffles. Equal-quality docs always share a bucket (ranges
    *     are closed under equality), so within-bucket (quality DESC,
    *     id ASC) order IS the global order restricted to the bucket.
    *
    * At 100 TB: numBuckets scales to ~10k so each bucket fits an
    * executor's window comfortably; the sketch and bucket-sum passes
    * stay O(corpus) map + O(buckets) state.
    */
  /** Boundary cuts from ONE corpus-wide KLL sketch: a single
    * aggregation job collects the O(k·levels) flattened sketch (the
    * same driver-hop class as the bloom filter bytes) and the
    * quantile walk runs in plain Scala — the Column-expression
    * extractors ([[KllAgg.quantile]]) exist for IN-PLAN use; a fold
    * interpreted per sketch entry × numBuckets slots costs seconds
    * for a value the driver derives in microseconds. Empty input /
    * degenerate sketches fall back to a single bucket (still exact —
    * one window). Quantile p = smallest v whose cumulative weight
    * reaches ceil(p · total), the exact semantics of
    * [[KllAgg.quantile]]'s in-plan fold.
    */
  private def kllCuts(
      df: DataFrame, q: Column, numBuckets: Int, sketchK: Int): Array[Double] =
    if (numBuckets == 1) Array.empty
    else {
      val row = df.agg(KllAgg.kllAgg(q, sketchK).as("sk")).head()
      if (row.isNullAt(0)) Array.empty
      else {
        val entries = row.getSeq[org.apache.spark.sql.Row](0)
          .map(e => (e.getDouble(0), e.getLong(1)))
        val total = entries.iterator.map(_._2).sum.toDouble
        if (total == 0) Array.empty
        else {
          val cums = entries.scanLeft(0L)(_ + _._2).tail
          (1 until numBuckets).iterator.map { i =>
            val target = math.max(math.ceil(i.toDouble / numBuckets * total), 1.0)
            val idx = cums.indexWhere(_ >= target)
            entries(if (idx < 0) entries.length - 1 else idx)._1
          // finite cuts only: a −∞ cut (≥1/numBuckets of the corpus
          // normalizes to −∞) would give TWO ranges lo = −∞, and the
          // bottom-bucket closure clause would match −∞ rows to both —
          // duplicated output rows. Dropping the non-finite cut merges
          // that mass into the bottom (resp. top) bucket: buckets are
          // only a decomposition aid, so wider buckets stay exact.
          }.filter(java.lang.Double.isFinite(_)).toArray.distinct.sorted
        }
      }
    }

  def budgetFillGlobal(
      df: DataFrame, idCol: String,
      qualityCol: String, tokenCol: String, budget: Long,
      numBuckets: Int = 32, sketchK: Int = 256): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(numBuckets > 0, "numBuckets must be positive")
    require(!df.columns.exists(
      Set("running_tokens", "admitted", "__qb", "__qb_offset", "__qb_lo", "__qb_hi")),
      "input must not already contain running_tokens/admitted/__qb* columns")
    // NULL/NaN quality normalizes to −∞ (worst) BEFORE bucketing — the
    // range join would otherwise match such rows to no bucket and they
    // would VANISH from the output, unlike the per-group form whose
    // window keeps every row (desc-order nulls-last, the same rank)
    val q = nanvl(coalesce(col(qualityCol).cast("double"),
      lit(Double.NegativeInfinity)), lit(Double.NegativeInfinity))
    // 1. boundary cuts from the sketch (shared helper — see kllCuts)
    val cuts: Array[Double] = kllCuts(df, q, numBuckets, sketchK)
    // 2. bucket id via a BROADCAST RANGE JOIN against the O(buckets)
    // boundary table — deliberately NOT a per-row fold over a cuts
    // array: the caller's quality column is often an unmaterialized
    // expression (a full scoring tree), and a HOF lambda re-evaluates
    // it once per element, interpreted — 30× the scoring cost per row.
    // The join materializes the quality value once in the child
    // projection (codegen + CSE) and compares the VALUE against each
    // range; ascending bucket = descending quality, ties share a
    // bucket (ranges are half-open (lo, hi] over the value alone).
    val spark0 = df.sparkSession
    val bounds = (Double.PositiveInfinity +: cuts.reverse) // hi of bucket i
    val ranges = spark0.createDataFrame(
      spark0.sparkContext.parallelize(bounds.indices.map { i =>
        org.apache.spark.sql.Row(i,
          if (i == bounds.length - 1) Double.NegativeInfinity else bounds(i + 1),
          bounds(i))
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__qb",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__qb_lo",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("__qb_hi",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    // half-open (lo, hi] ranges, EXCEPT the bottom bucket which closes
    // at −∞ so the normalized worst-quality rows land there instead of
    // falling through every range
    val bucketed = df
      .join(broadcast(ranges), q <= col("__qb_hi") && (q > col("__qb_lo") ||
        (q === lit(Double.NegativeInfinity) &&
          col("__qb_lo") === lit(Double.NegativeInfinity))))
      .drop("__qb_lo", "__qb_hi")
    val offsets = bucketed.groupBy(col("__qb"))
      .agg(sum(col(tokenCol)).as("__qb_tokens"))
      .withColumn("__qb_offset",
        coalesce(sum(col("__qb_tokens")).over(
          Window.orderBy(col("__qb").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__qb"), col("__qb_offset"))
    // 3. within-bucket running + exact cross-bucket offset. Order by
    // the NORMALIZED quality: Spark sorts NaN above every double, so a
    // raw desc order would rank NaN best within its bucket while the
    // bucketing ranked it worst — the normalized view is monotone with
    // the bucket assignment (ties broken by id)
    val w = Window.partitionBy(col("__qb"))
      .orderBy(q.desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed.join(broadcast(offsets), Seq("__qb"))
      .withColumn("running_tokens", col("__qb_offset") + sum(col(tokenCol)).over(w))
      .withColumn("admitted", col("running_tokens") <= budget)
      .drop("__qb", "__qb_offset")
  }

  /** Per-group rank-quantile NORMALIZATION — scores from
    * heterogeneous groups (sources/domains) mapped onto each group's
    * empirical CDF so they compare ACROSS groups: a perplexity of 40
    * can be elite in one domain and mediocre in another, and mixing
    * decisions that threshold a raw score inherit that bias; the
    * per-group quantile is the standard correction. Adds `q_rank`
    * (1-based ascending rank within the group by (score, id) — rank 1
    * is the group's worst), `group_n`, and `quantile_ppm` =
    * q_rank·10⁶ div group_n (exact empirical-CDF ppm).
    *
    * Scale path: the within-group global rank is computed WITHOUT a
    * per-group global sort (groups are few and huge — a
    * `partitionBy(group)` window is exactly the few-partition skew
    * trap). One corpus-wide KLL sketch yields score-range cuts
    * ([[kllCuts]] — bounded driver hop); rows land in (group, bucket)
    * cells via a broadcast range join; per-cell counts roll into
    * per-group prefix offsets over the O(groups·buckets) frame
    * (broadcast back); the windows that remain are per-CELL, each
    * bounded by the global bucket width. budgetFillGlobal's two-phase
    * discipline, applied per group. NULL/NaN scores normalize to −∞
    * (rank worst, consistent in bucketing AND ordering — Spark's
    * NaN-sorts-highest can't disagree with the bucket assignment).
    */
  def quantileNormalize(
      df: DataFrame, groupCol: String, idCol: String, scoreCol: Column,
      numBuckets: Int = 32, sketchK: Int = 256): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(!df.columns.exists(
      Set("q_rank", "group_n", "quantile_ppm", "__qb", "__qb_lo", "__qb_hi",
        "__qb_off", "__qb_n", "__qs")),
      "input must not already contain q_rank/group_n/quantile_ppm/__qb*/__qs columns")
    // Materialize the normalized score ONCE as a child-projection
    // column: when `scoreCol` is an unmaterialized expression (the
    // curriculum's tokenCount-over-text), embedding it in the range
    // join's condition re-evaluates the whole scoring tree once per
    // (row, bucket) PAIR — numBuckets+1 times per row — and again in
    // the rank window's order key. A projected attribute is computed
    // once per row and referenced everywhere after (q210 warm
    // 6.9 → see OPTIMIZATION_r15.md).
    val s0 = nanvl(coalesce(scoreCol.cast("double"),
      lit(Double.NegativeInfinity)), lit(Double.NegativeInfinity))
    val dfq = df.withColumn("__qs", s0)
    val s = col("__qs")
    val cuts = kllCuts(dfq, s, numBuckets, sketchK)
    val spark0 = df.sparkSession
    // ascending buckets: bucket i covers (lo_i, hi_i], bottom bucket
    // closed at −∞ so normalized worst-score rows land there
    val los = Double.NegativeInfinity +: cuts
    val his = cuts :+ Double.PositiveInfinity
    val ranges = spark0.createDataFrame(
      spark0.sparkContext.parallelize(los.indices.map { i =>
        org.apache.spark.sql.Row(i, los(i), his(i))
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__qb",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__qb_lo",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("__qb_hi",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val bucketed = dfq
      .join(broadcast(ranges), s <= col("__qb_hi") && (s > col("__qb_lo") ||
        (s === lit(Double.NegativeInfinity) &&
          col("__qb_lo") === lit(Double.NegativeInfinity))))
      .drop("__qb_lo", "__qb_hi")
    // per-(group, bucket) counts → per-group prefix offsets + totals
    // over the O(groups·buckets) frame, broadcast back
    val gw = Window.partitionBy(col(groupCol))
    val offsets = bucketed.groupBy(col(groupCol), col("__qb"))
      .agg(count(lit(1)).as("__qb_cnt"))
      .withColumn("__qb_off",
        coalesce(sum(col("__qb_cnt")).over(
          gw.orderBy(col("__qb").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__qb_n", sum(col("__qb_cnt")).over(
        gw.orderBy(col("__qb").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(groupCol), col("__qb"), col("__qb_off"), col("__qb_n"))
    val w = Window.partitionBy(col(groupCol), col("__qb"))
      .orderBy(s.asc, col(idCol).asc)
    bucketed.join(broadcast(offsets), Seq(groupCol, "__qb"))
      .withColumn("q_rank", col("__qb_off") + row_number().over(w))
      .withColumn("group_n", col("__qb_n"))
      .withColumn("quantile_ppm", expr("q_rank * 1000000 div group_n"))
      .drop("__qb", "__qb_off", "__qb_n", "__qs")
  }

  /** Competence-based curriculum schedule (Platanios et al. 2019,
    * "Competence-based Curriculum Learning for Neural Machine
    * Translation" — public literature): every doc ranks by ascending
    * difficulty (exact global rank through [[quantileNormalize]] with
    * a constant group — the zero-global-sort two-phase discipline,
    * ties on id), and training runs in `phases` phases where phase p
    * admits the easiest ⌊N·√(p/P)⌋ docs (the √-competence pacing,
    * quantized so it replays exactly: rank ≤ isqrt(N²p div P) ⟺
    * N²·p ≥ rank²·P, giving the closed form
    * `first_phase = ⌈rank²·P / N²⌉` — DECIMAL(38,0) internally, so
    * rank² never overflows at any corpus size). Within its admitting
    * phase each doc gets a deterministic md5 training order (the q95
    * shuffle discipline). Emits (id…, difficulty, difficulty_rank,
    * n_docs, first_phase, phase_order) — the artifact a training loop
    * consumes directly: phase p's data = rows with first_phase ≤ p.
    */
  def curriculumSchedule(
      df: DataFrame, idCol: String, difficultyCol: Column,
      phases: Int): DataFrame = {
    require(phases >= 1, "phases must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val ranked = quantileNormalize(
      df.withColumn("__cur_g", lit(0)), "__cur_g", idCol, difficultyCol)
      .drop("__cur_g", "quantile_ppm")
      .withColumnRenamed("q_rank", "difficulty_rank")
      .withColumnRenamed("group_n", "n_docs")
    val rkD = col("difficulty_rank").cast("decimal(38,0)")
    val nD = col("n_docs").cast("decimal(38,0)")
    val w = Window.partitionBy(col("first_phase"))
      .orderBy(col("__cur_key"), col(idCol))
    ranked
      .withColumn("difficulty", difficultyCol.cast("long"))
      .withColumn("__cur_num", rkD * rkD * lit(phases) + nD * nD - lit(1))
      .withColumn("__cur_den", nD * nD)
      // IntegralDivide (div) TRUNCATES on decimals — a decimal `/`
      // plus cast would round-half-up and misassign boundary ranks
      .withColumn("first_phase",
        expr("CAST(__cur_num div __cur_den AS BIGINT)"))
      .withColumn("__cur_key",
        md5(concat(lit("cur#"), col(idCol).cast("string"))))
      .withColumn("phase_order", row_number().over(w))
      .drop("__cur_key", "__cur_num", "__cur_den")
  }

  /** Temperature-scaled mixture weights — the multilingual/multi-source
    * sampling-rate computation (the `p^alpha` re-balancing used for
    * training-mixture design; public technique from the multilingual
    * LM literature): group shares `p = n/Σn` are raised to
    * `alpha ∈ (0, 1]` and renormalized, boosting low-resource groups
    * (alpha → 0 approaches uniform; alpha = 1 keeps natural
    * proportions). Emits per group: count, natural share, scaled
    * weight, and the per-DOCUMENT relative up/down-sampling rate
    * (weight/p — > 1 means oversample). One aggregation keyed on the
    * group + a broadcast 1-row total; output is O(groups).
    */
  def mixtureWeights(df: DataFrame, groupCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).cast("double").as("total"),
      sum(pow(col("n_docs"), lit(alpha))).as("z"))
    counts.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"),
        round(col("n_docs") / col("total"), 6).as("p_natural"),
        round(pow(col("n_docs"), lit(alpha)) / col("z"), 6).as("weight"),
        round(pow(col("n_docs"), lit(alpha)) / col("z") /
          (col("n_docs") / col("total")), 6).as("sample_rate"))
  }

  /** UniMax budget allocation (Chung et al. 2023, 2304.09151): spread
    * a total token budget as uniformly as possible across groups,
    * capping each group at `maxEpochs` repetitions of its corpus —
    * the principled alternative to temperature sampling
    * ([[mixtureWeights]]'s α-scaling) that never over-repeats a
    * low-resource group. The classic water-filling loop has a closed
    * form: in ascending-cap order a group is capped iff every prefix
    * group satisfies cap_j · (remaining groups) ≤ (budget − caps
    * already granted) — a running-AND window — and all uncapped
    * groups share the leftover equally (truncating division;
    * remainder < #uncapped stays unallocated, disclosed).
    *
    * Everything is long arithmetic — the cap predicate multiplies
    * through instead of dividing, so it is EXACT — and every window
    * runs over the O(#groups) aggregate frame (the bounded-series
    * window class; the corpus-sized pass is only the token count).
    *
    * Returns (groupCol, n_tokens, cap_tokens, capped, alloc_tokens).
    */
  def unimaxAllocation(
      docs: DataFrame, groupCol: String, tokenCol: Column,
      budget: Long, maxEpochs: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    val counts = docs.groupBy(col(groupCol))
      .agg(sum(tokenCol).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    val ord = Window.orderBy(col("cap_tokens").asc, col(groupCol).asc)
    val cum = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("__m", count(lit(1)).over(all) - row_number().over(ord) + 1)
      .withColumn("__cum", coalesce(sum(col("cap_tokens")).over(cum), lit(0L)))
      .withColumn("__ok",
        when(col("cap_tokens") * col("__m") <= lit(budget) - col("__cum"), 1)
          .otherwise(0))
      .withColumn("capped", min(col("__ok")).over(run) === 1)
      .withColumn("__granted",
        coalesce(sum(when(col("capped"), col("cap_tokens"))).over(all), lit(0L)))
      .withColumn("__nu",
        sum(when(col("capped"), 0L).otherwise(1L)).over(all))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens"))
          .otherwise(expr(s"(${budget}L - __granted) div __nu")))
      .select(col(groupCol), col("n_tokens"), col("cap_tokens"),
        col("capped"), col("alloc_tokens"))
  }

  /** TEMPERATURE-based mixture allocation (the multilingual-sampling
    * rule of mT5/XLM-R: p_g ∝ n_g^(1/T)) — the standard compromise
    * between proportional sampling (T = 1, big groups drown small
    * ones) and uniform (T → ∞, small groups over-repeat): raising
    * token counts to 1/T compresses the size ratios, and the
    * resulting shares allocate a total token budget. The OTHER
    * mixture rule next to [[unimaxAllocation]]'s epoch-capped
    * water-filling: temperature re-shares EVERY group, UniMax caps
    * then levels.
    *
    * Determinism: the ONLY floating step is one libm pow per group,
    * immediately quantized — w_scaled = round(n_g^(1/T) · 10⁶) as a
    * long (the q185 round-then-exact discipline; groups are O(10²),
    * so a last-ulp pow divergence has ~10⁻⁹ collision odds against
    * the 10⁻⁶ grid). Everything after is exact integer arithmetic:
    * share_ppm = w·10⁶ div Σw, target_tokens = share_ppm · budget
    * div 10⁶, epochs_ppm = target·10⁶ div n_g (the up/down-sampling
    * factor the plan implies — > 10⁶ means the group repeats).
    *
    * Shape: one partial-agg'd groupBy for the counts, then windows
    * over the O(#groups) frame — nothing corpus-global. Feed the
    * targets into [[materializeMixture]] for the per-doc repeat plan.
    */
  def temperatureMixture(
      docs: DataFrame, groupCol: String, tokenCol: Column,
      temperature: Double, budget: Long): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    require(budget >= 0, "budget must be >= 0")
    val counts = docs.groupBy(col(groupCol))
      .agg(sum(tokenCol).as("n_tokens"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // exact ⌊a·b/c⌋ on non-negative operands, overflow-proof at any
    // corpus size: the products run in DECIMAL(38,0) and the floor is
    // the remainder trick (q − q % c) / c — the final division is
    // integral by construction, so no decimal rounding can bite
    // (a long·long product at 10¹³-token groups already clears 2⁶³,
    // the q92b overflow class)
    def mulDiv(a: String, b: String, c: String): Column = expr(
      s"CAST(((CAST($a AS DECIMAL(38,0)) * $b) - " +
        s"(CAST($a AS DECIMAL(38,0)) * $b) % $c) / $c AS BIGINT)")
    counts
      .withColumn("w_scaled",
        round(pow(col("n_tokens").cast("double"), lit(1.0 / temperature))
          * 1000000d).cast("long"))
      .withColumn("__wsum", sum(col("w_scaled")).over(wAll))
      .withColumn("share_ppm",
        when(col("__wsum") > 0, mulDiv("w_scaled", "1000000", "__wsum"))
          .otherwise(0L))
      .withColumn("target_tokens",
        mulDiv("share_ppm", s"${budget}L", "1000000"))
      .withColumn("epochs_ppm",
        when(col("n_tokens") > 0,
          mulDiv("target_tokens", "1000000", "n_tokens"))
          .otherwise(0L))
      .select(col(groupCol), col("n_tokens"), col("w_scaled"),
        col("share_ppm"), col("target_tokens"), col("epochs_ppm"))
  }

  /** EPOCH MATERIALIZATION — the step between mixture WEIGHTS
    * ([[mixtureWeights]]) and an actual training corpus: turn each
    * group's target token share into an exact per-document repeat
    * plan for a corpus of `totalTokens`. Group g's token target is
    * T_g = ⌊weight_g · totalTokens⌋; every doc repeats
    * ⌊T_g / S_g⌋ times (S_g = the group's token sum), and the
    * leftover R_g = T_g mod S_g is covered by ONE extra repeat for a
    * deterministic md5-hash-ordered prefix of the group's docs
    * ([[budgetFill]]'s prefix semantics: a doc gets the extra repeat
    * iff its running token total in hash order stays ≤ R_g). An
    * up-weighted group repeats whole epochs plus a rotating sliver; a
    * down-weighted group (T_g < S_g) gets base 0 and only the prefix
    * survives — deterministic sub-sampling, the same mechanics.
    *
    * Returns every input doc as (groupCol, idCol, tokenCol,
    * base_repeats, extra_repeat, n_repeats) — the full plan is
    * hash-checkable, and `explode(sequence(1, n_repeats))` (filtered
    * to n_repeats > 0) materializes the epoch when the caller wants
    * rows, typically fed straight into [[deterministicShuffle]].
    *
    * 100 TB posture: one partial-agg'd groupBy for S_g, one broadcast
    * of the O(#groups) target table, one keyed window per group for
    * the remainder prefix — never a global sort, no driver hop.
    * Groups missing from `weights` are excluded (the weights frame
    * DEFINES the mixture).
    */
  def materializeMixture(
      df: DataFrame, // (groupCol, idCol, tokenCol, …)
      groupCol: String,
      idCol: String,
      tokenCol: String,
      weights: DataFrame, // (groupCol, weight) — e.g. mixtureWeights output
      totalTokens: Long): DataFrame = {
    require(totalTokens > 0, "totalTokens must be positive")
    require(!df.columns.exists(Set("base_repeats", "extra_repeat", "n_repeats",
      "__gtokens", "__target", "__base", "__rem", "__run", "__extra")),
      "input must not already contain a base_repeats/extra_repeat/n_repeats " +
        "output column or a __gtokens/__target/__base/__rem/__run/__extra temp column")
    val stats = df.groupBy(col(groupCol)).agg(sum(col(tokenCol)).as("__gtokens"))
    val targets = stats.join(weights.select(col(groupCol), col("weight")), Seq(groupCol))
      .select(col(groupCol),
        floor(col("weight") * totalTokens).cast("long").as("__target"),
        col("__gtokens"))
    val h = substring(md5(col(idCol).cast("string")), 1, 15)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(h.asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.join(broadcast(targets), Seq(groupCol))
      // a group whose token sum is 0 (e.g. every doc hollowed out by
      // span excision) can fill nothing: without the guard the double
      // division yields Infinity and the cast overflows into garbage
      // repeat counts
      .withColumn("__base",
        when(col("__gtokens") <= 0, lit(0L))
          .otherwise(floor(col("__target") / col("__gtokens")).cast("long")))
      .withColumn("__rem",
        when(col("__gtokens") <= 0, lit(0L))
          .otherwise(col("__target") - col("__base") * col("__gtokens")))
      .withColumn("__run", sum(col(tokenCol)).over(w))
      // rem > 0 guard: with a zero remainder (clean division, or the
      // zero-token group above) a zero-token doc's running total of 0
      // would still satisfy run <= rem and claim a phantom extra epoch
      .withColumn("__extra", col("__rem") > 0 && col("__run") <= col("__rem"))
      .select(col(groupCol), col(idCol), col(tokenCol),
        col("__base").as("base_repeats"),
        col("__extra").as("extra_repeat"),
        (col("__base") + when(col("__extra"), 1L).otherwise(0L))
          .as("n_repeats"))
  }

  /** TOKEN-BALANCED contiguous sharding: pack the corpus, visited in
    * deterministic md5-hash order, into shards of ~`tokensPerShard`
    * tokens — equal-WORK training shards instead of
    * [[deterministicShuffle]]'s equal-COUNT ones. A document's shard
    * is ⌊tokens_before / tokensPerShard⌋ where `tokens_before` is the
    * exact global running token total ahead of it in (md5(id), id)
    * order; a doc straddling a boundary belongs to the shard it
    * starts in, so every shard holds ≥ tokensPerShard − max_doc_tokens
    * and < tokensPerShard + max_doc_tokens.
    *
    * The global prefix sum is EXACT with zero global sort — the q97b
    * two-phase shape: bucket docs by the first two hex digits of the
    * SAME md5 hash that defines the order (a bucket is a contiguous
    * hash-order slice, so bucket boundaries align with order
    * boundaries), partial-agg each bucket's token sum, run the
    * cumulative-offset window over the 256-row bucket table (tiny),
    * broadcast it back, and finish with one within-bucket running-sum
    * window. Returns every input row plus (tokens_before, shard).
    */
  def tokenBalancedShards(
      df: DataFrame, // (idCol, tokenCol, …)
      idCol: String,
      tokenCol: String,
      tokensPerShard: Long): DataFrame = {
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    require(!df.columns.exists(Set("tokens_before", "shard", "__tb", "__tb_offset")),
      "input must not already contain tokens_before/shard/__tb* columns")
    val h = substring(md5(col(idCol).cast("string")), 1, 15)
    val bucketed = df.withColumn("__tb",
      conv(substring(md5(col(idCol).cast("string")), 1, 2), 16, 10).cast("int"))
    val offsets = bucketed.groupBy(col("__tb"))
      .agg(sum(col(tokenCol)).as("__tb_tokens"))
      .withColumn("__tb_offset",
        coalesce(sum(col("__tb_tokens")).over(
          Window.orderBy(col("__tb").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__tb"), col("__tb_offset"))
    val w = Window.partitionBy(col("__tb"))
      .orderBy(h.asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .join(broadcast(offsets), Seq("__tb"))
      .withColumn("tokens_before",
        col("__tb_offset") + coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("shard",
        floor(col("tokens_before") / tokensPerShard).cast("long"))
      .drop("__tb", "__tb_offset")
  }

  /** Deterministic corpus shuffle into `numShards` shards: shard
    * assignment AND within-shard order both derive from md5(id), so
    * the "random" order training wants (no adjacent near-dups from
    * crawl locality) is exactly reproducible across runs and engines —
    * the RNG-free version of shuffle-before-sharding. Shard is a pure
    * map pass ([[splitBucket]] arithmetic, mod `numShards`); position
    * is one rank window PER SHARD (keyed shuffle — never a global
    * sort; at 100 TB each shard sorts independently, which is exactly
    * how sharded shuffle files are written).
    */
  def deterministicShuffle(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    // shard is a common column name in sharded corpora — overwriting a
    // caller's shard/pos silently would corrupt downstream routing
    require(!df.columns.exists(Set("shard", "pos")),
      "input must not already contain a shard or pos column")
    val h = substring(md5(col(idCol).cast("string")), 1, 15)
    val w = Window.partitionBy(col("shard")).orderBy(h.asc, col(idCol).asc)
    df.withColumn("shard", pmod(splitBucket(col(idCol)), lit(numShards)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** Attribution REPORT form of [[contaminatedDocs]]: decontamination
    * flags tell you WHAT to drop; the audit that always follows asks
    * WHY — which benchmark document leaked into which corpus document,
    * and how much. One row per overlapping (corpus doc, benchmark doc)
    * pair with the count of DISTINCT shared n-gram shingles and the
    * corpus doc's shingle total (so `n_shared / doc_shingles` is the
    * contaminated fraction). Self-pairs (a benchmark doc present in
    * the corpus) are excluded, matching [[contaminatedDocs]].
    *
    * Same scale shape as the flag form: the benchmark's distinct
    * shingle table broadcasts, the corpus side streams through one
    * hash join, and the pair aggregate partial-aggregates map-side.
    * The doc's shingle total is computed BEFORE the explode and rides
    * each shingle row into the pair aggregate (`first`), so the
    * corpus tokenizes exactly once and nothing joins back. Output is
    * bounded by true overlap (pairs sharing ≥ 1 shingle), not
    * corpus × benchmark.
    */
  def contaminationReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      hashShingles: Boolean = false): DataFrame = {
    // hashShingles: join on 8-byte xxhash64 keys instead of n-token
    // strings (the q102b/repeatedNgramSpans pattern) — at a real
    // benchmark-suite size the broadcast table and every key compare
    // shrink ~10×; distinct-shared counts are preserved because
    // hashing a distinct shingle set stays distinct (a 64-bit
    // collision needs ~5·10⁹ distinct grams for a 50% chance of ONE
    // miscount). The exact string form is the oracle-checked verifier.
    def key(c: Column): Column = if (hashShingles) xxhash64(c) else c
    val bench = broadcast(benchmark
      .select(col(idCol).as("bench_id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("__s"))
      .select(col("bench_id"), key(col("__s")).as("sh"))
      .distinct())
    val docs = corpus
      .select(col(idCol).as("doc_id"), Dedup.wordShingles(col(textCol), n).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).as("doc_shingles"),
        explode(col("__sh")).as("__s"))
      .select(col("doc_id"), col("doc_shingles"), key(col("__s")).as("sh"))
    docs.join(bench, Seq("sh"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"),
        first(col("doc_shingles")).as("doc_shingles"))
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        col("doc_shingles"))
  }

  /** DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling"):
    * score every corpus document by how much more likely its hashed
    * n-gram features are under a TARGET-domain distribution than
    * under the corpus distribution —
    *
    *   log w(doc) = Σ_b count_doc(b) · [log p̂_target(b) − log p̂_corpus(b)]
    *
    * with add-one smoothing over the fixed bucket space, exactly the
    * paper's hashed n-gram bag-of-buckets model. Resampling the
    * corpus ∝ w yields target-like pretraining data without a
    * trained classifier; compose with [[weightedSample]] for the
    * draw.
    *
    * Buckets are the portable md5-prefix convention ([[hashSplit]]):
    * bucket = first 3 hex chars of md5(n-gram) → 4096 buckets, so an
    * oracle engine reproduces every count bit-for-bit. N-grams keep
    * their multiplicity (counts, not a shingle SET — this is a
    * language-model feature vector, not a dedup signature); documents
    * shorter than `n` tokens contribute no features and score 0.
    *
    * 100 TB posture: one n-gram explode map pass per side feeding a
    * partial-agg'd groupBy; the bucket-distribution table is ≤ 4096
    * rows and BROADCASTS to the scoring join (the corpus is never
    * shuffled on anything wider than (doc_id, bucket)); totals ride a
    * broadcast 1-row cross join, never the driver. The target sample
    * is assumed corpus-scale-or-smaller but is never collected.
    *
    * Degenerate input: an EMPTY target (no rows, or no doc of ≥ n
    * tokens) yields a NULL target total, NULL log-ratios, and thus
    * all-zero weights — identically in Spark and the oracle engine
    * (both fold NULL sums through the final coalesce). No require()
    * guards this: checking would cost an eager count() job at
    * definition time, and zero-everywhere is the honest answer to
    * "make the corpus look like nothing".
    */
  def dsirLogWeights(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      n: Int = 2): DataFrame =
    dsirLogWeightsWithHandle(corpus, idCol, textCol, target, n)._1

  /** [[dsirLogWeights]] plus a [[CacheHandle]] over the per-doc
    * bucket-count frame, which feeds BOTH the corpus distribution and
    * the final scoring join — persisting it keeps the corpus-wide
    * n-gram explode to one execution per action.
    */
  def dsirLogWeightsWithHandle(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      n: Int = 2): (DataFrame, CacheHandle) = {
    require(n >= 1, "n must be >= 1")
    val B = SplitBuckets // 16^3 — bucket = 3 md5 hex chars, hashSplit's convention

    // one-pass codegen'd kernel: gram build + md5 + 3-hex-char prefix
    // fused ([[VectorKernels.gramBuckets]]) — value-identical to the
    // interpreted `transform(sequence)+slice+concat_ws` HOF chain +
    // `substring(md5(__g), 1, 3)` it replaces (pinned in PropertySpec);
    // the chain evaluated `split` three times per row and materialized
    // a 32-char hex string per occurrence, and dominated q112/q123
    def bucketed(df: DataFrame, idAs: String): DataFrame = df
      .select(col(idCol).as(idAs),
        explode(VectorKernels.gramBuckets(Text.tokens(col(textCol)), n, 3))
          .as("b"))

    // per-doc bucket counts — the one corpus-wide explode, persisted
    // because both the corpus distribution and the scoring join read it
    val docBuckets = bucketed(corpus, "doc_id")
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .persist()
    val corpusBuckets = docBuckets.groupBy(col("b")).agg(sum(col("cnt")).as("cc"))
    val targetBuckets = bucketed(target, "t_id")
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))

    // ≤ 4096-row distribution table: corpus buckets ⟕ target counts,
    // smoothed log-ratio; totals ride a broadcast 1-row cross join
    val totals = corpusBuckets.agg(sum(col("cc")).as("c_total")).crossJoin(
      broadcast(targetBuckets.agg(sum(col("tc")).as("t_total"))))
    val ratios = corpusBuckets
      .join(targetBuckets, Seq("b"), "left_outer")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
            (col("t_total") + B)) -
          log((col("cc") + 1).cast("double") /
            (col("c_total") + B))).as("log_ratio"))

    val scored = docBuckets
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("log_ratio")).as("__lw"))
    val out = corpus.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        round(coalesce(col("__lw"), lit(0.0)), 4).as("dsir_log_weight"))
    (out, new CacheHandle(Seq(docBuckets)))
  }

  private def contaminatedBy(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      shingleExpr: Column): DataFrame = {
    def shingled(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs), shingleExpr.as("sh"))
    val bench = broadcast(shingled(benchmark, "bench_id").distinct())
    val hits = shingled(corpus, "doc_id")
      .join(bench, Seq("sh"))
      .filter(col("doc_id") =!= col("bench_id"))
      .select(col("doc_id"))
      .distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }
}
