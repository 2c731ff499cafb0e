package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Handle over DataFrames (and row RDDs) persisted INSIDE an
  * operator: callers in long-lived sessions evict deterministically
  * once the result is consumed, instead of waiting for executor-LRU to
  * age the blocks out. Unpersisting before the result is fully
  * consumed is safe (Spark recomputes), just slower.
  */
final class CacheHandle(
    private[ext] val frames: Seq[DataFrame],
    private[ext] val rdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil) {
  def unpersist(blocking: Boolean = false): Unit = {
    frames.foreach(_.unpersist(blocking))
    rdds.foreach(_.unpersist(blocking))
  }
  /** True while any held frame or RDD still has a storage level set. */
  def isCached: Boolean =
    frames.exists(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE) ||
      rdds.exists(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
}

/** Deduplication operators for training-data pipelines: exact
  * (fingerprint group-by), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * The `portableHash*` functions use a portable md5-derived 60-bit
  * integer so results are engine-independent (oracle-checkable in
  * DuckDB) and stable across Spark versions — `hash()`/`xxhash64`
  * seeds differ per engine. LSH band keys are an engine-internal
  * 64-bit mix instead: no oracle replays them, because the oracles
  * check the verified pairs and clusters, not the buckets.
  *
  * Scale posture: every step is a distributed map or a keyed shuffle;
  * LSH banding turns the quadratic candidate problem into
  * `O(docs × bands)` map-side work plus a shuffle on (band, bucket),
  * the standard web-scale near-dup design.
  */
object Dedup {

  /** Portable 60-bit hash: first 15 hex chars of md5 (always < 2^60,
    * positive in a long). `seed` derives independent hash families for
    * MinHash.
    */
  def portableHash64(c: Column, seed: Int): Column =
    conv(substring(md5(concat(c, lit(s"#$seed"))), 1, 15), 16, 10).cast("long")

  /** Portable 60-bit hash of the raw value (no seed suffix): first 15
    * hex chars of md5. An oracle reproduces bit b as bit (b mod 4) of
    * hex digit (14 − b div 4) — pure string ops, no hex→int cast
    * needed on the oracle side.
    */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles of the text (n=1 → distinct tokens).
    * Texts shorter than n words yield their single full-token shingle.
    * The n-gram path runs in the codegen'd [[VectorKernels
    * .shingleStrings]] kernel (one array pass) — the interpreted
    * `transform(sequence)+concat_ws+array_distinct` HOF chain it
    * replaces is pinned ≡ in PropertySpec; the short-text and null
    * branches reproduce that chain's fallback exactly (null in →
    * null out, < n tokens → the single joined-token shingle).
    */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = Text.tokens(c)
    if (n <= 1) array_distinct(toks)
    else
      when(toks.isNull, lit(null).cast("array<string>"))
        .when(size(toks) >= n, VectorKernels.shingleStrings(toks, n))
        .otherwise(array(concat_ws(" ", toks)))
  }

  /** Exact Jaccard similarity of two shingle-set columns, for string
    * shingles; hashed shingles use [[VectorKernels.setJaccard]].
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact dedup (O-28's content-addressed cousin): canonical doc per
    * fingerprint = min id. One hash-groupBy shuffle.
    */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", Text.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * shingle → minhash → band → bucket-join → verify:
    * 1. map: shingle hashes, signature, band keys (no shuffle);
    * 2. explode bands, shuffle on (band, bucket) — only bucket
    *    collisions meet;
    * 3. candidate pairs (a < b), dedup'd;
    * 4. exact Jaccard on the pair's shingle-hash sets ≥ threshold.
    *
    * Shingles live as 64-bit hashes end-to-end, hashed straight off
    * the text's UTF-8 bytes by the codegen'd [[TextShingleHashes]]
    * kernel, and the verify runs the [[LongArraySetJaccard]] kernel (a
    * sort-merge of two primitive arrays) on `array<long>` — identical
    * to string Jaccard up to hash collisions (P ≈ shingles²/2⁶⁴ per
    * doc, negligible), and the rows that ride the verify join carry 8
    * bytes per shingle instead of its string. q12 keeps the
    * string-exact oracle-checked form.
    *
    * At 100 TB the only quadratic term is within-bucket; band/row
    * tuning bounds bucket sizes, and a length/prefix filter upstream
    * prunes further.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    minhashNearDupPairsWithHandle(
      df, idCol, textCol, shingleSize, numHashes, bands, threshold)._1

  /** Pick (bands, rowsPerBand) for an LSH scheme with `nPerm` minhash
    * permutations targeting Jaccard `threshold`: among the divisor
    * pairs b·r = nPerm, choose the one whose S-curve inflection
    * (1/b)^(1/r) — the similarity where collision probability
    * 1−(1−s^r)^b crosses ~0.5 — lies closest to the target (standard
    * MMDS ch.3 tuning; ties break toward fewer bands = cheaper index).
    * Pure arithmetic over the O(d(nPerm)) divisor list; nothing
    * touches data.
    */
  def chooseBandsRows(nPerm: Int, threshold: Double): (Int, Int) = {
    require(nPerm > 0, "nPerm must be positive")
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    val candidates = (1 to nPerm).filter(nPerm % _ == 0).map(b => (b, nPerm / b))
    candidates.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), b)
    }
  }

  /** The tuning table behind [[chooseBandsRows]], as a frame: every
    * divisor pair (bands, rows_per_band) × every target threshold,
    * with the S-curve inflection, the collision probability AT the
    * target, and the chosen-plan flag. In-plan end to end (range →
    * divisor filter → tiny broadcast cross with the threshold list →
    * one window over ≤ d(nPerm) rows per threshold) — the audit view
    * an operator team reads before fixing a corpus-wide LSH config.
    */
  def lshBandPlan(
      spark: org.apache.spark.sql.SparkSession,
      nPerm: Int, thresholds: Seq[Double]): DataFrame = {
    require(nPerm > 0, "nPerm must be positive")
    require(thresholds.nonEmpty, "need at least one threshold")
    import spark.implicits._
    val divisors = spark.range(1, nPerm + 1L)
      .select(col("id").cast("int").as("bands"))
      .filter(lit(nPerm) % col("bands") === 0)
      .withColumn("rows_per_band", (lit(nPerm) / col("bands")).cast("int"))
    val ts = thresholds.toDF("threshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("threshold"))
      .orderBy(abs(col("infl") - col("threshold")).asc, col("bands").asc)
    divisors
      .crossJoin(broadcast(ts))
      .withColumn("infl", pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")))
      .withColumn("p", lit(1.0) -
        pow(lit(1.0) - pow(col("threshold"), col("rows_per_band")), col("bands")))
      .withColumn("chosen", row_number().over(w) === 1)
      .select(col("threshold"), col("bands"), col("rows_per_band"),
        round(col("infl"), 6).as("inflection"),
        round(col("p"), 6).as("p_at_threshold"),
        col("chosen"))
  }

  /** [[minhashNearDupPairs]] plus a [[CacheHandle]] over the one RDD
    * the operator persists internally (each doc's [[minhashIndexRows]]
    * fingerprint: shingle hashes and signature), so a long-lived
    * session can `handle.unpersist()` once the pair frame is consumed
    * rather than leaving eviction to LRU.
    */
  def minhashNearDupPairsWithHandle(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): (DataFrame, CacheHandle) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // computed once, read by all four scans (both sides of the bucket
    // self-join and both sides of the verify join): without it the
    // shingle + signature work re-runs per consumer. Re-deriving the
    // band keys per bucket side costs a few mixes per doc.
    val (index, rows) = org.apache.spark.sql.PersistedRows(
      minhashIndexRows(df, idCol, textCol, shingleSize, numHashes),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (minhashNearDupPairsFromIndex(index, bands, numHashes / bands, threshold),
      new CacheHandle(Nil, Seq(rows)))
  }

  /** INCREMENTAL near-dup: match a new BATCH of documents against an
    * existing CORPUS without re-pairing the corpus with itself — the
    * daily-ingest form of [[minhashNearDupPairs]]. At 100 TB nobody
    * re-runs all-pairs dedup per ingest; the corpus side's signatures
    * and band buckets are computed once (in production: persisted as a
    * table and appended to), and each new batch only joins its own
    * buckets against them. Candidates are strictly batch×corpus (the
    * band join is directional by construction — batch buckets meet
    * corpus buckets, never their own side), then verified with exact
    * Jaccard on the shingle-hash sets.
    *
    * Defaults differ from the self-join: 32 hashes in 16 bands of 2
    * rows — a low-rows-per-band curve whose candidate recall at
    * J ≥ 0.6 is ≈ 1 − (1 − 0.36)^16 ≈ 1−e⁻⁷ (the self-join's 4-row
    * bands miss high-J pairs far more often; an incremental gate that
    * silently re-admits near-dups poisons the corpus forever, so the
    * extra false candidates are the right trade — the exact verify
    * discards them).
    *
    * Each side is fingerprinted once into persisted RDD blocks
    * (`PersistedRows`, as in [[minhashNearDupPairsWithHandle]]) that
    * the band join and the verify both read. Nothing enters the
    * session's shared `CacheManager`; Spark's context cleaner drops the
    * blocks once the returned frame is garbage-collected.
    */
  def minhashNearDupAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.6): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    def fingerprints(df: DataFrame): DataFrame = org.apache.spark.sql.PersistedRows(
      minhashIndexRows(df, idCol, textCol, shingleSize, numHashes),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)._1
    val corpusIdx = fingerprints(corpus)
    val batchIdx = fingerprints(batch)
    minhashVerifyCandidates(
      minhashCandidatesAgainstBandRows(
        minhashBandRows(corpusIdx, bands, rowsPerBand), batchIdx, bands, rowsPerBand),
      corpusIdx, batchIdx, threshold)
  }

  /** The PERSISTABLE near-dup index rows for `df`: one row per doc
    * with its distinct shingle-hash set and minhash signature —
    * `(id, sh: array<long>, sig: array<long>)`. This is what an
    * incremental pipeline appends per ingest (each batch's survivors)
    * so later batches band-join against stored signatures instead of
    * re-tokenizing/re-shingling/re-hashing the whole kept corpus's
    * TEXT per trigger — the index row is ~numHashes+|shingles| longs,
    * read back as a plain parquet scan with the text columns never
    * touched.
    */
  def minhashIndexRows(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      VectorKernels.textShingleHashes(col(textCol), shingleSize).as("sh"))
      .withColumn("sig", VectorKernels.minhashSigL(col("sh"), numHashes))

  /** The LSH band-key rows for an index frame ([[minhashIndexRows]]
    * schema): one `(band, bucket, corpus_id)` row per (doc, band) —
    * the exploded posting list. The signature splits into `bands` runs
    * of `rowsPerBand` longs, each folded to a 64-bit bucket id by the
    * codegen'd [[LongArrayBandHashes]] kernel; distinct band values
    * share a bucket with P ≈ 2⁻⁶⁴, and every candidate is verified by
    * exact Jaccard anyway. Stored sorted by `(band, bucket-prefix)`
    * this is what lets an incremental consumer's per-trigger band join
    * PRUNE the stored index scan to the batch's own buckets instead of
    * reading every fingerprint ever admitted.
    */
  def minhashBandRows(
      index: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    index.select(col("id").as("corpus_id"),
      posexplode(VectorKernels.bandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("corpus_id"))

  /** The one LSH band join: the batch's band keys meet `storedBands`
    * ([[minhashBandRows]] schema) → distinct `(batch_id, corpus_id)`
    * candidates, NO shingle verify yet. The caller reads `storedBands`
    * with whatever pruning its layout affords; this join never widens
    * the scan. Over the batch's own band rows (filtered
    * `batch_id < corpus_id`) it is the self-join of
    * [[minhashNearDupPairsFromIndex]]. Kept apart from
    * [[minhashVerifyCandidates]] so an incremental consumer can
    * materialize the (small) candidate set first and hand the verify
    * a PRUNED doc scan instead of the whole corpus.
    */
  def minhashCandidatesAgainstBandRows(
      storedBands: DataFrame, // (band, bucket, corpus_id)
      batchIdx: DataFrame,    // (id, sh, sig)
      bands: Int, rowsPerBand: Int): DataFrame =
    minhashBandRows(batchIdx, bands, rowsPerBand)
      .select(col("corpus_id").as("batch_id"), col("band"), col("bucket"))
      .join(storedBands.select(col("band"), col("bucket"), col("corpus_id")),
        Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")

  /** Within-frame near-dup pairs over a PRECOMPUTED index frame
    * ([[minhashIndexRows]] schema): the index's band rows joined
    * against themselves, kept `id_a < id_b`, then verified —
    * [[minhashNearDupPairsWithHandle]] runs it over its persisted
    * fingerprints, and the streaming dedup's in-batch pass over the
    * fingerprints it already holds. Because every candidate is
    * verified by exact shingle-set Jaccard, the result equals the
    * text form's whenever the banding finds every true pair; MORE
    * bands/hashes can only raise candidate recall, never change a
    * verified pair.
    */
  def minhashNearDupPairsFromIndex(
      index: DataFrame, // (id, sh, sig)
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    minhashVerifyCandidates(
      minhashCandidatesAgainstBandRows(
        minhashBandRows(index, bands, rowsPerBand), index, bands, rowsPerBand)
        .filter(col("batch_id") < col("corpus_id")),
      index, index, threshold)
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"), col("jaccard_sim"))

  /** The one verify: exact shingle-set Jaccard over the candidate
    * pairs, kept at ≥ `threshold`. `corpusDocs` may be any superset of
    * the candidates' corpus rows — pruned scans change the I/O, never
    * the answer.
    */
  def minhashVerifyCandidates(
      candidates: DataFrame,  // (batch_id, corpus_id)
      corpusDocs: DataFrame,  // (id, sh)
      batchIdx: DataFrame,    // (id, sh, sig)
      threshold: Double): DataFrame =
    candidates
      .join(batchIdx.select(col("id").as("batch_id"), col("sh").as("sh_b")),
        "batch_id")
      .join(corpusDocs.select(col("id").as("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .withColumn("jaccard_sim", round(VectorKernels.setJaccard(col("sh_b"), col("sh_c")), 6))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard_sim"))

  /** Exact n-gram Jaccard pairs (the brute-force verifier MinHash
    * approximates): all (a < b) pairs with Jaccard ≥ threshold.
    *
    * A length-ratio prefilter prunes pairs before the expensive
    * set ops: J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so any
    * pair whose size ratio is below the threshold can't qualify —
    * standard exact-dedup length filtering, results unchanged (the
    * oracle needs no mirror). At threshold 0.95 this eliminates the
    * intersect/union work for almost every non-duplicate pair.
    */
  def jaccardNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
    val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    a.withColumn("n_a", size(col("sh_a")))
      .join(b.withColumn("n_b", size(col("sh_b"))), col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")).cast("double") /
        greatest(col("n_a"), col("n_b")) >= threshold)
      .withColumn("jaccard_sim", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_sim"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(A→B) = |S(A)∩S(B)| / |S(A)|
    * over distinct word `n`-gram shingle sets — the near-SUPERSET
    * detector. Jaccard misses a short document wholly embedded in a
    * much longer one (the union term swamps it); containment flags it
    * in the A→B direction, which is what boilerplate-wrapper and
    * quote-expansion dedup needs. Both directions are emitted
    * (containment is not symmetric).
    *
    * Shape: one distinct-shingle explode, a shingle-keyed self-join
    * (only shared shingles meet), one pair aggregation, and a size
    * join back — the inverted-index formulation; no document ever
    * meets a document it shares nothing with. The threshold compare is
    * exact integer arithmetic (`n_shared·100 ≥ size_a·minPct`), so an
    * oracle engine reproduces the cut bit-for-bit; the `containment`
    * column is a single IEEE division of those integers.
    *
    * At 100 TB: ubiquitous shingles make the self-join quadratic
    * within a shingle's posting list — `dfCap` drops shingles whose
    * document frequency exceeds the cap (they carry no near-superset
    * signal) exactly as search engines drop stop-shingles; containment
    * is then computed over the KEPT shingle universe (sizes too), so
    * exact duplicates still score 1.0. Alternatively route through
    * [[minhashNearDupPairs]]-style banding first and use containment
    * only as the verify metric.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minPct: Int,
      dfCap: Option[Long] = None): DataFrame =
    containmentPairsWithHandle(df, idCol, textCol, shingleSize, minPct, dfCap)._1

  /** [[containmentPairs]] plus a [[CacheHandle]] over the shingle frame
    * the operator persists internally (same contract as
    * [[minhashNearDupPairsWithHandle]]).
    */
  def containmentPairsWithHandle(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minPct: Int,
      dfCap: Option[Long] = None): (DataFrame, CacheHandle) = {
    require(minPct > 0 && minPct <= 100, "minPct must be in (0, 100]")
    dfCap.foreach(c => require(c > 0, "dfCap must be positive"))
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // consumed three times (sizes + both self-join sides) — persist so
    // tokenize + shingle construction runs once, like the minhash path
    val exploded = df.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), shingleSize)).as("s"))
    val (sh, held) = dfCap match {
      case None => (exploded.persist(level), Seq(exploded))
      case Some(cap) =>
        // bound every posting list: one extra count keyed on the
        // shingle. The RAW explode feeds both the df count and the
        // anti-join probe, so it is the frame to persist — otherwise
        // tokenize + shingle runs twice before the capped frame even
        // materializes.
        val raw = exploded.persist(level)
        val hot = raw.groupBy(col("s")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("s"))
        // the USING join moves the key first — restore (id, s) order
        // for the positional renames below
        val capped = raw.join(hot, Seq("s"), "left_anti")
          .select(col("id"), col("s")).persist(level)
        (capped, Seq(raw, capped))
    }
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("size_a"))
    val pairs = sh.toDF("id_a", "s")
      .join(sh.toDF("id_b", "s"), Seq("s"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .filter(col("n_shared") * 100 >= col("size_a") * minPct)
      .withColumn("containment",
        col("n_shared").cast("double") / col("size_a").cast("double"))
    (pairs, new CacheHandle(held))
  }

  /** Fuzzy entity matching by DELETION NEIGHBORHOODS (the SymSpell
    * blocking idea — public algorithm): every clean name expands to
    * itself plus its single-character deletions; a dirty string within
    * one deletion of a clean name then matches on an EXACT hash join
    * against that variant set — no quadratic fuzzy comparison, no
    * per-pair edit-distance until after the block. `levenshtein`
    * verifies the matched pairs (0 = exact, 1 = one deletion).
    *
    * Scale: variants cost O(names × avg_len) map-side rows into one
    * keyed shuffle — the entity-resolution analogue of LSH banding.
    * Covers one-deletion noise by construction; wider edit distances
    * expand both sides' neighborhoods (same plan shape, more rows).
    */
  def deletionNeighborhoodMatch(
      clean: DataFrame, cleanIdCol: String, cleanNameCol: String,
      dirty: DataFrame, dirtyIdCol: String, dirtyNameCol: String): DataFrame = {
    val name = col("name")
    // alias in a separate select: referencing "name" in the same
    // projection that defines it is a lateral column alias
    val variants = clean
      .select(col(cleanIdCol).as("clean_key"), col(cleanNameCol).as("name"))
      .select(col("clean_key"), col("name"),
        explode(transform(sequence(lit(0), length(name)), i =>
          when(i === 0, name).otherwise(
            concat(name.substr(lit(1), i - 1),
              name.substr(i + 1, length(name) - i))))).as("variant"))
    dirty
      .select(col(dirtyIdCol).as("dirty_key"), col(dirtyNameCol).as("dirty"))
      .join(variants, col("dirty") === col("variant"))
      .groupBy(col("dirty_key"), col("clean_key"))
      .agg(min(levenshtein(col("dirty"), col("name"))).as("dist"))
  }

  /** SimHash (Charikar) fingerprint over token hashes, `bits` wide:
    * bit b is set iff the sum over tokens (multiset) of ±1 (token-hash
    * bit b) is positive. Near-dups have small Hamming distance. Token
    * hashes use [[portableHash60]] so the fingerprint is reproducible
    * in the DuckDB oracle; they're computed once into an array, then
    * the codegen'd [[graft.ext.LongArraySimhash]] kernel accumulates
    * all bit-sums in ONE pass (the HOF formulation needed `bits`
    * interpreted passes).
    */
  def simhash(c: Column, bits: Int = 60): Column =
    VectorKernels.simhashL(transform(Text.tokens(c), t => portableHash60(t)), bits)

  /** Hamming distance between two simhash values (popcount of XOR). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with pigeonhole blocking: the fingerprint
    * splits into `maxDistance + 1` chunks; any pair within Hamming
    * distance `maxDistance` must match EXACTLY on at least one chunk,
    * so the self-join runs on (chunk_index, chunk_value) buckets —
    * never on the full cross product — then verifies true Hamming
    * distance. This is the standard web-scale simhash design
    * (Manku et al., WWW'07 "Detecting Near-Duplicates for Web
    * Crawling" — public literature, not reference code).
    *
    * Default 60-bit fingerprints → 15-bit chunks (32k bucket values
    * per chunk index): at corpus scale each bucket holds ~n/32k docs,
    * keeping the within-bucket join linear-ish — narrow fingerprints
    * (e.g. 16-bit) pigeonhole into only 2^4 values per chunk and go
    * quadratic. `bits` must divide evenly by `maxDistance + 1` or the
    * pigeonhole argument (and exactness) breaks.
    */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60, maxDistance: Int = 3): DataFrame =
    hammingNearDupPairs(
      df.select(col(idCol).as("doc_id"), simhash(col(textCol), bits).as("fp")),
      "doc_id", "fp", bits, maxDistance)

  /** The fingerprint-agnostic half of [[simhashNearDupPairs]]: given
    * an already-computed non-negative `bits`-wide fingerprint column
    * (text simhash, image dHash — any Hamming-space key), emit all
    * pairs within `maxDistance` via the same exact pigeonhole
    * blocking. Factored out so perceptual image fingerprints
    * ([[graft.ext.Multimodal.Bmp.dhash60]]) ride the identical
    * banded join instead of growing a parallel implementation.
    *
    * Buckets whose population exceeds `bucketCap` (degenerate
    * perceptual fingerprints — flat/black media hashing to 0) are
    * routed through an exact grid-salted self-join (≤ `maxSalt`²
    * grid cells per bucket) so no single task ever owns a quadratic
    * bucket; results are bit-identical to the unguarded join
    * (pinned banded ≡ brute-force on a skewed flat-image fixture in
    * MultimodalSpec).
    */
  def hammingNearDupPairs(
      fp: DataFrame, idCol: String, fpCol: String,
      bits: Int = 60, maxDistance: Int = 3,
      bucketCap: Int = 1 << 14, maxSalt: Int = 1 << 10): DataFrame = {
    val nChunks = maxDistance + 1
    require(bits % nChunks == 0,
      s"bits=$bits must divide into ${nChunks} chunks for exact pigeonhole blocking")
    require(bucketCap > 0, "bucketCap must be positive")
    require(maxSalt > 0, "maxSalt must be positive")
    val chunkBits = bits / nChunks
    val base = fp.select(col(idCol).as("doc_id"), col(fpCol).as("fp"))
    val chunks = base.select(col("doc_id"), col("fp"),
      posexplode(array((0 until nChunks).map { i =>
        shiftright(col("fp"), i * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1L)
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
    // HOT-BUCKET GUARD: the "~n/2^chunkBits docs per bucket" uniformity
    // assumption holds for text simhash but NOT for perceptual
    // fingerprints — real image/audio corpora concentrate mass on
    // degenerate fingerprints (flat/black frames → zero gradient bits
    // → a chunk_val=0 bucket holding a large fraction of the corpus),
    // and the within-bucket self-join is quadratic in bucket size.
    // Tag every chunk row with its bucket's population (a map-side-
    // combined count + a co-partitioned join on the same key the pair
    // join shuffles on), send ≤cap buckets down the plain join, and
    // route over-cap buckets through an exact GRID-SALTED self-join:
    // bucket members split into S=ceil(n/cap) id-hashed groups, the
    // left row (group ga) replicated across all gb, the right row
    // (group gb) replicated across all ga, joined on (bucket, ga, gb)
    // — every pair meets at exactly one grid cell, per-task work drops
    // from n² to (n/S)²≈cap², and the genuinely-quadratic output of a
    // degenerate bucket is spread over S² tasks instead of one
    // straggler. Both branches always exist in the plan (the split is
    // a runtime filter), so the no-skew common case pays only the
    // narrow count shuffle.
    val counts = chunks.groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(count(lit(1)).as("bucket_n"))
    val tagged = chunks.join(counts, Seq("chunk_idx", "chunk_val"))
    val cold = tagged.filter(col("bucket_n") <= bucketCap)
    val coldA = cold.select(col("chunk_idx"), col("chunk_val"),
      col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val coldB = cold.select(col("chunk_idx"), col("chunk_val"),
      col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val coldPairs = coldA.join(coldB, Seq("chunk_idx", "chunk_val"))
    val hot = tagged.filter(col("bucket_n") > bucketCap)
      .withColumn("nsalt",
        least(ceil(col("bucket_n").cast("double") / bucketCap), lit(maxSalt))
          .cast("int"))
      .withColumn("g", pmod(xxhash64(col("doc_id")), col("nsalt")).cast("int"))
    val hotA = hot.select(col("chunk_idx"), col("chunk_val"),
        col("g").as("ga"),
        explode(sequence(lit(0), col("nsalt") - 1)).as("gb"),
        col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val hotB = hot.select(col("chunk_idx"), col("chunk_val"),
        explode(sequence(lit(0), col("nsalt") - 1)).as("ga"),
        col("g").as("gb"),
        col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val hotPairs = hotA.join(hotB, Seq("chunk_idx", "chunk_val", "ga", "gb"))
      .drop("ga", "gb")
    // verify (cheap codegen'd bit ops) BEFORE the pair-dedup shuffle so
    // only true near-dups pay the distinct
    coldPairs.unionByName(hotPairs)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        hammingDistance(col("fp_a"), col("fp_b")).cast("long"))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Cross-document REPEATED SPANS — substring-level dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): instead of dropping whole near-duplicate
    * documents, find the token ranges that literally repeat across
    * documents (boilerplate, licenses, templated headers) so a
    * downstream pass can excise just those spans. A position is
    * flagged when its token `n`-gram occurs in ≥ `minDocs` DISTINCT
    * documents; flagged positions whose n-gram token ranges touch or
    * overlap (position gap ≤ n) merge into one span via a
    * gaps-and-islands window (island boundary where the gap from the
    * previous flagged position exceeds n — NOT merely "consecutive
    * positions", which would emit overlapping token ranges whenever
    * two flagged runs sit less than n tokens apart). Returns one row
    * per maximal span: (doc_id, start_tok, end_tok, n_grams) with
    * 0-based inclusive token indices — `end_tok` covers the last
    * token of the last flagged n-gram, spans within a doc never
    * overlap, and `n_grams` counts the flagged positions merged in.
    *
    * The paper's suffix-array machinery is a single-machine
    * construction; the Spark-shaped equivalent is this positional
    * n-gram inverted index — the same duplicated-text recall for
    * spans ≥ n tokens, as one linear map (tokenize → posexplode),
    * one partial-agg'd groupBy over n-grams, one hash join back, and
    * one per-document window. Nothing is quadratic and nothing is
    * collected.
    *
    * 100 TB posture: `hashGrams=true` shuffles 8-byte xxhash64 keys
    * instead of n-token strings (~10× narrower shuffle; a 64-bit
    * collision needs ~5·10⁹ distinct grams for even a 50% chance of
    * ONE false flagged position). The exact string-keyed form is the
    * verifier the oracle checks; ExtSpec pins hashed ≡ exact on
    * this corpus.
    */
  def repeatedNgramSpans(
      docs: DataFrame, // (idCol, textCol)
      idCol: String,
      textCol: String,
      n: Int,
      minDocs: Int = 2,
      hashGrams: Boolean = false,
      keepFirst: Boolean = false): DataFrame =
    repeatedNgramSpansWithHandle(
      docs, idCol, textCol, n, minDocs, hashGrams, keepFirst)._1

  /** [[repeatedNgramSpans]] plus a [[CacheHandle]] over the positional
    * gram frame the operator persists internally: both the ≥ `minDocs`
    * aggregate and the join back consume it (their exchanges differ —
    * one partial-aggregates below the shuffle — so Spark cannot reuse
    * one scan), and without the persist the corpus tokenizes twice.
    * The plain form discards the handle (frame stays until LRU
    * eviction — fine for one-shot jobs); long-lived sessions should
    * call this and `unpersist()` after the action.
    */
  def repeatedNgramSpansWithHandle(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDocs: Int = 2,
      hashGrams: Boolean = false,
      keepFirst: Boolean = false): (DataFrame, CacheHandle) = {
    require(n >= 1 && minDocs >= 2, "n >= 1, minDocs >= 2")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    // (doc_id, pos, gram) — slice is 1-based; sequence is empty when
    // the doc is shorter than n (sequence(0, -1) would DESCEND, so
    // guard with a size filter first)
    val grams = toks
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), size(col("toks")) - n),
          i => struct(i.as("pos"),
            array_join(slice(col("toks"), i + 1, lit(n)), " ").as("gram"))))
          .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"),
        (if (hashGrams) xxhash64(col("g.gram")) else col("g.gram")).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // keepFirst = the Lee-et-al. "keep one copy" policy: each repeated
    // gram's LOWEST doc_id is its keeper — positions in the keeper doc
    // are never flagged, so exactly one copy of every repeated span
    // survives excision. The keeper rides the same aggregate (min
    // beside countDistinct — no extra shuffle) and the same
    // deterministic min-id keep-rule as the whole-document dedup
    // family, so the policies compose.
    val repeated = grams
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("__keeper"))
      .filter(col("nd") >= minDocs)
      .select(col("gram"), col("__keeper"))
    val flagged0 = grams.join(repeated, Seq("gram"))
    val flagged = (if (keepFirst) flagged0.filter(col("doc_id") =!= col("__keeper"))
      else flagged0).drop("__keeper")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = flagged
      .withColumn("__new_island",
        when(col("pos") - lag(col("pos"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("__island", sum(col("__new_island")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + n - 1).as("end_tok"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("start_tok").cast("int").as("start_tok"),
        col("end_tok").cast("int").as("end_tok"), col("n_grams"))
    (spans, new CacheHandle(Seq(grams)))
  }

  /** Apply [[repeatedNgramSpans]] (or any span table) to the corpus:
    * remove every token whose 0-based position falls inside one of the
    * doc's spans and rebuild the text. Returns every input doc as
    * (doc_id, text, n_removed) — docs with no spans pass through
    * unchanged, a fully-flagged doc becomes the empty string (filter
    * on `n_removed`/`text` downstream to drop hollowed-out docs).
    *
    * Excision removes ALL given spans; "keep one copy" policies
    * (e.g. spare the lowest-id doc of each duplicate group) are a
    * property of WHICH spans the caller passes in, not of the apply
    * step — filter the span table first.
    *
    * 100 TB posture: one hash join (spans collapse to an array per
    * doc — bounded: spans are maximal, hence non-overlapping and
    * ≤ tokens/2 per doc) and one map pass; the per-token span test is
    * a higher-order `filter` over the token array, no explode and no
    * second shuffle.
    */
  def exciseSpans(
      docs: DataFrame, // (idCol, textCol)
      spans: DataFrame, // (doc_id, start_tok, end_tok) — repeatedNgramSpans shape
      idCol: String,
      textCol: String): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("__spans"))
    docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("__toks"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        col("__spans").isNull || !exists(col("__spans"),
          s => i >= s.getField("start_tok") && i <= s.getField("end_tok"))))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("text"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Paragraph-grain exact dedup with reassembly (the "exact paragraph
    * / line dedup" pass that web-corpus pipelines run BEFORE fuzzy
    * doc-level dedup — e.g. RefinedWeb, Penedo et al. 2306.01116, and
    * Lee et al. 2107.06499's ExactSubstr at paragraph grain): chunk
    * every document into fixed `chunkTokens`-token paragraphs, keep
    * only the globally FIRST occurrence of each distinct paragraph
    * (first = lowest (doc_id, chunk position)), and rebuild each
    * document from its surviving paragraphs in order.
    *
    * Returns every input doc as (doc_id, n_chunks, n_kept,
    * dedup_text) — a doc whose every paragraph appeared earlier
    * somewhere collapses to the empty string (n_kept = 0); filter
    * downstream, as with [[exciseSpans]].
    *
    * Shape: chunking is a map pass ([[TrainPrep.chunkDocs]] with
    * stride = size); the keep-first rule is ONE window keyed on the
    * paragraph text (row_number over (doc_id, chunk_id) — a keyed
    * shuffle, no global sort); reassembly is one partial-agg'd
    * groupBy(doc_id) whose collect_list is bounded by the doc's own
    * chunk count. At 100 TB swap the paragraph-text shuffle key for
    * xxhash64(paragraph) — the [[repeatedNgramSpansWithHandle]]
    * hashed-key discipline — via `hashKeys = true` (identical output
    * up to 64-bit collisions; the string form is the oracle surface).
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      hashKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = TrainPrep.chunkDocs(df, idCol, textCol, chunkTokens, chunkTokens)
      .select(col(idCol).as("doc_id"), col("chunk_id"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
    val key = if (hashKeys) xxhash64(col("chunk_text")) else col("chunk_text")
    val w = Window.partitionBy(key).orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .withColumn("__kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("chunk_id"), col("__kept"),
              col("chunk_text")))),
            s => s.getField("__kept")),
          s => s.getField("chunk_text"))).as("dedup_text"))
  }

  // -------------------------------------------------- entity resolution

  /** Blocked ENTITY RESOLUTION over tabular records (Fellegi–Sunter
    * blocking shape): candidate pairs meet only inside equal
    * `blockCol` blocks, then survive a conjunctive match rule —
    * Levenshtein ≤ maxDist per fuzzy attribute, equality per exact
    * attribute. The record-linkage counterpart of the text near-dup
    * stack: same blocking economics (cost is Σ block², the blocking
    * key is the dial; salt hot blocks at skew), one equi-join keyed
    * shuffle, and everything driver-free.
    *
    * Determinism: Levenshtein is exact integer edit distance (Spark's
    * codegen'd `levenshtein` ↔ the replaying engine's), equality is
    * exact, ids order pairs a < b — the full candidate/match set
    * hash-checks.
    *
    * Returns (id_a, id_b, <attr>_dist per fuzzy rule).
    */
  def blockedEntityPairs(
      df: DataFrame, idCol: String, blockCol: String,
      fuzzyRules: Seq[(String, Int)],
      exactCols: Seq[String] = Nil): DataFrame = {
    require(fuzzyRules.nonEmpty, "need at least one fuzzy rule")
    require(fuzzyRules.forall(_._2 >= 0), "maxDist must be >= 0")
    val cols =
      (Seq(idCol, blockCol) ++ fuzzyRules.map(_._1) ++ exactCols).distinct
    val a = df.select(cols.map(c => col(c).as("a_" + c)): _*)
    val b = df.select(cols.map(c => col(c).as("b_" + c)): _*)
    val pred = (fuzzyRules.map { case (c, d) =>
      levenshtein(col("a_" + c), col("b_" + c)) <= d
    } ++ exactCols.map(c => col("a_" + c) === col("b_" + c)))
      .reduce(_ && _)
    a.join(b,
        col("a_" + blockCol) === col("b_" + blockCol) &&
          col("a_" + idCol) < col("b_" + idCol))
      .filter(pred)
      .select(Seq(
        col("a_" + idCol).as("id_a"), col("b_" + idCol).as("id_b")) ++
        fuzzyRules.map { case (c, _) =>
          levenshtein(col("a_" + c), col("b_" + c)).as(c + "_dist")
        }: _*)
  }

  // ------------------------------- content-defined chunking (CDC)

  /** CONTENT-DEFINED CHUNKING — the rolling-window boundary rule
    * behind storage dedup (Muthitacharoen et al. 2001 LBFS; the
    * restic/borgbackup family), at token grain: a chunk boundary
    * falls AFTER position p whenever the md5 of the trailing
    * `windowSize`-token window sorts below `boundaryHex` (2 hex
    * chars: "15" ≈ 8.2% ⇒ ~12-token average chunks). Because
    * boundaries depend only on local content, an insertion near the
    * start re-chunks ONLY up to the first post-insertion boundary —
    * every later chunk re-aligns byte-identically, which is exactly
    * why CDC chunk dedup survives edits that shift fixed-stride
    * chunking completely off-phase. Shape: two lags + a prefix-sum
    * window per doc (keyed by id), then one ordered fold per chunk —
    * the corpus-sized shuffle is the final chunk groupBy.
    * Returns (doc_id, chunk_idx, chunk_text, chunk_toks).
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      windowSize: Int = 3, boundaryHex: String = "15"): DataFrame = {
    require(windowSize >= 1, "windowSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("pos0", "tok")))
      .withColumn("pos", col("pos0") + 1).drop("pos0")
    val windowed = toks.withColumn("win",
      concat_ws(" ", (windowSize - 1 to 0 by -1).map(i =>
        lag(col("tok"), i).over(w)): _*))
    val flagged = windowed.withColumn("boundary",
      col("pos") >= windowSize &&
        substring(md5(col("win")), 1, 2) < lit(boundaryHex))
    val assigned = flagged.withColumn("chunk_idx",
      coalesce(sum(when(col("boundary"), 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assigned.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("__t"),
        count(lit(1)).as("chunk_toks"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(transform(col("__t"), p => p.getField("tok")), " ")
          .as("chunk_text"),
        col("chunk_toks"))
  }

  // ----------------------------------- KMV (bottom-k) distinct sketch

  /** KMV / bottom-k distinct-value sketch per group (Bar-Yossef et
    * al. 2002 "Counting distinct elements in a data stream"; the
    * estimator family behind theta sketches): the `k` smallest
    * [[portableHash60]] values over the group's DISTINCT word
    * `shingleSize`-gram shingles, as one ascending `sig` array.
    * Unlike HLL (q66's lifecycle), bottom-k signatures support SET
    * ALGEBRA — union is "k smallest of the concatenation" and
    * intersections read off matching hashes below the pair's θ
    * ([[kmvPairOverlap]]) — the cross-source overlap primitive with
    * no exact join anywhere. Build shape: one distinct shuffle on
    * (group, hash) then a per-group top-k window — the sketch is
    * k longs per group regardless of corpus size.
    */
  def kmvSketch(df: DataFrame, groupCol: String, textCol: String,
      shingleSize: Int, k: Int): DataFrame =
    kmvSketchFromGrams(
      df.select(col(groupCol).as("grp"),
          explode(wordShingles(col(textCol), shingleSize)).as("gram"))
        .distinct(), k)

  /** [[kmvSketch]] over an ALREADY-DISTINCT `(grp, gram)` frame.
    * Split out for two reasons: callers that also need the exact
    * distinct-shingle relation (q208b's contract) share ONE
    * explosion, and the md5 hash runs on DISTINCT grams only — the
    * occurrence-grain form paid one md5+conv per exploded shingle
    * (the dominant cost of the sketch build: a corpus has orders of
    * magnitude more shingle occurrences than distinct shingles, and
    * the distinct's map-side partial aggregation dedups before the
    * exchange). The second distinct (on the 60-bit hashes) only
    * collapses md5 collisions; the resulting (grp, h) set — and so
    * the sketch — is bit-identical to the occurrence-grain form.
    */
  def kmvSketchFromGrams(grams: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val hashes = grams
      .select(col("grp"), portableHash60(col("gram")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    hashes.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(col("h"))).as("sig"))
  }

  /** Pairwise KMV set-algebra estimates over stored signatures: for
    * each group pair, θ = min of the two k-th-smallest hashes (2^60 —
    * "complete sketch" — when a side holds fewer than k), both
    * signatures truncate to their sub-θ prefixes, and
    *
    *   n_common / n_trunc_union  — exact integers under θ,
    *   est_* = count · (2^60 / θ) — one IEEE division then one
    *   multiply, fixed order, so external engines reproduce the
    *   floors bit-for-bit (θ = 2^60 degrades to exact counts).
    *
    * Everything is array HOFs over two k-long arrays — the pair
    * surface is groups², never values².
    */
  def kmvPairOverlap(sketches: DataFrame, k: Int): DataFrame = {
    val full = lit(1L << 60)
    def thetaOf(s: Column): Column =
      when(size(s) >= k, element_at(s, k)).otherwise(full)
    val a = sketches.select(col("grp").as("src_a"), col("sig").as("sa"))
    val b = sketches.select(col("grp").as("src_b"), col("sig").as("sb"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("theta", least(thetaOf(col("sa")), thetaOf(col("sb"))))
      .withColumn("ap", filter(col("sa"), h => h < col("theta")))
      .withColumn("bp", filter(col("sb"), h => h < col("theta")))
      .withColumn("n_common",
        size(array_intersect(col("ap"), col("bp"))).cast("long"))
      .withColumn("n_trunc_union",
        size(array_union(col("ap"), col("bp"))).cast("long"))
      .withColumn("__factor",
        lit(1.152921504606846976e18) / col("theta").cast("double"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        col("n_trunc_union"),
        expr("n_common * 1000000 div n_trunc_union").as("est_jaccard_ppm"),
        floor(col("n_common").cast("double") * col("__factor"))
          .cast("long").as("est_intersection"),
        floor(col("n_trunc_union").cast("double") * col("__factor"))
          .cast("long").as("est_union"))
  }
}
