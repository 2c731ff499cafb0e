package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All pure `Column` expressions (codegen'd, no UDFs) so they run
  * inside whole-stage codegen over a 100 TB `documents` scan. North-star
  * extension beyond the reference's surface (SURVEY.md §1.1 note).
  */
object Text {

  /** Whitespace tokens of the trimmed text. Empty text → [""] — callers
    * guard with `nullif`-style checks where it matters.
    */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish regex token count: alphanumeric runs or single non-space
    * symbols — a deterministic proxy for subword tokenizers. RE2-safe
    * pattern (no lookaround) so the oracle can mirror it.
    */
  def regexTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def avgTokenLength(c: Column): Column = {
    val t = tokens(c)
    aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t)
  }

  /** Fraction of characters that are not alphanumeric/space. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[^A-Za-z0-9 ]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val t = tokens(c)
    val stops = array(stopwords.map(lit): _*)
    size(filter(t, x => array_contains(stops, x))).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Gopher document-quality rules (Rae et al. 2021, 2112.11446,
    * Appendix A1.1) — the canonical named rule set for web-corpus
    * filtering, with the thresholds as parameters (the paper's values
    * assume web pages; callers tune for their corpus). Returns a
    * struct of per-rule booleans plus the conjunction:
    *
    *   - `words_in_range`: word count within [minWords, maxWords];
    *   - `mean_word_len_in_range`: mean word length within
    *     [minMeanLen, maxMeanLen];
    *   - `symbol_ratio_ok`: symbol-to-word ratio (#, …) ≤ maxSymbolRatio;
    *   - `alpha_word_frac_ok`: fraction of words containing ≥ 1
    *     alphabetic character ≥ minAlphaFrac;
    *   - `enough_stopwords`: ≥ minStopwords DISTINCT stopwords present
    *     (the paper's "2 of the, be, to, of, and, that, have, with");
    *   - `pass`: all of the above.
    *
    * Pure Column expressions — the whole rule set is one map pass and
    * at 100 TB runs at scan speed inside whole-stage codegen.
    */
  def gopherRules(
      c: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2,
      stopwords: Seq[String] = defaultStopwords): Column = {
    val t = tokens(c)
    val n = size(t).cast("double")
    val meanLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / greatest(n, lit(1.0))
    val symbols = size(regexp_extract_all(c, lit("#|\\.\\.\\."), lit(0)))
      .cast("double")
    val alphaFrac = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") /
      greatest(n, lit(1.0))
    val stops = array(stopwords.map(lit): _*)
    val distinctStops = size(array_intersect(
      array_distinct(transform(t, x => lower(x))), stops))
    val wordsInRange = size(t) >= minWords && size(t) <= maxWords
    val meanLenInRange = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val symbolOk = symbols / greatest(n, lit(1.0)) <= maxSymbolRatio
    val alphaOk = alphaFrac >= minAlphaFrac
    val stopsOk = distinctStops >= minStopwords
    struct(
      wordsInRange.as("words_in_range"),
      meanLenInRange.as("mean_word_len_in_range"),
      symbolOk.as("symbol_ratio_ok"),
      alphaOk.as("alpha_word_frac_ok"),
      stopsOk.as("enough_stopwords"),
      (wordsInRange && meanLenInRange && symbolOk && alphaOk && stopsOk)
        .as("pass"))
  }

  /** Composite quality score in [0,1]: length band + low punctuation +
    * moderate stopword presence — the shape of heuristic quality
    * filters used for web-scale corpus cleaning.
    */
  def qualityScore(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val nTok = tokenCount(c).cast("double")
    val lengthScore = least(nTok / 50.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(c) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(c, stopwords) * 5.0, lit(1.0))
    round((lengthScore + punctScore + stopScore) / 3.0, 4)
  }

  /** Language-ID marker words, chosen per supported language. Scores =
    * marker-token hits; argmax with alphabetical tie-break. N-gram/
    * marker heuristics are the standard cheap language ID at corpus
    * scale (fastText-class models plug in the same way).
    */
  val defaultLangMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "los", "que", "de"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScore(c: Column, markers: Seq[String]): Column = {
    val t = tokens(lower(c))
    val m = array(markers.map(lit): _*)
    size(filter(t, x => array_contains(m, x)))
  }

  /** Predicted language: highest marker score, ties broken by
    * alphabetical language code (deterministic, oracle-expressible as a
    * CASE chain in priority order).
    */
  def langId(c: Column, markers: Map[String, Seq[String]] = defaultLangMarkers): Column = {
    val ordered = markers.toSeq.sortBy(_._1)
    val scores = ordered.map { case (lang, ms) => lang -> langScore(c, ms) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unknown")) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Document fingerprint: hash of the case/whitespace-normalized text.
    * Content-addressed identity for exact dedup across shards — md5 so
    * the fingerprint is portable across engines.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  // ----------------------------------------------- repetition filters

  /** C4-style blocklist screening: per-doc count of case-insensitive
    * whole-token blocklist hits, distinct terms hit, and the keep
    * verdict (`n_hits < maxHits`; C4's own policy is `maxHits = 1` —
    * any hit drops the page). Token granularity is [[tokens]]
    * (whitespace); for multi-word phrases see
    * [[blocklistScreenPhrases]].
    *
    * Expression form: the blocklist rides as a FOLDABLE LITERAL array,
    * so the screen is one codegen'd map pass over the corpus scan — no
    * join, no shuffle, nothing collected. Right up to blocklists of a
    * few thousand terms (the real C4 list is ~1.4k); beyond that see
    * [[blocklistScreenJoin]].
    */
  def blocklistScreen(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], maxHits: Int = 1): DataFrame = {
    require(terms.nonEmpty, "blocklist must be non-empty")
    require(maxHits >= 1, "maxHits must be >= 1")
    val termArr = typedLit(terms.map(_.toLowerCase).distinct.sorted)
    val hits = filter(
      tokens(lower(col(textCol))), t => array_contains(termArr, t))
    df.select(
      col(idCol),
      size(hits).cast("long").as("n_hits"),
      size(array_distinct(hits)).cast("long").as("n_terms"),
      (size(hits) < maxHits).as("keep"))
  }

  /** [[blocklistScreen]] generalized to MULTI-WORD PHRASES (real
    * blocklists — C4's included — mix single terms and phrases):
    * phrases are grouped by token length, and for each length L the
    * doc's overlapping L-gram windows are matched against that
    * length's foldable literal set. Still ONE codegen'd map pass —
    * the L-gram enumeration is an in-plan `transform(sequence(...))`
    * window sweep per distinct phrase length, no explode, no join.
    * `n_hits` counts every (possibly overlapping) occurrence;
    * `n_terms` counts distinct phrases hit.
    */
  def blocklistScreenPhrases(
      df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], maxHits: Int = 1): DataFrame = {
    require(phrases.nonEmpty, "blocklist must be non-empty")
    require(maxHits >= 1, "maxHits must be >= 1")
    val byLen = phrases.map(_.toLowerCase.trim.split("\\s+").toSeq)
      .filter(_.nonEmpty).distinct
      .groupBy(_.length)
      .map { case (l, ps) => l -> ps.map(_.mkString(" ")).distinct.sorted }
    // materialize the token array ONCE per row: an expression placed
    // inside a higher-order-function lambda is re-evaluated per
    // element, so referencing the split there directly would redo the
    // regex split at every gram position — O(len²) splits per doc
    // (measured 12 s vs 0.7 s on the sf0.1 corpus)
    val withToks = df.select(
      col(idCol), tokens(lower(col(textCol))).as("__toks"))
    val toks = col("__toks")
    val hitArrays = byLen.toSeq.sortBy(_._1).map { case (l, ps) =>
      val lits = typedLit(ps)
      val grams =
        if (l == 1) toks
        else when(size(toks) >= l,
            transform(sequence(lit(1), size(toks) - (l - 1)),
              i => concat_ws(" ", slice(toks, i, lit(l)))))
          .otherwise(array())   // sequence(1, n<1) would count DOWN
      filter(grams, g => array_contains(lits, g))
    }
    val hits = hitArrays.reduce(concat(_, _))
    withToks.select(
      col(idCol),
      size(hits).cast("long").as("n_hits"),
      size(array_distinct(hits)).cast("long").as("n_terms"),
      (size(hits) < maxHits).as("keep"))
  }

  /** [[blocklistScreen]]'s scale form for blocklists too large to fold
    * into codegen (entity lists, URL hosts, multi-locale merges —
    * 100k+ terms): explode corpus tokens and broadcast-semi-join the
    * term table, then re-attach zero-hit docs with a left join. Two
    * keyed shuffles on the doc id; the blocklist never leaves the
    * broadcast. Hash-checks equal to the expression form on the same
    * inputs (the twin discipline).
    */
  def blocklistScreenJoin(
      df: DataFrame, idCol: String, textCol: String,
      terms: DataFrame, termCol: String, maxHits: Int = 1): DataFrame = {
    require(maxHits >= 1, "maxHits must be >= 1")
    val termTable = terms.select(lower(col(termCol)).as("__term")).distinct()
    val tok = df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("__term"))
    val counts = tok
      .join(broadcast(termTable), Seq("__term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_hits"), count_distinct(col("__term")).as("__n_terms"))
    df.select(col(idCol))
      .join(counts, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        coalesce(col("__n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("__n_terms"), lit(0L)).as("n_terms"),
        (coalesce(col("__n_hits"), lit(0L)) < maxHits).as("keep"))
  }

  /** Non-content HTML elements whose entire subtree is dropped before
    * tag stripping — the boilerplate classes every web-corpus
    * extractor removes (trafilatura/jusText's default drop list).
    */
  private val htmlDropElements =
    Seq("script", "style", "head", "nav", "footer", "aside")

  /** Basic named/numeric entities, decoded AFTER tag stripping.
    * `&amp;` is decoded LAST so `&amp;lt;` correctly yields the
    * literal text `&lt;` rather than double-decoding to `<`.
    */
  private val htmlEntities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML → text extraction, the first stage of every web-corpus
    * pipeline: drop non-content subtrees (script/style/head/nav/
    * footer/aside), strip remaining tags, decode basic entities,
    * collapse whitespace. One chained codegen'd `regexp_replace` map
    * pass — RE2-safe patterns (inline `(?is)` flags, non-greedy
    * spans, no lookaround) so an oracle engine replays it exactly,
    * and no UDF, so it rides whole-stage codegen over the corpus
    * scan at 100 TB.
    *
    * Deliberately the REGEX tier: tags inside quoted attribute values
    * (`title="a>b"`) and nested same-name drop elements are out of
    * scope — a real DOM parse belongs in the per-partition imperative
    * tier next to the media decoders if a corpus needs it.
    */
  def htmlToText(c: Column): Column = {
    val noBoiler = htmlDropElements.foldLeft(c)((acc, t) =>
      regexp_replace(acc, s"(?is)<$t\\b[^>]*>.*?</$t>", " "))
    val noComments = regexp_replace(noBoiler, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "(?s)<[^>]+>", " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (acc, (e, r)) =>
      regexp_replace(acc, e, r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Gopher-style per-document repetition statistics (Rae et al. 2021's
    * repetition heuristics, public): token counts, distinct-token
    * count, the occurrence count of the single most frequent word
    * bigram, and the number of trigram occurrences belonging to
    * trigrams that appear more than once. Raw integer counts only —
    * callers derive fractions/thresholds, so the filter policy stays
    * exactly reproducible in an oracle engine (integer arithmetic,
    * one IEEE division per fraction).
    *
    * Shape: one map pass emits (doc, k, gram) rows for k ∈ {2, 3},
    * then two keyed aggregations on the doc id. Linear in corpus
    * tokens with bounded row width — the explode+groupBy form is
    * deliberate: a per-doc higher-order-function formulation is
    * shuffle-free but O(distinct·len) per document, which blows up on
    * the long pathological docs that repetition filters exist to
    * catch.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
    def grams(k: Int): Column =
      transform(
        sequence(lit(1), size(col("toks")) - (k - 1)),
        i => struct(lit(k).as("k"), concat_ws(" ", slice(col("toks"), i, lit(k))).as("gram")))
    val emptyGrams = array().cast("array<struct<k:int,gram:string>>")
    val occurrences = base
      .filter(col("n_tokens") >= 2)
      .select(col(idCol),
        explode(concat(
          grams(2),
          when(col("n_tokens") >= 3, grams(3)).otherwise(emptyGrams))).as("g"))
      .select(col(idCol), col("g.k").as("k"), col("g.gram").as("gram"))
    val perDoc = occurrences
      .groupBy(col(idCol), col("k"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        max(when(col("k") === 2, col("c"))).as("top_bigram_cnt"),
        sum(when(col("k") === 3 && col("c") >= 2, col("c")).otherwise(lit(0L)))
          .as("dup_trigram_occ"))
    base.drop("toks")
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        coalesce(col("top_bigram_cnt"), lit(0L)).as("top_bigram_cnt"),
        coalesce(col("dup_trigram_occ"), lit(0L)).as("dup_trigram_occ"))
  }

  // -------------------------------------------- linear quality classifier

  /** Logit of a linear quality classifier over four codegen'd text
    * features — the inference shape of fastText-class quality models
    * (a trained model plugs in as different weights; the features and
    * the broadcast-free scoring pass are the same). `w` is
    * (bias, wLength, wPunct, wStopword, wDistinct). Every feature is an
    * exact integer ratio (one IEEE division), and the dot product
    * evaluates in written order, so the LOGIT — and therefore any
    * `logit ≥ 0` keep decision — is bit-reproducible across engines;
    * only a sigmoid's `exp` needs rounding tolerance.
    */
  def qualityLogit(c: Column, w: Seq[Double]): Column = {
    require(w.length == 5, "need (bias, wLen, wPunct, wStop, wDistinct)")
    val t = tokens(c)
    val n = size(t).cast("double")
    val fLen = least(n / 100.0, lit(1.0))
    val fPunct = punctRatio(c)
    val fStop = stopwordRatio(c)
    val fDistinct = size(array_distinct(t)).cast("double") / greatest(size(t), lit(1))
    lit(w(0)) + lit(w(1)) * fLen + lit(w(2)) * fPunct +
      lit(w(3)) * fStop + lit(w(4)) * fDistinct
  }

  // ------------------------------------------------- vocab construction

  /** Distributed tokenizer-vocabulary construction: term frequencies
    * over the corpus, the `maxSize` most frequent terms kept, and
    * stable contiguous token ids assigned by (count DESC, term ASC) —
    * the deterministic rank order every tokenizer build uses so two
    * runs (or two engines) mint identical ids. The corpus-sized work is
    * one explode + one keyed count; the ranking window only ever sees
    * the `limit(maxSize)` survivors (TakeOrderedAndProject — the q37
    * idiom), never the full term table, so id assignment is O(vocab)
    * regardless of corpus size.
    */
  def buildVocab(df: DataFrame, textCol: String, maxSize: Int): DataFrame = {
    require(maxSize > 0, "maxSize must be positive")
    val top = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(maxSize)
    // non-foldable constant partition: input is already ≤ maxSize rows
    // (the limit above is the safeguard); this just keeps WindowExec
    // from logging a single-partition warning
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(xxhash64(col("term")), lit(1)))
      .orderBy(col("n").desc, col("term").asc)
    top.withColumn("token_id", (row_number().over(w) - 1).cast("long"))
  }

  // ------------------------------------------------------------ TF-IDF

  /** Smoothed IDF: ln((1 + N) / (1 + df)) + 1 — never negative, never
    * divides by zero (the scikit-learn smoothing; public formula).
    */
  private def idf(dfCol: Column, nDocs: Column): Column =
    log((lit(1.0) + nDocs) / (lit(1.0) + dfCol)) + lit(1.0)

  /** Top-k TF-IDF terms per document — the standard keyword/topic
    * surface for corpus exploration and quality filtering.
    *
    * Shape: explode lowercased tokens (map-side), tf = one keyed
    * aggregation on (doc, term), df = one on term, N = a 1-row
    * aggregate joined in via broadcast cross-join (never a driver
    * `collect`), score join on term (AQE broadcasts the df side when
    * small), then top-k per doc over a (doc)-partitioned rank window.
    * Ranking compares the ROUNDED score with a term tie-break, so the
    * ordering is reproducible across engines at any scale.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(trim(col(textCol))))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = toks.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * idf(col("df"), col("n_docs")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  /** BM25 keyword retrieval (Robertson–Spärck Jones; the Okapi
    * formulation with the +1 idf floor): top-k documents per query
    * under
    *
    *   Σ_t ln(1 + (N − df + ½)/(df + ½)) ·
    *       tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * — the canonical search-ranking op (and the retrieval half of a
    * RAG stack when composed with [[graft.ext.TrainPrep.chunkDocs]]).
    *
    * Shape: the corpus tokenizes once; term frequencies are FILTERED
    * to the query vocabulary before any aggregation (the tf/df frames
    * are bounded by |query terms| × matching docs, not corpus vocab);
    * df and the 1-row (N, avgdl) stats frame broadcast; the only
    * corpus-sized shuffles are the tf groupBy and the per-query top-k
    * window over matching docs. Ranking ties break on the ROUNDED
    * score + doc_id so external engines agree.
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "queries must be non-empty")
    val terms = queries.flatMap(_._2).distinct
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
    val dl = toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    bm25Score(tf, dl, stats, queries, k, k1, b)
  }

  /** Inverted-index BUILD — the persistent half of BM25: full-vocab
    * postings `(doc_id, term, tf)`, doc lengths `(doc_id, dl)`, and
    * the 1-row corpus stats `(n, sdl)`. Query-agnostic, so the index
    * is built once (or maintained incrementally — postings and dl are
    * pure per-doc appends, stats a commutative-monoid sum, which is
    * exactly what [[graft.stream.Jobs.runBm25IndexStream]] exploits)
    * and served many times; [[bm25TopK]]'s inline query-vocab tf
    * filter is a serve-time optimization, not an index property.
    */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
    val dl = toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val postings = toks.select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    (postings, dl, stats)
  }

  /** Okapi scoring FROM a stored index — [[bm25Index]]'s serve half,
    * arithmetic-identical to [[bm25TopK]] (they share one private
    * scorer, so an index-served query hash-matches the from-text
    * oracle). df derives from the query-filtered postings (a term's
    * df = its surviving posting count), so serve cost is bounded by
    * |query vocab| × matching docs plus the dl join — the corpus text
    * is never touched.
    */
  def bm25ServeFromIndex(
      postings: DataFrame, dl: DataFrame, stats: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "queries must be non-empty")
    val terms = queries.flatMap(_._2).distinct
    val tf = postings.filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    bm25Score(tf, dl, stats, queries, k, k1, b)
  }

  /** Shared Okapi scorer over an already-query-filtered tf frame.
    * Ranking ties break on the ROUNDED score + doc_id so external
    * engines agree.
    */
  private def bm25Score(
      tf: DataFrame, dl: DataFrame, stats: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double, b: Double): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "term")
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sdl").cast("double") / col("n")
    val contrib =
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(q), Seq("term"))
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(contrib), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Pseudo-relevance-feedback retrieval (Rocchio/RM-family shape,
    * Salton 1971; the count-based RM1 simplification): a first
    * [[bm25TopK]] pass retrieves `fbDocs` feedback docs per query,
    * the `fbTerms` most frequent NEW terms across them (original
    * query terms excluded, df-guarded: a term in more than half the
    * corpus never expands — the stopword trap) join the query, and a
    * second BM25 pass ranks under the expanded query. Expansion
    * selection is pure integer arithmetic (raw counts, exact df
    * guard, lexicographic tie-break), so the full two-pass run is
    * deterministic and an external engine replays it end to end.
    *
    * Shape: pass 1 is [[bm25TopK]]; candidate counting joins the
    * corpus token stream against the BROADCAST feedback list
    * (queries·fbDocs rows); the df guard joins a bounded candidate
    * vocabulary. The expanded query set returns through ONE bounded
    * driver hop (≤ queries·fbTerms rows — the BPE-argmax class)
    * because query sets are foldable literals by design; pass 2 is
    * [[bm25TopK]] again.
    */
  def bm25PrfTopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], k: Int,
      fbDocs: Int, fbTerms: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1, "fbDocs must be >= 1")
    require(fbTerms >= 0, "fbTerms must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    // tokenize the corpus ONCE (r16): the two scoring passes, the
    // candidate mine, and its df guard all consume the token arrays —
    // inlining bm25TopK per pass re-tokenized the corpus ~5×. The
    // scoring arithmetic below is bm25TopK's own (same dl/stats/tf
    // expressions over the same arrays, shared private bm25Score), so
    // results are identical by construction.
    val toksArr = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("t")).localCheckpoint(true)
    def topKFromToks(qs: Seq[(String, Seq[String])], kk: Int): DataFrame = {
      val terms = qs.flatMap(_._2).distinct
      val dl = toksArr.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val tf = toksArr.select(col("doc_id"), explode(col("t")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      bm25Score(tf, dl, stats, qs, kk, k1, b)
    }
    val fb = topKFromToks(queries, fbDocs)
      .select(col("query_id"), col("doc_id"))
    val toks = toksArr.select(col("doc_id"), explode(col("t")).as("term"))
    val orig = queries
      .flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("query_id", "term").withColumn("__orig", lit(true))
    val cand = toks.join(broadcast(fb), Seq("doc_id"))
      .join(broadcast(orig), Seq("query_id", "term"), "left_outer")
      .filter(col("__orig").isNull)
      .groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("cnt"))
    // df guard over the bounded candidate vocabulary: > N/2 docs ⇒ out
    val candDf = toks
      .join(broadcast(cand.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df2"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cnt").desc, col("term").asc)
    val expansion = cand.join(broadcast(candDf), Seq("term"))
      .crossJoin(broadcast(n))
      .filter(lit(2) * col("df2") <= col("n"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= fbTerms)
      .select(col("query_id"), col("term"))
      .collect() // bounded: ≤ queries·fbTerms rows
    val expanded = queries.map { case (qid, ts) =>
      qid -> (ts ++ expansion.filter(_.getString(0) == qid)
        .map(_.getString(1))).distinct
    }
    topKFromToks(expanded, k)
  }

  /** IR evaluation harness: per-query recall@k, MRR@k, and nDCG@k of
    * a ranked result list against a relevance set — the measurement
    * half every retrieval stack needs next to its retrievers
    * ([[bm25TopK]], [[bm25PrfTopK]], hybrid fusion).
    *
    * Determinism: every DCG term rounds to 6 dp and sums as
    * DECIMAL(18,6) — exact and commutative, so the per-query DCG/IDCG
    * are partition-order-free and an external engine reproduces them
    * bit-for-bit (the q151 decimal-sum discipline); MRR and recall
    * are single exact divisions of the rounded/integer inputs.
    *
    * Shape: one broadcast-joined flag pass over the top-k rows (the
    * result list is queries·k, never corpus-sized), one keyed
    * aggregation, and an O(queries·k) ideal-DCG explode. `results`
    * must carry (query_id, rank, doc_id); `qrels` (query_id, doc_id).
    */
  def retrievalEval(results: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.types.DecimalType
    def dcgTerm(r: Column): Column =
      round(lit(1.0) / (log(r.cast("double") + lit(1.0)) / log(lit(2.0))), 6)
        .cast(DecimalType(18, 6))
    val nrel = qrels.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val rel = qrels.select(col("query_id"), col("doc_id"))
      .withColumn("__rel", lit(true))
    val top = results.filter(col("rank") <= k)
      .join(broadcast(rel), Seq("query_id", "doc_id"), "left_outer")
    val perQ = top.groupBy(col("query_id")).agg(
      sum(when(col("__rel"), lit(1L)).otherwise(lit(0L))).as("rel_in_topk"),
      min(when(col("__rel"), col("rank"))).as("__frr"),
      sum(when(col("__rel"), dcgTerm(col("rank")))).as("__dcg"))
    val ideal = nrel.filter(col("n_rel") >= 1)
      .select(col("query_id"),
        explode(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))))
          .as("r"))
      .groupBy(col("query_id")).agg(sum(dcgTerm(col("r"))).as("__idcg"))
    nrel.join(perQ, Seq("query_id"), "left_outer")
      .join(ideal, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("rel_in_topk"), lit(0L)).as("rel_in_topk"),
        round(coalesce(col("rel_in_topk"), lit(0L)).cast("double")
          / col("n_rel"), 6).as("recall_at_k"),
        round(coalesce(lit(1.0) / col("__frr"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("__dcg").cast("double")
          / col("__idcg").cast("double"), lit(0.0)), 6).as("ndcg"))
  }

  /** Sparse TF-IDF cosine near-dup pairs: every (a < b) document pair
    * whose cosine similarity over L2-normalized TF-IDF term vectors
    * meets `threshold` — the lexical-feature complement to shingle
    * Jaccard ([[graft.ext.Dedup.jaccardNearDupPairs]]) and dense
    * embedding cosine: IDF down-weights ubiquitous terms, so two docs
    * sharing only stop-words never pair, while templated near-dups
    * (same rare terms, shuffled order) score high even when shingle
    * overlap is low.
    *
    * Shape: the sparse dot product runs as an INVERTED-INDEX self-join
    * — normalized weights keyed by term, pairs meet only on terms they
    * share, one (id_a, id_b) aggregation sums the products. No
    * cross-join, no dense vectors: cost is Σ df(term)² over the
    * vocabulary, exactly the containment-pairs shape, and the same
    * levers apply at 100 TB (`dfCap` drops ubiquitous terms from the
    * INDEX before they inflate a posting list — note smoothed IDF
    * floors at 1.0, so high-df terms still carry weight; the cap is a
    * cost lever, not a no-op). Norms are always computed over the FULL
    * term set, so a capped score is a lower bound of the true cosine —
    * dropping index terms can only MISS pairs, never inflate a
    * surviving pair's score past the threshold.
    *
    * The per-doc L2 norm is one keyed aggregation; weights divide
    * map-side before the pair join so the pair aggregation is a bare
    * sum of products. Scores are rounded to 6 places and the threshold
    * compares the ROUNDED value, keeping the cut reproducible across
    * engines.
    *
    * CACHE NOTE: this plain form persists the normalized-weight frame
    * internally and never unpersists it — fine for a run-and-exit job,
    * a leak in a long-lived session. Long-lived callers should use
    * [[tfidfCosinePairsWithHandle]] and `unpersist()` the handle after
    * the terminal action (exactly the contract of
    * [[graft.ext.Dedup.containmentPairsWithHandle]]).
    */
  def tfidfCosinePairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, dfCap: Option[Long] = None): DataFrame =
    tfidfCosinePairsWithHandle(docs, idCol, textCol, threshold, dfCap)._1

  /** [[tfidfCosinePairs]] plus a [[graft.ext.CacheHandle]] over the
    * normalized-weight frame the operator persists internally: both
    * sides of the term self-join consume it, and without the persist
    * the whole tokenize→tf→idf→normalize chain (three aggregations)
    * recomputes per side.
    */
  def tfidfCosinePairsWithHandle(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, dfCap: Option[Long] = None): (DataFrame, CacheHandle) = {
    dfCap.foreach(c => require(c > 0, "dfCap must be positive"))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(trim(col(textCol))))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = toks.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    val weighted = tf.join(dfT, "term")
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf") * idf(col("df"), col("n_docs")))
    // norms over ALL terms (before any cap) — see the Scaladoc bound
    val norms = weighted.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("l2"))
    val indexed = dfCap.fold(weighted)(c => weighted.filter(col("df") <= c))
    val unit = indexed.join(norms, "doc_id")
      .select(col("doc_id"), col("term"), (col("w") / col("l2")).as("nw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = unit
      .select(col("term"), col("doc_id").as("id_a"), col("nw").as("nw_a"))
      .join(unit.select(col("term"), col("doc_id").as("id_b"), col("nw").as("nw_b")),
        Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(sum(col("nw_a") * col("nw_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    (pairs, new CacheHandle(Seq(unit)))
  }

  // ----------------------------------------- n-gram language-model score

  /** Corpus-trained bigram log-probability per document — the
    * perplexity-style quality filter (CCNet-shape: score each doc
    * under a model trained on the corpus itself; low scorers are
    * boilerplate/garbled text). Add-one smoothing over the unigram
    * vocabulary: lp(w1 w2) = ln((c(w1 w2) + 1) / (c(w1) + |V|)).
    *
    * Shape: bigram/unigram counts are two keyed aggregations; scoring
    * re-joins the bigram stream against both count tables (bigger
    * table sides shuffle once each; |V| rides in as a broadcast 1-row
    * aggregate). At 100 TB the model tables get pruned to top-K
    * n-grams first — same plan, smaller build sides. Docs with fewer
    * than two tokens have no bigrams and drop out (mirrors the
    * oracle's empty list-comprehension).
    */
  def bigramLogProbScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val all = docs
      .select(col(idCol).as("doc_id"), tokens(lower(trim(col(textCol)))).as("toks"))
    // the unigram model trains on EVERY doc; only bigram extraction
    // needs ≥ 2 tokens (and Spark's sequence(1, 0) would DESCEND)
    val base = all.filter(size(col("toks")) >= 2)
    // the first token rides beside the bigram so the unigram join
    // keys on a plain column instead of re-splitting the bigram
    // string per row
    val bg = base.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(
          concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))
            .as("bigram"),
          element_at(col("toks"), i).as("tok")))).as("p"))
      .select(col("doc_id"), col("p.bigram").as("bigram"), col("p.tok").as("tok"))
    val uni = all.select(explode(col("toks")).as("tok"))
    val uc = uni.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val v = uni.agg(countDistinct(col("tok")).cast("double").as("vocab"))
    val bc = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
    bg.join(bc, "bigram")
      .join(uc, "tok")
      .crossJoin(broadcast(v))
      .withColumn("lp", log((col("cb") + lit(1.0)) / (col("cu") + col("vocab"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 4).as("avg_lp"))
  }

  /** Cross-corpus LM cross-entropy (the CCNet quality filter,
    * Wenzek et al. 2019, 1911.00359): a bigram LM is trained on a
    * REFERENCE corpus (there: Wikipedia; here: any caller-supplied
    * slice) and every corpus document is scored under it —
    * low cross-entropy means "looks like the reference domain",
    * high means boilerplate/garbled/out-of-domain. This is the
    * cross-domain counterpart of [[bigramLogProbScores]] (which
    * self-trains on the scored corpus): the model and the scored text
    * come from DIFFERENT frames, so unseen events are normal and the
    * smoothing must cover them — add-one over the reference vocabulary:
    * lp(w1 w2) = ln((c_ref(w1 w2) + 1) / (c_ref(w1) + |V_ref|)), with
    * both counts coalescing to 0 when the reference never saw the
    * event (an unseen w1 scores ln(1/|V_ref|)).
    *
    * Returns (doc_id, n_bigrams, cross_entropy) where cross_entropy =
    * −avg(lp) rounded to 4 (lower = closer to the reference). Docs
    * with < 2 tokens have no bigrams and drop out (q68 precedent).
    *
    * Shape: the model is two keyed aggregations over the REFERENCE
    * (typically ≪ corpus); scoring is the corpus bigram stream
    * LEFT-joined to both model tables — the unigram/vocab sides are
    * small enough to broadcast outright, the bigram model shuffles
    * once keyed on the bigram. At 100 TB the corpus side never
    * shuffles on anything but the model keys and the final doc_id
    * aggregation is partial-agg'd. The [[crossEntropyScoresHashed]]
    * twin carries only 8-byte keys through those joins.
    */
  def crossEntropyScores(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String): DataFrame = {
    val bg = docs
      .select(col(idCol).as("doc_id"), tokens(lower(trim(col(textCol)))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(
            concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))
              .as("bigram"),
            element_at(col("toks"), i).as("tok")))).as("p"))
      .select(col("doc_id"), col("p.bigram").as("bigram"), col("p.tok").as("tok"))
    val refToks = reference
      .select(tokens(lower(trim(col(refTextCol)))).as("toks"))
    val refUni = refToks.select(explode(col("toks")).as("tok"))
    val uc = refUni.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val v = refUni.agg(countDistinct(col("tok")).cast("double").as("vocab"))
    val bc = refToks.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1)))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
    bg.join(bc, Seq("bigram"), "left")
      .join(broadcast(uc), Seq("tok"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lp",
        log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cu"), lit(0L)) + col("vocab"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("lp")), 4).as("cross_entropy"))
  }

  /** The 100 TB form of [[crossEntropyScores]]: token and bigram
    * identity hash to 64 bits (`xxhash64`; a bigram is the variadic
    * hash of its two token hashes) before any join, so the corpus-side
    * shuffle and both model joins carry only longs. Same smoothing,
    * equal output up to 64-bit hash collisions (parity-tested in
    * ExtSpec; the string form is the oracle surface).
    */
  def crossEntropyScoresHashed(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String): DataFrame = {
    val bg = docs
      .select(col(idCol).as("doc_id"),
        transform(tokens(lower(trim(col(textCol)))), t => xxhash64(t)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(
            xxhash64(element_at(col("tk"), i), element_at(col("tk"), i + 1)).as("bk"),
            element_at(col("tk"), i).as("w1k")))).as("p"))
      .select(col("doc_id"), col("p.bk").as("bk"), col("p.w1k").as("w1k"))
    val refToks = reference
      .select(transform(tokens(lower(trim(col(refTextCol)))), t => xxhash64(t)).as("tk"))
    val refUni = refToks.select(explode(col("tk")).as("w1k"))
    val uc = refUni.groupBy(col("w1k")).agg(count(lit(1)).as("cu"))
    val v = refUni.agg(countDistinct(col("w1k")).cast("double").as("vocab"))
    val bc = refToks.filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => xxhash64(element_at(col("tk"), i),
          element_at(col("tk"), i + 1)))).as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("cb"))
    bg.join(bc, Seq("bk"), "left")
      .join(broadcast(uc), Seq("w1k"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lp",
        log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cu"), lit(0L)) + col("vocab"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("lp")), 4).as("cross_entropy"))
  }

  /** C4-style segment-level cleaning (Raffel et al. 2019, 1910.10683
    * §2.2): split each document into segments, keep only segments that
    * pass per-segment heuristics, and reassemble the document from the
    * survivors. C4 applies this to newline-separated lines ("retain
    * lines of ≥ 5 words", "drop lines with bad words / code braces");
    * the delimiter and rules are parameters here:
    *
    *   - a segment must carry at least `minTokens` whitespace tokens;
    *   - with `requireStopword`, a segment must contain ≥ 1 stopword
    *     (C4's "page must contain the/a/an…" rule at segment grain);
    *   - segments containing any `blocklist` token are dropped
    *     (C4's bad-word filter).
    *
    * Returns every input doc as (doc_id, n_segments, n_kept,
    * clean_text); callers drop docs below a min-kept threshold (C4
    * keeps pages with ≥ 3 surviving sentences). Empty-after-trim
    * fragments are never counted as segments, so engines that differ
    * on trailing-empty split pieces agree on the output.
    *
    * Shape: ONE map pass — split / filter / reassemble are all array
    * HOFs inside the projection, no explode, no shuffle. At 100 TB
    * this runs at scan speed with full column pruning; it is the
    * cheapest possible form of the operator.
    */
  def cleanSegments(
      docs: DataFrame, idCol: String, textCol: String,
      delimPattern: String,
      minTokens: Int,
      requireStopword: Boolean = true,
      stopwords: Seq[String] = defaultStopwords,
      blocklist: Seq[String] = Nil): DataFrame = {
    val stops = array(stopwords.map(lit): _*)
    val block = array(blocklist.map(lit): _*)
    def segTokens(s: Column): Column = split(lower(s), "\\s+")
    def keepSeg(s: Column): Column = {
      val t = segTokens(s)
      val base = size(t) >= minTokens
      val stop = if (requireStopword) exists(t, x => array_contains(stops, x))
                 else lit(true)
      val blocked = if (blocklist.nonEmpty) exists(t, x => array_contains(block, x))
                    else lit(false)
      base && stop && !blocked
    }
    val segs = filter(
      transform(split(col(textCol), delimPattern), s => trim(s)),
      s => length(s) > 0)
    val kept = filter(segs, keepSeg(_))
    docs.select(col(idCol).as("doc_id"),
      size(segs).as("n_segments"),
      size(kept).as("n_kept"),
      concat_ws(" ", kept).as("clean_text"))
  }

  /** Distributed BPE merge training (Sennrich et al. 2015,
    * 1508.07909): learn `numMerges` byte-pair-encoding merge rules
    * over the corpus. Canonical BPE semantics — each round counts RAW
    * adjacent-pair frequencies over the current symbol sequences,
    * picks the most frequent pair (ties broken lexicographically so
    * the merge list is deterministic), and applies it greedily
    * left-to-right (non-overlapping; "c c c c c" under merge (c,c)
    * becomes ["c c","c c","c"]). Symbols here are whitespace tokens
    * (phrase merges); character-grain BPE is the same loop seeded
    * with `split(text, "")`.
    *
    * Returns the merge table: (step, left_sym, right_sym, merged,
    * pair_count) — one row per learned rule, fewer if the corpus runs
    * out of repeated pairs. The merged symbol is the pair joined with
    * a space.
    *
    * Shape per round: ONE partial-agg'd pair-count shuffle (explode
    * adjacent pairs → groupBy) + ONE map-only apply pass (a
    * higher-order `aggregate` left-fold carrying (out, skip) — greedy
    * substitution without explode or a second shuffle). Driver
    * traffic is exactly one argmax ROW per round plus a
    * materialization count — bounded by `numMerges`, never by data.
    * State persists between rounds and the previous round unpersists
    * as soon as its successor is materialized, so lineage stays one
    * round deep. At 100 TB this is M linear passes — the shape of
    * production distributed tokenizer trainers; when M is large,
    * train on a deterministic corpus sample first (the
    * [[Features.pqTrainCodebooks]] practice) and apply the learned
    * table everywhere.
    */
  def bpeMerges(
      docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    var cached = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("syms"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var done = false
    for (step <- 1 to numMerges if !done) {
      val top = cached
        .select(explode(BpeKernels.adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("x"), col("y"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (bx, by, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, bx, by, s"$bx $by", cnt))
        val next = cached
          .select(col("doc_id"), greedyMergeOnce(col("syms"), bx, by).as("syms"))
          .persist()
        next.count() // materialize so the predecessor can release
        cached.unpersist()
        cached = next
      }
    }
    cached.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("step", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** One greedy left-to-right application of merge rule (bx, by) to a
    * symbol array — the codegen'd [[GreedyPairMerge]] kernel (O(n),
    * one allocation). The original higher-order `aggregate` fold was
    * the training/encode hot spot: interpreted per element with an
    * O(n²) accumulator copy (the §7.3 HOF-throughput escalation,
    * same as the cosine kernel's history).
    */
  private def greedyMergeOnce(syms: Column, bx: String, by: String): Column =
    BpeKernels.mergeOnce(syms, bx, by)

  /** Apply a learned BPE merge table ([[bpeMerges]] output, in step
    * order) to a corpus: the tokenizer's ENCODE half. Each rule is one
    * greedy left-to-right fold; the rules chain as M stacked
    * PROJECTIONS (each fold reads the previous level's column
    * ATTRIBUTE — nesting the fold expressions directly would copy the
    * `syms` subtree ~6× per level, an exponential Catalyst-analysis
    * blowup; as attributes the levels stay one expression each and
    * CollapseProject leaves multi-referenced non-cheap projections
    * alone). Still map-only end to end: zero shuffles, zero driver
    * hops, scan-speed at any corpus size. The merge table itself is a
    * tiny learned artifact (M rows) riding into the plan as literals,
    * exactly how a trained tokenizer deploys.
    *
    * Returns (doc_id, syms: array<string>) — the segmented corpus.
    */
  def bpeApply(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val init = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("syms"))
    merges.foldLeft(init) { case (df, (bx, by)) =>
      df.select(col("doc_id"), greedyMergeOnce(col("syms"), bx, by).as("syms"))
    }
  }

  // -------------------------------------------- unigram-LM tokenizer

  /** Viterbi DP over one word under a piece→cost literal map: returns
    * struct(dp: array<bigint>, ch: array<int>) — dp[j+1] = the min
    * total cost of segmenting the first j chars, ch[j] = the length of
    * the piece that achieves it. The argmin is deterministic: the
    * candidate structs order by (cost, start), so ties prefer the
    * SMALLEST start = the LONGEST piece — fixed on both engines.
    * Requires a non-empty word whose every char is in the map (the
    * trainer guarantees both).
    */
  private def unigramDp(word: Column, costs: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(array(lit(0L)).cast("array<bigint>").as("dp"),
        array().cast("array<int>").as("ch")),
      (acc, j) => {
        val cands = filter(
          transform(sequence(lit(1), lit(maxLen)), t =>
            when(t <= j,
              struct(
                (element_at(acc.getField("dp"), (j - t + lit(1)).cast("int")) +
                  // try_: a non-vocab piece is a missing map key, and
                  // ANSI element_at throws on those — null = no cand
                  try_element_at(costs, word.substr(j - t + lit(1), t))).as("c"),
                (j - t).cast("int").as("s"),
                t.cast("int").as("t")))
              .otherwise(lit(null))),
          x => x.isNotNull && x.getField("c").isNotNull)
        val best = array_min(cands)
        struct(
          concat(acc.getField("dp"), array(best.getField("c"))).as("dp"),
          concat(acc.getField("ch"), array(best.getField("t"))).as("ch"))
      })

  /** Walk the [[unigramDp]] choice array back from the word's end:
    * the Viterbi piece sequence, emitted END-FIRST (callers that need
    * reading order reverse it; usage counting doesn't care).
    */
  private def unigramBacktrack(word: Column, ch: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).cast("int").as("pos"),
        array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        when(pos > lit(0),
          struct(
            (pos - element_at(ch, pos)).cast("int").as("pos"),
            concat(acc.getField("ps"),
              array(word.substr(pos - element_at(ch, pos) + lit(1),
                element_at(ch, pos)))).as("ps")))
          .otherwise(acc)
      },
      acc => acc.getField("ps"))

  /** Viterbi piece sequence for one word under a learned cost map —
    * the [[unigramTrain]] inference kernel, exposed for encode
    * queries. Pieces come back in reading order.
    */
  def unigramPieces(word: Column, costs: Map[String, Long],
      maxPieceLen: Int): Column = {
    val m = typedLit(costs)
    reverse(unigramBacktrack(word,
      unigramDp(word, m, maxPieceLen).getField("ch")))
  }

  /** Distributed UNIGRAM-LM tokenizer training (Kudo 2018,
    * 1804.10959 — the SentencePiece unigram model), in the
    * deterministic hard-EM ("Viterbi EM") form: the OTHER standard
    * subword trainer beside [[bpeMerges]] (BPE composes greedily
    * upward; unigram starts from an over-complete substring vocab and
    * PRUNES — the model most production multilingual tokenizers
    * ship).
    *
    * Semantics, all deterministic:
    *  1. Words = whitespace tokens of lowercased text, 1..maxWordLen
    *     chars, collapsed to DISTINCT-word grain with occurrence
    *     counts (each distinct word segments ONCE per round — the
    *     standard trainer economy; longer words are noise and are
    *     excluded, disclosed).
    *  2. Seed vocab = every substring of length ≤ maxPieceLen:
    *     ALL single chars (kept forever — the coverage guarantee
    *     that makes every word segmentable) plus the top `vocabSize`
    *     multi-char pieces with occurrence-weight ≥ 2, ranked
    *     (weight desc, piece asc).
    *  3. Each round: piece cost = round(ln(Σweights / weight)·10⁶)
    *     as a LONG (one libm ln per piece, quantized to the 10⁻⁶
    *     grid — the q185/q191 discipline; all DP sums after are
    *     exact integer adds) → Viterbi-segment every distinct word
    *     (argmin ties prefer the longest piece) → re-estimate
    *     weights as occurrence-weighted piece usage → prune back to
    *     chars (usage floored at 1) + top-`vocabSize` used
    *     multi-char pieces.
    *
    * Shape per round: the vocab is an O(vocabSize) artifact — it
    * collects to the driver (bounded hop, the k-means-centroid
    * class) and re-enters the plan as one literal map, so
    * segmentation is a MAP PASS over the distinct-word frame (no
    * join, no shuffle beyond the usage groupBy). At 100 TB the
    * distinct-word frame is the corpus vocabulary — millions of
    * rows, not corpus tokens — and each round is one map pass + one
    * partial-agg'd shuffle over it.
    *
    * Returns the final vocab: (piece, weight, cost, is_char), cost
    * derived from the FINAL weights — the deployable scoring table
    * for [[unigramPieces]].
    */
  def unigramTrain(
      docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 100, maxPieceLen: Int = 4, rounds: Int = 2,
      maxWordLen: Int = 20): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    require(maxPieceLen >= 2, "maxPieceLen must be >= 2")
    require(rounds >= 1, "rounds must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("n_w"))
      .persist()
    // all substring occurrences (with multiplicity), weighted by n_w
    val allPieces = words.select(col("n_w"),
      explode(flatten(transform(sequence(lit(1), length(col("word"))), i =>
        transform(
          sequence(lit(1),
            least(lit(maxPieceLen), length(col("word")) - i + lit(1))),
          t => col("word").substr(i, t))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n_w")).as("weight"))
    val charSet: Array[(String, Long)] = allPieces
      .filter(length(col("piece")) === 1)
      .as[(String, Long)].collect().sortBy(_._1)
    require(charSet.nonEmpty, "empty corpus: no words to train on")
    val multi0: Array[(String, Long)] = allPieces
      .filter(length(col("piece")) > 1 && col("weight") >= 2)
      .orderBy(col("weight").desc, col("piece").asc)
      .limit(vocabSize)
      .as[(String, Long)].collect()
    var vocab: Array[(String, Long)] = charSet ++ multi0
    val chars = charSet.map(_._1).toSet
    def costsOf(v: Array[(String, Long)]): Map[String, Long] = {
      val total = v.map(_._2).sum.toDouble
      v.map { case (p, w) =>
        p -> math.round(math.log(total / w) * 1e6)
      }.toMap
    }
    for (_ <- 1 to rounds) {
      val m = typedLit(costsOf(vocab))
      val usage = words
        .withColumn("__dpch", unigramDp(col("word"), m, maxPieceLen))
        .select(col("n_w"),
          explode(unigramBacktrack(col("word"),
            col("__dpch").getField("ch"))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("n_w")).as("weight"))
        .as[(String, Long)].collect().toMap
      val keptChars = charSet.map { case (c, _) =>
        c -> math.max(usage.getOrElse(c, 0L), 1L)
      }
      val keptMulti = usage.toArray
        .filter { case (p, w) => !chars.contains(p) && w > 0 }
        .sortBy { case (p, w) => (-w, p) }
        .take(vocabSize)
      vocab = keptChars ++ keptMulti
    }
    words.unpersist()
    val finalCosts = costsOf(vocab)
    vocab.toSeq
      .map { case (p, w) => (p, w, finalCosts(p), chars.contains(p)) }
      .toDF("piece", "weight", "cost", "is_char")
  }

  // ------------------------------------------------------ PII scrubbing

  /** PII patterns for redaction, most-specific first. RE2-safe (no
    * lookaround) so an oracle engine can mirror them; `\b` anchors are
    * ASCII word boundaries in both Java regex and RE2.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "PHONE" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b",
    "SSN" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "IP" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** Occurrences of one PII pattern. */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Text with every [[piiPatterns]] occurrence replaced by its
    * `[TAG]` — a chained `regexp_replace`, fully codegen'd, applied in
    * declaration order (email before phone/SSN so an address is never
    * half-matched by a later number pattern).
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (tag, pattern)) =>
      regexp_replace(acc, pattern, s"[$tag]")
    }

  /** Zipf-law fit of the corpus token-frequency distribution: OLS of
    * ln(frequency) on ln(rank) over the top `topN` tokens — the
    * classic corpus-health number (natural language sits near slope
    * −1; generated or templated text bends the curve). Every float
    * step is pinned: per-rank x/y round to 6 dp (one ln each, the
    * q116 discipline), the products round to 6 dp, all four sums are
    * exact DECIMAL accumulations (order-free), and only the final
    * closed-form division is floating, rounded to 4 dp — so the fit
    * hash-checks, not approximately-matches.
    *
    * Shape: one corpus-sized token count, a sort-limit for the top-N
    * (TakeOrdered), then O(topN) arithmetic.
    *
    * Returns one row: (n_top, slope, intercept).
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN >= 2, "need at least two ranks to fit")
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("tok").asc).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("n").desc, col("tok").asc)
    val xy = top.withColumn("rank", row_number().over(w))
      .select(round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("n").cast("double")), 6).as("y"))
    def dec(c: Column) = c.cast("decimal(18,6)")
    xy.agg(count(lit(1)).as("nn"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(round(col("x") * col("y"), 6))).cast("double").as("sxy"),
        sum(dec(round(col("x") * col("x"), 6))).cast("double").as("sxx"))
      .select(col("nn").as("n_top"),
        round(expr("(nn * sxy - sx * sy) / (nn * sxx - sx * sx)"), 4)
          .as("slope"),
        round(expr(
          "(sy - ((nn * sxy - sx * sy) / (nn * sxx - sx * sx)) * sx) / nn"), 4)
          .as("intercept"))
  }

  /** HEAPS'-law fit — vocabulary growth V(N) ≈ K·N^β over the corpus
    * read in doc-id order: [[zipfFit]] grades the token-frequency
    * SHAPE, this grades vocabulary ACCUMULATION (natural text keeps
    * minting types, β ≈ 0.4–0.6; templated/duplicated corpora
    * flatten early — the second standard corpus-health curve, and
    * the one that predicts how vocab cost scales with corpus size).
    *
    * Checkpoints, not a running scan: docs land in `checkpoints`
    * contiguous doc-id ranges (bounds from one 1-row min/max
    * aggregate, broadcast — the disclosed tiny-literal hop class);
    * per-bucket token totals, doc counts, and NEW-type counts (a
    * type's first bucket = min bucket over its occurrences) are
    * partial-agg'd keyed shuffles, and the cumulative walk runs over
    * the O(checkpoints) frame. Nothing corpus-global is sorted.
    * The fit is the q185 OLS discipline: ln terms rounded to 6 dp,
    * DECIMAL sums, the closed-form division floats once at 4 dp.
    * Output: one row per checkpoint (docs_cum, tokens_cum,
    * vocab_cum) with the corpus-level (beta, ln_k) repeated — the
    * curve AND the fit in one hash-checkable table.
    */
  def heapsFit(
      docs: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 16): DataFrame = {
    require(checkpoints >= 2, "need at least two checkpoints to fit")
    val ids = docs.agg(min(col(idCol)).as("__lo"),
      (max(col(idCol)) - min(col(idCol)) + 1).as("__span"))
    val base = docs.crossJoin(broadcast(ids))
      .withColumn("__b",
        expr(s"((${idCol} - __lo) * $checkpoints) div __span").cast("int"))
      .select(col(idCol), col("__b"), col(textCol))
    val toks = base.select(col("__b"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val perBucket = base.groupBy(col("__b"))
      .agg(count(lit(1)).as("__docs"))
      .join(toks.groupBy(col("__b")).agg(count(lit(1)).as("__toks")),
        Seq("__b"), "left")
      .join(toks.groupBy(col("tok")).agg(min(col("__b")).as("__b"))
          .groupBy(col("__b")).agg(count(lit(1)).as("__new_types")),
        Seq("__b"), "left")
      .select(col("__b"), col("__docs"),
        coalesce(col("__toks"), lit(0L)).as("__toks"),
        coalesce(col("__new_types"), lit(0L)).as("__new_types"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = perBucket
      .withColumn("docs_cum", sum(col("__docs")).over(wCum))
      .withColumn("tokens_cum", sum(col("__toks")).over(wCum))
      .withColumn("vocab_cum", sum(col("__new_types")).over(wCum))
      .select(col("__b").as("checkpoint"), col("docs_cum"),
        col("tokens_cum"), col("vocab_cum"))
    def dec(c: Column) = c.cast("decimal(18,6)")
    val xy = cum.select(
      round(log(col("tokens_cum").cast("double")), 6).as("x"),
      round(log(col("vocab_cum").cast("double")), 6).as("y"))
    val fit = xy.agg(count(lit(1)).as("nn"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(round(col("x") * col("y"), 6))).cast("double").as("sxy"),
        sum(dec(round(col("x") * col("x"), 6))).cast("double").as("sxx"))
      .select(
        round(expr("(nn * sxy - sx * sy) / (nn * sxx - sx * sx)"), 4)
          .as("beta"),
        round(expr(
          "(sy - ((nn * sxy - sx * sy) / (nn * sxx - sx * sx)) * sx) / nn"), 4)
          .as("ln_k"))
    cum.crossJoin(broadcast(fit))
  }

  // ------------------------------------------- lexical-diversity metrics

  /** Per-document lexical-diversity report: type-token ratio, hapax
    * ratio (types occurring exactly once / types — the classic
    * template-spam discriminant: generated boilerplate repeats its
    * vocabulary, natural text keeps minting new words), and Shannon
    * token entropy. The corpus-level complement of the per-rule
    * quality gates ([[gopherRules]] bounds counts; this measures the
    * token DISTRIBUTION).
    *
    * Shape: explode → (doc, token) partial-agg'd count → per-doc
    * aggregate — two keyed shuffles on doc-sized keys, nothing
    * corpus-global. Entropy uses the decimal discipline (each
    * c·ln c term rounds to 6 dp and sums as DECIMAL(18,6) — exact,
    * commutative, partition-order-free) so the metric hash-checks
    * rather than approximately-matches; only the final
    * ln(n) − Σ/n combination is floating, rounded to 4 dp.
    *
    * Empty/whitespace-only docs produce one "" token (the [[tokens]]
    * contract) and so report ttr = 1, entropy 0 — callers filter
    * upstream where that matters.
    */
  def lexicalDiversity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(round(col("c") * log(col("c")), 6).cast("decimal(18,6)"))
          .as("__clnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 4)
          .as("hapax_ratio"),
        round(log(col("n_tokens").cast("double")) -
          col("__clnc").cast("double") / col("n_tokens"), 4)
          .as("token_entropy"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the
    * fraction of a doc's distinct word n-grams never seen in the
    * reference — the memorization/novelty audit run before adding a
    * crawl slice to a training mix (a slice whose n-grams are ~all
    * already in the held corpus adds tokens but no new content; the
    * per-doc grain also flags individual regurgitated docs).
    * Complements decontamination (q48 asks "does the doc CONTAIN a
    * benchmark gram"; this asks "what fraction of the doc is NEW").
    *
    * Shape: both sides explode to distinct n-grams; the membership
    * probe is a left join on the gram — one keyed shuffle each side,
    * partial-distinct aggregates, no broadcast assumption (the
    * reference is corpus-sized, unlike a benchmark). With
    * `hashGrams` the join keys are the codegen'd shingle-hash
    * kernel's 8-byte longs instead of gram strings — one array walk
    * per doc replaces the interpreted string-building lambda AND
    * narrows the shuffle (the q102b discipline; exact up to 64-bit
    * collisions, and the hash values never surface in the output).
    *
    * Docs with fewer than n tokens have no n-grams and report
    * n_grams = 0 with a NULL novelty.
    */
  def ngramNovelty(
      docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      n: Int = 3, hashGrams: Boolean = false): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // both branches produce the per-doc DISTINCT gram keys (the
    // kernel dedups internally); the short-doc guard matches the
    // string form's "no n-grams below n tokens" (the kernel alone
    // would emit one short shingle there)
    def grams(c: String): Column = {
      val t = tokens(lower(col(c)))
      if (hashGrams)
        when(size(t) >= n, VectorKernels.shingleHashes(t, n))
          .otherwise(typedlit(Array.empty[Long]))
      else
        // codegen'd one-pass kernel (strict short-doc contract: < n
        // tokens → empty) — the HOF transform+concat_ws+array_distinct
        // chain it replaces is interpreted and ran 16× slower than
        // the hashed twin on identical data
        VectorKernels.shingleStrings(t, n)
    }
    val docGrams = docs
      .select(col(idCol).as("doc_id"), explode(grams(textCol)).as("gram"))
    val refGrams = ref
      .select(explode(grams(refTextCol)).as("gram")).distinct()
      .withColumn("__seen", lit(1))
    val perDoc = docGrams
      .join(refGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(col("n_novel").cast("double") / col("n_grams"), 4))
          .as("novelty"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle" —
    * the code-pretraining data op): two md5-derived 12-bit hashes
    * carve each doc's tokens into NON-EMPTY prefix/middle/suffix
    * (split_a ∈ [1, n−2], split_b ∈ [a+1, n−1]; docs under 3 tokens
    * pass through unchanged), re-serialized in PSM order
    * `<PRE> prefix <SUF> suffix <MID> middle`. A pure map pass —
    * per-row integer arithmetic, zero shuffle — and every offset and
    * rendered byte replays exactly (the hash is the portable
    * hex-prefix form).
    */
  def fimTransform(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    def h(salt: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit("#" + salt))),
        1, 3), 16, 10).cast("long")
    val base = df.select(col(idCol).as("doc_id"), toks.as("t"),
      size(toks).cast("long").as("n"),
      h("a").as("__ha"), h("b").as("__hb"))
    val withA = base.withColumn("split_a",
      when(col("n") >= 3, lit(1L) + col("__ha") % (col("n") - 2)))
    val withB = withA.withColumn("split_b",
      when(col("n") >= 3,
        col("split_a") + 1 + col("__hb") % (col("n") - col("split_a") - 1)))
    withB.select(col("doc_id"), col("n").as("n_toks"),
      (col("n") >= 3).as("fim_applied"), col("split_a"), col("split_b"),
      when(col("n") >= 3,
        concat(lit("<PRE> "),
          concat_ws(" ", slice(col("t"), lit(1), col("split_a").cast("int"))),
          lit(" <SUF> "),
          concat_ws(" ", slice(col("t"), (col("split_b") + 1).cast("int"),
            (col("n") - col("split_b")).cast("int"))),
          lit(" <MID> "),
          concat_ws(" ", slice(col("t"), (col("split_a") + 1).cast("int"),
            (col("split_b") - col("split_a")).cast("int")))))
        .otherwise(concat_ws(" ", col("t"))).as("psm"))
  }

  /** T5-style SPAN CORRUPTION (Raffel et al. 2020 — the denoising
    * pretraining objective's data prep): tokens chunk into stride-5
    * blocks; an md5 coin (first two hex chars < the ppm-derived cut)
    * selects blocks for corruption, and a corrupted block's first 3
    * tokens are replaced by an `<extra_id_k>` sentinel in the INPUT
    * and emitted after the same sentinel in the TARGET (k = the
    * block's corruption ordinal within its doc). Stride alignment
    * makes spans non-overlapping BY CONSTRUCTION — the greedy
    * non-overlap walk real implementations need is a sequential
    * dependence this formulation deliberately avoids, so the whole
    * op is one explode + two windows + an order-preserving fold, all
    * exactly replayable. Returns per-doc
    * (id, n_blocks, n_corrupt_blocks, n_corrupt_toks, input, target).
    *
    * `corruptHex` is the 2-hex-digit cut: blocks whose
    * `md5(id#block)` prefix sorts strictly below it corrupt
    * (e.g. "28" ≈ 15.6% — the T5 default corruption rate ballpark).
    */
  def spanCorrupt(
      df: DataFrame, idCol: String, textCol: String,
      corruptHex: String = "28"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col(textCol))
    val base = df.select(col(idCol).as("doc_id"), toks.as("t"),
      size(toks).as("n"))
    val blocks = base
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0), ((col("n") + 4) / 5).cast("int") - 1)).as("b"))
      .withColumn("block_len", least(col("n") - col("b") * 5, lit(5)))
      .withColumn("corrupt",
        substring(md5(concat(col("doc_id").cast("string"), lit("#"),
          col("b").cast("string"))), 1, 2) < lit(corruptHex))
      .withColumn("k",
        sum(when(col("corrupt"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("doc_id")).orderBy(col("b"))) - 1)
      .withColumn("removed",
        when(col("corrupt"),
          concat_ws(" ", slice(col("t"), col("b") * 5 + 1, lit(3))))
          .otherwise(lit("")))
      .withColumn("rest",
        when(col("corrupt"),
          concat_ws(" ", slice(col("t"), col("b") * 5 + 4,
            greatest(col("block_len") - 3, lit(0)))))
          .otherwise(concat_ws(" ", slice(col("t"), col("b") * 5 + 1, lit(5)))))
      .withColumn("in_piece",
        when(col("corrupt"),
          concat(lit("<extra_id_"), col("k"), lit(">"),
            when(length(col("rest")) > 0, concat(lit(" "), col("rest")))
              .otherwise(lit(""))))
          .otherwise(col("rest")))
      .withColumn("tgt_piece",
        when(col("corrupt"),
          concat(lit("<extra_id_"), col("k"), lit("> "), col("removed"))))
    blocks.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupt_blocks"),
        sum(when(col("corrupt"), least(col("block_len"), lit(3)))
          .otherwise(lit(0))).cast("long").as("n_corrupt_toks"),
        sort_array(collect_list(struct(col("b"), col("in_piece")))).as("__in"),
        sort_array(collect_list(
          when(col("corrupt"), struct(col("b"), col("tgt_piece"))))).as("__tg"))
      .select(col("doc_id"), col("n_blocks"), col("n_corrupt_blocks"),
        col("n_corrupt_toks"),
        array_join(transform(col("__in"), p => p.getField("in_piece")), " ")
          .as("input"),
        array_join(transform(col("__tg"), p => p.getField("tgt_piece")), " ")
          .as("target"))
  }
}
