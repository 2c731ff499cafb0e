package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExtSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------------- text

  test("lexicalDiversity: hand-computed ttr/hapax/entropy") {
    val docs = Seq((1L, "A a b"), (2L, "x y z")).toDF("doc_id", "text")
    val out = Text.lexicalDiversity(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc1 (lowercased): 3 tokens, 2 types, 1 hapax;
    // entropy = ln 3 − round(2·ln 2, 6)/3 = 1.09861… − 0.462098 → 0.6365
    assert(out(0).getLong(1) == 3 && out(0).getLong(2) == 2 &&
      out(0).getLong(3) == 1)
    assert(out(0).getDouble(4) == 0.6667 && out(0).getDouble(5) == 0.5)
    assert(out(0).getDouble(6) == 0.6365)
    // doc2 uniform: ttr = hapax = 1, entropy = ln 3 → 1.0986
    assert(out(1).getDouble(4) == 1.0 && out(1).getDouble(5) == 1.0)
    assert(out(1).getDouble(6) == 1.0986)
  }

  test("unigramTrain: hand-computed 2-round hard-EM; unused pieces pruned; chars floored") {
    // word counts: abab×3, ab×2, cd×1.  Seed multi pieces (weight≥2):
    // ab=8, aba/abab/ba/bab=3 (cd=1 drops).  Round 1 Viterbi picks
    // whole-word pieces (abab, ab) and chars for cd; round 2 re-costs
    // over usage {abab:3, ab:2, chars floored to 1} (total 9).
    val docs = Seq((1L, "abab abab ab cd"), (2L, "abab ab"))
      .toDF("doc_id", "text")
    val v = Text.unigramTrain(docs, "doc_id", "text",
      vocabSize = 10, maxPieceLen = 4, rounds = 2)
      .orderBy("piece")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(v == Seq(
      ("a", 1L, 2197225L, true), // round(ln 9 · 1e6)
      ("ab", 2L, 1504077L, false), // round(ln 4.5 · 1e6)
      ("abab", 3L, 1098612L, false), // round(ln 3 · 1e6)
      ("b", 1L, 2197225L, true),
      ("c", 1L, 2197225L, true),
      ("d", 1L, 2197225L, true)))
    // inference kernel: learned pieces apply in reading order
    val enc = Seq(Tuple1("ababcd")).toDF("w")
      .select(Text.unigramPieces(col("w"),
        Map("a" -> 2197225L, "b" -> 2197225L, "c" -> 2197225L,
          "d" -> 2197225L, "ab" -> 1504077L, "abab" -> 1098612L),
        maxPieceLen = 4).as("p"))
      .as[Seq[String]].head()
    assert(enc == Seq("abab", "c", "d"))
    // cost ties prefer the LONGEST piece (min start): a=10, aa=20 at
    // word "aa" ties 20 vs 20 → one piece
    val tie = Seq(Tuple1("aa")).toDF("w")
      .select(Text.unigramPieces(col("w"),
        Map("a" -> 10L, "aa" -> 20L), maxPieceLen = 4).as("p"))
      .as[Seq[String]].head()
    assert(tie == Seq("aa"))
  }

  test("heapsFit: hand-computed cumulative curve and fit range") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "c d"), (4L, "e"))
      .toDF("doc_id", "text")
    val out = Text.heapsFit(docs, "doc_id", "text", checkpoints = 2)
      .orderBy("checkpoint").collect()
    // bucket 0 = docs 1-2: 4 tokens, new types {a,b,c};
    // bucket 1 = docs 3-4: 3 tokens, new types {d,e}
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq ==
      Seq((0, 2L, 4L, 3L), (1, 4L, 7L, 5L)))
    // β = (ln5−ln3)/(ln7−ln4) ≈ 0.9128 under the 6-dp-rounded terms;
    // both checkpoint rows carry the same fit
    val beta = out.map(_.getDouble(4)).distinct.toSeq
    assert(beta.length == 1 && beta.head > 0.91 && beta.head < 0.92)
    intercept[IllegalArgumentException] {
      Text.heapsFit(docs, "doc_id", "text", checkpoints = 1)
    }
  }

  test("ngramNovelty: exact ≡ hashed; short docs report zero grams") {
    val docs = Seq((1L, "a b c d"), (2L, "a b"), (3L, "p q r"))
      .toDF("doc_id", "text")
    val ref = Seq(Tuple1("x a b c x")).toDF("text") // grams: x a b | a b c | b c x
    val out = Text.ngramNovelty(docs, "doc_id", "text", ref, "text", n = 3)
      .orderBy("doc_id").collect()
    // doc1 grams {a b c, b c d}: one novel → 0.5
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 1 &&
      out(0).getDouble(3) == 0.5)
    // doc2 has no 3-grams: zero counts, NULL novelty
    assert(out(1).getLong(1) == 0 && out(1).getLong(2) == 0 && out(1).isNullAt(3))
    // doc3 entirely novel
    assert(out(2).getLong(1) == 1 && out(2).getDouble(3) == 1.0)
    val hashed = Text.ngramNovelty(docs, "doc_id", "text", ref, "text",
      n = 3, hashGrams = true).orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq == hashed.map(_.toSeq).toSeq)
  }

  test("Text: blocklist screen — hits, case-insensitivity, threshold, zero-hit docs") {
    val docs = Seq(
      (1L, "Bad WORD here bad again"),   // 'bad' ×2 (mixed case)
      (2L, "clean text only"),           // zero hits — must still appear
      (3L, "bad word word word"),        // bad=1 word=3 → 4 hits, dropped
      (4L, "")).toDF("doc_id", "text")
    val out = Text.blocklistScreen(docs, "doc_id", "text",
      terms = Seq("BAD", "word"), maxHits = 4)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq((1L, 3L, 2L, true), (2L, 0L, 0L, true), (3L, 4L, 2L, false), (4L, 0L, 0L, true)))
  }

  test("Text: phrase blocklist — overlapping bigrams, short docs, mixed lengths") {
    val docs = Seq(
      (1L, "a a a b"),            // phrase "a a" overlaps: hits at pos 1,2
      (2L, "x"),                  // shorter than any bigram
      (3L, "Hash JOIN on a a"),   // case-insensitive bigram + "a a"
      (4L, "c x c x c")).toDF("doc_id", "text")
    val out = Text.blocklistScreenPhrases(docs, "doc_id", "text",
      phrases = Seq("a a", "hash join", "x"), maxHits = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, true),   // "a a" twice (overlapping), 1 distinct
      (2L, 1L, 1L, true),   // unigram "x"
      (3L, 2L, 2L, true),   // "hash join" + "a a"
      (4L, 2L, 1L, true)))  // "x" twice
  }

  test("Text: phrase blocklist — trigram phrases and any-hit (maxHits=1) policy") {
    val docs = Seq(
      (1L, "click here now please"),   // trigram at pos 1
      (2L, "click here"),              // prefix only — no trigram
      (3L, "x click here now click here now")).toDF("doc_id", "text")
    val out = Text.blocklistScreenPhrases(docs, "doc_id", "text",
      phrases = Seq("click here now"), maxHits = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(out.toSeq == Seq((1L, 1L, false), (2L, 0L, true), (3L, 2L, false)))
  }

  test("Text: blocklist join form ≡ expression form row-for-row") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "delta"),
      (3L, "ALPHA Delta beta beta beta")).toDF("doc_id", "text")
    val terms = Seq("alpha", "beta").toDF("t")
    val expr = Text.blocklistScreen(docs, "doc_id", "text", Seq("alpha", "beta"), maxHits = 3)
    val join = Text.blocklistScreenJoin(docs, "doc_id", "text", terms, "t", maxHits = 3)
    assert(expr.orderBy("doc_id").collect().toSeq == join.orderBy("doc_id").collect().toSeq)
  }

  test("Dedup: chooseBandsRows picks the divisor pair nearest the S-curve target") {
    // inflections for nPerm=128: b=8→0.878, b=16→0.707, b=32→0.420
    assert(Dedup.chooseBandsRows(128, 0.9) == ((8, 16)))
    assert(Dedup.chooseBandsRows(128, 0.7) == ((16, 8)))
    assert(Dedup.chooseBandsRows(128, 0.5) == ((32, 4)))
    // invariants: b·r = nPerm; higher threshold → more rows per band
    val picks = Seq(0.3, 0.5, 0.7, 0.9).map(Dedup.chooseBandsRows(128, _))
    assert(picks.forall { case (b, r) => b * r == 128 })
    assert(picks.map(_._2) == picks.map(_._2).sorted)
  }

  test("Dedup: lshBandPlan marks exactly one chosen pair per threshold, matching chooseBandsRows") {
    val plan = Dedup.lshBandPlan(spark, 128, Seq(0.5, 0.7, 0.9)).collect()
    assert(plan.length == 8 * 3) // 8 divisors × 3 thresholds
    val chosen = plan.filter(_.getAs[Boolean]("chosen"))
      .map(r => r.getAs[Double]("threshold") ->
        ((r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")))).toMap
    assert(chosen == Map(0.5 -> ((32, 4)), 0.7 -> ((16, 8)), 0.9 -> ((8, 16))))
  }

  test("Text: htmlToText — boilerplate drop, raw <> in script bodies, entity order") {
    def extract(html: String): String = {
      val r = Seq(Tuple1(html)).toDF("h")
        .select(Text.htmlToText(col("h")).as("t")).head.getString(0)
      r
    }
    // script body with raw < and > must vanish whole, not leak fragments
    assert(extract("""<p>keep</p><script>if (1 < 2) { x = "y"; }</script><p>this</p>""")
      == "keep this")
    // nav/footer/aside/head subtrees dropped; comments dropped
    assert(extract("<head><title>T</title></head><body><nav>menu</nav>" +
      "<!-- note --><p>body</p><footer>foot</footer></body>") == "body")
    // entity decode order: &amp;lt; is the LITERAL text "&lt;"
    assert(extract("<p>a &amp; b, 1 &lt; 2, &quot;q&quot;, &#39;s&#39;, A&nbsp;B, raw &amp;lt;</p>")
      == "a & b, 1 < 2, \"q\", 's', A B, raw &lt;")
    // whitespace collapse + trim; case-insensitive tags
    assert(extract("  <P>one\n\ntwo</P>  <STYLE>p{}</STYLE> ") == "one two")
    // plain text passes through
    assert(extract("no markup at all") == "no markup at all")
  }

  test("Text: token counts, ratios, fingerprint") {
    val df = Seq(Tuple1("The cat and the dog.")).toDF("text")
    val r = df.select(
      Text.tokenCount(col("text")).as("n"),
      Text.regexTokenCount(col("text")).as("nr"),
      Text.punctRatio(col("text")).as("p"),
      Text.stopwordRatio(col("text")).as("s"),
      Text.fingerprint(col("text")).as("fp")).head()
    assert(r.getAs[Int]("n") == 5)
    assert(r.getAs[Int]("nr") == 6) // The cat and the dog .
    assert(r.getAs[Double]("p") == 1.0 / 20)
    assert(r.getAs[Double]("s") == 2.0 / 5) // 'and' + lowercase 'the' ("The", "dog." don't match)
    // fingerprint is whitespace/case-normalized
    val fp2 = Seq(Tuple1("  the   cat and the dog.")).toDF("text")
      .select(Text.fingerprint(col("text"))).as[String].head()
    assert(r.getAs[String]("fp") == fp2)
  }

  test("Text: langId picks the max-scoring language deterministically") {
    val df = Seq(
      ("d1", "the cat and the dog is a pet"),
      ("d2", "der hund und die katze nicht"),
      ("d3", "xyzzy qwerty")).toDF("id", "text")
    val out = df.select(col("id"), Text.langId(col("text")).as("lang"))
      .as[(String, String)].collect().toMap
    assert(out("d1") == "en")
    assert(out("d2") == "de")
    assert(out("d3") == "unknown")
  }

  // ---------------------------------------------------------- dedup

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon eta"), // near dup of 1 (5/7 words)
    (4L, "one two three four five six")).toDF("doc_id", "text")

  test("exactCanonical groups exact duplicates under the min id") {
    val out = Dedup.exactCanonical(docs, "doc_id", "text")
    assert(out.count() == 3)
    val dupGroup = out.filter(col("n_dups") === 2).head()
    assert(dupGroup.getAs[Long]("canonical_id") == 1L)
  }

  test("jaccard pairs find near + exact dups, not unrelated docs") {
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 1, 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // jaccard 1.0
    assert(pairs.contains((1L, 3L))) // 5/7 ≈ 0.714
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH finds the same high-similarity pairs as exact jaccard") {
    // long docs sharing almost all 3-gram shingles (one-word edits)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDups = Seq(
      (1L, base),
      (2L, base), // identical
      (3L, base.replace("w30", "x")), // ~3 shingles differ
      (4L, (100 to 130).map(i => s"v$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val exact = Dedup.jaccardNearDupPairs(nearDups, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDupPairs(nearDups, "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // LSH candidates are verified with the same exact jaccard → subset;
    // at s ≥ 0.9 with 8 bands of 2 rows, recall ≈ 1 (and the shingle,
    // signature and band hashes are deterministic, so this is stable)
    assert(lsh == exact)
  }

  test("LSH band keys are 64-bit and meet exactly when the band values do") {
    // a few hundred docs, a third of them one-word edits of another
    val rnd = new scala.util.Random(7)
    val originals = (1 to 300).map(i =>
      (i.toLong, Seq.fill(40)(s"t${rnd.nextInt(500)}").mkString(" ")))
    val copies = (1 to 100).map { i =>
      val words = originals(i * 3 - 1)._2.split(" ")
      words(rnd.nextInt(words.length)) = s"edit$i"
      (1000L + i, words.mkString(" "))
    }
    val idx = Dedup.minhashIndexRows(
      (originals ++ copies).toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val (bands, rows) = (16, 4)
    def candidates(keys: Column): Set[(Long, Long)] = {
      val k = idx.select(col("id"), posexplode(keys).as(Seq("band", "key")))
      k.toDF("id_a", "band", "key").join(k.toDF("id_b", "band", "key"), Seq("band", "key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    }
    val keys = VectorKernels.bandHashes(col("sig"), bands, rows)
    assert(idx.select(keys).schema.head.dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false))
    val exact = candidates(array((0 until bands).map(b =>
      slice(col("sig"), b * rows + 1, rows)): _*))
    assert(exact.size >= copies.size, exact.size) // the planted copies meet
    assert(candidates(keys) == exact)
  }

  test("minhash LSH pairs: null-text rows pair with nothing") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq[(Long, String)]((1L, text), (2L, text), (3L, null), (4L, null))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical docs distance 0; blocked pairs match brute force") {
    val fp = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 16, 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("portableHash64 is stable and non-negative") {
    val h = Seq(Tuple1("x")).toDF("s")
      .select(Dedup.portableHash64(col("s"), 0), Dedup.portableHash64(col("s"), 1))
      .as[(Long, Long)].head()
    assert(h._1 >= 0 && h._2 >= 0 && h._1 != h._2)
  }

  test("MinHashAgg: identical sets → estimate 1.0; disjoint → 0.0; merge = union") {
    val items = Seq(
      ("g1", "a"), ("g1", "b"), ("g1", "c"),
      ("g2", "a"), ("g2", "b"), ("g2", "c"), ("g2", "c"), // same set, dup item
      ("g3", "x"), ("g3", "y")).toDF("g", "item")
    val sigs = items.groupBy($"g")
      .agg(MinHashAgg.minhashAgg($"item", 32).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("g1") == sigs("g2")) // multiplicity-insensitive
    assert(sigs("g1") != sigs("g3"))
    // estimator: identical → 1.0, disjoint → (almost surely) far below
    val est = items.groupBy($"g")
      .agg(MinHashAgg.minhashAgg($"item", 32).as("sig"))
    val a = est.select($"g".as("ga"), $"sig".as("sa"))
    val b = est.select($"g".as("gb"), $"sig".as("sb"))
    val pairs = a.join(b, $"ga" < $"gb")
      .select($"ga", $"gb",
        MinHashAgg.estimatedJaccard($"sa", $"sb").as("j"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(pairs(("g1", "g2")) == 1.0)
    assert(pairs(("g1", "g3")) < 0.5)
    // partial-merge correctness: splitting a group across many
    // partitions must give the same signature as one partition
    val repartitioned = items.repartition(8)
    val sigs2 = repartitioned.groupBy($"g")
      .agg(MinHashAgg.minhashAgg($"item", 32).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs2 == sigs)
  }

  test("CountMinAgg: estimates never undercount; partial merge = single pass") {
    import graft.ext.CountMinAgg
    val items = (Seq.fill(100)("hot") ++ Seq.fill(7)("warm") ++ Seq("cold"))
      .toDF("item")
    def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val sketch = df.agg(CountMinAgg.cmsAgg(col("item"), 4).as("cms"))
      Seq("hot", "warm", "cold").toDF("key").crossJoin(sketch)
        .select(col("key"), CountMinAgg.estimate(col("cms"), col("key"), 4).as("e"))
        .as[(String, Long)].collect().toMap
    }
    val est = estimates(items)
    // 3 keys in a 4×4096 sketch: no collisions, estimates are exact
    assert(est == Map("hot" -> 100L, "warm" -> 7L, "cold" -> 1L))
    assert(estimates(items.repartition(8)) == est)
  }

  // ------------------------------------------------------ similarity

  test("cosine: known vectors") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(2f, 0f))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("a"), col("c")).as("ac")).head()
    assert(math.abs(r.getAs[Double]("ab")) < 1e-12)
    assert(math.abs(r.getAs[Double]("ac") - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("query_id", "query_vec")
    val out = Similarity.bruteForceTopK(queries, corpus, 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out == Seq((2L, 1), (3L, 2)))
  }

  test("mmrRerank: hand-computed greedy — diversity beats raw relevance; ties to lower id") {
    // one query: A(rel 100) B(90) C(85); A~B near-dup (sim 95),
    // A~C and B~C far. Greedy: A first; then C (7*85-3*10=565) beats
    // the redundant B (7*90-3*95=345); B last at 345.
    val cand = Seq((1L, 1L, 100L), (1L, 2L, 90L), (1L, 3L, 85L))
      .toDF("query_id", "vec_id", "rel")
    val symPairs = Seq((1L, 1L, 2L, 95L), (1L, 1L, 3L, 10L), (1L, 2L, 3L, 20L))
    val simsBoth = (symPairs ++ symPairs.map(p => (p._1, p._3, p._2, p._4)))
      .toDF("query_id", "id_a", "id_b", "sim")
    val got = Similarity.mmrRerank(cand, simsBoth, 3)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got == Seq((1L, 1, 1L, 700L), (1L, 2, 3L, 565L), (1L, 3, 2L, 345L)))
    // one-directional (a<b) sim table resolves through the symmetric lookup
    val gotSym = Similarity.mmrRerank(cand,
      symPairs.toDF("query_id", "id_a", "id_b", "sim"), 3)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    assert(gotSym == got)
    // exact score tie -> lower id wins
    val tied = Seq((9L, 5L, 50L), (9L, 4L, 50L)).toDF("query_id", "vec_id", "rel")
    val none = Seq.empty[(Long, Long, Long, Long)].toDF("query_id", "id_a", "id_b", "sim")
    val first = Similarity.mmrRerank(tied, none, 1)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(first == Seq((9L, 1, 4L, 350L)))
  }

  test("kmvSketch/kmvPairOverlap: exact mode below k; theta truncation above k") {
    // tiny vocab, k larger than any set: sketches are complete,
    // theta = 2^60, estimates ARE the exact counts
    val docs = Seq(
      ("sA", "a b c d e"),       // shingles: "a b c","b c d","c d e"
      ("sB", "a b c x y"),       // shares "a b c"
      ("sC", "p q r s t")        // disjoint
    ).toDF("grp", "text")
    val sk = Dedup.kmvSketch(docs, "grp", "text", shingleSize = 3, k = 8)
    val sigs = sk.as[(String, Seq[Long])].collect().toMap
    assert(sigs("sA").length == 3 && sigs("sA") == sigs("sA").sorted)
    val ov = Dedup.kmvPairOverlap(sk, 8)
      .select("src_a", "src_b", "n_common", "est_intersection", "est_union")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(ov(("sA", "sB")) == ((1L, 1L, 5L)))   // "a b c" shared; 3+3-1
    assert(ov(("sA", "sC")) == ((0L, 0L, 6L)))
    // above k: theta truncates to the k-th smallest of the smaller side
    val many = (1 to 50).map(i => ("big" + (i % 2), s"t$i u$i v$i w$i"))
      .toDF("grp", "text")
    val sk2 = Dedup.kmvSketch(many, "grp", "text", shingleSize = 3, k = 4)
    assert(sk2.as[(String, Seq[Long])].collect().forall(_._2.length == 4))
    val ov2 = Dedup.kmvPairOverlap(sk2, 4)
      .select("n_trunc_union", "est_union").as[(Long, Long)].head()
    // each side keeps k-1 = 3 sub-theta hashes at most; estimate
    // scales up past the truncated count
    assert(ov2._1 <= 6 && ov2._2 > ov2._1)
  }

  test("cdcChunks: boundaries re-align exactly after a front insertion") {
    // B = "INS" + A: the trailing 3-token windows of B at position
    // p+1 equal A's at p once the window clears the inserted token,
    // so EVERY boundary re-aligns — B's chunks are A's with only the
    // first chunk grown by the inserted token. Fixed-stride chunking
    // has no such property; this is CDC's reason to exist.
    val a = (1 to 60).map(i => s"w${i * 7 % 23}x$i").mkString(" ")
    val docs = Seq((1L, a), (2L, "INS " + a)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_text")
      .as[(Long, Long, String)].collect()
    val ca = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val cb = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    assert(ca.size >= 3, s"need real boundaries to test re-alignment: $ca")
    assert(cb == ("INS " + ca.head) +: ca.tail)
    // token totals reconstruct the docs
    assert(ca.map(_.split(" ").length).sum == 60)
  }

  test("fimTransform: three non-empty parts, token-preserving; short docs pass through") {
    val docs = Seq((1L, "a b"), (2L, "a b c"),
      (3L, "w x y z u v t s r q p o n m")).toDF("doc_id", "text")
    val out = Text.fimTransform(docs, "doc_id", "text")
      .select("doc_id", "n_toks", "fim_applied", "split_a", "split_b", "psm")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getBoolean(2) && out(1L).getString(5) == "a b")
    Seq(2L, 3L).foreach { id =>
      val r = out(id)
      val (n, a, b) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(r.getBoolean(2))
      assert(a >= 1 && a <= n - 2 && b >= a + 1 && b <= n - 1,
        s"doc $id: a=$a b=$b n=$n")
      // PSM is a permutation of the tokens plus the three sentinels
      val toks = r.getString(5).split(" ").toSeq
      assert(toks.count(_.startsWith("<")) == 3)
      assert(toks.filterNot(_.startsWith("<")).sorted ==
        docs.filter(col("doc_id") === id).select("text")
          .as[String].head().split(" ").toSeq.sorted)
    }
  }

  test("spanCorrupt: hand-computed sentinels at the corrupt-all/none extremes") {
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    // 'zz' outranks every hex prefix -> every block corrupts
    val all = Text.spanCorrupt(docs, "doc_id", "text", corruptHex = "zz")
      .select("n_blocks", "n_corrupt_blocks", "n_corrupt_toks", "input", "target")
      .as[(Long, Long, Long, String, String)].head()
    assert(all == ((2L, 2L, 5L,
      "<extra_id_0> t4 t5 <extra_id_1>",
      "<extra_id_0> t1 t2 t3 <extra_id_1> t6 t7")))
    // '00' under-ranks every prefix -> nothing corrupts, input = text
    val none = Text.spanCorrupt(docs, "doc_id", "text", corruptHex = "00")
      .select("n_corrupt_blocks", "input", "target")
      .as[(Long, String, String)].head()
    assert(none == ((0L, "t1 t2 t3 t4 t5 t6 t7", "")))
  }

  test("marginMine: hand-computed margin, argmax pick, threshold") {
    val src = Seq((10L, Array(1f, 0f))).toDF("src_id", "src_vec")
    val tgt = Seq((1L, Array(1f, 0f)), (3L, Array(0.8f, 0.6f)),
      (5L, Array(0f, 1f))).toDF("tgt_id", "tgt_vec")
    val bwd = Seq((10L, Array(1f, 0f)), (12L, Array(0f, 1f)))
      .toDF("bwd_id", "bwd_vec")
    // k=2: avgX = (1.0+0.8)/2 = 0.9; back-neighborhoods: y1 (1.0+0.0)/2
    // = 0.5, y2 (0.8+0.6)/2 = 0.7; margins y1 = 1/0.7, y2 = 0.8/0.8 = 1
    // → argmax is y1 at round(1/0.7, 6)
    val out = Similarity.marginMine(src, tgt, bwd, k = 2, minMargin = 1.0)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq((10L, 1L, 1.0, 1.428571)))
    // raising the threshold above the best margin mines nothing
    assert(Similarity.marginMine(src, tgt, bwd, k = 2, minMargin = 1.5).isEmpty)
  }

  test("SRP-LSH finds planted cosine near-dups without a quadratic pass") {
    // base vector, a tiny perturbation of it, and an orthogonal one
    val base = Array.tabulate(32)(i => math.sin(i * 1.7).toFloat)
    val nearDup = base.zipWithIndex.map { case (v, i) => v + (if (i == 0) 0.001f else 0f) }
    val ortho = Array.tabulate(32)(i => math.cos(i * 2.3).toFloat)
    val df = Seq((1L, base), (2L, nearDup), (3L, ortho)).toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.99, scorer = graft.ext.VectorKernels.cosineF)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("SRP signature: identical vectors always collide; codegen equals eval") {
    val v = Array.tabulate(16)(i => (i * 0.37f) - 2f)
    val df = Seq((1L, v), (2L, v)).toDF("id", "vec")
      .select(col("id"), graft.ext.VectorKernels.srpSig(col("vec"), 16, 0).as("sig"))
    val sigs = df.as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    // interpreted path (expression eval on a literal-free local row)
    val expr = graft.ext.FloatSrpSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        v, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      16, 0L)
    assert(expr.eval(null) == sigs(1L))
  }

  test("ivfTopK probes nearest clusters only") {
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0f, 1f), 1), (4L, Array(0.05f, 0.95f), 1))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Array(1f, 0f))).toDF("query_id", "query_vec")
    val out = Similarity.ivfTopK(emb, queries, k = 3, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(out == Set(2L)) // only cluster 0 probed; query's own vec excluded
  }

  test("kmeans separates planted clusters; IVF over kmeans has full recall") {
    // 3 planted directions, 20 small perturbations of each
    val dirs = Seq(
      Array.tabulate(16)(i => math.sin(i * 1.3).toFloat),
      Array.tabulate(16)(i => math.cos(i * 2.1).toFloat),
      Array.tabulate(16)(i => math.sin(i * 0.4 + 2.0).toFloat))
    val vecs = for {
      (d, c) <- dirs.zipWithIndex
      j <- 0 until 20
    } yield ((c * 20 + j).toLong,
      d.zipWithIndex.map { case (v, i) => v + 0.01f * ((i + j) % 5) })
    val emb = vecs.toDF("vec_id", "embedding")
    val clustered = Similarity.kmeansLabels(emb, "vec_id", "embedding",
      k = 3, iters = 4, scorer = graft.ext.VectorKernels.cosineF)
    // every planted cluster maps to exactly one kmeans label
    val purity = clustered
      .groupBy((col("vec_id") / 20).cast("int").as("truth"))
      .agg(count_distinct(col("label")).as("n"))
      .select("n").as[Long].collect()
    assert(purity.forall(_ == 1L), s"planted clusters split: ${purity.toSeq}")

    // recall@5 vs the exact brute-force baseline
    val queries = emb.filter(col("vec_id") % 20 === 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(queries, emb, 5,
      scorer = graft.ext.VectorKernels.cosineF)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(clustered, queries, 5, 1,
      scorer = graft.ext.VectorKernels.cosineF)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("semanticDedup drops twins to their min-id source, keeps the rest") {
    // 3 planted directions × 15 perturbations, plus a near-identical
    // twin of every 5th vector: only the twins are within cos ≥ 0.999
    val dirs = Seq(
      Array.tabulate(16)(i => math.sin(i * 1.3).toFloat),
      Array.tabulate(16)(i => math.cos(i * 2.1).toFloat),
      Array.tabulate(16)(i => math.sin(i * 0.4 + 2.0).toFloat))
    // seeded-Random perturbations: any ARITHMETIC pattern in (i, j)
    // (modular, sinusoidal, linear-congruential) aliases for some
    // j-offset and plants unintended near-dup pairs — found the hard
    // way; the fixture self-check below would catch a regression
    val rnd = new scala.util.Random(42)
    val base = for {
      (d, c) <- dirs.zipWithIndex
      j <- 0 until 15
    } yield ((c * 15 + j).toLong,
      d.map(v => v + 0.4f * (rnd.nextFloat() - 0.5f)))
    val twins = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.0001f * x)) // colinear: cos = 1
    }
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    // the fixture must have no near-dup pairs besides the twins —
    // twins are exactly colinear (cos = 1.0), every other pair's
    // perturbation diff puts it well below 0.999
    val exactPairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      0.999, scorer = graft.ext.VectorKernels.cosineF, broadcastBuild = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactPairs == twins.map { case (id, _) => (id - 1000L, id) }.toSet,
      s"fixture broken: $exactPairs")
    val dedup = Similarity.semanticDedup(emb, "vec_id", "embedding",
      k = 3, iters = 4, threshold = 0.999,
      scorer = graft.ext.VectorKernels.cosineF)
    val out = dedup.select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out.size == base.size + twins.size)
    twins.foreach { case (id, _) =>
      assert(!out(id), s"twin $id should be dropped")
      assert(out(id - 1000L), s"source ${id - 1000L} should be kept")
    }
    assert(out.count(!_._2) == twins.size, "only twins dropped")
    val dupOf = dedup
      .filter(!col("kept")).select("vec_id", "dup_of")
      .as[(Long, Long)].collect().toMap
    twins.foreach { case (id, _) => assert(dupOf(id) == id - 1000L) }
  }

  test("repeatedNgramSpans merges runs, ignores unique text; hashed ≡ exact") {
    // docs 1 and 2 share tokens 0..5 ("a b c d e f") and 8..10; doc 3
    // is unique throughout
    val docs = Seq(
      (1L, "a b c d e f x1 y1 p q r s1 t1"),
      (2L, "a b c d e f x2 y2 p q r s2 t2"),
      (3L, "u v w m n o k1 k2 k3 k4 k5 k6 k7")).toDF("doc_id", "text")
    val spans = Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
      .select("doc_id", "start_tok", "end_tok", "n_grams")
      .as[(Long, Int, Int, Long)].collect().toSet
    // shared 3-grams: positions 0..3 of "a b c d e f" (run → one span
    // covering tokens 0..5, 4 grams); "p q r" at position 8 (tokens
    // 8..10, 1 gram); nothing in doc 3
    val expected = Set(
      (1L, 0, 5, 4L), (1L, 8, 10, 1L),
      (2L, 0, 5, 4L), (2L, 8, 10, 1L))
    assert(spans == expected, s"got $spans")
    val hashed = Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 3,
      minDocs = 2, hashGrams = true)
      .select("doc_id", "start_tok", "end_tok", "n_grams")
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(hashed == spans)
    // a doc shorter than n produces nothing and breaks nothing
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.repeatedNgramSpans(short, "doc_id", "text", 3, 2).count() == 0)
  }

  test("exciseSpans removes exactly the flagged tokens, passes clean docs through") {
    val docs = Seq(
      (1L, "a b c d e f x1 y1 p q r s1 t1"),
      (2L, "a b c d e f x2 y2 p q r s2 t2"),
      (3L, "u v w m n o k1 k2 k3 k4 k5 k6 k7")).toDF("doc_id", "text")
    val spans = Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
    val out = Dedup.exciseSpans(docs, spans, "doc_id", "text")
      .select("doc_id", "text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // spans cover tokens 0..5 and 8..10 in docs 1 and 2; doc 3 untouched
    assert(out(0) == ((1L, "x1 y1 s1 t1", 9L)))
    assert(out(1) == ((2L, "x2 y2 s2 t2", 9L)))
    assert(out(2) == ((3L, "u v w m n o k1 k2 k3 k4 k5 k6 k7", 0L)))
    // excising everything leaves the empty string, not a missing row
    val full = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val fOut = Dedup.exciseSpans(full,
      Dedup.repeatedNgramSpans(full, "doc_id", "text", 2, 2), "doc_id", "text")
      .select("doc_id", "text", "n_removed").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(fOut.toSeq == Seq((1L, "", 4L), (2L, "", 4L)))
  }

  test("repeatedNgramSpans keepFirst: min-id doc keeps its copy, others excise") {
    val docs = Seq(
      (1L, "a b c d e f x1 y1 p q r s1 t1"),
      (2L, "a b c d e f x2 y2 p q r s2 t2"),
      (3L, "u v w m n o k1 k2 k3 k4 k5 k6 k7")).toDF("doc_id", "text")
    val spans = Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 3,
      minDocs = 2, keepFirst = true)
      .select("doc_id", "start_tok", "end_tok", "n_grams")
      .as[(Long, Int, Int, Long)].collect().toSet
    // doc 1 is every shared gram's min-id keeper → only doc 2 is flagged
    assert(spans == Set((2L, 0, 5, 4L), (2L, 8, 10, 1L)), s"got $spans")
    val out = Dedup.exciseSpans(docs,
      Dedup.repeatedNgramSpans(docs, "doc_id", "text", 3, 2, keepFirst = true),
      "doc_id", "text")
      .select("doc_id", "text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // exactly ONE copy of each repeated passage survives (in doc 1)
    assert(out(0) == ((1L, "a b c d e f x1 y1 p q r s1 t1", 0L)))
    assert(out(1) == ((2L, "x2 y2 s2 t2", 9L)))
    assert(out(2) == ((3L, "u v w m n o k1 k2 k3 k4 k5 k6 k7", 0L)))
    // keepFirst composes with hashGrams: identical spans
    val hashed = Dedup.repeatedNgramSpans(docs, "doc_id", "text", 3, 2,
      hashGrams = true, keepFirst = true)
      .select("doc_id", "start_tok", "end_tok", "n_grams")
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(hashed == spans)
  }

  test("kmeans literal and broadcast assignment paths agree exactly") {
    val vecs = (0 until 90).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 0.7 + j * 1.1).toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    def labels(literalMax: Int) =
      Similarity.kmeansLabels(emb, "vec_id", "embedding", k = 4, iters = 3,
        scorer = graft.ext.VectorKernels.cosineF, literalMaxEntries = literalMax)
        .select("vec_id", "label").as[(Long, Int)].collect().toMap
    // k*dim = 64: literalMax 1024 takes the typedlit path, 0 forces the
    // broadcast-join + max_by path; identical seeding + tie-break ⇒
    // identical labels for every vector at every iteration
    assert(labels(1024) == labels(0))
  }

  test("profile top-k: SRP route agrees with brute force on planted twins") {
    // 3 planted directions, 10 near-identical profiles each (cos ≈ 1
    // within a cluster, ≪ 1 across) — every key's top-1 is a co-member
    val dirs = Seq(
      Array.tabulate(24)(i => 1.0 + math.sin(i * 1.3)),
      Array.tabulate(24)(i => 1.0 + math.cos(i * 2.1)),
      Array.tabulate(24)(i => 1.0 + math.sin(i * 0.4 + 2.0)))
    val profs = (for {
      (d, c) <- dirs.zipWithIndex
      j <- 0 until 10
    } yield ((c * 10 + j).toLong, d.map(_ * (1.0 + 0.0003 * j)).toSeq))
      .toDF("user_id", "profile")
    def top1(maxBrute: Long) = graft.ext.TimeSeries
      .topKSimilarProfiles(profs, "user_id", 1, maxBruteKeys = maxBrute)
      .select("key_a", "key_b").as[(Long, Long)].collect().toMap
    val brute = top1(1000) // all 30 keys under the bound → exact path
    val srp = top1(0) // force the SRP-blocked path
    assert(brute.size == 30)
    assert(srp == brute)
  }

  test("minhash cache handle evicts the internal caches deterministically") {
    val docs = (1 to 50).map(i =>
      (i.toLong, s"some shared words plus unique token$i here")).toDF("doc_id", "text")
    val (pairs, handle) = Dedup.minhashNearDupPairsWithHandle(
      docs, "doc_id", "text", shingleSize = 1, numHashes = 16, bands = 8,
      threshold = 0.3)
    pairs.count() // consume — internal frames are now materialized
    assert(handle.isCached)
    handle.unpersist(blocking = true)
    assert(!handle.isCached)
    // the other two persisting operators honor the same contract
    val (cp, ch) = Dedup.containmentPairsWithHandle(docs, "doc_id", "text", 2, 30)
    cp.count()
    assert(ch.isCached); ch.unpersist(blocking = true); assert(!ch.isCached)
    val (tp, th) = Text.tfidfCosinePairsWithHandle(docs, "doc_id", "text", 0.5)
    tp.count()
    assert(th.isCached); th.unpersist(blocking = true); assert(!th.isCached)
  }

  test("minhash cache handle: unpersist drops the fingerprint RDD; a 20-op loop leaks none") {
    val docs = (1 to 50).map(i =>
      (i.toLong, s"some shared words plus unique token$i here")).toDF("doc_id", "text")
    def op() = Dedup.minhashNearDupPairsWithHandle(
      docs, "doc_id", "text", shingleSize = 1, numHashes = 16, bands = 8, threshold = 0.3)
    val persistent = () => spark.sparkContext.getPersistentRDDs.keySet
    val (pairs, handle) = op()
    pairs.count()
    assert(handle.rdds.nonEmpty && handle.rdds.forall(r => persistent().contains(r.id)))
    handle.unpersist(blocking = true)
    assert(handle.rdds.forall(r => !persistent().contains(r.id)))
    val before = persistent()
    val counts = (1 to 20).map { _ =>
      val (p, h) = op()
      try p.count() finally h.unpersist()
    }
    assert(counts.distinct == Seq(pairs.count()))
    assert(persistent().subsetOf(before), persistent() -- before)
  }

  test("minhashNearDupAgainst leaves nothing in the shared CacheManager") {
    // q78 runs it inside Verify's pooled sessions, which share one
    // CacheManager that nothing clears for the rest of the run
    val docs = (1 to 50).map(i =>
      (i.toLong, s"some shared words plus unique token$i here")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    Dedup.minhashNearDupAgainst(
      docs.filter(col("doc_id") <= 25), docs.filter(col("doc_id") > 25),
      "doc_id", "text", threshold = 0.3).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  // ------------------------------------------------------ multimodal

  test("multimodal: frame sampling slices binary in-plan") {
    val df = Seq((1L, "0123456789abcdef")).toDF("id", "payload") // 16 bytes
    val media = Multimodal.asMediaTable(df, "id", "payload", "video/fake")
    val frames = media
      .select(Multimodal.frameSample(col("payload"), frameSize = 4, every = 2).as("f"))
      .head().getSeq[Array[Byte]](0)
    // frames of 4 bytes: [0123][4567][89ab][cdef]; every 2nd → 0123, 89ab
    assert(frames.map(b => new String(b)).toSeq == Seq("0123", "89ab"))
  }

  test("multimodal: metadata is in-plan; stub decoder features are deterministic") {
    val df = Seq((1L, "abc"), (2L, "abcabc")).toDF("id", "payload")
    val media = Multimodal.asMediaTable(df, "id", "payload", "text/plain")
    assert(media.columns.toSeq == Seq("media_id", "payload", "mime", "n_bytes", "sha256"))
    val feats = Multimodal.decodeFeatures(spark, media, 2).collect()
    assert(feats.length == 2)
    val f1 = feats.find(_.media_id == 1L).get
    val f2 = feats.find(_.media_id == 2L).get
    assert(f1.n_bytes == 3 && f2.n_bytes == 6)
    // histogram features are normalized → same distribution for abc vs abcabc
    assert(f1.features.toSeq == f2.features.toSeq)
    assert(math.abs(f1.features.sum - 1.0f) < 1e-6)
  }

  // ------------------------------------------------- resample / tfidf / pii

  test("resampleFill: gaps filled forward, first bucket observed, counts kept") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 4.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:40:00"), 6.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 13:30:00"), 9.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0)
    ).toDF("k", "ts", "v")
    val r = TimeSeries.resampleFill(ev, "k", "ts", "v", "hour")
      .orderBy(col("key"), col("bucket"))
      .select(col("key"), col("bucket").cast("string"), col("filled_v"),
        col("n_events"), col("is_gap"))
      .as[(Long, String, Double, Long, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, "2024-01-01 10:00:00", 5.0, 2L, false), // avg(4,6)
      (1L, "2024-01-01 11:00:00", 5.0, 0L, true),  // gap → carried
      (1L, "2024-01-01 12:00:00", 5.0, 0L, true),
      (1L, "2024-01-01 13:00:00", 9.0, 1L, false),
      (2L, "2024-01-01 00:00:00", 1.0, 1L, false))) // single-bucket key
  }

  test("tfidfTopTerms: common terms score below rare ones; rank ties by term") {
    // 'shared' is in all 3 docs (min idf); 'rare' only in d1
    val docs = Seq(
      (1L, "rare shared shared"),
      (2L, "shared other"),
      (3L, "shared thing")).toDF("doc_id", "text")
    val r = Text.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).orderBy(col("rank"))
      .as[(Long, String, Double, Int)].collect().toSeq
    // d1: tf(shared)=2 idf=ln(4/4)+1=1 → 2.0; tf(rare)=1 idf=ln(4/2)+1≈1.693
    assert(r.map(_._2) == Seq("shared", "rare"))
    assert(r.head._3 == 2.0)
    assert(math.abs(r(1)._3 - (math.log(2.0) + 1.0)) < 1e-6)
  }

  test("tfidfCosinePairs: inverted index equals brute-force cosine; dfCap prunes stop terms") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"), // near-dup of 1
      (3L, "zeta eta theta iota"),      // unrelated
      (4L, "zeta eta theta iota"),      // exact dup of 3
      (5L, "alpha zeta mixed bag")).toDF("doc_id", "text")
    val pairs = Text.tfidfCosinePairs(docs, "doc_id", "text", threshold = 0.0)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // brute-force reference: build dense tf-idf vectors driver-side
    val toks = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val n = toks.size.toDouble
    val dfm = toks.values.flatten.toSeq.distinct
      .map(t => t -> toks.values.count(_.contains(t))).toMap
    def vec(id: Long) = toks(id).groupBy(identity).map { case (t, g) =>
      t -> g.size * (math.log((1 + n) / (1.0 + dfm(t))) + 1.0) }
    def cos(a: Long, b: Long) = {
      val (va, vb) = (vec(a), vec(b))
      val dot = va.keySet.intersect(vb.keySet).toSeq.map(t => va(t) * vb(t)).sum
      def l2(v: Map[String, Double]) = math.sqrt(v.values.map(x => x * x).sum)
      dot / (l2(va) * l2(vb))
    }
    for (a <- 1L to 5L; b <- (a + 1) to 5L) {
      val expected = cos(a, b)
      if (expected == 0.0) assert(!pairs.contains((a, b))) // no shared term → never met
      else assert(math.abs(pairs((a, b)) - expected) < 1e-6, s"($a,$b)")
    }
    assert(pairs((3L, 4L)) == 1.0) // exact dup
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    // dfCap drops terms with df > cap from the index: with cap 1 no
    // term is shared, so no pair survives
    val capped = Text.tfidfCosinePairs(docs, "doc_id", "text", 0.0, dfCap = Some(1L))
    assert(capped.count() == 0)
    // norms stay full-universe, so a capped score is a LOWER bound of
    // the true cosine — the cap can miss pairs, never inflate one
    val capped2 = Text.tfidfCosinePairs(docs, "doc_id", "text", 0.0, dfCap = Some(2L))
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    capped2.foreach { case (k, v) => assert(v <= pairs(k) + 1e-9, k.toString) }
  }

  test("funnel: strictly-after ordering and the step deadline both gate conversion") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 converts fully: view 10:00 → click 11:00 → buy 12:00
      (1L, t("2024-01-01 10:00:00"), "view"), (1L, t("2024-01-01 11:00:00"), "click"),
      (1L, t("2024-01-01 12:00:00"), "buy"),
      // u2: click BEFORE first view → not a conversion
      (2L, t("2024-01-01 09:00:00"), "click"), (2L, t("2024-01-01 10:00:00"), "view"),
      // u3: click past the 2 h deadline
      (3L, t("2024-01-01 10:00:00"), "view"), (3L, t("2024-01-01 13:00:00"), "click"),
      // u4: converts step 2 at the deadline boundary (<=), never buys
      (4L, t("2024-01-01 10:00:00"), "view"), (4L, t("2024-01-01 12:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val r = TimeSeries.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "buy"), "2 hours")
      .orderBy(col("step"))
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(r == Seq(
      (1, "view", 4L, 1.0), (2, "click", 2L, 0.5), (3, "buy", 1L, 0.5)))
  }

  test("cohortRetention: offsets count distinct users from their first-seen week") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 first seen week of Mon 2024-01-01; active weeks 0 and 2
      (1L, t("2024-01-03 10:00:00")), (1L, t("2024-01-16 10:00:00")),
      // u2 same cohort, active week 0 only (two events, counted once)
      (2L, t("2024-01-05 10:00:00")), (2L, t("2024-01-06 10:00:00")),
      // u3 cohort of Mon 2024-01-08; second event lands on the NEXT
      // Monday boundary (Jan 14 23:59 would still be week 0)
      (3L, t("2024-01-08 00:00:00")), (3L, t("2024-01-15 00:00:00"))
    ).toDF("user_id", "ts")
    val r = TimeSeries.cohortRetention(ev, "user_id", "ts")
      .orderBy(col("cohort_week"), col("week_offset"))
      .select(col("cohort_week").cast("string"), col("week_offset"), col("n_active"))
      .as[(String, Int, Long)].collect().toSeq
    assert(r == Seq(
      ("2024-01-01", 0, 2L), ("2024-01-01", 2, 1L),
      ("2024-01-08", 0, 1L), ("2024-01-08", 1, 1L)))
  }

  test("bigramLogProbScores: add-one smoothing hand-checked; short docs drop") {
    // corpus: d1 "a b a b", d2 "a b", d3 "x" (no bigrams → dropped)
    // unigrams: a:3 b:3 x:1, |V|=3
    // bigram counts: "a b":3, "b a":1
    // lp(a b) = ln(4/6); lp(b a) = ln(2/6)
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val r = Text.bigramLogProbScores(docs, "doc_id", "text")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Double)].collect().toSeq
    val lpAB = math.log(4.0 / 6.0)
    val lpBA = math.log(2.0 / 6.0)
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(r.map(_._1) == Seq(1L, 2L)) // d3 has no bigrams
    assert(r(0)._2 == 3L && r(0)._3 == r4((2 * lpAB + lpBA) / 3.0))
    assert(r(1)._2 == 1L && r(1)._3 == r4(lpAB))
  }

  test("rollingZScoreAnomalies flags a planted spike, never warm-up rows") {
    def t(i: Int) = new java.sql.Timestamp(1704067200000L + i * 60000L)
    // 30 calm events (alternating 9.5/10.5 → nonzero rolling std),
    // then one 100.0 spike, then calm again
    val rows = (0 until 30).map(i => (1L, t(i), i.toLong, if (i % 2 == 0) 9.5 else 10.5)) ++
      Seq((1L, t(30), 30L, 100.0)) ++
      (31 until 40).map(i => (1L, t(i), i.toLong, if (i % 2 == 0) 9.5 else 10.5))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val flagged = TimeSeries.rollingZScoreAnomalies(
      df, "user_id", "ts", "value", "event_id", lookback = 24, minObs = 12)
      .filter(col("is_anomaly")).select("event_id").as[Long].collect().toSet
    assert(flagged == Set(30L), s"flagged: $flagged")
    // with minObs above the series length nothing can ever be flagged
    val none = TimeSeries.rollingZScoreAnomalies(
      df, "user_id", "ts", "value", "event_id", lookback = 24, minObs = 100)
      .filter(col("is_anomaly")).count()
    assert(none == 0)
  }

  test("deletionNeighborhoodMatch: exact dist 0, one-deletion dist 1, others absent") {
    val clean = Seq((1L, "widget"), (2L, "gadget"), (3L, "sprocket"))
      .toDF("id", "name")
    val dirty = Seq(
      (10L, "widget"),   // exact → matches 1 at dist 0
      (11L, "wiget"),    // deletion of 'd' → matches 1 at dist 1
      (12L, "gdget"),    // deletion of 'a' → matches 2 at dist 1
      (13L, "rocket")    // 2 edits from sprocket → NO match
    ).toDF("id", "name")
    val got = Dedup.deletionNeighborhoodMatch(clean, "id", "name", dirty, "id", "name")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((10L, 1L, 0), (11L, 1L, 1), (12L, 2L, 1)))
  }

  test("repetitionStats: hand-checked counts on crafted docs") {
    val docs = Seq(
      (1L, "a a a a"),       // bigram "a a" ×3; trigram "a a a" ×2 (dup)
      (2L, "w x y z"),       // all distinct; every n-gram unique
      (3L, "solo"),          // one token: no bigrams, no trigrams
      (4L, "p q p q p q")    // "p q" ×3, "q p" ×2; both trigrams ×2
    ).toDF("doc_id", "text")
    val r = Text.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Int, Int, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    assert(r(1L) == ((4, 1, 3L, 2L)))
    assert(r(2L) == ((4, 4, 1L, 0L)))
    assert(r(3L) == ((1, 1, 0L, 0L)))
    // trigrams of doc 4: "p q p" ×2, "q p q" ×2 → 4 dup occurrences
    assert(r(4L) == ((6, 2, 3L, 4L)))
  }

  test("containmentPairs dfCap: exact dup still 1.0, hot-shingle pairs pruned") {
    // "x y z" is shared by every doc (hot); docs 1/2 are exact dups
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z a b c"),
      (3L, "x y z q r s"),
      (4L, "x y z t u v")
    ).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, minPct = 50, dfCap = Some(3L))
      .select(col("id_a"), col("id_b"), col("containment"))
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // the only shingle every doc shares ("x y z") has df 4 > cap → the
    // 3↔4 pairs (linked ONLY through it) vanish...
    assert(!capped.contains((3L, 4L)) && !capped.contains((4L, 3L)))
    // ...but exact dups keep full containment over the kept universe
    assert(capped((1L, 2L)) == 1.0 && capped((2L, 1L)) == 1.0)
    // uncapped, the hot shingle links everything
    val full = Dedup.containmentPairs(docs, "doc_id", "text", 3, 25)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(full.contains((3L, 4L)))
  }

  test("containmentPairs: subset doc contains fully, asymmetric, threshold cuts") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),                       // ⊂ doc 2's shingles
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five")                       // disjoint
    ).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(docs, "doc_id", "text", shingleSize = 3, minPct = 50)
      .select(col("id_a"), col("id_b"), col("containment"))
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // doc1 shingles: {abg, bgd} both in doc2 → containment 1.0
    assert(r((1L, 2L)) == 1.0)
    // doc2 has 4 shingles, 2 shared → 0.5 passes minPct=50 exactly
    assert(r((2L, 1L)) == 0.5)
    assert(!r.contains((1L, 3L)) && !r.contains((3L, 1L)))
    // raising the threshold drops the 0.5 direction but keeps 1.0
    val strict = Dedup.containmentPairs(docs, "doc_id", "text", 3, 60)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(strict == Set((1L, 2L)))
  }

  test("debounce: bursts drop, exact-cooldown gap keeps, keys independent") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 100L),  // first → kept
      (1L, ts(4), 101L),  // 4 min after previous → dropped
      (1L, ts(9), 102L),  // 5 min after PREVIOUS (not previous-kept) → kept
      (1L, ts(14), 103L), // exactly cooldown → kept (>= boundary)
      (2L, ts(1), 200L)   // other key unaffected by key 1's burst
    ).toDF("user_id", "ts", "event_id")
    val kept = graft.ext.TimeSeries.debounce(
      events, Seq("user_id"), "ts", "event_id", "5 minutes")
      .filter(col("kept")).select("event_id").as[Long].collect().toSet
    assert(kept == Set(100L, 102L, 103L, 200L))
    // inputs already carrying the verdict or working column are refused
    val tainted = events.withColumn("kept", lit(true))
    val e = intercept[IllegalArgumentException] {
      graft.ext.TimeSeries.debounce(tainted, Seq("user_id"), "ts", "event_id", "5 minutes")
    }
    assert(e.getMessage.contains("kept"))
    intercept[IllegalArgumentException] {
      graft.ext.TimeSeries.debounce(events.withColumn("__prev", lit(0L)),
        Seq("user_id"), "ts", "event_id", "5 minutes")
    }
  }

  test("throttle: anchor is the last KEPT event — trickle case diverges from debounce") {
    // events at t = 0, 4, 8, 12 minutes; cooldown 5 min
    val us = 60L * 1000000L
    val events = Seq(
      (1L, 0L * us, 10L), (1L, 4L * us, 11L), (1L, 8L * us, 12L), (1L, 12L * us, 13L),
      (2L, 0L * us, 20L)
    ).toDS()
    val kept = graft.ext.TimeSeries.throttle(events, 5L * us)
      .collect().map(_._3).toSet
    // throttle: keep t=0; drop t=4 (<5 from anchor 0); keep t=8 (>=5
    // from anchor 0); drop t=12 (<5 from anchor 8)
    assert(kept == Set(10L, 12L, 20L))
    // debounce on the same trickle keeps ONLY the first event of key 1
    // (every gap-to-previous is 4 min) — the semantic gap the Scaladoc
    // documents
    def ts(usv: Long) = new java.sql.Timestamp(usv / 1000)
    val df = events.map(e => (e._1, ts(e._2), e._3)).toDF("k", "ts", "id")
    val deb = graft.ext.TimeSeries.debounce(df, Seq("k"), "ts", "id", "5 minutes")
      .filter(col("kept")).select("id").as[Long].collect().toSet
    assert(deb == Set(10L, 20L))
    // driver-side sequential reference on pseudo-random data
    val rnd = (1 to 300).map { i =>
      val k = i % 5L
      val t = ((i * 2654435761L) % 1000) * us / 10 // deterministic scramble
      (k, t, i.toLong)
    }
    val got = graft.ext.TimeSeries.throttle(rnd.toDS(), 7L * us)
      .collect().sortBy(e => (e._1, e._2, e._3)).toSeq
    val expected = rnd.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      var anchor = Long.MinValue
      es.sortBy(e => (e._2, e._3)).filter { e =>
        val keep = anchor == Long.MinValue || e._2 - anchor >= 7L * us
        if (keep) anchor = e._2
        keep
      }
    }.sortBy(e => (e._1, e._2, e._3))
    assert(got == expected)
  }

  test("minhashNearDupAgainst: batch matches corpus twins, never itself or its own side") {
    val mk = (seed: Int) => (0 until 30).map(i => s"w${(i * 7 + seed) % 19}").mkString(" ")
    val corpus = Seq(
      (101L, mk(0)), (102L, mk(3)), (103L, mk(5))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, mk(0)),                        // exact twin of corpus 101
      (2L, mk(0).replace("w0", "zq")),    // near twin of 101
      (3L, "utterly different content entirely")  // no match
    ).toDF("doc_id", "text")
    val m = Dedup.minhashNearDupAgainst(corpus, batch, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val byBatch = m.groupBy(_._1)
    assert(byBatch(1L).exists(t => t._2 == 101L && t._3 == 1.0))
    assert(byBatch(2L).exists(_._2 == 101L))
    assert(!byBatch.contains(3L))
    // directional: every pair is batch×corpus — batch ids never appear
    // as matches, corpus ids never as probes
    assert(m.forall(t => t._1 < 100L && t._2 >= 100L))
  }

  test("minhashNearDupAgainstIndex: precomputed (sh, sig) rows give the" +
      " same matches as corpus text — the kept side never re-shingles") {
    val mk = (seed: Int) => (0 until 30).map(i => s"w${(i * 7 + seed) % 19}").mkString(" ")
    val corpus = Seq(
      (101L, mk(0)), (102L, mk(3)), (103L, mk(5))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, mk(0)), (2L, mk(0).replace("w0", "zq")), (3L, mk(3)),
      (4L, "utterly different content entirely")
    ).toDF("doc_id", "text")
    val viaText = Dedup.minhashNearDupAgainst(corpus, batch, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // the stream's stored-index contract: the kept side's index rows
    // and band rows round-trip THROUGH PARQUET with no text column, so
    // the per-batch plan cannot contain a kept-side
    // tokenize/shingle/minhash stage because no kept text exists
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndidx").toString
    Dedup.minhashIndexRows(corpus, "doc_id", "text",
      shingleSize = 3, numHashes = 32)
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val idx = spark.read.parquet(s"$tmp/docs")
    assert(idx.columns.sorted.toSeq == Seq("id", "sh", "sig"))
    Dedup.minhashBandRows(idx, bands = 16, rowsPerBand = 2)
      .write.mode("overwrite").parquet(s"$tmp/bands")
    val storedBands = spark.read.parquet(s"$tmp/bands")
    val batchIdx = Dedup.minhashIndexRows(batch, "doc_id", "text",
      shingleSize = 3, numHashes = 32)
    val viaIdx = Dedup.minhashVerifyCandidates(
      Dedup.minhashCandidatesAgainstBandRows(storedBands, batchIdx, 16, 2),
      idx, batchIdx, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIdx == viaText)
    assert(viaIdx.exists(t => t._1 == 1L && t._2 == 101L && t._3 == 1.0))
    assert(viaIdx.exists(t => t._1 == 3L && t._2 == 102L))
  }

  test("redactPii replaces every pattern; counts match occurrences") {
    val df = Seq(Tuple1(
      "mail a.b+c@x.co.uk or call 555-123-4567, ssn 111-22-3333, host 10.0.0.1 end"
    )).toDF("text")
    val pats = Text.piiPatterns.toMap
    val r = df.select(
      Text.redactPii(col("text")).as("red"),
      Text.piiCount(col("text"), pats("EMAIL")).as("ne"),
      Text.piiCount(col("text"), pats("PHONE")).as("np"),
      Text.piiCount(col("text"), pats("SSN")).as("ns"),
      Text.piiCount(col("text"), pats("IP")).as("ni")).head()
    assert(r.getAs[String]("red") ==
      "mail [EMAIL] or call [PHONE], ssn [SSN], host [IP] end")
    assert((r.getAs[Int]("ne"), r.getAs[Int]("np"), r.getAs[Int]("ns"),
      r.getAs[Int]("ni")) == ((1, 1, 1, 1)))
  }

  test("crossEntropyScores: add-one smoothing hand-check + hashed parity") {
    // ref "a b a b": uc(a)=2 uc(b)=2, |V|=2; cb("a b")=2, cb("b a")=1
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b"), // lp = ln(3/4) -> ce 0.2877
      (2L, "z z"), // unseen everything: lp = ln(1/(0+2)) -> ce 0.6931
      (3L, "b a"), // lp = ln(2/4) -> ce 0.6931
      (4L, "solo") // < 2 tokens: drops out
    ).toDF("doc_id", "text")
    val got = Text.crossEntropyScores(corpus, "doc_id", "text", ref, "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 0.2877), (2L, 1L, 0.6931), (3L, 1L, 0.6931)))
    // the hashed form is the same model with 8-byte keys
    val hashed = Text.crossEntropyScoresHashed(corpus, "doc_id", "text", ref, "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(hashed.toSeq == got.toSeq)
  }

  test("crossEntropyScoresHashed parity on the real corpus shape") {
    val docs = Seq.tabulate(60) { i =>
      val words = Seq("the", "cat", "dog", "runs", "fast", "slow", "a", "key")
      (i.toLong, Seq.tabulate(12)(j => words((i * 7 + j * 3) % words.size)).mkString(" "))
    }.toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val exact = Text.crossEntropyScores(docs, "doc_id", "text", ref, "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val hashed = Text.crossEntropyScoresHashed(docs, "doc_id", "text", ref, "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(exact == hashed)
  }

  test("cleanSegments: per-rule keep/drop and reassembly") {
    val df = Seq(
      (1L, "the cat sat on mat | tiny | bad slow segment here the | the dog ran far away"),
      (2L, "| leading empty | no stopwords here at all now |"),
      (3L, "")).toDF("doc_id", "text")
    val out = Text.cleanSegments(df, "doc_id", "text",
      delimPattern = "\\|", minTokens = 5,
      requireStopword = true, blocklist = Seq("slow"))
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    // doc 1: 4 segments; "tiny" (< 5 tokens) and the "slow" segment drop
    assert(out(0) == ((1L, 4, 2, "the cat sat on mat the dog ran far away")))
    // doc 2: empty fragments never count as segments; "leading empty" is
    // too short, and the 6-token segment carries no defaultStopwords word
    assert(out(1)._2 == 2)
    assert(out(1)._3 == 0)
    assert(out(1)._4 == "")
    // empty doc: zero segments
    assert(out(2) == ((3L, 0, 0, "")))
  }

  test("paragraphDedup: global keep-first, reassembly, hashed parity") {
    val df = Seq(
      (1L, "a b c d"),   // both chunks first occurrences
      (2L, "a b x y"),   // "a b" already seen in doc 1
      (3L, "c d"),       // fully duplicate -> collapses to ""
      (4L, "p q p q")    // within-doc duplicate: second "p q" drops
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text", chunkTokens = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, ""),
      (4L, 2L, 1L, "p q")))
    val hashed = Dedup.paragraphDedup(df, "doc_id", "text", chunkTokens = 2,
      hashKeys = true)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(hashed == out)
  }

  test("bpeMerges: raw counts, lexicographic tie-break, merged symbols recur") {
    // counts: (a,b)=3, (b,a)=3 -> tie broken to (a,b); round 2 then
    // sees the merged "a b" symbol as a first-class pair member
    val df = Seq((1L, "a b a b a"), (2L, "b a b")).toDF("doc_id", "text")
    val got = Text.bpeMerges(df, "doc_id", "text", numMerges = 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "a", "b", "a b", 3L),
      (2, "a b", "a", "a b a", 1L)))
  }

  test("bpeMerges: self-pair applies greedily left-to-right") {
    // "c c c c c": (c,c) raw count 4 (overlaps counted, as canonical
    // BPE does); the APPLY is non-overlapping -> ["c c","c c","c"]
    val df = Seq((1L, "c c c c c")).toDF("doc_id", "text")
    val got = Text.bpeMerges(df, "doc_id", "text", numMerges = 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    // round 2 ties ("c c","c c") with ("c c","c"); "c" < "c c"
    assert(got == Seq(
      (1, "c", "c", "c c", 4L),
      (2, "c c", "c", "c c c", 1L)))
  }

  test("bpeMerges: stops early when no pairs remain") {
    val df = Seq((1L, "x y"), (2L, "solo")).toDF("doc_id", "text")
    val got = Text.bpeMerges(df, "doc_id", "text", numMerges = 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    // round 1 merges the only pair; round 2 has no adjacent pairs left
    // ("x y" is one symbol now, "solo" never had two) -> 1 row, not 5
    assert(got == Seq((1, "x", "y", "x y", 1L)))
  }

  test("gopherRules: each named rule trips on its own violation") {
    val df = Seq(
      (1L, "the cat sat on a mat"),     // passes everything
      (2L, "cat"),                      // too short, no stopwords
      (3L, "the ### ... 123 456 999")   // symbol-heavy, non-alpha words
    ).toDF("doc_id", "text")
    val r = Text.gopherRules(col("text"),
      minWords = 5, maxWords = 10, minMeanLen = 2.0, maxMeanLen = 5.0,
      maxSymbolRatio = 0.2, minAlphaFrac = 0.6, minStopwords = 1)
    val out = df.select(col("doc_id"), r.as("r"))
      .select(col("doc_id"), col("r.words_in_range"),
        col("r.mean_word_len_in_range"), col("r.symbol_ratio_ok"),
        col("r.alpha_word_frac_ok"), col("r.enough_stopwords"), col("r.pass"))
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out(0) == ((1L, true, true, true, true, true, true)))
    assert(out(1) == ((2L, false, true, true, true, false, false)))
    // "###" = 3 symbol hits + "..." = 1 -> 4/6 > 0.2; alpha words 1/6
    assert(out(2) == ((3L, true, true, false, false, true, false)))
  }

  test("bpeApply: learned table segments the training corpus exactly") {
    val df = Seq((1L, "a b a b a"), (2L, "b a b")).toDF("doc_id", "text")
    // merges from the hand-checked training fixture above
    val seg = Text.bpeApply(df, "doc_id", "text",
      Seq(("a", "b"), ("a b", "a")))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(seg == Seq(
      (1L, Seq("a b", "a b a")),
      (2L, Seq("b", "a b"))))
    // applying zero merges is plain tokenization
    val none = Text.bpeApply(df, "doc_id", "text", Nil)
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(none == Seq(
      (1L, Seq("a", "b", "a", "b", "a")),
      (2L, Seq("b", "a", "b"))))
  }

  test("bm25TopK: hand-computed score, tf ordering, absent docs never rank") {
    val df = Seq((1L, "zebra zebra"), (2L, "zebra"), (3L, "ant bee"))
      .toDF("doc_id", "text")
    val got = Text.bm25TopK(df, "doc_id", "text",
      Seq(("z", Seq("zebra"))), k = 10)
      .as[(String, Int, Long, Double)].collect().sortBy(_._2).toSeq
    // N=3, df=2, avgdl=(2+1+2)/3 = 5/3; idf floor keeps the score positive
    val idf = math.log(1.0 + (3L - 2L + 0.5) / (2L + 0.5))
    def tfw(tf: Long, dl: Long) =
      (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (5.0 / 3)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(t => (t._3, t._2)) == Seq((1L, 1), (2L, 2))) // doc 3 absent
    assert(got(0)._4 == r4(idf * tfw(2L, 2L)))
    assert(got(1)._4 == r4(idf * tfw(1L, 1L)))
    // a pure stop-word query (df = N) still ranks via the +1 idf floor,
    // ties broken by doc_id
    val stop = Text.bm25TopK(
      Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text"),
      "doc_id", "text", Seq(("s", Seq("x"))), k = 2)
      .as[(String, Int, Long, Double)].collect().sortBy(_._2).toSeq
    assert(stop.map(_._3) == Seq(1L, 2L))
    assert(stop.forall(_._4 > 0.0))
  }

  test("bm25PrfTopK: expansion picks frequent new terms, df-guards stopword-like ones") {
    // feedback for 'cherry' is doc 1 only; its candidates are apple
    // (df 3 of 4 → 2·3 > 4, guarded out) and banana (df 2 → kept).
    // Pass 2 = {cherry, banana} ⇒ docs 1 and 2 rank, doc 3 (apple
    // only) must NOT — proof the guard actually dropped apple.
    val docs = Seq((1L, "apple banana cherry"), (2L, "apple banana date"),
      (3L, "apple fig"), (4L, "kiwi kiwi kiwi")).toDF("doc_id", "text")
    val r = Text.bm25PrfTopK(docs, "doc_id", "text",
      Seq(("q", Seq("cherry"))), k = 10, fbDocs = 2, fbTerms = 2)
      .select("rank", "doc_id").as[(Int, Long)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1, 1L), (2, 2L)))
  }

  test("retrievalEval: hand-computed recall, MRR, and nDCG") {
    // hits at ranks 1 and 3 of 3; 4 relevant total →
    // recall 2/4, MRR 1, DCG = 1 + 0.5, IDCG = 1 + 0.630930 + 0.5
    val results = Seq(("q", 1, 10L), ("q", 2, 20L), ("q", 3, 30L))
      .toDF("query_id", "rank", "doc_id")
    val qrels = Seq(("q", 10L), ("q", 30L), ("q", 40L), ("q", 50L))
      .toDF("query_id", "doc_id")
    val r = Text.retrievalEval(results, qrels, k = 3)
      .as[(String, Long, Long, Double, Double, Double)].collect()(0)
    assert(r == (("q", 4L, 2L, 0.5, 1.0, 0.703918)))
    // no relevant doc retrieved → zeros, not nulls
    val miss = Text.retrievalEval(results,
      Seq(("q", 99L)).toDF("query_id", "doc_id"), k = 3)
      .as[(String, Long, Long, Double, Double, Double)].collect()(0)
    assert(miss == (("q", 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("cusumHourly: exact alarm series on a hand-built level shift") {
    // counts [1,1,1,1,100,100]: tot=204, μ=34e6, k=17e6 →
    // dev = n·1e6 − 51e6; P(e6) = −50,−100,−150,−200,−151,−102;
    // running min caps at −200 → S(e6) = 0,0,0,0,49,98.
    // thresholdMul=2 ⇒ h=68e6: only the last hour alarms.
    val counts = Seq(1, 1, 1, 1, 100, 100)
    val rows = counts.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c)(s"2024-01-01 0$h:15:00")
    }
    val ev = rows.toDF("s").select(to_timestamp(col("s")).as("ts"))
    val r = TimeSeries.cusumHourly(ev, "ts", thresholdMul = 2L)
      .orderBy(col("hr"))
      .select("n", "cusum_scaled", "alarm")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r == Seq((1L, 0L, false), (1L, 0L, false), (1L, 0L, false),
      (1L, 0L, false), (100L, 49000000L, false), (100L, 98000000L, true)))
  }

  test("pairLift: hand-checked support/confidence/lift; support floor prunes") {
    // baskets: u1{a,b}, u2{a,b}, u3{a,c} — duplicates within a basket
    // must not double-count
    val df = Seq((1L, "a"), (1L, "b"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c")).toDF("u", "i")
    val r = Associations.pairLift(df, "u", "i")
      .orderBy("item_a", "item_b")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // (a,b): n_ab=2, n_a=3, n_b=2 → support 666666, conf 666666,
    //        lift 2·3·1e6/(3·2) = 1000000
    // (a,c): n_ab=1, n_c=1 → support 333333, conf 333333,
    //        lift 1·3·1e6/(3·1) = 1000000
    assert(r == Seq(
      ("a", "b", 2L, 3L, 2L, 666666L, 666666L, 1000000L),
      ("a", "c", 1L, 3L, 1L, 333333L, 333333L, 1000000L)))
    assert(Associations.pairLift(df, "u", "i", minSupport = 2)
      .count() == 1L)
  }

  test("ewmaHourly: integer recursion hand-checked; division truncates toward zero") {
    // key a hourly counts [2,1,1], alphaDen=3:
    //   s1 = 2e6
    //   s2 = 2e6 + (1e6−2e6)/3 = 2e6 − 333333 (exact −333333.3 truncates)
    //   s3 = 1666667 + (1e6−1666667)/3 = 1666667 − 222222 = 1444445
    // (floor division would give …666 / …445−1 — the test pins trunc)
    val ev = Seq(("a", "2024-01-01 00:10:00"), ("a", "2024-01-01 00:20:00"),
      ("a", "2024-01-01 01:00:00"), ("a", "2024-01-01 02:30:00"),
      ("b", "2024-01-01 00:00:00")).toDF("k", "s")
      .select(col("k"), to_timestamp(col("s")).as("ts"))
    val out = TimeSeries.ewmaHourly(ev, "k", "ts", alphaDen = 3L)
      .orderBy("key", "hr")
      .select("key", "n", "ewma_scaled")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", 2L, 2000000L), ("a", 1L, 1666667L),
      ("a", 1L, 1444445L), ("b", 1L, 1000000L)))
  }

  test("seasonalSpikes: clock-slot baselines, spike only vs the same hour-of-day") {
    // key a, hour-00 counts across three days: [1, 1, 10] → baseline
    // (12e6 div 3) = 4e6; only the 10 exceeds 2× baseline. A single
    // hour-01 count of 1 is its own baseline → never a spike.
    val rows =
      Seq.fill(1)("2024-01-01 00:05:00") ++ Seq.fill(1)("2024-01-02 00:05:00") ++
      Seq.fill(10)("2024-01-03 00:05:00") ++ Seq.fill(1)("2024-01-01 01:05:00")
    val ev = rows.toDF("s").select(lit("a").as("k"), to_timestamp(col("s")).as("ts"))
    val out = TimeSeries.seasonalSpikes(ev, "k", "ts")
      .orderBy("hr").select("n", "baseline_scaled", "is_spike")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 4000000L, false), (1L, 1000000L, false),
      (1L, 4000000L, false), (10L, 4000000L, true)))
  }

  test("blockedEntityPairs: fuzzy + exact conjuncts, blocking is a hard wall") {
    val recs = Seq(
      (1L, "anna", "A", "x"),  // pairs with 2 (lev 1, same block+exact)
      (2L, "annb", "A", "x"),
      (3L, "anna", "B", "x"),  // identical name, other block → never a pair
      (4L, "anna", "A", "y"),  // exact-attr mismatch → rejected
      (5L, "zzzz", "A", "x")   // lev too far → rejected
    ).toDF("id", "name", "blk", "seg")
    val r = Dedup.blockedEntityPairs(recs, "id", "blk",
      fuzzyRules = Seq(("name", 1)), exactCols = Seq("seg"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(r == Seq((1L, 2L, 1)))
  }

  test("farthestPointSample: hand-checked greedy order on a line") {
    // points at x = 0, 1, 10, 11, 30 → seed id1, then the far end
    // (30), then 11 (farthest from {0,30}), then the 1e8-tie between
    // ids 2 and 3 breaks to the lower id
    val pts = Seq((1L, Array(0.0f, 0f)), (2L, Array(1.0f, 0f)),
      (3L, Array(10.0f, 0f)), (4L, Array(11.0f, 0f)),
      (5L, Array(30.0f, 0f))).toDF("vec_id", "vec")
    val r = Similarity.farthestPointSample(pts, "vec_id", "vec", k = 5)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1, 1L, 0L), (2, 5L, 90000000000L),
      (3, 4L, 12100000000L), (4, 2L, 100000000L), (5, 3L, 100000000L)))
  }

  test("farthestPointSample: k beyond corpus stops early; duplicates land at 0") {
    val dup = Seq((7L, Array(1.0f)), (9L, Array(1.0f))).toDF("vec_id", "vec")
    val r = Similarity.farthestPointSample(dup, "vec_id", "vec", k = 5)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1, 7L, 0L), (2, 9L, 0L)))
  }

  test("ncdBytes: self near zero, unrelated near one, deterministic") {
    val a = ("the quick brown fox jumps over the lazy dog " * 20).getBytes("UTF-8")
    var s = 12345L
    val rnd = Array.tabulate(800) { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 40).toByte
    }
    assert(Similarity.ncdBytes(a, a) < 0.15)
    assert(Similarity.ncdBytes(a, rnd) > 0.5)
    assert(Similarity.ncdBytes(a, rnd) == Similarity.ncdBytes(a, rnd))
    // prefix-shared texts land between the extremes
    val b = (new String(a, "UTF-8").take(500) + "completely new tail content here")
      .getBytes("UTF-8")
    val mid = Similarity.ncdBytes(a, b)
    assert(mid > Similarity.ncdBytes(a, a) && mid < Similarity.ncdBytes(a, rnd))
    assert(Similarity.ncdBytes(Array.emptyByteArray, Array.emptyByteArray) == 0.0)
  }
}
