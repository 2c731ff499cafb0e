package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.Transform
import graft.gold.Star

/** Property-based invariants (SURVEY.md §5.2.3) over ScalaCheck-generated
  * frames (deterministically seeded — no flaky samples): dedup
  * idempotence, split completeness/disjointness, DQ metric ranges,
  * upsert last-writer-wins.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(String, Int, Option[Double])]] =
    Gen.listOfN(40, for {
      k <- Gen.oneOf("a", "b", "c", "d")
      seq <- Gen.choose(0, 10)
      v <- Gen.option(Gen.choose(-100.0, 100.0))
    } yield (k, seq, v))

  private def samples(n: Int): Seq[List[(String, Int, Option[Double])]] =
    (1 to n).map(i => rowsGen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("dedup is idempotent and keeps exactly one row per key") {
    samples(8).foreach { rows =>
      val df = rows.toDF("k", "seq", "v")
      val once = Transform.dedupLatestAgg(df, Seq("k"), Seq(col("seq"), col("v")))
      val twice = Transform.dedupLatestAgg(once, Seq("k"), Seq(col("seq"), col("v")))
      assert(once.count() == rows.map(_._1).distinct.size)
      assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
    }
  }

  test("schema split partitions the input: valid ∪ invalid = input, disjoint") {
    samples(8).foreach { rows =>
      val df = rows.toDF("k", "seq", "v")
      val (valid, invalid) = Transform.schemaSplit(df, Seq("k", "v"))
      assert(valid.count() + invalid.count() == rows.size)
      assert(valid.filter(col("v").isNull).count() == 0)
    }
  }

  test("DQ completeness and uniqueness are always in [0, 1]") {
    samples(8).foreach { rows =>
      val df = rows.toDF("k", "seq", "v")
      val metrics = dq.Analyzers.run(df,
        Seq(dq.Analyzers.completeness("v")), uniquenessCols = Seq("k"))
        .select("value").as[Double].collect()
      metrics.foreach(m => assert(m >= 0.0 && m <= 1.0, s"metric $m out of range"))
    }
  }

  test("upsert: incoming rows always win, untouched keys survive") {
    samples(8).sliding(2).foreach { case Seq(existing, incoming) =>
      // dropDuplicates picks an ARBITRARY row per key and may pick a
      // different one on each recomputation of the same plan — use the
      // deterministic max_by dedup so e/i are stable across actions
      val e = Transform.dedupLatestAgg(existing.toDF("k", "seq", "v"),
        Seq("k"), Seq(col("seq"), col("v")))
      val i = Transform.dedupLatestAgg(incoming.toDF("k", "seq", "v"),
        Seq("k"), Seq(col("seq"), col("v")))
      val merged = Star.upsert(e, i, Seq("k"))
      val eKeys = e.select("k").as[String].collect().toSet
      val iKeys = i.select("k").as[String].collect().toSet
      assert(merged.count() == (eKeys ++ iKeys).size)
      // every incoming row present verbatim in the merge
      assert(i.exceptAll(merged).isEmpty)
    }
  }

  test("count-min estimates never undercount any key") {
    val itemsGen = Gen.listOfN(120, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    (1 to 4).foreach { i =>
      val items = itemsGen.pureApply(Gen.Parameters.default, Seed(77L + i))
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sketch = items.toDF("item")
        .agg(graft.ext.CountMinAgg.cmsAgg(col("item"), 4).as("cms"))
      val est = truth.keys.toSeq.toDF("key").crossJoin(sketch)
        .select(col("key"),
          graft.ext.CountMinAgg.estimate(col("cms"), col("key"), 4).as("e"))
        .as[(String, Long)].collect().toMap
      truth.foreach { case (k, n) =>
        assert(est(k) >= n, s"CMS undercounted $k: ${est(k)} < $n")
      }
    }
  }

  test("simhash pigeonhole blocking is lossless for hamming <= maxDistance") {
    // any fingerprint pair within distance d must share one of the d+1
    // chunks — generate pairs by flipping up to d random bits and check
    // the blocked join finds them all (exactness of the design, not luck)
    val baseGen = for {
      fp <- Gen.choose(0L, (1L << 60) - 1)
      nFlips <- Gen.choose(0, 3)
      flips <- Gen.listOfN(nFlips, Gen.choose(0, 59))
    } yield (fp, flips.distinct.foldLeft(fp)((v, b) => v ^ (1L << b)))
    val pairs = (1 to 30).map(i =>
      baseGen.pureApply(Gen.Parameters.default, Seed(5L + i)))
    pairs.foreach { case (a, b) =>
      val nChunks = 4
      val chunkBits = 15
      val shared = (0 until nChunks).exists { c =>
        ((a >> (c * chunkBits)) & 0x7fffL) == ((b >> (c * chunkBits)) & 0x7fffL)
      }
      assert(shared, f"pair within distance 3 shares no chunk: $a%x / $b%x")
    }
  }

  test("range join equals the naive theta join on arbitrary intervals") {
    val caseGen = for {
      intervals <- Gen.listOfN(12, for {
        k <- Gen.choose(1, 3)
        s <- Gen.choose(0L, 20000L)
        len <- Gen.choose(0L, 9000L)
      } yield (k.toLong, s, s + len))
      points <- Gen.listOfN(25, for {
        k <- Gen.choose(1, 3)
        p <- Gen.choose(0L, 30000L)
      } yield (k.toLong, p))
    } yield (intervals, points)
    (1 to 5).foreach { i =>
      val (ivs, pts) = caseGen.pureApply(Gen.Parameters.default, Seed(900L + i))
      val intervals = ivs.zipWithIndex
        .map { case ((k, s, e), id) => (id.toLong, k, new java.sql.Timestamp(s * 1000), new java.sql.Timestamp(e * 1000)) }
        .toDF("iv_id", "k", "s", "e")
      val points = pts.zipWithIndex
        .map { case ((k, p), id) => (id.toLong, k, new java.sql.Timestamp(p * 1000)) }
        .toDF("p_id", "k", "p")
      val blocked = graft.operators.RangeJoin
        .pointInInterval(points, intervals, "k", "p", "s", "e",
          bucketWidthSec = 700L) // deliberately unaligned bucket width
        .select("p_id", "iv_id").as[(Long, Long)].collect().sorted
      val naive = points.join(intervals, Seq("k"))
        .filter(col("s") <= col("p") && col("p") <= col("e"))
        .select("p_id", "iv_id").as[(Long, Long)].collect().sorted
      assert(blocked.toSeq == naive.toSeq, s"case $i diverged")
    }
  }

  test("hash split is an exhaustive disjoint partition matching its buckets") {
    val idsGen = Gen.listOfN(80, Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))
    val cuts = Seq("train" -> 3277, "val" -> 3687, "test" -> 4096)
    (1 to 4).foreach { i =>
      val ids = idsGen.pureApply(Gen.Parameters.default, Seed(31L + i)).distinct
      val out = graft.ext.TrainPrep.hashSplit(ids.toDF("id"), "id", cuts)
        .withColumn("bucket", graft.ext.TrainPrep.splitBucket(col("id")))
        .as[(Long, String, Int)].collect()
      assert(out.length == ids.size) // one label per row: exhaustive + disjoint
      out.foreach { case (_, label, b) =>
        val expect = if (b < 3277) "train" else if (b < 3687) "val" else "test"
        assert(label == expect, s"bucket $b labeled $label")
        assert(b >= 0 && b < 4096)
      }
    }
  }

  test("sequence packing conserves tokens and bounds every bin start") {
    val gen = Gen.listOfN(30, for {
      g <- Gen.oneOf("a", "b")
      t <- Gen.choose(1L, 700L)
    } yield (g, t))
    (1 to 4).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(61L + i))
        .zipWithIndex.map { case ((g, t), id) => (g, id.toLong, t) }
      val packed = graft.ext.TrainPrep.packSequences(
        rows.toDF("g", "id", "n"), "g", "id", "n", 512)
      // token totals conserved per group
      val inTotals = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val outTotals = packed.groupBy("g").agg(sum("n").as("s"))
        .as[(String, Long)].collect().toMap
      assert(outTotals == inTotals)
      // every doc's bin is exactly its start offset divided by the budget
      packed.select("start_offset", "bin").as[(Long, Long)].collect()
        .foreach { case (off, bin) => assert(bin == off / 512 && off >= 0) }
    }
  }

  test("length-ratio prune never removes a qualifying jaccard pair") {
    val docGen = Gen.listOfN(8, Gen.oneOf("x", "y", "z", "w", "v"))
      .map(_.mkString(" "))
    (1 to 4).foreach { i =>
      val texts = (1 to 12).map(j =>
        (j.toLong, docGen.pureApply(Gen.Parameters.default, Seed(i * 100L + j))))
      val df = texts.toDF("doc_id", "text")
      val pruned = graft.ext.Dedup
        .jaccardNearDupPairs(df, "doc_id", "text", 1, 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // reference: same pairs without the prune (direct jaccard on sets)
      val sets = texts.map { case (id, t) => id -> t.split("\\s+").toSet }.toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
        if j >= 0.5
      } yield (a, b)).toSet
      assert(pruned == expect, s"prune changed results: $pruned vs $expect")
    }
  }

  test("mergeIntervals matches a driver-side sweep; merging is idempotent") {
    val ivGen: Gen[List[(Long, Long, Long)]] =
      Gen.listOfN(40, for {
        k <- Gen.choose(1L, 3L)
        s <- Gen.choose(0L, 500L)
        len <- Gen.choose(1L, 80L)
      } yield (k, s, s + len))
    (1 to 5).foreach { i =>
      val ivs = ivGen.pureApply(Gen.Parameters.default, Seed(700L + i))
      val df = ivs.toDF("k", "s", "e")
      val got = graft.operators.Intervals.mergeIntervals(df, "k", "s", "e")
        .select("key", "interval_start", "interval_end")
        .as[(Long, Long, Long)].collect().toSet
      // reference: per-key sort + linear sweep
      val expect = ivs.groupBy(_._1).flatMap { case (k, xs) =>
        val sorted = xs.map(x => (x._2, x._3)).sorted
        sorted.tail.foldLeft(List(sorted.head)) { case (acc @ (cs, ce) :: rest, (s, e)) =>
          if (s > ce) (s, e) :: acc else (cs, math.max(ce, e)) :: rest
        }.map { case (s, e) => (k, s, e) }
      }.toSet
      assert(got == expect, s"sample $i")
      // idempotence: merging the merged islands changes nothing
      val again = graft.operators.Intervals.mergeIntervals(
        got.toSeq.toDF("k", "s", "e"), "k", "s", "e")
        .select("key", "interval_start", "interval_end")
        .as[(Long, Long, Long)].collect().toSet
      assert(again == got, s"sample $i not idempotent")
    }
  }

  test("scd2: versions partition each key's timeline; count = change count") {
    val histGen: Gen[List[(Long, String, Int)]] =
      Gen.listOfN(30, for {
        k <- Gen.choose(1L, 4L)
        a <- Gen.oneOf("A", "B", "C")
        d <- Gen.choose(1, 400)
      } yield (k, a, d))
    (1 to 5).foreach { i =>
      val rows = histGen.pureApply(Gen.Parameters.default, Seed(800L + i))
        .zipWithIndex
        .map { case ((k, a, d), idx) =>
          (k, a, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + d)),
            idx.toLong)
        }
      val df = rows.toDF("k", "attr", "eff", "tie")
      val out = Star.scd2(df, "k", "attr", "eff", Seq("tie"))
        .select(col("k"), col("attr"), col("valid_from").cast("string"),
          col("valid_to").cast("string"), col("version"), col("is_current"))
        .as[(Long, String, String, String, Int, Boolean)].collect()
        .groupBy(_._1)
      rows.groupBy(_._1).foreach { case (k, xs) =>
        val ordered = xs.sortBy(x => (x._3.toString, x._4))
        val changes = 1 + ordered.sliding(2).count {
          case Seq(a, b) => a._2 != b._2; case _ => false }
        val vs = out(k).sortBy(_._5)
        assert(vs.length == changes, s"sample $i key $k")
        // exactly one current version, versions 1..n, ranges chain
        assert(vs.count(_._6) == 1 && vs.last._6)
        assert(vs.map(_._5).toSeq == (1 to changes))
        vs.sliding(2).foreach {
          case Array(a, b) => assert(a._4 == b._3, s"range chain broken: $a -> $b")
          case _ => ()
        }
        assert(vs.last._4 == "9999-12-31")
      }
    }
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(30, for {
        a <- Gen.choose(0L, 19L)
        b <- Gen.choose(0L, 19L) if a != b
      } yield (a, b))
    (1 to 6).foreach { i =>
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(900L + i))
      val got = graft.ext.Clusters
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val roots = parent.keys.map(v => v -> find(v)).toMap
      val expect = roots.map { case (v, r) =>
        v -> roots.collect { case (w, s) if s == r => w }.min
      }
      assert(got == expect, s"sample $i: $got vs $expect")
    }
  }

  test("applyChangelog equals a sequential driver-side replay on random changelogs") {
    val changesGen: Gen[List[(Long, String, Double, Long, String)]] =
      Gen.listOfN(60, for {
        k <- Gen.choose(1L, 12L)          // overlaps the 8-key base + inserts
        seq <- Gen.choose(1L, 1000L)
        op <- Gen.oneOf("I", "U", "D")
        v <- Gen.choose(-50.0, 50.0)
      } yield (k, s"n$k-$seq", v, seq, op))
    (1 to 8).foreach { i =>
      val changes = changesGen.pureApply(Gen.Parameters.default, Seed(99L + i))
        // the operator documents ties broken by op DESC; keep the
        // reference simple by deduping to unique (key, seq)
        .groupBy(c => (c._1, c._4)).map(_._2.head).toList
      val base = (1L to 8L).map(k => (k, s"base$k", k * 10.0)).toList
      // reference: fold the changelog in seq order over a driver map
      val expected = changes.sortBy(_._4).foldLeft(
        base.map(r => r._1 -> (r._2, r._3)).toMap) {
        case (snap, (k, name, v, _, op)) =>
          if (op == "D") snap - k else snap + (k -> ((name, v)))
      }
      val got = Transform.applyChangelog(
        base.toDF("k", "name", "v"),
        changes.toDF("k", "name", "v", "seq", "op"),
        Seq("k"), "seq", "op")
        .as[(Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected, s"sample $i")
    }
  }

  test("repeated spans: in-bounds, non-overlapping, maximal; excision removes exactly them") {
    val docGen = Gen.listOfN(10, for {
      id <- Gen.choose(1L, 1000000L)
      toks <- Gen.listOfN(20, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield (id, toks.mkString(" ")))
    (1 to 6).foreach { i =>
      val docs = docGen.pureApply(Gen.Parameters.default, Seed(31L + i))
        .groupBy(_._1).map(_._2.head).toList // unique ids
      val df = docs.toDF("doc_id", "text")
      val n = 3
      val spans = graft.ext.Dedup.repeatedNgramSpans(df, "doc_id", "text", n, 2)
        .as[(Long, Int, Int, Long)].collect()
      val lens = docs.map { case (id, t) => id -> t.split("\\s+").length }.toMap
      spans.foreach { case (id, s, e, g) =>
        assert(s >= 0 && e < lens(id) && e >= s + n - 1, s"sample $i bounds")
        // flagged positions within a merged span may have gaps (≤ n),
        // so n_grams is bounded by the position range, not equal to it
        assert(g >= 1 && g <= e - s - n + 2, s"sample $i gram count")
      }
      // spans within a doc never overlap and never touch (maximality:
      // adjacent flagged positions merged into one island)
      spans.groupBy(_._1).values.foreach { ss =>
        val sorted = ss.sortBy(_._2)
        sorted.sliding(2).foreach {
          case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1 + 1, s"sample $i overlap")
          case _ =>
        }
      }
      // excision drops exactly the flagged token count per doc
      val spansDf = graft.ext.Dedup.repeatedNgramSpans(df, "doc_id", "text", n, 2)
      val removed = graft.ext.Dedup.exciseSpans(df, spansDf, "doc_id", "text")
        .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
      val expected = spans.groupBy(_._1).view
        .mapValues(_.map { case (_, s, e, _) => e - s + 1 }.sum.toLong).toMap
      docs.foreach { case (id, _) =>
        assert(removed(id) == expected.getOrElse(id, 0L), s"sample $i doc $id")
      }
      // keepFirst flags a SUBSET of the full positions (keeper copies
      // spared), and the globally lowest doc id is never flagged (it is
      // keeper of every gram it repeats)
      val keepPos = graft.ext.Dedup
        .repeatedNgramSpans(df, "doc_id", "text", n, 2, keepFirst = true)
        .as[(Long, Int, Int, Long)].collect()
        .flatMap { case (id, s, e, _) => (s to e).map(id -> _) }.toSet
      val fullPos = spans
        .flatMap { case (id, s, e, _) => (s to e).map(id -> _) }.toSet
      assert(keepPos.subsetOf(fullPos), s"sample $i keepFirst not a subset")
      val minId = docs.map(_._1).min
      assert(!keepPos.exists(_._1 == minId), s"sample $i min doc flagged")
    }
  }

  test("token sharding: two-phase prefix sum equals one global window on arbitrary token mixes") {
    import org.apache.spark.sql.expressions.Window
    val docGen = Gen.listOfN(60, for {
      id <- Gen.choose(1L, 1000000L)
      nt <- Gen.oneOf(Gen.choose(1L, 5L), Gen.choose(100L, 4000L)) // mixed tiny/huge
    } yield (id, nt))
    (1 to 6).foreach { i =>
      val docs = docGen.pureApply(Gen.Parameters.default, Seed(17L + i))
        .groupBy(_._1).map(_._2.head).toList
      val df = docs.toDF("doc_id", "n_tokens")
      val target = 1000L
      val got = graft.ext.TrainPrep.tokenBalancedShards(df, "doc_id", "n_tokens", target)
        .select("doc_id", "tokens_before", "shard")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val h = substring(md5(col("doc_id").cast("string")), 1, 15)
      val brute = df
        .withColumn("tokens_before", coalesce(
          sum(col("n_tokens")).over(Window.orderBy(h.asc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("shard", floor(col("tokens_before") / target).cast("long"))
        .select("doc_id", "tokens_before", "shard")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == brute, s"sample $i")
    }
  }

  test("semantic dedup precision: every drop has a genuinely-similar lower-id witness") {
    val vecGen = Gen.listOfN(40, for {
      id <- Gen.choose(1L, 1000000L)
      seed <- Gen.choose(0, 10) // few seeds → guaranteed near-dup collisions
    } yield (id, seed))
    (1 to 4).foreach { i =>
      val rows = vecGen.pureApply(Gen.Parameters.default, Seed(53L + i))
        .groupBy(_._1).map(_._2.head).toList
      val rnd = new scala.util.Random(i)
      val emb = rows.map { case (id, s) =>
        // same seed → identical direction (cos 1); tiny per-row jitter
        (id, Array.tabulate(12)(d =>
          math.sin(s * 3.7 + d * 1.3).toFloat + 0.001f * rnd.nextFloat()))
      }.toDF("vec_id", "embedding")
      val out = graft.ext.Similarity.semanticDedup(emb, "vec_id", "embedding",
        k = 4, iters = 3, threshold = 0.999,
        scorer = graft.ext.VectorKernels.cosineF)
        .select("vec_id", "kept", "dup_of")
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      // exact global pairs (the cluster path may MISS pairs k-means
      // splits — recall is data-dependent — but must never INVENT one)
      val exact = graft.ext.Similarity.cosineNearDupPairs(emb, "vec_id",
        "embedding", 0.999, scorer = graft.ext.VectorKernels.cosineF,
        broadcastBuild = true)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      out.foreach {
        case (id, false, Some(w)) =>
          assert(w < id, s"sample $i: witness $w not lower than $id")
          assert(exact.contains((w, id)),
            s"sample $i: dropped $id cites $w but they are not near-dups")
        case (id, false, None) => fail(s"sample $i: dropped $id has no witness")
        case (_, true, w) => assert(w.isEmpty, s"sample $i: kept row has dup_of")
      }
    }
  }

  test("epoch plan lands within one document of every group's token target") {
    val docGen = Gen.listOfN(30, for {
      g <- Gen.oneOf("x", "y", "z")
      id <- Gen.choose(1L, 1000000L)
      nt <- Gen.choose(1L, 40L)
    } yield (g, id, nt))
    (1 to 6).foreach { i =>
      val docs = docGen.pureApply(Gen.Parameters.default, Seed(63L + i))
        .groupBy(_._2).map(_._2.head).toList
      val df = docs.toDF("lang", "doc_id", "n_tokens")
      val weights = Seq(("x", 0.5), ("y", 0.3), ("z", 0.2)).toDF("lang", "weight")
      val total = 500L
      val plan = graft.ext.TrainPrep.materializeMixture(
        df, "lang", "doc_id", "n_tokens", weights, total)
        .select("lang", "n_tokens", "n_repeats")
        .as[(String, Long, Long)].collect()
      val byLang = docs.groupBy(_._1)
      plan.groupBy(_._1).foreach { case (g, rows) =>
        if (byLang.contains(g)) {
          val w = Map("x" -> 0.5, "y" -> 0.3, "z" -> 0.2)(g)
          val target = math.floor(w * total).toLong
          val planned = rows.map(r => r._2 * r._3).sum
          val maxDoc = byLang(g).map(_._3).max
          // prefix fill stops at the first straddler, so the shortfall
          // is bounded by one document's tokens; never overshoots
          assert(planned <= target, s"sample $i group $g overshoot")
          assert(target - planned < maxDoc, s"sample $i group $g shortfall")
        }
      }
    }
  }

  test("refineTopK equals a driver-side exact re-rank of ANY candidate list") {
    val vecGen = Gen.listOfN(30, for {
      id <- Gen.choose(1L, 1000000L)
      vs <- Gen.listOfN(6, Gen.choose(-5.0, 5.0))
    } yield (id, vs.map(_.toFloat).toArray))
    (1 to 5).foreach { i =>
      val rows = vecGen.pureApply(Gen.Parameters.default, Seed(71L + i))
        .groupBy(_._1).map(_._2.head).toList.sortBy(_._1)
      val base = rows.toDF("vec_id", "embedding")
      val queries = rows.take(3)
        .map { case (id, v) => (id, v) }.toDF("query_id", "query_vec")
      // arbitrary candidate lists (NOT from any searcher) — refine's
      // contract is independent of who proposed the candidates
      val rnd = new scala.util.Random(100 + i)
      val cands = rows.take(3).flatMap { case (qid, _) =>
        rnd.shuffle(rows.map(_._1)).take(12).map(vid => (qid, vid))
      }.toDF("query_id", "vec_id")
      val got = graft.ext.Features.refineTopK(cands, base, queries, "embedding", 5)
        .select("query_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      // driver-side referee: exact negSquaredL2 rounded to 6, ordered
      // (score desc, vec_id asc), top 5 — over EXACTLY the candidates
      val byId = rows.toMap
      val candList = cands.as[(Long, Long)].collect()
      val expect = candList.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
        val q = byId(qid)
        cs.map(_._2).distinct
          .map { vid =>
            val v = byId(vid)
            val d = q.zip(v).map { case (a, b) =>
              val x = a.toDouble - b.toDouble; x * x
            }.sum
            (vid, BigDecimal(-d).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          }
          .sortBy { case (vid, s) => (-s, vid) }
          .take(5).zipWithIndex
          .map { case ((vid, _), r) => (qid, vid, r + 1) }
      }.toSet
      assert(got == expect, s"sample $i: got $got expect $expect")
    }
  }

  test("dsirLogWeights equals the closed-form driver computation on random corpora") {
    val docGen = Gen.listOfN(25, for {
      id <- Gen.choose(1L, 1000000L)
      words <- Gen.listOfN(5, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield (id, words.mkString(" ")))
    (1 to 5).foreach { i =>
      val docs = docGen.pureApply(Gen.Parameters.default, Seed(83L + i))
        .groupBy(_._1).map(_._2.head).toList.sortBy(_._1)
      val df = docs.toDF("doc_id", "text")
      val target = df.filter(col("doc_id") % 3 === 0)
      val got = graft.ext.TrainPrep.dsirLogWeights(df, "doc_id", "text", target)
        .as[(Long, Double)].collect().toMap

      def md5b(s: String): String = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        d.take(2).map(b => f"$b%02x").mkString.take(3)
      }
      def buckets(text: String): Seq[String] = {
        val t = text.trim.split("\\s+").toSeq
        if (t.length < 2) Nil
        else t.sliding(2).map(p => md5b(p.mkString(" "))).toSeq
      }
      val corpusB = docs.flatMap(d => buckets(d._2))
      val targetB = docs.filter(_._1 % 3 == 0).flatMap(d => buckets(d._2))
      val cc = corpusB.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tc = targetB.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (ctot, ttot) = (corpusB.size.toDouble, targetB.size.toDouble)
      docs.foreach { case (id, text) =>
        val lw = buckets(text).map { b =>
          math.log((tc.getOrElse(b, 0L) + 1) / (ttot + 4096.0)) -
            math.log((cc(b) + 1) / (ctot + 4096.0))
        }.sum
        val expect = BigDecimal(lw).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        assert((BigDecimal(got(id)) - expect).abs <= BigDecimal("0.0001"),
          s"sample $i doc $id: got ${got(id)} expect $expect")
      }
    }
  }

  test("k-anonymity enforcement is idempotent and every surviving class has >= k rows") {
    val gen = Gen.listOfN(60, for {
      city <- Gen.oneOf("a", "b", "c", "d", "e")
      band <- Gen.choose(0, 3)
    } yield (city, band))
    (1 to 6).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(90L + i))
        .zipWithIndex.map { case ((c, b), id) => (id.toLong, c, b) }
      val df = rows.toDF("id", "city", "band")
      val qi = Seq(col("city"), col("band"))
      val kept = graft.dq.Privacy.enforceKAnonymity(df, qi, k = 4)
      val sizes = kept.groupBy("city", "band").count()
        .as[(String, Int, Long)].collect()
      assert(sizes.forall(_._3 >= 4), s"sample $i: $sizes")
      // idempotence: suppression removes whole classes, so a second
      // pass finds every remaining class already >= k
      val twice = graft.dq.Privacy.enforceKAnonymity(kept, qi, k = 4)
      assert(twice.select("id").as[Long].collect().sorted.toSeq ==
        kept.select("id").as[Long].collect().sorted.toSeq)
    }
  }

  test("pageRank conserves bounded mass and equals a driver-side replay on random graphs") {
    val gen = Gen.listOfN(25, for {
      a <- Gen.choose(0L, 11L); b <- Gen.choose(0L, 11L) if a != b
    } yield if (a < b) (a, b) else (b, a))
    (1 to 6).foreach { i =>
      val pairs = gen.pureApply(Gen.Parameters.default, Seed(300L + i)).distinct
      if (pairs.nonEmpty) {
        val df = pairs.toDF("id_a", "id_b")
        val got = graft.ext.Graph.pageRankScaled(df, "id_a", "id_b", iters = 3)
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        // driver-side replay with identical integer arithmetic
        val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
          .view.mapValues(_.map(_._2)).toMap
        val n = adj.size
        val base = 15L * 1000000000L / (100L * n)
        var pr = adj.keys.map(_ -> 1000000000L / n).toMap
        (1 to 3).foreach { _ =>
          val in = adj.toSeq.flatMap { case (u, vs) =>
            vs.map(v => v -> (85L * pr(u)) / (100L * vs.length))
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          pr = adj.keys.map(u => u -> (base + in.getOrElse(u, 0L))).toMap
        }
        adj.keys.foreach { u =>
          assert(got(u) == ((adj(u).length.toLong, pr(u))), s"sample $i node $u")
        }
        // floor divisions only ever LEAK mass: total never exceeds scale
        assert(got.values.map(_._2).sum <= 1000000000L, s"sample $i")
      }
    }
  }

  test("shingle-string kernel ≡ the HOF chain it replaced, all token shapes") {
    // random token lists incl. repeats (dup grams), unicode, empties,
    // NULL tokens (concat_ws skips nulls WITHOUT a separator — the
    // kernel must match), and lengths straddling the n-gram threshold
    val tokGen: Gen[List[String]] = Gen.choose(0, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "cat", "Ωmega", null, "dog")))
    val cases = (1 to 30).map(i => tokGen.pureApply(Gen.Parameters.default, Seed(7L + i)))
    for (n <- Seq(1, 2, 3)) {
      val df = cases.map(Tuple1(_)).toDF("toks")
      val kernel = df.select(
        graft.ext.VectorKernels.shingleStrings(col("toks"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      val hof = df.select(
        array_distinct(
          when(size(col("toks")) >= n,
            transform(sequence(lit(1), size(col("toks")) - (n - 1)),
              i => concat_ws(" ", (0 until n).map(j =>
                element_at(col("toks"), i + j)): _*)))
            .otherwise(array())).as("g"))
        .as[Seq[String]].collect().toSeq
      assert(kernel == hof, s"n=$n")
    }
  }

  test("gram-bucket kernel ≡ the HOF chain + substring(md5) it replaced") {
    // multiplicity KEPT (dsir is a bag-of-buckets feature vector) and
    // value = substring(md5(concat_ws(' ', gram)), 1, prefixLen) — the
    // md5-prefix oracle convention must be bit-identical
    val tokGen: Gen[List[String]] = Gen.choose(0, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "cat", "Ωmega", null, "dog")))
    val cases = (1 to 30).map(i => tokGen.pureApply(Gen.Parameters.default, Seed(19L + i)))
    for (n <- Seq(1, 2, 3); p <- Seq(3, 15)) {
      val df = cases.map(Tuple1(_)).toDF("toks")
      val kernel = df.select(
        graft.ext.VectorKernels.gramBuckets(col("toks"), n, p).as("g"))
        .as[Seq[String]].collect().toSeq
      val hof = df.select(
        when(size(col("toks")) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(col("toks")) - (n - 1)),
            i => substring(md5(concat_ws(" ", slice(col("toks"), i, lit(n)))), 1, p)))
          .as("g"))
        .as[Seq[String]].collect().toSeq
      assert(kernel == hof, s"n=$n prefixLen=$p")
    }
  }

  test("text shingle-hash kernel ≡ shingleHashes(Text.tokens(·)), every whitespace and byte shape") {
    import graft.ext.{Text, VectorKernels}
    def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
    val shaped: Seq[Array[Byte]] = Seq(
      "", " ", "   ", "a", "  lead and trail  ", "\nleading newline", "\tleading tab",
      " \n after a space", "mixed \t\n  runs\u000b\fof\r white", "trailing crlf\r\n",
      "tab\t", "\n", "\t \n", "one two", "a b a b a b a b", "the cat the cat the cat",
      "Crème brûlée à la carte", "日本語 の テキスト 日本語 の テキスト",
      "emoji \ud83d\ude00 pair \ud83d\ude00 pair", "naïve\tcafé\nrésumé ",
      "\u00a0nbsp\u00a0is not a separator \u2003em").map(utf8) ++ Seq(
      Array[Byte](0xff.toByte, ' ', 'a'), // invalid lead byte
      Array[Byte]('a', ' ', 0xe2.toByte, 0x82.toByte, ' ', 'b'), // truncated 3-byte
      Array[Byte]('x', 0xe2.toByte, 0x82.toByte), // truncated at the end
      Array[Byte](0xf0.toByte, 0x9f.toByte, 0x98.toByte, '\n', 'z'), // truncated 4-byte
      Array[Byte](0x80.toByte, 0x80.toByte, ' ', 0xc3.toByte), // lone continuations
      Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte, ' ', 'q'), // encoded surrogate
      Array[Byte](0xc0.toByte, 0xaf.toByte, '\t', 0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte))
    // random byte strings over separators, ASCII, valid multi-byte
    // pieces and stray lead/continuation bytes
    val alphabet = Seq[Byte](' ', ' ', '\t', '\n', '\r', 0x0b, 0x0c, 'a', 'b', 'c',
      0xc3.toByte, 0xa9.toByte, 0xe2.toByte, 0x82.toByte, 0xac.toByte, 0xf0.toByte,
      0x9f.toByte, 0x98.toByte, 0x80.toByte, 0xff.toByte, 0xed.toByte, 0xa0.toByte)
    val random = (1 to 150).map(i => Gen.choose(0, 24).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(alphabet))).pureApply(Gen.Parameters.default, Seed(31L + i)).toArray)
    val rows = (shaped ++ random).map(b => Some(b)) :+ None
    val df = rows.map(Tuple1(_)).toDF("b").select(col("b").cast("string").as("t"))
    // the malformed bytes reach the kernels as they are
    assert(df.select(col("t").cast("binary")).as[Option[Array[Byte]]].collect()
      .map(_.map(_.toSeq)).toSeq == rows.map(_.map(_.toSeq)))
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(
        VectorKernels.textShingleHashes(col("t"), n).as("k"),
        VectorKernels.shingleHashes(Text.tokens(col("t")), n).as("c"))
        .as[(Option[Seq[Long]], Option[Seq[Long]])].collect().toSeq
      assert(got.last == ((None, None)), s"n=$n: null text")
      got.zip(rows).foreach { case ((k, c), b) =>
        assert(k == c, s"n=$n, bytes ${b.map(_.map(x => f"$x%02x").mkString(" "))}")
      }
    }
  }

  test("set-Jaccard kernel ≡ size(array_intersect) / size(array_union); both empty → null") {
    import graft.ext.VectorKernels
    val cases: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 1L, 2L, 2L), Seq(2L, 2L, 5L)), // duplicates count once
      (Seq(1L, null, 2L), Seq(null, 2L)), // null on both sides: one shared value
      (Seq(1L, null, null), Seq(1L)), // null on one side: in the union only
      (Seq(1L, 2L), Seq(3L, 4L)), // disjoint
      (Seq(7L, -7L, Long.MinValue, Long.MaxValue), Seq(Long.MaxValue, 7L, -7L, Long.MinValue)),
      (Seq(5L, 6L), Seq()), // one empty
      (Seq(), Seq(null)),
      (Seq(-1L, 0L, 1L), Seq(0L)))
    val random = (1 to 60).map { i =>
      val side = Gen.choose(0, 12).flatMap(len => Gen.listOfN(len,
        Gen.frequency(1 -> Gen.const(null: java.lang.Long),
          8 -> Gen.choose(-6L, 6L).map(x => x: java.lang.Long))))
      (side.pureApply(Gen.Parameters.default, Seed(101L + i)),
        side.pureApply(Gen.Parameters.default, Seed(701L + i)))
    }.filter { case (a, b) => a.nonEmpty || b.nonEmpty }
    val df = (cases ++ random).map { case (a, b) => (a.map(Option(_).map(_.longValue)),
      b.map(Option(_).map(_.longValue))) }.toDF("a", "b")
    val got = df.select(
      VectorKernels.setJaccard(col("a"), col("b")),
      size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double"))
      .as[(Double, Double)].collect().toSeq
    got.zipWithIndex.foreach { case ((k, c), i) => assert(k == c, s"case $i") }
    // two empty arrays: the interpreted form divides by zero, the kernel is null
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
    assert(empty.select(VectorKernels.setJaccard(col("a"), col("b"))).head().isNullAt(0))
    val e = intercept[Exception] {
      empty.select(size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")).collect()
    }
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
  }
}
