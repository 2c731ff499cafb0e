package graft

/** Driver-contract invariants: the pieces the harness relies on but
  * nothing else exercises directly (Bench swallows per-query
  * exceptions, so a query that throws would silently time at ~0 s).
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without queries: $orphans")
  }

  test("docs/COVERAGE.md tracks every query, and cites no stale ones") {
    // the coverage map is hand-maintained; this guard keeps it from
    // silently rotting. Match grain: the qNN short prefix (the map
    // cites "q23b", the registry key is "q23b_ivf_recall").
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/COVERAGE.md")), "UTF-8")
    val cited = raw"\bq\d+[a-z]*\b".r.findAllIn(cov).toSet
    val shorts = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val unmapped = shorts -- cited
    assert(unmapped.isEmpty, s"queries missing a COVERAGE.md row: $unmapped")
    val stale = cited -- shorts
    assert(stale.isEmpty, s"COVERAGE.md cites queries that no longer exist: $stale")
  }

  /** Main-source lines, per file. */
  private lazy val mainSources: Map[String, IndexedSeq[String]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f.toString -> java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq)
      .toMap
  }

  /** `file:line` of every main-source line containing `token`. */
  private def hits(token: String): Seq[String] =
    mainSources.toSeq.sortBy(_._1).flatMap { case (f, ls) =>
      ls.zipWithIndex.collect { case (l, i) if l.contains(token) => s"$f:${i + 1}" }
    }

  /** `file:line` of every line of `def name(` in `file`, up to the next
    * top-level scaladoc or the object's closing brace.
    */
  private def body(file: String, name: String): Seq[String] = {
    val ls = mainSources(file)
    val start = ls.indexWhere(_.contains(s"def $name("))
    assert(start >= 0, s"$name is gone from $file")
    val end = ls.indexWhere(l => l.startsWith("  /**") || l == "}", start)
    (start until end).map(i => s"$file:${i + 1}")
  }

  test("kernel Columns bind expressions directly: no by-name function registry in main") {
    // a by-name kernel resolves only in the session it was registered
    // on — fresh newSession()s and foreachBatch clones miss it. The one
    // SQL-surface registration is GraftExtensions' injectFunction.
    assert(mainSources.nonEmpty)
    Seq("createOrReplaceTempFunction", "call_function(").foreach { t =>
      assert(hits(t).isEmpty, s"$t in main sources")
    }
    assert(hits("injectFunction(").map(_.takeWhile(_ != ':')) ==
      Seq("src/main/scala/graft/ext/VectorKernels.scala"))
  }

  test("streams launch through one AvailableNow runner and one versioned-publish loop") {
    // every graft.stream job starts in Jobs.runAvailableNow, and every
    // versioned-state stream resumes, skips replays and moves its
    // pointer in Jobs.runVersionedPublish — a hand-copied loop is how a
    // runner loses its replay skip and rewrites published versions
    val jobs = "src/main/scala/graft/stream/Jobs.scala"
    def onlyIn(found: Seq[String], runner: String): Unit =
      assert(found.size == 1 && body(jobs, runner).contains(found.head),
        s"expected only in $runner: $found")
    onlyIn(hits("Trigger.AvailableNow()"), "runAvailableNow")
    onlyIn(hits("var lastV ="), "runVersionedPublish")
    assert(hits("publishedVersion").isEmpty, "publishedVersion in main sources")
  }

  test("stream micro-batches land through one idempotent per-batch sink") {
    // a batch replayed after a crash must overwrite its own output, not
    // add to it: appends double on replay, and a hand-rolled per-batch
    // path drifts from the layout compaction and readers expect
    val appends = hits(".mode(\"append\")").filter(_.startsWith("src/main/scala/graft/stream/"))
    assert(appends.isEmpty, s"append-mode writes in graft.stream: $appends")
    val allowed = body("src/main/scala/graft/sinks/Writers.scala", "idempotentBatchWrite") ++
      body("src/main/scala/graft/stream/Jobs.scala", "runIndexIngestStream")
    val perBatch = Seq("batch=$batchId", "batch_id=$batchId").flatMap(hits)
      .filterNot(allowed.contains)
    assert(perBatch.isEmpty, s"per-batch paths outside idempotentBatchWrite: $perBatch")
  }

  test("shingle hashes of text come off the UTF-8 bytes, not a token array") {
    // shingleHashes(Text.tokens(c), n) allocates a String per token and
    // a token array per row; VectorKernels.textShingleHashes(c, n)
    // returns the same hashes without either
    val composed = mainSources.toSeq.sortBy(_._1).flatMap { case (f, ls) =>
      ls.indices.collect {
        case i if ls(i).contains("shingleHashes(") &&
          ls.slice(i, i + 2).mkString(" ").contains("tokens(") => s"$f:${i + 1}"
      }
    }
    assert(composed.isEmpty, s"shingleHashes over Text.tokens in main sources: $composed")
  }

  test("MinHash near-dup runs one band-row builder and one verify") {
    // the self-join, the batch-vs-corpus join and the stream all compose
    // minhashBandRows → minhashCandidatesAgainstBandRows →
    // minhashVerifyCandidates; a second call site is a hand-copied twin
    val dedup = "src/main/scala/graft/ext/Dedup.scala"
    def onlyIn(token: String, fn: String): Unit = {
      val found = hits(token).filterNot(_.contains("/ext/VectorKernels.scala:"))
      assert(found.size == 1 && body(dedup, fn).contains(found.head),
        s"expected $token only in $fn: $found")
    }
    onlyIn("VectorKernels.bandHashes(", "minhashBandRows")
    onlyIn("VectorKernels.setJaccard(", "minhashVerifyCandidates")
  }

  test("independent legs overlap through Pipeline.par, never a global-pool Future") {
    // a pool thread carries whichever session and local properties it
    // was made with, and a Future left behind by a failed sibling leg is
    // never cancelled or awaited
    val banned = """scala\.concurrent\.(\{[^}]*)?\bFuture\b|Implicits\.global""".r
    val found = mainSources.toSeq.sortBy(_._1).flatMap { case (f, ls) =>
      ls.zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).isDefined => s"$f:${i + 1}"
      }
    }
    assert(found.isEmpty, s"scala.concurrent.Future / Implicits.global in main sources: $found")
  }

  test("every medallion sink is an append, a dynamic overwrite or staged") {
    // a static overwrite deletes the old files before its write job
    // runs: cancelled as a Pipeline.par leg, or failing mid-job, it
    // leaves the table empty
    assert(mainSources.contains("src/main/scala/graft/pipeline/Medallion.scala"))
    val found = hits("parquetOverwrite(").filter(_.contains("/pipeline/Medallion.scala:"))
    assert(found.isEmpty, s"static overwrite in the medallion: $found")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs exception-free and non-empty on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val empties = Seq.newBuilder[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count() // throws -> test fails with the name visible
      if (n == 0) empties += name
    }
    // empty results are legal for threshold queries but worth knowing;
    // q12/q13 near-dup pairs can be empty at the tiniest scale
    val allowedEmpty = Set("q12_jaccard_pairs", "q13_minhash_pairs")
    val unexpected = empties.result().filterNot(allowedEmpty)
    assert(unexpected.isEmpty, s"unexpectedly empty results: $unexpected")
  }

  test("events(): nanosAsLong conf restored after read, frame still executes") {
    // pins the assumption Tables.withNanosAsLong relies on: the legacy
    // conf is only needed during schema resolution, and the lazily
    // executed frame survives the conf being restored. If a Spark
    // upgrade starts reading the conf at execution time, this fails.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val before = spark.conf.getOption(key) // default, not "true"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(spark.conf.getOption(key) == before, "conf leaked from events()")
    assert(ev.count() > 0) // executes AFTER the conf was restored
  }

  test("eventsStream: conf pinned set for the stream's lifetime; batch restores after") {
    // A per-read option can't scope the legacy flag (probed on Spark
    // 4.1.2: parquet schema resolution only consults the session conf),
    // so eventsStream deliberately leaves it set — micro-batch scans
    // re-resolve the file schema mid-stream. Pin that behavior, then
    // pin that the batch path still saves/restores on a dirty session.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val streamed = graft.stream.Jobs.runValidationStream(spark, "/root/testdata/sf0.001")
    assert(streamed.count() > 0)
    assert(spark.conf.get(key) == "true",
      "streaming session no longer holds the conf its micro-batches need")
    spark.conf.unset(key)
    assert(Tables.events(spark, "/root/testdata/sf0.001").count() > 0)
    assert(spark.conf.getOption(key) != Some("true"), "batch read left the conf set")
  }

  test("Bench.historyMedians parses the durable history (anomaly-retry reference)") {
    // the anomaly retry keys on this parse: a silent format mismatch
    // would disable the noise defense without anyone noticing
    val medians = Bench.historyMedians("/root/testdata/sf0.1", "32")
    assume(new java.io.File("docs/bench_history.jsonl").isFile)
    assert(medians.nonEmpty, "clean sf0.1/cpus=32 history must yield medians")
    assert(medians.contains("q01_dedup_latest_agg"))
    assert(medians.values.forall(v => v > 0 && v < 600))
    // a query name absent from history must simply be absent
    assert(!medians.contains("q9999_not_a_query"))
    // non-matching sf yields nothing rather than mixing scales
    assert(Bench.historyMedians("/no/such/sf", "32").isEmpty)
  }

  test("q152 audit reconciles with q147's aggregate funnel, stage by stage") {
    // the per-doc attribution and the attrition report are different
    // formulations over the same shared stages — the audit's verdict
    // census must reproduce every stage count AND the survivor id sum
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val audit = SparkEntry.queries("q152_funnel_audit")(spark, dir)
      .groupBy(col("verdict")).agg(
        count(lit(1)).as("n"), sum(col("doc_id")).as("ids"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val funnel = SparkEntry.queries("q147_web_funnel")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def n(v: String) = audit.get(v).map(_._1).getOrElse(0L)
    assert(n("1_blocklist") + n("2_quality") + n("3_duplicate") + n("kept")
      == funnel("0_extract")._1, "audit must cover every extracted page")
    assert(funnel("0_extract")._1 - n("1_blocklist") == funnel("1_blocklist")._1)
    assert(funnel("1_blocklist")._1 - n("2_quality") == funnel("2_quality")._1)
    assert(funnel("2_quality")._1 - n("3_duplicate") == funnel("3_exact_dedup")._1)
    assert(audit("kept")._2 == funnel("3_exact_dedup")._2,
      "kept ids must be exactly the dedup survivors")
  }
}
