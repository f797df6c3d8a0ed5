package graft

/** Driver-contract smoke: every declared query runs and returns rows at
  * sf0.001, and the registry refuses duplicate query names.
  */
class SparkEntrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("building the registry fails with a named error listing duplicate query names") {
    def q(name: String) = queries.Query(name, (s, _) => s.range(1).toDF(), "SELECT 1")
    val err = the[IllegalArgumentException] thrownBy
      queries.Query.byName(Seq(q("q_a"), q("q_b"), q("q_a"), q("q_c"), q("q_c")))
    err.getMessage should include("duplicate query names in the registry: q_a, q_c")
    queries.Query.byName(Seq(q("q_a"), q("q_b"))).keySet shouldBe Set("q_a", "q_b")
  }

  test("bench sf1 growth gate flags a planted quadratic and nothing else") {
    val base = Seq("q_lin" -> 1.0, "q_quad" -> 0.5, "q_tiny" -> 0.01,
      "q54_video" -> 1.0, "q_new" -> 0.0)
    val sf1 = Seq("q_lin" -> 2.0,      // 2x on 10x data: healthy
      "q_quad" -> 45.0,                // 90x: the planted quadratic
      "q_tiny" -> 0.09,                // 9x but sub-second: noise-exempt
      "q54_video" -> 9.0,              // 9x codec CPU: exempt by name
      "q_new" -> 3.0)                  // no/zero baseline: skipped
    val bad = Bench.growthViolations(base, sf1, maxGrowth = 8.0)
    bad.length shouldBe 1
    bad.head should startWith("q_quad")
    // Bench.main exits nonzero on exactly this list (after the JSON is
    // printed and written, so a violation never loses the numbers)
    Bench.growthViolations(base, sf1.filterNot(_._1 == "q_quad"), 8.0) shouldBe empty
  }

  test("cross-round regression gate flags a planted slowdown and nothing else") {
    val prev = Map("q_slow" -> 1.0, "q_ok" -> 1.0, "q_tiny" -> 0.05,
      "q54_video" -> 1.0)
    val cur = Seq("q_slow" -> 2.0,     // 2x vs last round: a real regression
      "q_ok" -> 1.3,                   // 1.3x: under the 1.5x bar
      "q_tiny" -> 0.3,                 // 6x but sub-minSecs: noise-exempt
      "q54_video" -> 4.0,              // codec CPU: exempt by name
      "q_new" -> 9.0)                  // no previous record: skipped
    val bad = Bench.regressionViolations(prev, cur, maxRatio = 1.5)
    bad.length shouldBe 1
    bad.head should startWith("q_slow")
  }

  test("regression baseline pins to the round-start snapshot: a 2x slowdown is caught even after an interim bench run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_base_")
    def write(p: java.nio.file.Path, qSecs: Double): Unit =
      java.nio.file.Files.write(p,
        s"""{"metric":"total","value":$qSecs,"unit":"sec","queries":{"q_x":$qSecs}}"""
          .getBytes("UTF-8"))
    val base = dir.resolve("BENCH_BASE.json")   // round-start committed record
    val local = dir.resolve("BENCH_LOCAL.json") // mutable: every run overwrites
    write(base, 1.0)
    write(local, 1.0)
    val exists = (p: String) => java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    // an interim bench run already absorbed the slowdown into the
    // mutable record — the old ratchet (baseline = outFile) would now
    // compare 2.0 vs 2.0 and miss it
    write(local, 2.0)
    val resolved = Bench.resolveRegressionBase(
      None, Seq(base.toString, local.toString), exists)
    resolved shouldBe Some(base.toString)
    val prev = Bench.parseBenchQueries(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(resolved.get)), "UTF-8"))
    val bad = Bench.regressionViolations(prev, Seq("q_x" -> 2.0), maxRatio = 1.5)
    bad.length shouldBe 1
    bad.head should startWith("q_x")
    // the old behavior, reproduced: the mutable record hides it
    val prevMutable = Bench.parseBenchQueries(new String(
      java.nio.file.Files.readAllBytes(local), "UTF-8"))
    Bench.regressionViolations(prevMutable, Seq("q_x" -> 2.0), 1.5) shouldBe empty
    // explicit pin wins; missing pin falls through; nothing existing → None
    Bench.resolveRegressionBase(Some(local.toString),
      Seq(base.toString), exists) shouldBe Some(local.toString)
    Bench.resolveRegressionBase(Some(dir.resolve("nope.json").toString),
      Seq(base.toString), exists) shouldBe Some(base.toString)
    Bench.resolveRegressionBase(None, Seq(dir.resolve("nope.json").toString),
      exists) shouldBe None
  }

  test("a query that throws is reported failed, posts no timing, and others still time") {
    val qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "q_ok" -> ((s, _) => s.range(10).toDF()),
      "q_boom" -> ((s, _) => s.range(10).toDF().filter(
        org.apache.spark.sql.functions.raise_error(
          org.apache.spark.sql.functions.lit("forced failure")).isNull)),
      "q_flaky_looks_ok_now" -> ((s, _) => s.range(3).toDF()))
    val pass = Bench.timedPass(spark, sfDir, qs)
    pass.toMap.apply("q_boom") shouldBe -1.0
    pass.toMap.apply("q_ok") should be >= 0.0
    // min-of-3 fold: failing any pass marks the query failed (the q363
    // class crashed only on the SECOND same-JVM invocation)
    val flakyPasses = Seq(
      Seq("q_ok" -> 1.0, "q_flaky" -> 0.5),
      Seq("q_ok" -> 1.1, "q_flaky" -> -1.0),
      Seq("q_ok" -> 0.9, "q_flaky" -> 0.4))
    val (ok, failedNames) = Bench.foldPasses(flakyPasses)
    failedNames shouldBe Seq("q_flaky")
    ok shouldBe Seq("q_ok" -> 0.9)
  }

  test("sf1 growth gate is core-aware: low-core runs scale the allowed growth") {
    Bench.effectiveMaxGrowth(8.0, 32) shouldBe 8.0
    Bench.effectiveMaxGrowth(8.0, 64) shouldBe 8.0   // never tightens
    Bench.effectiveMaxGrowth(8.0, 8) shouldBe 32.0   // 32/8 relaxation
    Bench.effectiveMaxGrowth(8.0, 1) shouldBe 32.0   // 32/1 capped at 4x
    Bench.effectiveMaxGrowth(8.0, 0) shouldBe 8.0    // degenerate input
    // round-10 incident replayed: q322 1.50->19.16 s (12.8x) at 8 cores
    // tripped the fixed 8x gate with unchanged code; core-aware it passes
    val base = Seq("q322_dedup_index_lookup" -> 1.50)
    val sf1 = Seq("q322_dedup_index_lookup" -> 19.16)
    Bench.growthViolations(base, sf1, Bench.effectiveMaxGrowth(8.0, 32)).length shouldBe 1
    Bench.growthViolations(base, sf1, Bench.effectiveMaxGrowth(8.0, 8)) shouldBe empty
  }

  test("parseBenchQueries keeps the sf0.1 pass, not sf1_queries") {
    val line = """{"metric":"total","value":3.5,"unit":"sec","queries":{"q1_a":1.25,"q2_b":2.25},""" +
      """"sf":"/x/sf0.1","sf1_total":9.0,"sf1_queries":{"q1_a":4.5,"q2_b":4.5}}"""
    Bench.parseBenchQueries(line) shouldBe Map("q1_a" -> 1.25, "q2_b" -> 2.25)
  }

  /** The queries that reach a driver-budget gate ([[graft.core.Sizing]])
    * outside the graph family: the broadcast-or-shuffle joins of the
    * dedup, LM, term-stats and filter kernels, and components' local
    * union-find.
    */
  private val budgetGated = Seq("q25_dedup_ngram", "q41_dedup_components", "q58_semantic_dedup",
    "q65_lm_perplexity", "q67_tfidf_terms", "q75_adaptive_filter", "q81_pmi_collocations",
    "q123_containment", "q178_boilerplate", "q179_golden_records", "q181_dedup_keep_best",
    "q232_stupid_backoff", "q337_kneser_ney")

  test("driver-budget queries answer the same rows at the default budget and at 0") {
    // the driver-side paths are what the oracle hashes at this scale;
    // budget 0 forces every broadcast-free / distributed plan over the
    // same pipeline inputs
    val gated = queries.GraphQueries.all.map(q => q.name -> q.build) ++
      budgetGated.map(n => n -> SparkEntry.queries(n))
    for ((name, build) <- gated) withClue(s"$name: ") {
      val local = canon(build(spark, sfDir))
      withDriverRows(0)(canon(build(spark, sfDir))) shouldBe local
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      fn(spark, sfDir).count() should be > 0L
    }
  }
}
