package graft

import org.apache.spark.sql.functions._

import graft.functions.{Eval, Profile, Quality}
import graft.operators.{Graph, Similarity}

/** Round-7 additions: the k-group test family (ANOVA / Kruskal–Wallis /
  * Levene), Pettitt change-point, classification report + κ, Cramér's V,
  * NDCG@k, personalized PageRank, assortativity, and the constraint
  * audit — each checked against first-principles references computed
  * driver-side on planted data.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- one-way ANOVA ----

  test("anovaF matches the hand-computed F on planted groups") {
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(2, 4, 6).map(("b", _)) ++
      Seq(10, 12, 14).map(("c", _))).toDF("g", "v")
    val r = Profile.anovaF(df, "g", "v").collect().head
    r.getAs[Long]("k_groups") shouldBe 3L
    r.getAs[Long]("n") shouldBe 9L
    // means 2/4/12, grand 6: SSB = 3*(16+4+36) = 168; SSW = 2+8+8 = 18
    // F = (168/2)/(18/6) = 28
    r.getAs[Double]("ss_between") shouldBe 168.0 +- 1e-6
    r.getAs[Double]("ss_within") shouldBe 18.0 +- 1e-6
    r.getAs[Double]("f_stat") shouldBe 28.0 +- 1e-6
  }

  test("anovaF: k=1 or zero within-variance emits NULL f_stat") {
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    Profile.anovaF(one, "g", "v").collect().head.isNullAt(4) shouldBe true
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)).toDF("g", "v")
    Profile.anovaF(const, "g", "v").collect().head.isNullAt(4) shouldBe true
  }

  // ---- Kruskal–Wallis ----

  test("kruskalWallis matches the tie-free hand computation") {
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(4, 5, 6).map(("b", _))).toDF("g", "v")
    val r = Profile.kruskalWallis(df, "g", "v").collect().head
    // ranks 1..6: R_a=6, R_b=15; H = 12/42*(36/3+225/3) - 21 = 26.1428571 - 21
    val h = 12.0 / 42.0 * (12.0 + 75.0) - 21.0
    r.getAs[Double]("h_stat") shouldBe h +- 1e-6
    r.getAs[Double]("h_corrected") shouldBe h +- 1e-6 // no ties: C = 1
  }

  test("kruskalWallis: tie correction kicks in and all-tied emits NULL") {
    val tied = (Seq(1, 1, 2).map(("a", _)) ++ Seq(1, 2, 2).map(("b", _))).toDF("g", "v")
    val r = tied.transform(Profile.kruskalWallis(_, "g", "v")).collect().head
    // avg ranks: value 1 -> 2, value 2 -> 5; R_a = 9, R_b = 12
    // H = 12/42*(27+48) - 21; ties t=3 twice: C = 1 - 48/210
    val h = 12.0 / 42.0 * (81.0 / 3.0 + 144.0 / 3.0) - 21.0
    val c = 1.0 - 48.0 / 210.0
    r.getAs[Double]("h_stat") shouldBe h +- 1e-6
    r.getAs[Double]("h_corrected") shouldBe (h / c) +- 1e-6
    val all = Seq(("a", 5.0), ("b", 5.0), ("a", 5.0)).toDF("g", "v")
    Profile.kruskalWallis(all, "g", "v").collect().head.isNullAt(3) shouldBe true
  }

  // ---- Levene (Brown–Forsythe) ----

  test("levene: identical deviation multisets give F = 0; a spread shift is flagged") {
    val same = (Seq(1, 2, 3).map(("a", _)) ++ Seq(11, 12, 13).map(("b", _))).toDF("g", "v")
    same.transform(Profile.levene(_, "g", "v")).collect().head
      .getAs[Double]("f_stat") shouldBe 0.0 +- 1e-9
    val wide = (Seq(1, 2, 3).map(("a", _)) ++ Seq(-8, 12, 32).map(("b", _))).toDF("g", "v")
    wide.transform(Profile.levene(_, "g", "v")).collect().head
      .getAs[Double]("f_stat") should be > 1.0
  }

  // ---- Pettitt ----

  test("pettitt finds a planted step at its boundary with the hand-computed K and p") {
    val series = ((1 to 5).map(d => (d.toLong, 1.0)) ++
      (6 to 10).map(d => (d.toLong, 2.0))).toDF("day", "m")
    val r = Profile.pettitt(series, "day", "m").collect().head
    // half-unit ranks: value 1 -> r2=6, value 2 -> r2=16; U_t = S2_t - 11t
    // U_5 = 30 - 55 = -25 is the max |U|
    r.getAs[Long]("n") shouldBe 10L
    r.getAs[Long]("t_star") shouldBe 5L
    r.getAs[Long]("k_stat") shouldBe 25L
    val p = 2.0 * math.exp(-6.0 * 625.0 / (1000.0 + 100.0))
    r.getAs[Double]("p_approx") shouldBe p +- 1e-9
  }

  test("pettitt: argmax ties resolve to the earliest point") {
    // symmetric V-shape: |U| ties at both shoulders; MIN(o) must win
    val series = Seq((1L, 1.0), (2L, 2.0), (3L, 1.0), (4L, 2.0)).toDF("day", "m")
    val rows = Profile.pettitt(series, "day", "m").collect()
    rows.length shouldBe 1
  }

  // ---- classification report ----

  test("classificationReport matches the hand-built confusion table and kappa") {
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "a"))
      .toDF("actual", "predicted")
    val rows = Eval.classificationReport(df, "actual", "predicted").collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    val a = rows("a"); val b = rows("b"); val ov = rows("all")
    a.getAs[Long]("n_actual") shouldBe 3L
    a.getAs[Long]("n_pred") shouldBe 3L
    a.getAs[Long]("tp") shouldBe 2L
    a.getAs[Double]("precision") shouldBe 2.0 / 3.0 +- 1e-8
    a.getAs[Double]("f1") shouldBe 2.0 / 3.0 +- 1e-8
    b.getAs[Double]("recall") shouldBe 0.5 +- 1e-9
    ov.getAs[Double]("accuracy") shouldBe 0.6 +- 1e-9
    // pe = (3*3 + 2*2)/25 = 0.52; kappa = (0.6-0.52)/0.48
    ov.getAs[Double]("kappa") shouldBe (0.08 / 0.48) +- 1e-8
    ov.getAs[Double]("precision") shouldBe (2.0 / 3.0 + 0.5) / 2.0 +- 1e-8
  }

  test("classificationReport: prediction-only classes get a row with NULL recall") {
    val df = Seq(("a", "a"), ("a", "c")).toDF("actual", "predicted")
    val c = Eval.classificationReport(df, "actual", "predicted").collect()
      .find(_.getAs[String]("label") == "c").get
    c.getAs[Long]("n_actual") shouldBe 0L
    c.getAs[Long]("n_pred") shouldBe 1L
    c.getAs[Double]("precision") shouldBe 0.0
    c.isNullAt(c.fieldIndex("recall")) shouldBe true
    // perfect prediction: kappa = 1
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("actual", "predicted")
    Eval.classificationReport(perfect, "actual", "predicted").collect()
      .find(_.getAs[String]("section") == "overall").get
      .getAs[Double]("kappa") shouldBe 1.0 +- 1e-9
  }

  // ---- Cramér's V ----

  test("cramersV: perfect association scores 1, independence scores 0") {
    val dep = (Seq.fill(3)(("a", "1")) ++ Seq.fill(2)(("b", "2"))).toDF("x", "y")
    val vDep = Eval.cramersV(dep, Seq("x", "y")).collect().head
    vDep.getAs[Double]("cramers_v") shouldBe 1.0 +- 1e-9
    vDep.getAs[Long]("levels_x") shouldBe 2L
    val ind = Seq(("a", "1"), ("a", "2"), ("b", "1"), ("b", "2")).toDF("x", "y")
    Eval.cramersV(ind, Seq("x", "y")).collect().head
      .getAs[Double]("chi2") shouldBe 0.0 +- 1e-6
    // single-level column: association undefined -> NULL v
    val flat = Seq(("a", "1"), ("a", "2")).toDF("x", "y")
    val r = Eval.cramersV(flat, Seq("x", "y")).collect().head
    r.isNullAt(r.fieldIndex("cramers_v")) shouldBe true
  }

  // ---- NDCG@k ----

  test("ndcgAtK matches the literal-weight hand computation on a rigged ranking") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val corpus = Seq(
      (0L, v(1f, 0f), "L"),      // the query itself (self-excluded)
      (1L, v(1f, 0f), "L"),      // cos 1.0, relevant -> rank 1
      (2L, v(0.9f, 0.436f), "M"),// cos ~0.9, irrelevant -> rank 2
      (3L, v(0.8f, 0.6f), "L"))  // cos 0.8, relevant -> rank 3
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.ndcgAtK(corpus, corpus.filter(col("vec_id") === 0L), k = 3)
      .collect().head
    r.getAs[Long]("n_rel") shouldBe 2L
    val w = Similarity.ndcgWeightsNano(3)
    val expected = (w(0) + w(2)).toDouble / (w(0) + w(1)).toDouble
    r.getAs[Double]("ndcg") shouldBe expected +- 1e-9
    // all-relevant prefix is the ideal ranking: ndcg = 1
    val all = corpus.withColumn("label", lit("L"))
    Similarity.ndcgAtK(all, all.filter(col("vec_id") === 0L), k = 3)
      .collect().head.getAs[Double]("ndcg") shouldBe 1.0 +- 1e-12
  }

  test("ndcgWeightsNano: monotone decreasing, rank-1 weight is exactly 1e9") {
    val w = Similarity.ndcgWeightsNano(10)
    w.head shouldBe 1000000000L
    w.sliding(2).foreach { case Seq(a, b) => a should be > b }
    w(2) shouldBe 500000000L // 1/log2(4) = 1/2
  }

  // ---- personalized PageRank ----

  test("personalizedPageRank on a path graph matches two hand-unrolled rounds") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("node")
    val pr = Graph.personalizedPageRank(edges, "a", "b", seeds, iters = 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("pr")).toMap
    // r1: a = 0.15, b = 0.85; r2: a = 0.15 + .85*(.85/2), b = .85*.15,
    // c = .85*(.85/2)
    pr(1L) shouldBe 0.51125 +- 1e-9
    pr(2L) shouldBe 0.1275 +- 1e-9
    pr(3L) shouldBe 0.36125 +- 1e-9
  }

  test("personalizedPageRank refuses when no seed touches the graph") {
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, "a", "b", Seq(99L).toDF("node"))
    }
    ex.getMessage should include("no seed")
  }

  // ---- assortativity ----

  test("assortativity: star graph is exactly -1, regular graph is NULL") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r = Graph.assortativity(star, "a", "b").collect().head
    r.getAs[Long]("n_directed_edges") shouldBe 6L
    r.getAs[Long]("n_nodes") shouldBe 4L
    r.getAs[Double]("assortativity") shouldBe -1.0 +- 1e-9
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val c = Graph.assortativity(cycle, "a", "b").collect().head
    c.isNullAt(c.fieldIndex("assortativity")) shouldBe true
  }

  // ---- constraint audit ----

  test("Quality.audit: each declared check verdicts correctly on planted violations") {
    val df = Seq(
      (Some(1L), Some(5.0), "F"),
      (Some(2L), Some(-1.0), "X"),
      (Some(2L), None: Option[Double], "O")).toDF("id", "v", "status")
    val ref = Seq(1L).toDF("k")
    import Quality._
    val rows = audit(df, Seq(
      Completeness("v"), Uniqueness("id"), MinBound("v", 0.0),
      MaxBound("v", 100.0), NonNegative("v"), InSet("status", Seq("F", "O")),
      ForeignKey("id", ref, "k")))
      .collect().map(r => r.getAs[String]("check") -> r).toMap
    rows("completeness").getAs[Boolean]("passed") shouldBe false
    rows("completeness").getAs[Double]("metric") shouldBe (2.0 / 3.0) +- 1e-8
    rows("uniqueness").getAs[Boolean]("passed") shouldBe false
    rows("min_bound").getAs[Boolean]("passed") shouldBe false
    rows("min_bound").getAs[Double]("metric") shouldBe -1.0
    rows("max_bound").getAs[Boolean]("passed") shouldBe true
    rows("non_negative").getAs[Double]("metric") shouldBe 1.0
    rows("in_set").getAs[Boolean]("passed") shouldBe false
    rows("foreign_key").getAs[Double]("metric") shouldBe 2.0 // both id=2 rows orphan
    rows("foreign_key").getAs[Boolean]("passed") shouldBe false
  }

  // ---- PR-AUC ----

  test("groupedPrAuc matches the sklearn step interpolation by hand") {
    val df = Seq((0.9, true), (0.8, false), (0.7, true), (0.6, true), (0.5, false))
      .map { case (s, p) => ("g", s, p) }.toDF("g", "score", "label")
    val r = Eval.groupedPrAuc(df, "g", "label", "score").collect().head
    r.getAs[Long]("n_pos") shouldBe 3L
    // thresholds desc: P@1=1, P@3=2/3, P@4=3/4 at the three positives
    r.getAs[Double]("pr_auc") shouldBe ((1.0 + 2.0 / 3.0 + 3.0 / 4.0) / 3.0) +- 1e-8
    // all-positive group: AP = 1; no-positive group: NULL
    val edge = Seq(("a", 0.9, true), ("a", 0.1, true), ("b", 0.9, false))
      .toDF("g", "score", "label")
    val rows = Eval.groupedPrAuc(edge, "g", "label", "score").collect()
      .map(r2 => r2.getAs[String]("g") -> r2).toMap
    rows("a").getAs[Double]("pr_auc") shouldBe 1.0 +- 1e-9
    rows("b").isNullAt(rows("b").fieldIndex("pr_auc")) shouldBe true
  }

  // ---- Welch ANOVA ----

  test("welchAnova at k=2 equals Welch's t squared with the same dof") {
    val df = (Seq(1, 2, 3, 4).map(("a", _)) ++ Seq(10, 20, 30, 40).map(("b", _)))
      .toDF("g", "v")
    val w = Profile.welchAnova(df, "g", "v").collect().head
    val t = Profile.welchT(df, "g", "a", "b", "v", unitScale = 1000000L).collect().head
    val tStat = t.getAs[Double]("t_stat")
    w.getAs[Double]("w_stat") shouldBe (tStat * tStat) +- 1e-4
    w.getAs[Double]("dof") shouldBe t.getAs[Double]("dof") +- 1e-4
    w.getAs[Long]("k_groups") shouldBe 2L
  }

  test("welchAnova excludes degenerate groups and reports them") {
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(10, 20, 30).map(("b", _)) ++
      Seq(("c", 5), ("d", 7), ("d", 7))).toDF("g", "v") // c: n=1; d: zero variance
    val w = Profile.welchAnova(df, "g", "v").collect().head
    w.getAs[Long]("k_groups") shouldBe 2L
    w.getAs[Long]("k_excluded") shouldBe 2L
    w.getAs[Long]("n") shouldBe 6L
  }

  // ---- Jaccard link prediction ----

  test("jaccardLinkPrediction: path and cycle hand cases, adjacency excluded") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = Graph.jaccardLinkPrediction(path, "a", "b").collect()
    p.length shouldBe 1
    p.head.getAs[Long]("node_a") shouldBe 1L
    p.head.getAs[Long]("node_b") shouldBe 3L
    p.head.getAs[Long]("cn") shouldBe 1L
    p.head.getAs[Double]("jaccard") shouldBe 1.0 +- 1e-9
    // 4-cycle: (1,3) and (2,4) share BOTH neighbors: jaccard 1
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val c = Graph.jaccardLinkPrediction(cyc, "a", "b").collect()
    c.length shouldBe 2
    c.foreach(_.getAs[Double]("jaccard") shouldBe 1.0 +- 1e-9)
    // triangle: every candidate pair is already an edge -> empty
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    Graph.jaccardLinkPrediction(tri, "a", "b").count() shouldBe 0L
    // hub cap: no wedge survives when the only common neighbor is hot
    Graph.jaccardLinkPrediction(path, "a", "b", maxDeg = 1L).count() shouldBe 0L
  }

  // ---- TxTable data skipping ----

  test("TxTable stats: range reads prune files and stay row-exact; no stats = no pruning") {
    import graft.sources.TxTable
    val table = s"/tmp/graft_spec_txk_${System.nanoTime()}"
    TxTable.drop(spark, table)
    val df = spark.range(1, 1001).selectExpr("id AS k", "CAST(id * 2 AS DOUBLE) AS v")
      .repartitionByRange(8, col("k"))
    TxTable.commit(df, table, statsCols = Seq("k"))
    val allFiles = TxTable.filesOf(spark, table, 1)
    TxTable.statsOf(spark, table, 1).map(_._2).distinct shouldBe Seq("k")
    val kept = TxTable.keptFiles(spark, table, 1, col("k").between(100.0, 200.0))
    kept.size should be < allFiles.size // pruning actually happened
    val got = TxTable.scan(spark, table, col("k").between(100.0, 200.0))
    canon(got) shouldBe canon(
      TxTable.read(spark, table).filter(col("k") >= 100 && col("k") <= 200))
    // a column without recorded stats never prunes
    TxTable.keptFiles(spark, table, 1, col("v").between(0.0, 1.0)).size shouldBe allFiles.size
    TxTable.drop(spark, table)
  }

  test("TxTable stats: append carries the parent's stats; pruning still exact across both") {
    import graft.sources.TxTable
    val table = s"/tmp/graft_spec_txk2_${System.nanoTime()}"
    TxTable.drop(spark, table)
    def part(lo: Int, hi: Int) =
      spark.range(lo, hi).selectExpr("id AS k").repartitionByRange(4, col("k"))
    TxTable.commit(part(1, 501), table, statsCols = Seq("k"))
    TxTable.commit(part(501, 1001), table, statsCols = Seq("k"))
    val stats = TxTable.statsOf(spark, table, 2)
    stats.map(_._1).toSet shouldBe TxTable.filesOf(spark, table, 2).toSet // every file covered
    val kept = TxTable.keptFiles(spark, table, 2, col("k").between(1.0, 50.0))
    kept.size should be < TxTable.filesOf(spark, table, 2).size
    TxTable.scan(spark, table, col("k").between(1.0, 50.0)).count() shouldBe 50L
    TxTable.drop(spark, table)
  }

  // ---- Brier decomposition ----

  test("brierDecomposition: Murphy identity holds and a perfect scorer has zero reliability") {
    // perfectly calibrated, perfectly sharp: pred == label exactly
    val perfect = Seq((0.95, true), (0.95, true), (0.05, false), (0.05, false))
      .toDF("pred", "label")
    val p = Eval.brierDecomposition(perfect, "label", "pred", nBins = 10).collect().head
    // conf 0.95 vs acc 1.0 and 0.05 vs 0.0: reliability = 0.05^2
    p.getAs[Double]("reliability") shouldBe 0.0025 +- 1e-8
    p.getAs[Double]("uncertainty") shouldBe 0.25 +- 1e-9
    p.getAs[Double]("resolution") shouldBe 0.25 +- 1e-9
    p.getAs[Double]("brier") shouldBe
      (p.getAs[Double]("reliability") - p.getAs[Double]("resolution")
        + p.getAs[Double]("uncertainty")) +- 2e-9
    // a constant base-rate predictor: zero resolution, zero reliability
    val flat = Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))
      .toDF("pred", "label")
    val f = Eval.brierDecomposition(flat, "label", "pred", nBins = 10).collect().head
    f.getAs[Double]("reliability") shouldBe 0.0 +- 1e-9
    f.getAs[Double]("resolution") shouldBe 0.0 +- 1e-9
    f.getAs[Double]("brier") shouldBe 0.25 +- 1e-9
  }

  // ---- Nelson-Aalen hazard ----

  test("hazardCurve matches the hand-computed H(t) and variance") {
    val obs = Seq(("g", 1L, 1), ("g", 1L, 0), ("g", 2L, 1)).toDF("g", "t", "e")
    val rows = graft.operators.Behavior.hazardCurve(obs, "g", "t", "e")
      .collect().map(r => r.getAs[Long]("t") -> r).toMap
    rows(1L).getAs[Long]("n_risk") shouldBe 3L
    rows(1L).getAs[Double]("cum_hazard") shouldBe (1.0 / 3.0) +- 1e-6
    rows(2L).getAs[Long]("n_risk") shouldBe 1L
    rows(2L).getAs[Double]("cum_hazard") shouldBe (1.0 / 3.0 + 1.0) +- 1e-6
    rows(2L).getAs[Double]("hazard_var") shouldBe (1.0 / 9.0 + 1.0) +- 1e-8
  }

  // ---- vocabulary coverage ----

  test("vocabCoverage: hand-counted ladder, probes past the vocabulary clamp to it") {
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val rows = graft.functions.TermStats.vocabCoverage(docs, probes = Seq(1L, 2L, 10L))
      .collect().map(r => r.getAs[Long]("k") -> r).toMap
    rows(1L).getAs[Double]("coverage") shouldBe 0.5 +- 1e-9
    rows(2L).getAs[Double]("coverage") shouldBe (5.0 / 6.0) +- 1e-9
    rows(10L).getAs[Long]("rank_used") shouldBe 3L
    rows(10L).getAs[Double]("coverage") shouldBe 1.0 +- 1e-9
  }

  // ---- z-order + manifest skipping ----

  test("TxTable stats over a z-ordered layout prune files on BOTH dimensions") {
    import graft.sources.TxTable
    val table = s"/tmp/graft_spec_txz_${System.nanoTime()}"
    TxTable.drop(spark, table)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    TxTable.commit(
      graft.functions.Layout.zorderLayout(li, "l_orderkey", "l_partkey", 16),
      table, statsCols = Seq("l_orderkey", "l_partkey"))
    val total = TxTable.filesOf(spark, table, 1).size
    TxTable.keptFiles(spark, table, 1, col("l_orderkey").between(1000.0, 3000.0)).size should be < total
    TxTable.keptFiles(spark, table, 1, col("l_partkey").between(10.0, 60.0)).size should be < total
    // and the pruned reads stay row-exact on both dims
    TxTable.scan(spark, table, col("l_orderkey").between(1000.0, 3000.0)).count() shouldBe
      li.filter(col("l_orderkey").between(1000, 3000)).count()
    TxTable.scan(spark, table, col("l_partkey").between(10.0, 60.0)).count() shouldBe
      li.filter(col("l_partkey").between(10, 60)).count()
    TxTable.drop(spark, table)
  }

  test("Quality.audit: a clean table passes every check") {
    val df = Seq((1L, 5.0, "F"), (2L, 7.0, "O")).toDF("id", "v", "status")
    import Quality._
    val out = audit(df, Seq(Completeness("v"), Uniqueness("id"),
      MinBound("v", 0.0), InSet("status", Seq("F", "O")),
      ForeignKey("id", Seq(1L, 2L).toDF("k"), "k"))).collect()
    out.length shouldBe 5
    all(out.map(_.getAs[Boolean]("passed"))) shouldBe true
  }
}
