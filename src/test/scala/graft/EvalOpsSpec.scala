package graft

import org.apache.spark.sql.functions._

import graft.functions.{Eval, Sketches}
import graft.operators.{Dedup, Graph}

/** Round-6 eval/metrics family: grouped AUC, JS divergence,
  * calibration/ECE, lift table, MI matrix, modularity, KMV sketch,
  * content-defined chunk dedup — each verified against first-principles
  * references computed driver-side on small planted inputs.
  */
class EvalOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- grouped AUC ----

  test("groupedAuc: perfect separation 1.0, inverted 0.0, all-tied 0.5, one-class NULL") {
    val rows =
      // g=sep: positives strictly above negatives
      (1 to 10).map(i => ("sep", i % 2 == 0, if (i % 2 == 0) 10.0 + i else 1.0 + i)) ++
      // g=inv: positives strictly below (negatives offset past any overlap)
      (1 to 10).map(i => ("inv", i % 2 == 0, if (i % 2 == 0) 1.0 + i else 20.0 + i)) ++
      // g=tie: every score identical -> AUC exactly 1/2 by tie-averaging
      (1 to 10).map(i => ("tie", i % 2 == 0, 7.0)) ++
      // g=one: a single class -> NULL
      (1 to 5).map(i => ("one", true, i.toDouble))
    val out = Eval.groupedAuc(rows.toDF("g", "label", "score"), "g", "label", "score")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    out("sep") shouldBe Some(1.0)
    out("inv") shouldBe Some(0.0)
    out("tie") shouldBe Some(0.5)
    out("one") shouldBe None
  }

  test("groupedAuc matches the brute-force pair count with half-credit ties") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map(_ => ("g", rnd.nextBoolean(), rnd.nextInt(20).toDouble))
    val auc = Eval.groupedAuc(rows.toDF("g", "label", "score"), "g", "label", "score")
      .collect().head.getDouble(3)
    val pos = rows.filter(_._2).map(_._3); val neg = rows.filterNot(_._2).map(_._3)
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    auc shouldBe (wins / (pos.size * neg.size) +- 1e-9)
  }

  // ---- Jensen–Shannon ----

  test("jsDivergence: 0 on identical, ln 2 on disjoint, finite on one-side-empty bins") {
    val same = ((1 to 100).map(i => ("a", i.toDouble)) ++
      (1 to 100).map(i => ("b", i.toDouble))).toDF("g", "v")
    Eval.jsDivergence(same, "g", "a", "b", "v", 10.0)
      .collect().head.getDouble(0) shouldBe 0.0
    val disj = ((1 to 100).map(i => ("a", i.toDouble)) ++
      (1 to 100).map(i => ("b", 1000.0 + i))).toDF("g", "v")
    Eval.jsDivergence(disj, "g", "a", "b", "v", 10.0)
      .collect().head.getDouble(0) shouldBe (math.log(2) +- 1e-6)
    // one bin exists only on side a: still finite, between 0 and ln 2
    val partial = ((1 to 90).map(i => ("a", i.toDouble / 10)) ++
      (1 to 10).map(i => ("a", 100.0 + i)) ++
      (1 to 100).map(i => ("b", i.toDouble / 10))).toDF("g", "v")
    val jsd = Eval.jsDivergence(partial, "g", "a", "b", "v", 1.0)
      .collect().head.getDouble(0)
    assert(jsd > 0.0 && jsd < math.log(2))
  }

  test("jsDivergence matches a driver-side reference on random data") {
    val rnd = new scala.util.Random(43)
    val rows = (1 to 2000).map(_ =>
      (if (rnd.nextBoolean()) "a" else "b", rnd.nextGaussian() * 10))
    val got = Eval.jsDivergence(rows.toDF("g", "v"), "g", "a", "b", "v", 5.0)
      .collect().head.getDouble(0)
    val bins = rows.groupBy(r => (math.floor(r._2 / 5.0).toLong))
    val na = rows.count(_._1 == "a").toDouble; val nb = rows.count(_._1 == "b").toDouble
    val ref = bins.values.map { g =>
      val ca = g.count(_._1 == "a"); val cb = g.count(_._1 == "b")
      val p = ca / na; val q = cb / nb; val m = (p + q) / 2
      val ta = if (ca > 0) 0.5 * p * math.log(p / m) else 0.0
      val tb = if (cb > 0) 0.5 * q * math.log(q / m) else 0.0
      ta + tb
    }.sum
    got shouldBe (ref +- 1e-5)
  }

  // ---- calibration / ECE ----

  test("calibration bins conf vs acc exactly; ece matches the weighted gap sum") {
    // bin 0: preds ~0.05, none positive (gap 0.05); bin 9: preds 0.95, all positive (gap 0.05)
    val rows = (1 to 50).map(i => (false, 0.05)) ++ (1 to 50).map(i => (true, 0.95))
    val bins = Eval.calibration(rows.toDF("label", "pred"), "label", "pred", 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    bins(0L) shouldBe ((50L, 0L, 0.05, 0.0))
    bins(9L) shouldBe ((50L, 50L, 0.95, 1.0))
    val e = Eval.ece(rows.toDF("label", "pred"), "label", "pred", 10)
      .collect().head
    e.getDouble(1) shouldBe (0.05 +- 1e-9) // both bins gap 0.05, weights 1/2 each
  }

  test("calibration clamps out-of-range predictions into the edge bins") {
    val rows = Seq((true, -0.2), (false, 1.3), (true, 0.5))
    val bins = Eval.calibration(rows.toDF("label", "pred"), "label", "pred", 10)
      .collect().map(r => r.getLong(0)).toSet
    bins shouldBe Set(0L, 9L, 5L)
  }

  // ---- lift table ----

  test("liftTable: top-loaded positives give front-bucket lift ~2 and last cum_lift exactly 1") {
    // 200 rows, scores 200..1 descending by id; positives = top 100 exactly
    val rows = (1 to 200).map(i => (i.toLong, (201 - i).toDouble, i <= 100))
    val out = Eval.liftTable(rows.toDF("id", "score", "label"),
        "label", "score", "id", nBuckets = 10, unitScale = 1L, bucketWidth = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).sortBy(_._1)
    out.length shouldBe 10
    out.foreach(_._2 shouldBe 20L) // equal buckets
    out.take(5).foreach(_._3 shouldBe 20L) // first half all positive
    out.head._4 shouldBe 2.0 // 100% rate vs 50% base
    out.last._4 shouldBe 1.0 // full cumulative = base
  }

  test("liftTable is deterministic under reshuffling (total order by score desc, id)") {
    val rnd = new scala.util.Random(47)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(10).toDouble, rnd.nextBoolean()))
    def run(df: org.apache.spark.sql.DataFrame) =
      Eval.liftTable(df, "label", "score", "id", 10, 1000000L, 100000000L)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    val a = run(rows.toDF("id", "score", "label").repartition(13))
    val b = run(scala.util.Random.shuffle(rows).toDF("id", "score", "label").repartition(3))
    a shouldBe b
  }

  // ---- mutual information ----

  test("miMatrix: MI(X,X)=H(X), MI independent = 0, matches driver reference") {
    val rnd = new scala.util.Random(53)
    val rows = (1 to 1000).map { _ =>
      val x = rnd.nextInt(4); val y = rnd.nextInt(3)
      (s"x$x", s"x$x", s"y$y") // c2 duplicates c1; c3 independent
    }
    val out = Eval.miMatrix(rows.toDF("c1", "c2", "c3"), Seq("c1", "c2", "c3"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // H(X) from the sample
    val n = rows.size.toDouble
    val h = rows.groupBy(_._1).values.map { g =>
      val p = g.size / n; -p * math.log(p)
    }.sum
    out(("c1", "c2")) shouldBe (h +- 1e-5)
    // independent columns: MI >= 0 always, near 0 for a random draw
    assert(out(("c1", "c3")) >= 0.0 && out(("c1", "c3")) < 0.02)
    // driver-side exact reference for the (c1, c3) pair
    val joint = rows.groupBy(r => (r._1, r._3)).view.mapValues(_.size).toMap
    val mx = rows.groupBy(_._1).view.mapValues(_.size).toMap
    val my = rows.groupBy(_._3).view.mapValues(_.size).toMap
    val ref = joint.map { case ((x, y), c) =>
      (c / n) * math.log(n * c / (mx(x).toDouble * my(y)))
    }.sum
    out(("c1", "c3")) shouldBe (ref +- 1e-5)
  }

  test("miMatrix counts NULL as its own category level") {
    val rows = Seq((Some("a"), "u"), (None, "v"), (None, "v"), (Some("b"), "u"))
    val out = Eval.miMatrix(rows.toDF("x", "y"), Seq("x", "y")).collect().head
    // null x perfectly predicts y=v here: MI > 0 and finite
    assert(!out.isNullAt(3) && out.getDouble(3) > 0.0)
  }

  // ---- modularity ----

  test("modularity: two clean cliques labeled correctly score 1/2 - sum((d_c/2m)^2)") {
    // two disjoint triangles; communities = the triangles
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a", "b")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L), (10L, 1L), (11L, 1L), (12L, 1L))
      .toDF("node", "community")
    val r = Graph.modularity(pairs, "a", "b", labels).collect().head
    r.getLong(0) shouldBe 6L // m
    r.getLong(1) shouldBe 2L
    // each community: e_c = 3, d_c = 6, m = 6 -> 3/6 - (6/12)^2 = 0.25; total 0.5
    r.getDouble(2) shouldBe (0.5 +- 1e-6)
    // the WRONG labeling (split one triangle) must score strictly lower
    val bad = Seq((1L, 0L), (2L, 0L), (3L, 1L), (10L, 1L), (11L, 1L), (12L, 1L))
      .toDF("node", "community")
    val rb = Graph.modularity(pairs, "a", "b", bad).collect().head
    assert(rb.getDouble(2) < 0.5)
  }

  test("modularity canonicalizes edges and drops self-loops; unlabeled nodes are singletons") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 9L), (2L, 9L)).toDF("node", "community") // 3,4 unlabeled
    val r = Graph.modularity(pairs, "a", "b", labels).collect().head
    r.getLong(0) shouldBe 2L // (1,2) once + (3,4); self-loop dropped
    // communities: {1,2} internal edge, singleton 3, singleton 4 (no internal)
    r.getLong(1) shouldBe 3L
  }

  test("proportionTestBh: planted effect rejected, null effects kept, degenerate group excluded from m") {
    import graft.functions.Eval
    // "big": 50% vs 25% success on 400/400 — a massive effect;
    // "n1".."n3": identical arms (z = 0, p ≈ 1);
    // "degen": every row succeeds → se = 0, no test
    def rows(g: String, nt: Int, xt: Int, nc: Int, xc: Int) =
      (1 to nt).map(i => (g, true, i <= xt)) ++ (1 to nc).map(i => (g, false, i <= xc))
    val df = (rows("big", 400, 200, 400, 100) ++
      rows("n1", 200, 50, 200, 50) ++ rows("n2", 200, 50, 200, 50) ++
      rows("n3", 200, 50, 200, 50) ++ rows("degen", 100, 100, 100, 100))
      .toDF("g", "arm", "flag")
    val out = Eval.proportionTestBh(df, "g", "arm", "flag").collect()
      .map(r => r.getString(0) -> r).toMap
    out("big").getBoolean(9) shouldBe true      // rejected
    out("big").getInt(7) shouldBe 1             // smallest p
    Seq("n1", "n2", "n3").foreach { g =>
      out(g).getBoolean(9) shouldBe false
      out(g).getDouble(6) should be > 0.9       // p ≈ 1 at z = 0
    }
    out("degen").isNullAt(5) shouldBe true      // no z
    out("degen").isNullAt(7) shouldBe true      // no rank
    out("degen").getBoolean(9) shouldBe false
    out("big").getLong(8) shouldBe 4L           // m excludes the degenerate group
    // the planted effect's p really is tiny
    out("big").getDouble(6) should be < 1e-6
  }

  test("modularity: an unlabeled node whose id equals a community label stays a singleton") {
    // labels emit community 9 for {1,2}; node 9 itself is UNLABELED —
    // an untagged coalesce fallback would silently merge node 9 into
    // community 9, skewing d_tot (regression for the round-6 advice)
    val pairs = Seq((1L, 2L), (9L, 3L)).toDF("a", "b")
    val labels = Seq((1L, 9L), (2L, 9L)).toDF("node", "community")
    val r = Graph.modularity(pairs, "a", "b", labels).collect().head
    r.getLong(0) shouldBe 2L
    // {1,2} labeled + singleton 9 + singleton 3 = three communities
    r.getLong(1) shouldBe 3L
    // community {1,2}: e=1, d=2 → 1/2 − (2/4)² = 0.25; singletons 9,3:
    // e=0, d=1 each → −(1/4)² twice = −0.125; Q = 0.125
    r.getDouble(2) shouldBe (0.125 +- 1e-6)
  }

  // ---- KMV ----

  test("kmvState merge of shard states is bit-identical to the direct build") {
    val rnd = new scala.util.Random(59)
    val rows = (1 to 5000).map(_ => (s"g${rnd.nextInt(3)}", rnd.nextInt(800).toLong))
    val df = rows.toDF("g", "v")
    val direct = Sketches.kmvState(df, Seq("g"), "v", 64)
    val parts = (0 until 4).map(i => Sketches.kmvState(
      df.filter(pmod(col("v"), lit(4)) === i), Seq("g"), "v", 64))
    val merged = Sketches.mergeKmvStates(parts, Seq("g"), 64)
    val dm = direct.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val mm = merged.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    dm shouldBe mm
  }

  test("kmvEstimate is exact below k and within ~3 sigma above it") {
    val small = (1 to 40).map(i => ("s", i.toLong)).toDF("g", "v")
    val es = Sketches.kmvEstimate(Sketches.kmvState(small, Seq("g"), "v", 64), Seq("g"))
      .collect().head
    es.getInt(1) shouldBe 40
    es.getDouble(2) shouldBe 40.0
    // saturated: 10k distinct, k=64 -> relative sigma ~ 1/sqrt(62) ~ 12.7%
    val big = (1 to 10000).map(i => ("b", i.toLong)).toDF("g", "v")
    val eb = Sketches.kmvEstimate(Sketches.kmvState(big, Seq("g"), "v", 64), Seq("g"))
      .collect().head.getDouble(2)
    assert(math.abs(eb - 10000) / 10000 < 0.4, s"estimate $eb too far from 10000")
  }

  // ---- isotonic (PAV) ----

  /** Classic sequential pool-adjacent-violators on (x, weight, ySum)
    * triples sorted by x — the reference the minimax form must match.
    */
  private def pavReference(cells: Seq[(Long, Long, Double)]): Seq[(Long, Double)] = {
    case class Block(var w: Double, var s: Double, val xs: scala.collection.mutable.Buffer[Long])
    val stack = scala.collection.mutable.Stack[Block]()
    for ((x, w, s) <- cells.sortBy(_._1)) {
      var b = Block(w.toDouble, s, scala.collection.mutable.Buffer(x))
      while (stack.nonEmpty && stack.top.s / stack.top.w >= b.s / b.w) {
        val t = stack.pop()
        b = Block(t.w + b.w, t.s + b.s, t.xs ++ b.xs)
      }
      stack.push(b)
    }
    stack.toSeq.reverse.flatMap(b => b.xs.map(x => x -> b.s / b.w))
  }

  test("isotonicFit matches sequential PAV and is nondecreasing") {
    val rnd = new scala.util.Random(61)
    val rows = (1 to 2000).map { _ =>
      val x = rnd.nextInt(40).toLong
      // noisy increasing trend so the fit has real pooled blocks
      val y = if (rnd.nextDouble() < 0.2 + 0.015 * x) 1 else 0
      ("g", x, y)
    }
    val out = Eval.isotonicFit(rows.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => (r.getDouble(1).toLong, r.getDouble(4))).sortBy(_._1)
    // nondecreasing
    out.sliding(2).foreach { case Array((_, a), (_, b)) => assert(a <= b + 1e-12) }
    // matches PAV (y quantized to micro-units exactly: y is 0/1)
    val cells = rows.groupBy(_._2).map { case (x, g) =>
      (x, g.size.toLong, g.map(_._3.toDouble * 1e6).sum)
    }.toSeq
    val ref = pavReference(cells).toMap
    out.foreach { case (x, f) => f shouldBe (ref(x) / 1e6 +- 1e-6) }
  }

  test("isotonicFit returns y_mean unchanged when the means are already monotone") {
    val rows = Seq(("g", 1L, 10), ("g", 1L, 20), ("g", 2L, 30), ("g", 3L, 40))
    val out = Eval.isotonicFit(rows.toDF("g", "x", "y"), "g", "x", "y",
        unitScaleY = 1L)
      .collect().map(r => r.getDouble(1) -> (r.getDouble(3), r.getDouble(4))).toMap
    out(1.0) shouldBe ((15.0, 15.0))
    out(2.0) shouldBe ((30.0, 30.0))
    out(3.0) shouldBe ((40.0, 40.0))
  }

  test("isotonicFit refuses loudly above the maxPoints contract") {
    val rows = (1 to 50).map(i => ("g", i.toLong, i))
    val ex = intercept[Exception] {
      Eval.isotonicFit(rows.toDF("g", "x", "y"), "g", "x", "y",
        maxPoints = 10L).collect()
    }
    ex.getMessage should include("quantize x coarser")
  }

  // ---- frequent triples ----

  test("frequentTriples matches the brute-force enumeration and orders items") {
    import graft.operators.Behavior
    val rows = Seq(
      (1, "a"), (1, "b"), (1, "c"), (1, "d"),
      (2, "a"), (2, "b"), (2, "c"),
      (3, "b"), (3, "c"), (3, "d"),
      (4, "a"), (4, "b"))
    val out = Behavior.frequentTriples(rows.toDF("k", "i"), "k", "i", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    // abc in baskets 1,2; abd only 1; acd only 1; bcd in 1,3
    out.keySet shouldBe Set(("a", "b", "c"), ("b", "c", "d"))
    out(("a", "b", "c")) shouldBe ((2L, 0.5)) // 2 of 4 baskets
    out(("b", "c", "d")) shouldBe ((2L, 0.5))
  }

  test("frequentTriples refuses loudly on a basket wider than maxBasket") {
    import graft.operators.Behavior
    val rows = (1 to 20).map(i => (1, s"i$i"))
    val ex = intercept[Exception] {
      Behavior.frequentTriples(rows.toDF("k", "i"), "k", "i",
        minCount = 1L, maxBasket = 10).collect()
    }
    ex.getMessage should include("maxBasket")
  }

  // ---- KMV set estimates ----

  test("kmvSetEstimates: Jaccard and intersection are exact below saturation") {
    // A = 1..60, B = 31..90 -> |A∩B| = 30, |A∪B| = 90, J = 1/3
    val a = (1 to 60).map(i => ("g", i.toLong)).toDF("g", "v")
    val b = (31 to 90).map(i => ("g", i.toLong)).toDF("g", "v")
    val sa = Sketches.kmvState(a, Seq("g"), "v", 256)
    val sb = Sketches.kmvState(b, Seq("g"), "v", 256)
    val r = Sketches.kmvSetEstimates(sa, sb, Seq("g"), 256).collect().head
    r.getDouble(5) shouldBe 90.0 // est_union exact (unsaturated)
    r.getDouble(6) shouldBe (30.0 / 90.0 +- 1e-9)
    r.getDouble(7) shouldBe (30.0 +- 1e-6)
  }

  test("kmvSetEstimates: saturated sketches estimate a planted 50% overlap within tolerance") {
    val a = (1 to 4000).map(i => ("g", i.toLong)).toDF("g", "v")
    val b = (2001 to 6000).map(i => ("g", i.toLong)).toDF("g", "v")
    val sa = Sketches.kmvState(a, Seq("g"), "v", 128)
    val sb = Sketches.kmvState(b, Seq("g"), "v", 128)
    val r = Sketches.kmvSetEstimates(sa, sb, Seq("g"), 128).collect().head
    // true: union 6000, intersection 2000, jaccard 1/3
    assert(math.abs(r.getDouble(4) - 6000) / 6000 < 0.35, s"union ${r.getDouble(4)}")
    assert(r.getDouble(6) > 0.12 && r.getDouble(6) < 0.6, s"jaccard ${r.getDouble(6)}")
  }

  test("kmvSetEstimates: a key on one side only gets zero overlap, not a crash") {
    val a = (1 to 10).map(i => ("only_a", i.toLong)).toDF("g", "v")
    val b = (1 to 10).map(i => ("only_b", i.toLong)).toDF("g", "v")
    val r = Sketches.kmvSetEstimates(
        Sketches.kmvState(a, Seq("g"), "v", 64),
        Sketches.kmvState(b, Seq("g"), "v", 64), Seq("g"))
      .collect().map(x => x.getString(0) -> (x.getInt(1), x.getInt(2), x.getDouble(6))).toMap
    r("only_a") shouldBe ((10, 0, 0.0))
    r("only_b") shouldBe ((0, 10, 0.0))
  }

  // ---- clustering coefficient ----

  test("clusteringCoefficient: clique nodes 1.0, path interiors 0, leaves NULL") {
    // triangle {1,2,3} + path 3-4-5
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val out = Graph.clusteringCoefficient(pairs, "a", "b")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    out(1L) shouldBe ((2L, 1L, Some(1.0)))
    out(2L) shouldBe ((2L, 1L, Some(1.0)))
    out(3L) shouldBe ((3L, 1L, Some(0.333333333))) // rounded at 1e-9 by contract
    out(4L) shouldBe ((2L, 0L, Some(0.0)))
    out(5L) shouldBe ((1L, 0L, None)) // leaf: cc undefined, not zero
  }

  test("clusteringCoefficient matches the brute-force wedge count on a random graph") {
    val rnd = new scala.util.Random(67)
    val edges = (1 to 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val out = Graph.clusteringCoefficient(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    for ((v, ns) <- adj) {
      val t = ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x)(y) }
      out(v) shouldBe t.toLong
    }
  }

  // ---- Poisson bootstrap ----

  test("bootstrapCiMean: the CI brackets the true mean and tightens with sample size") {
    val rnd = new scala.util.Random(71)
    val rows = (1 to 4000).map(i =>
      (if (i <= 2000) "big" else "small", 50.0 + rnd.nextGaussian() * 10,
        i.toLong))
    val out = Eval.bootstrapCiMean(
        rows.toDF("g", "v", "id"), "g", "v", "id", b = 100)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((_, (_, mean, lo, hi)) <- out) {
      assert(lo < mean && mean < hi, s"CI [$lo, $hi] must bracket $mean")
      assert(hi - lo < 4.0, s"CI width ${hi - lo} implausible for sigma=10, n>=2000")
    }
  }

  test("bootstrapCiMean is deterministic and content-addressed (reshuffle-stable)") {
    val rows = (1 to 500).map(i => ("g", (i % 37).toDouble, i.toLong))
    def run(df: org.apache.spark.sql.DataFrame) =
      Eval.bootstrapCiMean(df, "g", "v", "id", b = 50).collect().head.toSeq
    run(rows.toDF("g", "v", "id").repartition(17)) shouldBe
      run(scala.util.Random.shuffle(rows).toDF("g", "v", "id").repartition(3))
  }

  test("bootstrap multiplicities average ~1 (Poisson(1) thresholds are calibrated)") {
    // mean multiplicity over many (row, replicate) draws must be ~1:
    // E[m] = 1 - P(X>5 truncation loss) ~ 0.9997
    val rows = (1 to 200).map(i => ("g", 1.0, i.toLong))
    val out = Eval.bootstrapCiMean(rows.toDF("g", "v", "id"), "g", "v", "id", b = 200)
      .collect().head
    // constant value 1.0: every replicate mean is exactly 1.0 regardless
    // of multiplicities -> CI degenerate at 1.0; sanity on the machinery
    out.getDouble(2) shouldBe 1.0
    out.getDouble(3) shouldBe 1.0
    out.getDouble(4) shouldBe 1.0
  }

  // ---- quantile-state CDF probes ----

  test("cdfOf is monotone in the probe and exact at the state's resolution") {
    val rnd = new scala.util.Random(79)
    val rows = (1 to 5000).map(_ => ("g", rnd.nextDouble() * 200))
    val st = Sketches.quantileState(rows.toDF("g", "v"), Seq("g"), "v")
    val probes = Seq(10.0, 50.0, 100.0, 150.0, 500.0)
    val out = Sketches.cdfOf(st, Seq("g"), probes)
      .collect().map(r => r.getDouble(1) -> (r.getLong(2), r.getDouble(4))).toMap
    val cdfs = probes.map(out(_)._2)
    cdfs.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
    out(500.0) shouldBe ((5000L, 1.0)) // above the max: everything
    // within the 2^-5 relative-resolution band of the true CDF
    for (p <- probes.init) {
      val truth = rows.count(_._2 <= p).toDouble / rows.size
      assert(math.abs(out(p)._2 - truth) < 0.06,
        s"cdf($p)=${out(p)._2} vs truth $truth")
    }
  }

  // ---- delta join ----

  test("deltaJoin equals full-view minus old-view as a multiset") {
    import graft.operators.Upsert
    val rnd = new scala.util.Random(73)
    val a = (1 to 300).map(i => (rnd.nextInt(50).toLong, s"a$i"))
    val b = (1 to 300).map(i => (rnd.nextInt(50).toLong, s"b$i"))
    val (aOld, aDelta) = a.partition(_._2.hashCode % 5 != 0)
    val (bOld, bDelta) = b.partition(_._2.hashCode % 7 != 0)
    def df(s: Seq[(Long, String)], v: String) = s.toDF("k", v)
    val delta = Upsert.deltaJoin(df(aOld, "va"), df(aDelta, "va"),
        df(bOld, "vb"), df(bDelta, "vb"), Seq("k"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val full = df(a, "va").join(df(b, "vb"), Seq("k"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val old = df(aOld, "va").join(df(bOld, "vb"), Seq("k"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val expected = full.map { case (r, n) => r -> (n - old.getOrElse(r, 0)) }
      .filter(_._2 > 0)
    delta shouldBe expected
  }

  // ---- Kaplan–Meier ----

  test("survivalCurve matches the textbook product-limit estimate with censoring") {
    import graft.operators.Behavior
    // classic example: deaths at t=1 (n=10), t=3 (n=7, after 2 censored at 2), ...
    val obs = Seq(
      ("g", 1L, 1), ("g", 1L, 1),          // 2 deaths at 1, n=10
      ("g", 2L, 0), ("g", 2L, 0),          // 2 censored at 2
      ("g", 3L, 1),                        // 1 death at 3, n=6
      ("g", 4L, 0),                        // censored
      ("g", 5L, 1), ("g", 5L, 1),          // 2 deaths at 5, n=4
      ("g", 6L, 0), ("g", 6L, 0))          // censored tail
    val out = Behavior.survivalCurve(obs.toDF("g", "t", "e"), "g", "t", "e")
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    out.keySet shouldBe Set(1L, 3L, 5L)
    out(1L)._1 shouldBe 10L; out(1L)._2 shouldBe 2L
    out(3L)._1 shouldBe 6L
    out(5L)._1 shouldBe 4L
    def q(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = q(math.log(8.0 / 10.0))
    val s3 = s1 + q(math.log(5.0 / 6.0))
    val s5 = s3 + q(math.log(2.0 / 4.0))
    out(1L)._3 shouldBe (s1 +- 1e-6)
    out(3L)._3 shouldBe (s3 +- 1e-6)
    out(5L)._3 shouldBe (s5 +- 1e-6)
  }

  test("survivalCurve: total-death time emits NULL log_surv (S = 0), not -inf") {
    import graft.operators.Behavior
    val obs = Seq(("g", 1L, 1), ("g", 2L, 1)) // everyone dies by t=2
    val out = Behavior.survivalCurve(obs.toDF("g", "t", "e"), "g", "t", "e")
      .collect().map(r => r.getLong(1) -> r.isNullAt(4)).toMap
    out(1L) shouldBe false
    out(2L) shouldBe true // n_risk = d at t=2 -> S exactly 0
  }

  // ---- content-defined chunking ----

  test("cdcChunkDedup: an exact duplicate document deduplicates completely") {
    val text = (1 to 30).map(i => s"sentence number $i with some words.").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs, w = 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    val (n1, k1, c1) = out(1L)
    out(2L) shouldBe ((n1, 0L, 0L)) // same chunks, all owned by doc 1
    // doc 1 may self-dedupe repeated phrases, but keeps all FIRST occurrences
    assert(k1 > 0 && k1 <= n1.toLong)
    assert(c1 > 0 && c1 <= text.length.toLong)
  }

  test("cdcChunkDedup is insertion-robust where fixed-grid chunking is not") {
    val base = (1 to 40).map(i => s"common shared sentence $i of the pair;").mkString(" ")
    val shifted = "X" + base // one-char insertion shifts every later offset
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs, w = 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    val (n2, k2, chars2) = out(2L)
    // all but the first chunk(s) around the insertion must dedupe away:
    // the surviving share of doc 2 is small
    assert(chars2.toDouble / shifted.length < 0.25,
      s"CDC should dedupe the shifted copy; kept $chars2/${shifted.length} chars")
    assert(k2 < n2)
  }

  test("cdcChunkDedup edge cases: empty text, short doc, unique chunks tile the document") {
    val varied = (1 to 40).map(i => s"token$i").mkString(" ") // all chunks distinct
    val docs = Seq((1L, ""), (2L, "tiny"), (3L, varied)).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs, w = 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    out(1L) shouldBe ((0, 0L, 0L))
    out(2L) shouldBe ((1, 1L, 4L)) // n < w: one forced chunk
    // all-unique chunks: every chunk kept, and they tile the full text
    val (n3, k3, c3) = out(3L)
    k3 shouldBe n3.toLong
    c3 shouldBe varied.length.toLong
  }

  // ---- Krippendorff's alpha ----

  test("krippendorffAlpha matches the textbook nominal example") {
    // Krippendorff's standard example (Hayes & Krippendorff '07,
    // nominal, with missing data): units rated by up to 3 raters.
    // units: 1:{a,a}, 2:{b,b,b}, 3:{b,b}, 4:{b,b,b}, 5:{b,b},
    // 6:{c,c,b}, 7:{d,d,d}, 8:{a,a}, 9:{e,e}, 10:{d,d}, 11 single
    val rows = Seq(
      ("1", "a"), ("1", "a"),
      ("2", "b"), ("2", "b"), ("2", "b"),
      ("3", "b"), ("3", "b"),
      ("4", "b"), ("4", "b"), ("4", "b"),
      ("5", "b"), ("5", "b"),
      ("6", "c"), ("6", "c"), ("6", "b"),
      ("7", "d"), ("7", "d"), ("7", "d"),
      ("8", "a"), ("8", "a"),
      ("9", "e"), ("9", "e"),
      ("10", "d"), ("10", "d"),
      ("11", "a")) // unpairable — must drop
    val r = Eval.krippendorffAlpha(rows.toDF("u", "v"), "u", "v").head()
    r.getLong(0) shouldBe 10L  // pairable units
    r.getLong(1) shouldBe 24L  // pairable ratings
    // direct computation of the same formula
    val byU = rows.groupBy(_._1).filter(_._2.size >= 2)
    val doSum = byU.values.map { rs =>
      val m = rs.size.toDouble
      rs.groupBy(_._2).values.map { g =>
        val k = g.size.toDouble
        BigDecimal(k * (m - k) / (m - 1.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    }.sum.toDouble
    val nc = byU.values.flatten.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = nc.values.sum.toDouble
    val de = n * n - nc.values.map(c => c.toDouble * c).sum
    val expected = 1.0 - (n - 1.0) * doSum / de
    r.getDouble(2) shouldBe (expected +- 1e-8)
    // perfect agreement → alpha 1
    val perfect = Seq(("1", "a"), ("1", "a"), ("2", "b"), ("2", "b"))
    Eval.krippendorffAlpha(perfect.toDF("u", "v"), "u", "v").head()
      .getDouble(2) shouldBe (1.0 +- 1e-9)
  }
}
