package graft

import org.apache.spark.sql.functions._

import graft.functions.Profile

/** Round-5 statistics additions: per-group OLS, Welch's t, Benford
  * first-digit audit, column completeness profile, deterministic mode —
  * each checked against first-principles references computed
  * driver-side on planted data.
  */
class StatsOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- approx-percentile swap-in ----

  test("approx-percentile routing tracks the exact path within rank tolerance on the corpus") {
    import graft.functions.Profile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)).getOrElse("<total>"), r.getInt(1)) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val ex = keyed(Profile.stats(docs, "source", "n_chars"))
    val ap = keyed(Profile.stats(docs, "source", "n_chars", exact = false))
    ap.keySet shouldBe ex.keySet
    // approx returns a REAL data value within rank error n/accuracy;
    // at accuracy=10000 and n≤500 that's < 1 rank — only the exact
    // path's interpolation can differ, bounded by one value step
    for (k <- ex.keySet) {
      val (e50, e90, e99) = ex(k); val (a50, a90, a99) = ap(k)
      math.abs(a50 - e50) / e50 should be < 0.05
      math.abs(a90 - e90) / e90 should be < 0.05
      math.abs(a99 - e99) / e99 should be < 0.05
    }
    // adaptiveFilter: same keep semantics, cutoff within rank error —
    // kept-set sizes match at this accuracy
    Profile.adaptiveFilter(docs, "source", "n_chars", exact = false).count() shouldBe
      Profile.adaptiveFilter(docs, "source", "n_chars").count()
    // winsorize: clamp band from the sketch stays inside the exact
    // band's neighboring data values → clamped sums agree closely
    val se = Profile.winsorize(docs, "source", "n_chars")
      .agg(sum(col("clamped").cast("double"))).head().getDouble(0)
    val sa = Profile.winsorize(docs, "source", "n_chars", exact = false)
      .agg(sum(col("clamped").cast("double"))).head().getDouble(0)
    math.abs(sa - se) / se should be < 0.01
  }

  // ---- dsir ----

  test("dsirWeights ranks target-domain documents above the rest on average") {
    import graft.functions.NgramLm
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = NgramLm.dsirWeights(docs, docs.filter(col("source") === "src1"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val Array(inT, outT) = w
      .groupBy((col("source") === "src1").as("t"))
      .agg(avg("logw").as("m")).orderBy(col("t").desc)
      .collect().map(_.getDouble(1))
    // the estimator's defining property: importance weights favor the
    // target's own distribution
    inT should be > outT
    // weights are finite for every doc (add-1 smoothing over the full
    // bucket space — no -inf even for unseen buckets)
    w.filter(col("logw").isNull || isnan(col("logw"))).count() shouldBe 0
  }

  // ---- conformal ----

  test("conformalInterval selects the exact conformal-rank residual and achieves coverage") {
    val rnd = new scala.util.Random(53)
    val rows = (1 to 400).map(i =>
      ("g", i.toLong, 100.0 + math.floor(rnd.nextGaussian() * 800) / 16))
    val df = rows.toDF("k", "id", "v")
    val r = Profile.conformalInterval(df, "k", "v", col("id") % 2 === 0)
      .collect().head
    val (nCal, nTest, qhat, nCov) =
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
    nCal shouldBe 200L; nTest shouldBe 200L
    // driver reference: same integer-scaled residual rank selection
    val cal = rows.filter(_._2 % 2 == 0).map(x => math.floor(x._3 * 1e6 + 0.5).toLong)
    val sq = cal.map(BigInt(_)).sum
    val res = cal.map(q => (BigInt(q) * cal.size - sq).abs).sorted
    val k = math.min(((cal.size + 1) * 9 + 9) / 10, cal.size)
    val rhat = res(k - 1)
    qhat shouldBe (math.floor(rhat.toDouble / (cal.size.toDouble * 1e6) * 1e9 + 0.5) / 1e9) +- 1e-9
    val test = rows.filter(_._2 % 2 == 1).map(x => math.floor(x._3 * 1e6 + 0.5).toLong)
    nCov shouldBe test.count(q => (BigInt(q) * cal.size - sq).abs <= rhat).toLong
    // the conformal guarantee: realized coverage near/above 1 - alpha
    nCov.toDouble / nTest.toDouble should be >= 0.85
    r.getBoolean(5) shouldBe false
    // tiny calibration set: rank past n clamps and reports it
    val tiny = (1 to 6).map(i => ("t", i.toLong, i.toDouble)).toDF("k", "id", "v")
    val rt = Profile.conformalInterval(tiny, "k", "v", col("id") <= 3).collect().head
    rt.getBoolean(5) shouldBe true
  }

  // ---- cuped ----

  test("cuped removes a perfectly-predictive covariate and preserves the mean") {
    // y = 2x exactly: theta = 2, every adjusted value collapses to ybar
    val exact = (1 to 40).map(i => (i.toLong, i.toDouble, 2.0 * i)).toDF("id", "x", "y")
    val out = Profile.cuped(exact, "id", "x", "y").collect()
    val theta = out.head.getDouble(3)
    theta shouldBe 2.0 +- 1e-9
    val ybar = (1 to 40).map(2.0 * _).sum / 40
    out.foreach(r => r.getDouble(2) shouldBe ybar +- 1e-5)
    // mean preservation on noisy data
    val rnd = new scala.util.Random(47)
    val noisy = (1 to 100).map(i =>
      (i.toLong, math.floor(rnd.nextDouble() * 800) / 8,
       math.floor(rnd.nextDouble() * 400) / 4)).toDF("id", "x", "y")
    val o2 = Profile.cuped(noisy, "id", "x", "y").collect()
    val (sy, sadj) = (o2.map(_.getDouble(1)).sum, o2.map(_.getDouble(2)).sum)
    sadj shouldBe sy +- 1e-3
    // adjusted variance never exceeds raw variance (the point of CUPED)
    def variance(vs: Seq[Double]) = {
      val m = vs.sum / vs.size; vs.map(v => (v - m) * (v - m)).sum / vs.size
    }
    variance(o2.map(_.getDouble(2)).toSeq) should be <= variance(o2.map(_.getDouble(1)).toSeq) + 1e-9
    // constant covariate: nothing to remove, y passes through, theta NULL
    val flat = (1 to 10).map(i => (i.toLong, 5.0, i.toDouble)).toDF("id", "x", "y")
    val o3 = Profile.cuped(flat, "id", "x", "y").collect()
    o3.foreach { r => r.getDouble(2) shouldBe r.getDouble(1); r.isNullAt(3) shouldBe true }
  }

  // ---- trimmedMean ----

  test("trimmedMean drops the tails a plain mean is corrupted by") {
    val clean = (1 to 100).map(i => ("g", 50.0 + (i % 11)))        // tight cluster
    val spikes = Seq(("g", 1e8), ("g", -1e8))                      // two wild tails
    val df = (clean ++ spikes).toDF("k", "v")
    val r = Profile.trimmedMean(df, "k", "v").collect().head
    // the band excludes both spikes; the kept mean sits in the cluster
    r.getDouble(2) should (be >= 50.0 and be <= 61.0)
    // driver reference with the exact same type-1 band convention
    val vq = (clean ++ spikes).map(x => math.floor(x._2 * 1e6 + 0.5).toLong).sorted
    val n = vq.size
    def cut(num: Int, den: Int) = vq((n * num + den - 1) / den - 1)
    val (lo, hi) = (cut(1, 20), cut(19, 20))
    val kept = vq.filter(v => v > lo && v < hi)
    r.getLong(1) shouldBe kept.size.toLong
    r.getDouble(2) shouldBe
      (math.floor(kept.map(BigInt(_)).sum.toDouble / (kept.size.toDouble * 1e6) * 1e9 + 0.5) / 1e9) +- 1e-9
  }

  // ---- mannWhitneyU ----

  test("mannWhitneyU computes the textbook U with tie-averaged ranks and a tie-corrected z") {
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 3.0, 4.0).map(("b", _)))
      .toDF("g", "v")
    val r = Profile.mannWhitneyU(df, "g", "a", "b", "v").collect().head
    r.getLong(0) shouldBe 3L
    r.getLong(1) shouldBe 3L
    r.getLong(2) shouldBe 4L          // 2*U_a: ranks 1, 2.5, 4.5 -> R_a=8, U_a=2
    r.getDouble(3) shouldBe 2.0
    // driver z: mu=4.5, var = (9/12)*((7) - (t-corr 12)/(6*5)) = 0.75*(7-0.4)=4.95
    val z = (2.0 - 4.5) / math.sqrt(4.95)
    r.getDouble(4) shouldBe
      BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9
    // all-tied cohorts: zero variance -> NULL z
    val flat = (Seq(5.0, 5.0).map(("a", _)) ++ Seq(5.0).map(("b", _))).toDF("g", "v")
    Profile.mannWhitneyU(flat, "g", "a", "b", "v").collect().head.isNullAt(4) shouldBe true
  }

  test("mannWhitneyU is symmetric: U_a + U_b = n_a*n_b") {
    val rnd = new scala.util.Random(41)
    val df = (1 to 200).map(i =>
      (if (i % 3 == 0) "a" else "b", math.floor(rnd.nextDouble() * 100) / 4)).toDF("g", "v")
    val ra = Profile.mannWhitneyU(df, "g", "a", "b", "v").collect().head
    val rb = Profile.mannWhitneyU(df, "g", "b", "a", "v").collect().head
    ra.getLong(2) + rb.getLong(2) shouldBe 2L * ra.getLong(0) * ra.getLong(1)
  }

  // ---- NULL values in the rank and quantile family ----

  test("a NULL value takes no rank: rank statistics equal those of the frame without its NULL rows") {
    import graft.functions.Eval
    val full = Seq(
      ("a", Some(1.0), 3.0, true), ("a", Some(2.0), 1.0, false), ("a", None, 2.0, true),
      ("a", Some(4.0), 4.0, false), ("a", Some(2.0), 5.0, true),
      ("b", Some(3.0), 2.0, false), ("b", None, 5.0, true), ("b", Some(5.0), 1.0, true),
      ("b", Some(2.0), 3.0, false), ("b", Some(6.0), 4.0, false),
      ("c", Some(6.0), 1.0, true), ("c", Some(7.0), 3.0, false), ("c", None, 2.0, false),
      ("c", Some(1.0), 4.0, true)).toDF("g", "v", "y", "label")
    val kept = full.filter(col("v").isNotNull)
    def same(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      canon(f(full)) shouldBe canon(f(kept))
    same(Profile.mannWhitneyU(_, "g", "a", "b", "v"))
    same(Profile.kruskalWallis(_, "g", "v"))
    same(Profile.dunnTest(_, "g", "v"))
    same(Profile.spearman(_, "g", "v", "y"))
    same(Eval.groupedAuc(_, "g", "label", "v"))
    same(Profile.percentileRank(_, "g", "v"))
    // a row-level transform keeps every input row; compare the valued ones
    same(Profile.robustScale(_, "g", "v").filter(col("v").isNotNull))
  }

  // ---- spearman ----

  test("spearman is 1/-1 on monotone data, outlier-immune, NULL on constant axes") {
    val mono = (1 to 20).map(i => ("up", i.toDouble, i.toDouble * i)) ++
      (1 to 20).map(i => ("down", i.toDouble, -3.0 * i + 100)) ++
      (1 to 20).map(i => ("flat", i.toDouble, 7.0))
    val out = Profile.spearman(mono.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    out("up") shouldBe Some(1.0)      // nonlinear but perfectly monotone
    out("down") shouldBe Some(-1.0)
    out("flat") shouldBe None
    // one wild outlier barely moves rho (ranks absorb it)
    val noisy = (1 to 50).map(i => ("g", i.toDouble, i + 0.1 * (i % 7))) :+ (("g", 51.0, 1e9))
    val rho = Profile.spearman(noisy.toDF("g", "x", "y"), "g", "x", "y")
      .collect().head.getDouble(2)
    rho should be > 0.99
  }

  test("spearman with ties matches a driver tie-averaged-rank Pearson reference") {
    val rnd = new scala.util.Random(43)
    val rows = (1 to 120).map(_ => ("g", rnd.nextInt(12).toDouble, rnd.nextInt(9).toDouble))
    val got = Profile.spearman(rows.toDF("g", "x", "y"), "g", "x", "y")
      .collect().head.getDouble(2)
    def ranks2(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val lo = sorted.indexOf(v) + 1; val hi = sorted.lastIndexOf(v) + 1
        v -> (lo + hi).toDouble
      }.toMap
    }
    val xs = rows.map(r => math.floor(r._2 * 1e6 + 0.5).toLong)
    val ys = rows.map(r => math.floor(r._3 * 1e6 + 0.5).toLong)
    val (rx, ry) = (ranks2(xs), ranks2(ys))
    val px = xs.map(rx); val py = ys.map(ry)
    val n = px.size.toDouble
    val (sx, sy) = (px.sum, py.sum)
    val sxx = px.map(v => v * v).sum; val syy = py.map(v => v * v).sum
    val sxy = px.zip(py).map { case (u, v) => u * v }.sum
    val expected = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    got shouldBe expected +- 1e-8
  }

  // ---- neymanSample ----

  test("neymanSample apportions by N_h*sigma_h with exact largest-remainder and caps at stratum size") {
    // stratum "noisy": 40 rows, high spread; "calm": 40 rows, tiny
    // spread; "flat": 40 constant rows (sigma 0 -> weight 0);
    // "tiny": 3 high-spread rows (cap binds)
    val rnd = new scala.util.Random(31)
    val rows =
      (1 to 40).map(i => ("noisy", 1000L + i, math.floor(rnd.nextDouble() * 10000) / 2)) ++
      (1 to 40).map(i => ("calm", 2000L + i, 100.0 + (i % 2))) ++
      (1 to 40).map(i => ("flat", 3000L + i, 7.0)) ++
      (1 to 3).map(i => ("tiny", 4000L + i, if (i == 1) 0.0 else i * 4000.0))
    val df = rows.toDF("src", "id", "v")
    val out = Profile.neymanSample(df, "src", "v", totalN = 30L, idCol = "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val alloc = out.map(t => t._1 -> t._4).toMap
    // driver reference: same power sums, same apportionment
    def wq(s: String): Long = {
      val vs = rows.filter(_._1 == s).map(r => math.floor(r._3 * 1e6 + 0.5).toLong)
      val n = vs.size
      val (sq, sq2) = (vs.map(BigInt(_)).sum, vs.map(x => BigInt(x) * x).sum)
      val sigma = if (n < 2) 0.0
        else math.sqrt((BigInt(n) * sq2 - sq * sq).toDouble / ((n.toLong * (n - 1)).toDouble * 1e12))
      math.floor(n.toDouble * sigma * 1e6 + 0.5).toLong
    }
    val strata = Seq("calm", "flat", "noisy", "tiny")
    val ws = strata.map(s => s -> wq(s)).toMap
    val tw = ws.values.sum
    val base = strata.map(s => s -> 30L * ws(s) / tw).toMap
    val rem = strata.map(s => s -> 30L * ws(s) % tw)
    val leftover = 30L - base.values.sum
    val plusOne = rem.sortBy { case (s, r) => (-r, s) }.take(leftover.toInt).map(_._1).toSet
    for (s <- strata) {
      val expected = math.min(base(s) + (if (plusOne(s)) 1L else 0L),
        rows.count(_._1 == s).toLong)
      alloc.getOrElse(s, 0L) shouldBe expected
    }
    // selected count per stratum == alloc; selection is md5-nested
    out.groupBy(_._1).foreach { case (s, rs) => rs.size.toLong shouldBe alloc(s) }
    val out20 = Profile.neymanSample(df, "src", "v", totalN = 20L, idCol = "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // a smaller budget's per-stratum picks nest inside the larger's
    val sel30 = out.map(t => (t._1, t._2)).toSet
    val byS30 = sel30.groupBy(_._1); val byS20 = out20.groupBy(_._1)
    byS20.foreach { case (s, picks) =>
      if (byS30.contains(s) && picks.size <= byS30(s).size)
        assert(picks.subsetOf(byS30(s)), s"stratum $s picks not nested")
    }
  }

  // ---- robustScale ----

  test("robustScale matches a driver-computed type-1 quantile reference and is outlier-immune") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 200).map(i => ("g", i.toLong, math.floor(rnd.nextDouble() * 5000) / 8)) ++
      Seq(("g", 900L, 1e9)) ++ // one wild outlier: must not move median/IQR materially
      (1 to 5).map(i => ("flat", 1000L + i, 42.0)) // zero IQR -> NULL scaled
    val df = rows.toDF("k", "id", "v")
    val out = Profile.robustScale(df, "k", "v").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // driver reference on the "g" group
    val vq = rows.filter(_._1 == "g").map(r => math.floor(r._3 * 1e6 + 0.5).toLong).sorted
    val n = vq.size
    def typ1(num: Int, den: Int): Long = vq((n * num + den - 1) / den - 1)
    val (q1, med, q3) = (typ1(1, 4), typ1(1, 2), typ1(3, 4))
    for (r <- rows.filter(_._1 == "g")) {
      val x = math.floor(r._3 * 1e6 + 0.5).toLong
      val exp = math.floor((x - med).toDouble / (q3 - q1).toDouble * 1e9 + 0.5) / 1e9
      out(r._2).get shouldBe exp +- 1e-12
    }
    rows.filter(_._1 == "flat").foreach(r => out(r._2) shouldBe None)
  }

  // ---- theilSen ----

  test("theilSen recovers a planted slope exactly where one outlier wrecks OLS") {
    val usH = 3600000000L
    // clean line: v = 2·hours + 5; one wild outlier at i=7
    val rows = (1 to 11).map(i =>
      ("u", i.toLong * usH, if (i == 7) 9000.0 else 2.0 * i + 5.0))
    val df = rows.toDF("k", "tus", "v")
    val ts = Profile.theilSen(df, "k", "tus", "v").collect()
    ts.length shouldBe 1
    ts.head.getLong(1) shouldBe 55L           // 11 choose 2 pairs
    ts.head.getLong(2) shouldBe 2000L         // exact milli-units/hour median
    ts.head.getDouble(3) shouldBe 2.0
    // OLS on the same series is dragged far from 2 by the outlier
    val ols = Profile.linReg(df.select(col("k"),
      (col("tus") / usH).as("x"), col("v")), "k", "x", "v").collect().head.getDouble(2)
    math.abs(ols - 2.0) should be > 10.0
  }

  test("theilSen matches a brute-force pairwise-median reference on random series") {
    val rnd = new scala.util.Random(17)
    val rows = for (k <- Seq("a", "b"); i <- 1 to 25) yield
      (k, i.toLong * 60000000L + rnd.nextInt(1000), math.floor(rnd.nextDouble() * 8000 - 4000) / 4)
    val out = Profile.theilSen(rows.toDF("k", "tus", "v"), "k", "tus", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (k <- Seq("a", "b")) {
      val s = rows.filter(_._1 == k)
      val slopes = (for {
        (a, i) <- s.zipWithIndex; (b, j) <- s.zipWithIndex if a._2 < b._2 && i != j
      } yield {
        val dv = BigInt(math.floor(b._3 * 1e6 + 0.5).toLong - math.floor(a._3 * 1e6 + 0.5).toLong)
        (dv * 3600000000L / ((b._2 - a._2) * 1000L)).toLong  // BigInt / truncates toward zero
      }).sorted
      out(k) shouldBe ((slopes.size.toLong, slopes((slopes.size + 1) / 2 - 1)))
    }
  }

  test("theilSen refuses an oversized group and drops same-timestamp pairs") {
    val big = (1 to 30).map(i => ("k", i.toLong, i.toDouble)).toDF("k", "tus", "v")
    // guard is in-plan (raise_error on the same shuffle the pair join
    // uses) — it fires when the query RUNS, before any pair is built
    intercept[Exception] {
      Profile.theilSen(big, "k", "tus", "v", maxGroupRows = 10).count()
    }.getMessage should include("quadratic")
    // all events at one timestamp: no defined slope, key absent
    val flat = Seq(("k", 5L, 1.0), ("k", 5L, 2.0), ("k", 5L, 3.0)).toDF("k", "tus", "v")
    Profile.theilSen(flat, "k", "tus", "v").count() shouldBe 0L
  }

  // ---- linReg ----

  test("linReg recovers a planted exact line with r2 = 1") {
    // y = 3x + 7 exactly: slope/intercept/r² are closed-form recoverable
    val df = (1 to 50).map(i => ("g", i.toDouble, 3.0 * i + 7.0))
      .toDF("g", "x", "y")
    val r = Profile.linReg(df, "g", "x", "y").collect().head
    r.getAs[Double]("slope") shouldBe 3.0 +- 1e-9
    r.getAs[Double]("intercept") shouldBe 7.0 +- 1e-9
    r.getAs[Double]("r2") shouldBe 1.0 +- 1e-9
  }

  test("linReg matches a driver-computed fit on noisy data and NULLs degenerate groups") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      val x = math.floor(rnd.nextDouble() * 1000) / 100
      val y = math.floor((2.5 * x + 4 + rnd.nextGaussian()) * 100) / 100
      ("g", x, y)
    }
    // degenerate: single point and zero x-variance
    val degen = Seq(("one", 1.0, 2.0), ("flat", 5.0, 1.0), ("flat", 5.0, 9.0))
    val out = Profile.linReg((rows ++ degen).toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap

    val q = rows.map { case (_, x, y) =>
      (math.floor(x * 100 + 0.5).toLong, math.floor(y * 100 + 0.5).toLong) }
    val n = q.size.toDouble
    val sx = q.map(_._1).sum.toDouble; val sy = q.map(_._2).sum.toDouble
    val sxx = q.map(p => p._1 * p._1).sum.toDouble
    val syy = q.map(p => p._2 * p._2).sum.toDouble
    val sxy = q.map(p => p._1 * p._2).sum.toDouble
    val num = n * sxy - sx * sy
    val denX = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    out("g").getAs[Double]("slope") shouldBe (num / denX) +- 1e-9
    out("g").getAs[Double]("intercept") shouldBe ((sy - num / denX * sx) / n / 100) +- 1e-9
    out("g").getAs[Double]("r2") shouldBe (num * num / (denX * denY)) +- 1e-9
    out("one").isNullAt(out("one").fieldIndex("slope")) shouldBe true
    out("flat").isNullAt(out("flat").fieldIndex("slope")) shouldBe true
  }

  // ---- welchT ----

  test("welchT matches the driver-computed Welch statistic and dof") {
    val rnd = new scala.util.Random(5)
    val a = (1 to 40).map(_ => math.floor((10 + rnd.nextGaussian() * 2) * 100) / 100)
    val b = (1 to 60).map(_ => math.floor((12 + rnd.nextGaussian() * 5) * 100) / 100)
    val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    val r = Profile.welchT(df, "g", "a", "b", "v").collect().head

    def sums(vs: Seq[Double]) = {
      val q = vs.map(v => math.floor(v * 100 + 0.5).toLong)
      (q.size.toDouble, q.sum.toDouble, q.map(x => x * x).sum.toDouble)
    }
    val (na, sa, ssa) = sums(a); val (nb, sb, ssb) = sums(b)
    val (ma, mb) = (sa / na, sb / nb)
    val sea = (ssa - sa * sa / na) / (na - 1) / na
    val seb = (ssb - sb * sb / nb) / (nb - 1) / nb
    val t = (ma - mb) / math.sqrt(sea + seb)
    val dof = (sea + seb) * (sea + seb) /
      (sea * sea / (na - 1) + seb * seb / (nb - 1))
    r.getAs[Long]("n_a") shouldBe 40L
    r.getAs[Long]("n_b") shouldBe 60L
    r.getAs[Double]("mean_a") shouldBe (ma / 100) +- 1e-6
    r.getAs[Double]("t_stat") shouldBe t +- 1e-5
    r.getAs[Double]("dof") shouldBe dof +- 1e-5
  }

  test("welchT is NULL when both cohorts are constant (zero variance)") {
    val df = ((1 to 5).map(_ => ("a", 3.0)) ++ (1 to 5).map(_ => ("b", 4.0)))
      .toDF("g", "v")
    val r = Profile.welchT(df, "g", "a", "b", "v").collect().head
    r.isNullAt(r.fieldIndex("t_stat")) shouldBe true
    r.getAs[Double]("mean_a") shouldBe 3.0 +- 1e-9
  }

  // ---- benford ----

  test("benford counts leading digits exactly and excludes non-positives") {
    // planted: 111, 12, 13 → digit 1 ×3; 25 → 2; 999 → 9; plus 0 and -5 skipped
    val df = Seq(111L, 12L, 13L, 25L, 999L, 0L, -5L).toDF("v")
    val out = Profile.benford(df, "v").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getAs[Double]("p_obs"), r.getLong(5))).toMap
    out(1)._1 shouldBe 3L
    out(2)._1 shouldBe 1L
    out(9)._1 shouldBe 1L
    out(1)._2 shouldBe 0.6 +- 1e-9
    out(1)._3 shouldBe 2L // n_skipped rides every row
    out.keySet shouldBe Set(1, 2, 9)
  }

  test("benford expected probabilities sum to 1 over digits 1-9") {
    val df = (1 to 9).map(_.toLong).toDF("v")
    val ps = Profile.benford(df, "v").collect().map(_.getAs[Double]("p_exp"))
    ps.sum shouldBe 1.0 +- 1e-8
  }

  // ---- nullProfile ----

  test("nullProfile reports exact null/distinct/fill per column in one pass") {
    val df = Seq(
      (Some("a"), Some(1)), (Some("a"), None), (None, Some(2)),
      (Some("b"), None), (None, Some(2))
    ).toDF("s", "i")
    val out = Profile.nullProfile(df, Seq("s", "i")).collect()
      .map(r => r.getString(0) -> r).toMap
    out("s").getAs[Long]("n_rows") shouldBe 5L
    out("s").getAs[Long]("n_nonnull") shouldBe 3L
    out("s").getAs[Long]("n_null") shouldBe 2L
    out("s").getAs[Long]("n_distinct") shouldBe 2L
    out("s").getAs[Double]("fill_rate") shouldBe 0.6 +- 1e-9
    out("i").getAs[Long]("n_distinct") shouldBe 2L
    out("i").getAs[Long]("n_null") shouldBe 2L
  }

  // ---- modeBy ----

  test("modeBy picks the most frequent value, ties to the smallest") {
    val df = Seq(
      ("u1", "b"), ("u1", "b"), ("u1", "a"),          // clear winner b
      ("u2", "z"), ("u2", "y"),                        // tie → y
      ("u3", "x")
    ).toDF("u", "v")
    val out = Profile.modeBy(df, "u", "v").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    out("u1") shouldBe ("b", 2L)
    out("u2") shouldBe ("y", 1L)
    out("u3") shouldBe ("x", 1L)
  }

  test("modeBy plans a WindowGroupLimit over the histogram (rn pushdown)") {
    val df = Seq(("u1", "b"), ("u1", "a")).toDF("u", "v")
    val plan = Profile.modeBy(df, "u", "v").queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
  }
}
