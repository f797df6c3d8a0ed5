package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing.rebalance

/** Model-evaluation / label-quality metrics over scored corpora —
  * the read-out side of the training-data pipeline: once documents
  * carry model scores (quality, toxicity, relevance, a classifier
  * proba), these answer "does the score actually rank the label?"
  * (AUC, lift), "are the probabilities honest?" (calibration), "did
  * the distribution move?" (Jensen–Shannon, beside PSI/KS/chi²),
  * and "which features are redundant?" (mutual information).
  *
  * House determinism rules throughout (see SparkEntry doc): rank
  * arithmetic in exact integer half-units (the mannWhitneyU rule),
  * log/division terms evaluated in doubles FROM exact integers in
  * one oracle-mirrored op order, per-cell terms quantized to
  * DECIMAL(20,9) before any float sum (the q107 entropy rule),
  * outputs rounded.
  *
  * Reference scope: tafra (the reference library) has no evaluation
  * module; these are the scale additions a 100 TB curation pipeline
  * needs to close the loop between filtering and model behavior.
  */
object Eval {

  private def d(c: Column): Column = c.cast("double")

  /** ROC AUC per group, exactly, via the rank-sum identity
    * AUC = U⁺/(n⁺·n⁻) (Hanley–McNeil 1982): the probability a random
    * positive outranks a random negative, ties counted half. This is
    * the per-group, [0,1]-normalized form of [[Profile.mannWhitneyU]]
    * and shares its half-unit integer rank arithmetic: per distinct
    * non-NULL score, twice-the-average-tie-rank is the exact integer
    * [[Ranks.midRank2]], so 2·R⁺ and 2·U⁺ = 2·R⁺ − n⁺(n⁺+1) are
    * exact (DECIMAL(38,0) against overflow), and
    * auc = 2U⁺/(2·2·n⁺·n⁻)… i.e. u2/(2·n⁺·n⁻) evaluates once in
    * doubles, rounded at 1e-9. Groups missing a class emit NULL auc.
    *
    * Scale shape: ONE partial agg to the (group, score)-histogram —
    * the shuffle carries distinct-value cells, never rows — one
    * cumulative window over it PARTITIONED BY GROUP (never global),
    * one per-group agg. Zipf-scored corpora collapse map-side.
    *
    * @param labelCol boolean (or 0/1-castable) positive-class column
    */
  def groupedAuc(df: DataFrame, groupCol: String, labelCol: String,
                 scoreCol: String, unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(scoreCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val pos = col(labelCol).cast("boolean")
    val hist = df
      .select(col(groupCol).as("_g"), vq.as("_v"), pos.as("_p"))
      .groupBy(col("_g"), col("_v"))
      .agg(count(when(col("_p"), 1)).as("_cp"),
           count(when(!col("_p"), 1)).as("_cn"))
    val t = col("_cp") + col("_cn")
    val agg = Ranks.running(hist, Seq("_g"), Seq(col("_v")), Seq("_cum" -> t))
      .withColumn("_r2p", (col("_cp").cast("decimal(19,0)")
        * Ranks.midRank2(col("_cum"), t)).cast("decimal(38,0)"))
      .groupBy(col("_g"))
      .agg(sum("_cp").as("n_pos"), sum("_cn").as("n_neg"),
           sum("_r2p").cast("decimal(38,0)").as("_r2sum"))
    val u2 = col("_r2sum") - col("n_pos").cast("decimal(38,0)") * (col("n_pos") + 1L)
    agg
      .withColumn("auc", when(col("n_pos") > 0 && col("n_neg") > 0,
        round(d(u2) / (lit(2.0) * d(col("n_pos")) * d(col("n_neg"))), 9)))
      .select(col("_g").as(groupCol), col("n_pos"), col("n_neg"), col("auc"))
  }

  /** Jensen–Shannon divergence between cohorts `a` and `b` of
    * `valueCol`, over equal-width bins — the drift score that stays
    * FINITE when a bin is empty on one side (its defining advantage
    * over KL/PSI, which [[Profile.psi]] handles by dropping bins):
    * JSD = ½Σ p·ln(p/m) + ½Σ q·ln(q/m) with m = (p+q)/2, bounded by
    * ln 2, symmetric, the square of a proper metric. Every occupied
    * bin contributes — a brand-new bin on one side scores its full
    * ½p·ln2 instead of vanishing from the sum.
    *
    * Exactness: bin = floor(v/width) on IEEE doubles (identical both
    * engines); each side's term evaluates in doubles from exact
    * counts in one mirrored op order and quantizes to DECIMAL(20,9)
    * before the sum; jsd_nats rounds at 1e-6.
    *
    * Scale shape: the psi shape exactly — one partial agg to
    * (bin, ca, cb) cells, one tiny totals agg broadcast back, one
    * single-row agg. Shuffles carry bins, never rows.
    */
  def jsDivergence(df: DataFrame, groupCol: String, a: String, b: String,
                   valueCol: String, binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val twoS = df.filter(col(groupCol).isin(a, b))
    val cells = twoS
      .groupBy(floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .agg(count(when(col(groupCol) === a, 1)).as("_ca"),
           count(when(col(groupCol) === b, 1)).as("_cb"))
    val tot = twoS.agg(
      count(when(col(groupCol) === a, 1)).as("_na"),
      count(when(col(groupCol) === b, 1)).as("_nb"))
    val p = d(col("_ca")) / d(col("_na"))
    val q = d(col("_cb")) / d(col("_nb"))
    val m = (p + q) / 2.0
    cells.crossJoin(broadcast(tot))
      .withColumn("_ta", when(col("_ca") > 0, (lit(0.5) * p * log(p / m)).cast("decimal(20,9)")))
      .withColumn("_tb", when(col("_cb") > 0, (lit(0.5) * q * log(q / m)).cast("decimal(20,9)")))
      .agg(round((coalesce(sum(col("_ta")), lit(java.math.BigDecimal.ZERO).cast("decimal(20,9)"))
                + coalesce(sum(col("_tb")), lit(java.math.BigDecimal.ZERO).cast("decimal(20,9)")))
             .cast("double"), 6).as("jsd_nats"),
           count(lit(1)).as("n_bins"),
           max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"))
  }

  /** Per-group two-proportion z-tests with Benjamini–Hochberg FDR
    * control (Benjamini & Hochberg JRSS-B'95) — "which segments
    * really moved?" asked across MANY segments at once: testing 500
    * event types at α=0.05 hands ~25 false discoveries to anyone who
    * skips multiplicity control; BH caps the EXPECTED false-discovery
    * share at α while keeping far more power than Bonferroni.
    *
    * Per group: success share of the treatment arm vs the control arm
    * (pooled-variance z). The normal tail is the Abramowitz–Stegun
    * 7.1.26 erf polynomial (|err| < 1.5e-7, far inside any honest
    * screening tolerance): p = poly(t)·e^(−z²/2), t = 1/(1+0.3275911·
    * |z|/√2) — plain arithmetic both engines evaluate identically
    * (exp's ≤1-ulp cross-engine drift vanishes in the 1e-9
    * quantization, the PSI/ln precedent). BH then runs on the
    * QUANTIZED p's with integer cross-multiplied thresholds
    * (p·αDen·m ≤ αNum·rank·10⁹ in DECIMAL — no float boundary):
    * reject every rank ≤ the largest in-threshold rank.
    *
    * Degenerate groups (an empty arm, or pooled share 0/1 → se = 0)
    * emit NULL z/p, rank NULL, rejected false, and do NOT count
    * toward m.
    *
    * Scale shape: one partial agg corpus → |groups| cells; the BH
    * sort/windows run UNPARTITIONED over the group table — the label
    * vocabulary, never the corpus (the q119 denominator rule).
    * Output: (group, n_treat, x_treat, n_ctrl, x_ctrl, z, p_value,
    * p_rank, m_tests, rejected).
    */
  def proportionTestBh(df: DataFrame, groupCol: String, armCol: String,
                       flagCol: String, alphaNum: Long = 5L,
                       alphaDen: Long = 100L): DataFrame = {
    require(alphaNum > 0 && alphaDen >= alphaNum,
      s"need 0 < alphaNum <= alphaDen, got $alphaNum/$alphaDen")
    val arm = col(armCol).cast("boolean")
    val flag = col(flagCol).cast("boolean")
    val cells = df
      .groupBy(col(groupCol))
      .agg(count(when(arm, 1)).as("n_treat"),
           count(when(arm && flag, 1)).as("x_treat"),
           count(when(!arm, 1)).as("n_ctrl"),
           count(when(!arm && flag, 1)).as("x_ctrl"))
    // z from exact counts, ONE mirrored double op order
    val p1 = d(col("x_treat")) / d(col("n_treat"))
    val p0 = d(col("x_ctrl")) / d(col("n_ctrl"))
    val pp = d(col("x_treat") + col("x_ctrl")) / d(col("n_treat") + col("n_ctrl"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / d(col("n_treat")) + lit(1.0) / d(col("n_ctrl"))))
    val zRaw = (p1 - p0) / se
    val degenerate = col("n_treat") === 0 || col("n_ctrl") === 0 ||
      col("x_treat") + col("x_ctrl") === 0 ||
      col("x_treat") + col("x_ctrl") === col("n_treat") + col("n_ctrl")
    // A&S 7.1.26 upper tail: 2·(1−Φ(|z|)) = poly(t)·e^(−x²), x=|z|/√2
    val x = abs(zRaw) / lit(math.sqrt(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * tt + lit(-1.453152027)) * tt + lit(1.421413741)) * tt
      + lit(-0.284496736)) * tt + lit(0.254829592)) * tt
    val pRaw = poly * exp(-x * x)
    val withP = cells
      .withColumn("z", when(!degenerate, round(zRaw, 6)))
      .withColumn("_pq", when(!degenerate,
        floor(pRaw * 1000000000L + lit(0.5)).cast("long")))
    // BH over the group table: rank ascending (p, group), m = tested
    val wAll = Window.partitionBy()
    val wOrd = Window.partitionBy().orderBy(col("_pq").asc_nulls_last,
      col(groupCol).cast("string"))
    val dz = (c: Column) => c.cast("decimal(38,0)")
    withP
      .withColumn("_m", count(col("_pq")).over(wAll))
      .withColumn("_rk", when(col("_pq").isNotNull, row_number().over(wOrd)))
      .withColumn("_ok", when(col("_pq").isNotNull &&
        dz(col("_pq")) * alphaDen * dz(col("_m")) <=
          dz(lit(alphaNum)) * col("_rk") * lit(1000000000L), col("_rk")))
      .withColumn("_cut", max(col("_ok")).over(wAll))
      .select(col(groupCol), col("n_treat"), col("x_treat"),
        col("n_ctrl"), col("x_ctrl"), col("z"),
        (d(col("_pq")) / 1e9).as("p_value"),
        col("_rk").as("p_rank"), col("_m").as("m_tests"),
        coalesce(col("_rk") <= col("_cut"), lit(false)).as("rejected"))
  }

  /** Calibration (reliability) bins: predictions in [0,1] bucketed
    * into `nBins` equal-width confidence bins; per bin the mean
    * predicted probability (confidence) vs the observed positive
    * rate (accuracy) — the reliability-diagram table behind ECE
    * (Guo et al. ICML'17). A well-calibrated scorer has conf ≈ acc
    * in every bin; a quality filter trained on one domain typically
    * shows over-confidence bins on a new one.
    *
    * Exactness: bin assignment is integer floor(pred·nBins) clamped
    * to [0, nBins−1] on IEEE doubles; per-bin mean confidence sums
    * micro-unit-quantized predictions as DECIMAL(38,0) (order-free)
    * and divides once in doubles; conf/acc/gap round at 1e-9.
    *
    * Scale shape: ONE partial agg to ≤nBins cells. Nothing else.
    */
  def calibration(df: DataFrame, labelCol: String, predCol: String,
                  nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val pred = col(predCol).cast("double")
    val bin = least(greatest(floor(pred * nBins).cast("long"), lit(0L)), lit(nBins - 1L))
    val predq = floor(pred * 1000000L + lit(0.5)).cast("long")
    val pos = col(labelCol).cast("boolean")
    val conf = d(col("_sp")) / (lit(1000000.0) * d(col("n")))
    val acc = d(col("n_pos")) / d(col("n"))
    df.select(bin.as("bin"), predq.as("_pq"), pos.as("_p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), count(when(col("_p"), 1)).as("n_pos"),
           sum(col("_pq").cast("decimal(38,0)")).as("_sp"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(conf, 9).as("conf"), round(acc, 9).as("acc"),
        round(abs(conf - acc), 9).as("gap"))
  }

  /** Expected Calibration Error over the [[calibration]] bins:
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b| — one scalar for dashboards.
    * Per-bin |gap| terms weight by exact counts and quantize to
    * DECIMAL(20,9) pre-sum; rounds at 1e-6.
    */
  def ece(df: DataFrame, labelCol: String, predCol: String,
          nBins: Int = 10): DataFrame = {
    val bins = calibration(df, labelCol, predCol, nBins)
    val tot = bins.agg(sum("n").as("_nt"))
    bins.crossJoin(broadcast(tot))
      .withColumn("_term",
        ((d(col("n")) / d(col("_nt"))) * abs(col("acc") - col("conf"))).cast("decimal(20,9)"))
      .agg(max(col("_nt")).as("n"), round(sum(col("_term")).cast("double"), 6).as("ece"))
  }

  /** Murphy decomposition of the (binned) Brier score over the
    * [[calibration]] bins: Brier = RELIABILITY − RESOLUTION +
    * UNCERTAINTY, with REL = Σn_b(conf_b−acc_b)²/N (how far the
    * stated confidences sit from the observed rates — what
    * recalibration can fix), RES = Σn_b(acc_b−base)²/N (how much the
    * scorer actually separates — what recalibration can NOT add), and
    * UNC = base(1−base) the irreducible noise. The diagnosis behind
    * [[ece]]'s single gap number: two models with equal Brier can be
    * a sharp-but-miscalibrated one (high RES, high REL — recalibrate
    * it) and a well-calibrated-but-useless one (both ≈ 0 — retrain
    * it).
    *
    * Exactness: bins come from [[calibration]] (exact counts; conf/acc
    * already rounded 1e-9 there, the oracle mirrors that), per-bin
    * REL/RES terms are doubles of those quantized DECIMAL(29,9)
    * pre-sum; the final row evaluates base/REL/RES/UNC/Brier in one
    * mirrored op order, rounded 1e-9. Scale: one ≤nBins partial agg +
    * a 1-row totals broadcast. Nothing row-scaled.
    */
  def brierDecomposition(df: DataFrame, labelCol: String, predCol: String,
                         nBins: Int = 10): DataFrame = {
    val bins = calibration(df, labelCol, predCol, nBins)
    val tot = bins.agg(sum("n").as("_nt"), sum("n_pos").as("_pt"))
    val base = d(col("_pt")) / d(col("_nt"))
    val agg = bins.crossJoin(broadcast(tot))
      .withColumn("_rel",
        (d(col("n")) * (col("conf") - col("acc")) * (col("conf") - col("acc")))
          .cast("decimal(29,9)"))
      .withColumn("_res",
        (d(col("n")) * (col("acc") - base) * (col("acc") - base)).cast("decimal(29,9)"))
      .groupBy(col("_nt"), col("_pt"))
      .agg(sum("_rel").as("_relt"), sum("_res").as("_rest"))
    val rel = d(col("_relt")) / d(col("_nt"))
    val res = d(col("_rest")) / d(col("_nt"))
    val unc = base * (lit(1.0) - base)
    agg.select(col("_nt").as("n"),
      round(base, 9).as("base_rate"),
      round(rel, 9).as("reliability"),
      round(res, 9).as("resolution"),
      round(unc, 9).as("uncertainty"),
      round(rel - res + unc, 9).as("brier"))
  }

  /** Cumulative gain / lift table: rows ranked by score descending
    * (ties broken by `idCol` — a TOTAL order, so the table is
    * deterministic and engine-portable), cut into `nBuckets`
    * equal-count buckets; per bucket the positive rate and the
    * CUMULATIVE lift vs the base rate — "the top decile captures
    * 3.1× its share of positives", the campaign/filter-targeting
    * read-out of [[groupedAuc]]'s single number.
    *
    * The global ordinal comes from the two-level
    * [[graft.core.Tafra.globalIndex]] decomposition (per-range
    * windows + broadcast offsets — NEVER a global window over rows),
    * so the ranking scales like q144, and bucket = ((idx−1)·B) div N
    * is exact integer arithmetic. Cumulative lift evaluates in
    * doubles from exact counts, mirrored, rounded 1e-9. The final
    * cumulative window runs over nBuckets rows — metadata-scale by
    * construction (the §5 bounded-window rule).
    */
  def liftTable(df: DataFrame, labelCol: String, scoreCol: String,
                idCol: String, nBuckets: Int = 10,
                unitScale: Long = 1000000L, bucketWidth: Long = 10000000L): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    // ascending order on the NEGATED quantized score = descending score
    val sq = -floor(col(scoreCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val pos = col(labelCol).cast("boolean")
    val indexed = graft.core.Tafra(
        df.select(sq.as("_sq"), col(idCol).as("_id"), pos.as("_p")))
      .globalIndex("_sq", Seq("_id"), bucketWidth, idxCol = "_idx").df
    val tot = indexed.agg(count(lit(1)).as("_n"),
      count(when(col("_p"), 1)).as("_npos"))
    // exact integer division (Spark's `/` on longs is double division):
    // the globalIndex (x − x mod n)/n trick — the quotient is an exact
    // integer multiple, so the double carries it losslessly
    val x = (col("_idx") - 1L) * nBuckets
    val bucketed = indexed.crossJoin(broadcast(tot))
      .withColumn("bucket", ((x - pmod(x, col("_n"))) / col("_n")).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), count(when(col("_p"), 1)).as("n_pos"),
           max(col("_n")).as("_nt"), max(col("_npos")).as("_npt"))
    Ranks.running(bucketed, Nil, Seq(col("bucket")),
        Seq("_cn" -> col("n"), "_cp" -> col("n_pos")))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(d(col("n_pos")) / d(col("n")), 9).as("rate"),
        when(col("_npt") > 0,
          round((d(col("_cp")) / d(col("_cn"))) / (d(col("_npt")) / d(col("_nt"))), 9))
          .as("cum_lift"))
  }

  /** Isotonic regression (PAV) per group — the OPTIMAL monotone
    * calibrator: fit the nondecreasing ŷ(x) minimizing Σ(y−ŷ)², the
    * standard score→probability calibration when [[calibration]]'s
    * fixed bins are too coarse (Zadrozny–Elkan KDD'02). Computed by
    * the MINIMAX identity fit_i = max_{j≤i} min_{k≥i} avg(y[j..k])
    * (Robertson–Wright–Dykstra §1.2) rather than the sequential
    * pool-adjacent-violators sweep: PAV is an inherently serial
    * per-group loop, while the minimax form is three data-parallel
    * steps — prefix sums, a bounded pair join, two windows — that
    * Spark and the SQL oracle replay IDENTICALLY.
    *
    * The pair table is quadratic in the number of DISTINCT x per
    * group (ties pool first, as isotonic regression requires), so the
    * operator carries the Theil–Sen bounded-series contract: an
    * in-plan broadcast-offender guard REFUSES loudly above
    * `maxPoints` distinct x — quantize x coarser (the usual
    * calibration practice) rather than letting one group emit 10⁸
    * pairs. Within the budget every structure is cell-sized: the
    * corpus collapses to (group, x) cells in ONE partial agg and
    * never reappears.
    *
    * Exactness: y quantizes to micro-units, prefix sums are
    * DECIMAL(38,0), each block average A(j,k) is ONE double division
    * of exact integers (IEEE-identical both engines), min/max of
    * identical doubles are deterministic; outputs round at 1e-9.
    * Output: (group, x, n, y_mean, fit) — fit is nondecreasing in x
    * within every group by construction.
    */
  def isotonicFit(df: DataFrame, groupCol: String, xCol: String, yCol: String,
                  unitScaleX: Long = 1L, unitScaleY: Long = 1000000L,
                  maxPoints: Long = 1000L): DataFrame = {
    val xq = floor(col(xCol).cast("double") * unitScaleX + lit(0.5)).cast("long")
    val yq = floor(col(yCol).cast("double") * unitScaleY + lit(0.5)).cast("long")
    val pooled = df.select(col(groupCol).as("_g"), xq.as("_x"), yq.as("_y"))
      .groupBy("_g", "_x")
      .agg(sum(col("_y").cast("decimal(38,0)")).as("_sy0"), count(lit(1)).as("_w"))
    // the theilSen guard: offender keys (normally none) broadcast back,
    // raise_error threaded through the value column — no extra action,
    // no series shuffle
    val offenders = pooled.groupBy("_g").agg(count(lit(1)).as("_kn"))
      .filter(col("_kn") > maxPoints)
    val guarded = pooled.join(broadcast(offenders), Seq("_g"), "left")
      .withColumn("_sy", when(col("_kn").isNotNull, raise_error(format_string(
          s"isotonicFit: group %s has %s distinct x (> maxPoints=$maxPoints) — " +
            "the minimax pair table is quadratic; quantize x coarser",
          col("_g").cast("string"), col("_kn").cast("string"))).cast("decimal(38,0)"))
        .otherwise(col("_sy0")))
      .drop("_kn", "_sy0")
    // _i = the cell's 1-based position in x order (x is unique per group)
    val pref = Ranks.running(guarded, Seq("_g"), Seq(col("_x")),
      Seq("_i" -> lit(1L), "_s" -> col("_sy"), "_cw" -> col("_w")))
    val lft = pref.select(col("_g"), col("_i").as("_j"),
      (col("_s") - col("_sy")).as("_sjm"), (col("_cw") - col("_w")).as("_wjm"))
    val rgt = pref.select(col("_g"), col("_i").as("_k"),
      col("_s").as("_sk"), col("_cw").as("_wk"))
    val pairs = lft.join(rgt, Seq("_g")).filter(col("_j") <= col("_k"))
      .withColumn("_A", (col("_sk") - col("_sjm")).cast("double")
        / (col("_wk") - col("_wjm")).cast("double"))
    val wSuf = Window.partitionBy("_g", "_j").orderBy(col("_k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = pairs.withColumn("_m", min(col("_A")).over(wSuf))
      .groupBy(col("_g"), col("_k")).agg(max(col("_m")).as("_fit"))
    pref.select(col("_g"), col("_x"), col("_w"), col("_sy"), col("_i"))
      .join(fit.withColumnRenamed("_g", "_g2"),
        col("_g") === col("_g2") && col("_i") === col("_k"))
      .select(col("_g").as(groupCol),
        (col("_x").cast("double") / unitScaleX.toDouble).as("x"),
        col("_w").as("n"),
        round(col("_sy").cast("double")
          / (lit(unitScaleY.toDouble) * col("_w").cast("double")), 9).as("y_mean"),
        round(col("_fit") / unitScaleY.toDouble, 9).as("fit"))
  }

  /** Poisson(1) CDF boundaries scaled to the portable affine hash
    * space — floor(P(X ≤ k)·[[Hashing.PortableP]]) for k = 0..5 —
    * shared verbatim with the SQL oracle (OracleGen.bootstrapCiSql)
    * so replicate multiplicities are integer-exact on both engines.
    * P(X > 5) ≈ 6e-4 caps m at 6.
    */
  val PoissonThresholds32: Seq[Long] =
    Seq(367879443L, 735758887L, 919698609L, 981011849L, 996340160L, 999405822L)

  /** Bootstrap confidence interval for the per-group mean via the
    * POISSON BOOTSTRAP (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google TR 2012; Kleiner's BLB is the
    * alternative): classical resampling draws n rows WITH replacement
    * — impossible to coordinate across a shuffled corpus — but each
    * row's multiplicity in a resample is asymptotically Poisson(1)
    * INDEPENDENTLY, so replicate r gives every row a multiplicity
    * m = F⁻¹(u(row, r)) from a content-addressed uniform
    * (md5(bs|r|id) — the house sampling rule: re-shard-stable,
    * engine-portable, auditable from SQL). No row ever leaves its
    * partition: the B-fold replicate fan-out is MAP-LOCAL compute and
    * collapses to (group, replicate) cells in the partial agg — the
    * shuffle carries |groups|·B cells, never corpus rows.
    *
    * The CI is the percentile-bootstrap interval: exact integer
    * cross-multiply rank selection over each group's B replicate
    * means (the weightedPercentile walk over B rows — bounded by
    * construction). Replicate means are single double divisions of
    * exact DECIMAL/long sums; multiplicity thresholds are integer
    * compares ([[PoissonThresholds32]]); outputs round 1e-9.
    *
    * Hashing cost is ONE md5 per ROW (the native Md5Word kernel),
    * not per (row, replicate): replicate r's uniform is the r-th
    * member of the portable affine family over the base hash (the
    * minhash-signature trick, [[Hashing.affine]]) — B fused
    * multiply-adds replace B digests (measured 12s → ~3s at sf0.1
    * with B = 100), and the oracle replays the same literals.
    * Output: (group, n, mean, ci_lo, ci_hi) at ± alpha/2 with
    * alpha = alphaNum/alphaDen (default 5/100 → 2.5%/97.5%).
    */
  def bootstrapCiMean(df: DataFrame, groupCol: String, valueCol: String,
                      idCol: String, b: Int = 100,
                      unitScale: Long = 1000000L,
                      alphaNum: Long = 5L, alphaDen: Long = 100L): DataFrame = {
    require(b >= 2, s"need at least 2 replicates, got $b")
    require(alphaNum > 0 && alphaNum * 2 < alphaDen,
      s"alpha must be in (0, 1/2): $alphaNum/$alphaDen")
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    // rebalance BEFORE the B× expand: the per-(row, replicate) affine
    // hash + Poisson threshold chain is the dominant CPU and must not
    // inherit a 1-split scan's parallelism
    val base = rebalance(df.select(col(groupCol).as("_g"), vq.as("_v"),
      Hashing.portableHash(concat(lit("bs|"), col(idCol).cast("string"))).as("_hb")), "_hb")
    val aArr = array((0 until b).map(i => lit(Hashing.affineA(i))): _*)
    val bArr = array((0 until b).map(i => lit(Hashing.affineB(i))): _*)
    val u = pmod(element_at(aArr, col("_r") + 1) * col("_hb")
      + element_at(bArr, col("_r") + 1), lit(Hashing.PortableP))
    val m = PoissonThresholds32.zipWithIndex.foldRight(lit(6L): Column) {
      case ((t, k), rest) => when(col("_h") < t, k.toLong).otherwise(rest)
    }
    val means = base
      .withColumn("_r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("_h", u)
      .withColumn("_m", m)
      .groupBy(col("_g"), col("_r"))
      .agg(sum((col("_m").cast("decimal(19,0)") * col("_v")).cast("decimal(38,0)")).as("_sv"),
           sum(col("_m")).as("_sm"))
      .filter(col("_sm") > 0)
      .withColumn("_mean",
        (col("_sv").cast("double") / col("_sm").cast("double")) / unitScale.toDouble)
    // exact rank selection over the B replicate means per group
    val ranked = Ranks.running(means, Seq("_g"), Seq(col("_mean")),
      Seq("_cum" -> lit(1L)), totals = Seq("_nb" -> lit(1L)))
    def ciAt(num: Long, name: String) = ranked.groupBy(col("_g"))
      .agg(Ranks.pick(col("_mean"), col("_cum"), col("_nb"), num, 2L * alphaDen).as(name))
    val lo = ciAt(alphaNum, "_lo")
    val hi = ciAt(2L * alphaDen - alphaNum, "_hi")
    val overall = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_v").cast("decimal(38,0)")).as("_s"))
      .withColumn("mean",
        round((col("_s").cast("double") / col("n").cast("double")) / unitScale.toDouble, 9))
    overall.join(lo, Seq("_g")).join(hi, Seq("_g"))
      .select(col("_g").as(groupCol), col("n"), col("mean"),
        round(col("_lo"), 9).as("ci_lo"), round(col("_hi"), 9).as("ci_hi"))
  }

  /** Pairwise mutual information (nats) between categorical columns
    * — the feature-redundancy / leakage audit: MI(X;Y) =
    * Σ (c_xy/N)·ln(N·c_xy/(c_x·c_y)). High MI between a feature and
    * a to-be-predicted label flags target leakage; high MI between
    * two features flags redundancy a dedup/selection pass can use.
    *
    * ONE corpus pass builds every pair's joint table at once: each
    * row emits its k(k−1)/2 column-pair cells (k = |cols|, small and
    * fixed), one partial agg collapses them to (pair, x, y) counts —
    * category-pair-sized state, never rows. Marginals are aggs OVER
    * the joint cells (no second corpus pass), joined back
    * cell-to-marginal. NULL categories count as their own level
    * (sentinel-coalesced so join keys stay null-safe). Terms follow
    * the entropy rule: doubles from exact counts, mirrored op order,
    * DECIMAL(20,9) pre-sum quantization; mi_nats rounds at 1e-6.
    */
  def miMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got $cols")
    val sent = "\u0000null"
    def cv(c: String): Column = coalesce(col(c).cast("string"), lit(sent))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield struct(lit(cols(i)).as("cx"), lit(cols(j)).as("cy"),
                   cv(cols(i)).as("x"), cv(cols(j)).as("y"))
    val cells = df
      .select(explode(array(pairs: _*)).as("_pr"))
      .select(col("_pr.cx").as("cx"), col("_pr.cy").as("cy"),
              col("_pr.x").as("x"), col("_pr.y").as("y"))
      .groupBy("cx", "cy", "x", "y").agg(count(lit(1)).as("_c"))
    val margX = cells.groupBy("cx", "cy", "x").agg(sum("_c").as("_cx_n"))
    val margY = cells.groupBy("cx", "cy", "y").agg(sum("_c").as("_cy_n"))
    val tot = cells.groupBy("cx", "cy").agg(sum("_c").as("_n"))
    val term = (d(col("_c")) / d(col("_n"))) *
      log(d(col("_n")) * d(col("_c")) / (d(col("_cx_n")) * d(col("_cy_n"))))
    cells
      .join(margX, Seq("cx", "cy", "x"))
      .join(margY, Seq("cx", "cy", "y"))
      .join(broadcast(tot), Seq("cx", "cy"))
      .withColumn("_term", term.cast("decimal(20,9)"))
      .groupBy(col("cx").as("col_x"), col("cy").as("col_y"))
      .agg(max(col("_n")).as("n"),
           round(sum(col("_term")).cast("double"), 6).as("mi_nats"))
  }

  /** Average precision (area under the precision–recall curve) per
    * group — the headline that matters when positives are RARE:
    * [[groupedAuc]] compares a random positive against a random
    * negative (insensitive to the 1:10⁶ imbalance a contamination or
    * PII detector lives at), while PR-AUC measures precision exactly
    * where the ranker operates. AP = Σ_t tp_t · P@t / n⁺ over
    * descending score thresholds t with P@t the inclusive cumulative
    * precision — the tie-aware step interpolation (no trapezoid,
    * which flatters saw-tooth curves).
    *
    * Exactness: the groupedAuc state shape — one partial agg to the
    * (group, score)-histogram, one cumulative window over it
    * partitioned by group DESCENDING — so cumTP/cumN are exact longs;
    * each tp_t·(cumTP/cumN) term is doubles-from-exact-ints quantized
    * DECIMAL(20,9) pre-sum; ap is ONE division, rounded 1e-9. Groups
    * without positives emit NULL.
    */
  def groupedPrAuc(df: DataFrame, groupCol: String, labelCol: String,
                   scoreCol: String, unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(scoreCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val pos = col(labelCol).cast("boolean")
    val hist = df
      .select(col(groupCol).as("_g"), vq.as("_v"), pos.as("_p"))
      .groupBy(col("_g"), col("_v"))
      .agg(count(when(col("_p"), 1)).as("_cp"),
           count(when(!col("_p"), 1)).as("_cn"))
    Ranks.running(hist, Seq("_g"), Seq(col("_v").desc),
        Seq("_ctp" -> col("_cp"), "_cnn" -> (col("_cp") + col("_cn"))))
      .withColumn("_term",
        (d(col("_cp")) * (d(col("_ctp")) / d(col("_cnn")))).cast("decimal(20,9)"))
      .groupBy(col("_g"))
      .agg(sum("_cp").as("n_pos"), sum("_cn").as("n_neg"),
           sum("_term").as("_num"))
      .select(col("_g").as(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0,
          round(d(col("_num")) / d(col("n_pos")), 9)).as("pr_auc"))
  }

  /** Multi-class classification report: the confusion-table read-out
    * — per class (precision, recall, F1 from the marginals and the
    * diagonal) plus ONE overall row carrying the macro averages,
    * accuracy, and Cohen's κ (agreement beyond chance — the honest
    * headline when classes are imbalanced: a 95%-majority-class
    * predictor scores accuracy 0.95 and κ ≈ 0). The label-quality
    * audit beside [[groupedAuc]] (scores) and [[calibration]]
    * (probabilities) once predictions are hard classes.
    *
    * Exactness: everything derives from ONE partial agg to the
    * |classes|² confusion cells — exact counts; precision/recall/F1
    * are double expressions of exact integers in one mirrored op
    * order, rounded 1e-9; macro averages quantize per-class terms to
    * DECIMAL(20,9) pre-sum (absent-denominator classes contribute 0,
    * the sklearn zero-division convention); κ's expected agreement
    * Σ n_actual·n_pred runs in DECIMAL(38,0). Classes appearing only
    * in predictions still get a row (NULL recall).
    *
    * Scale shape: the corpus collapses in the first partial agg;
    * every window after runs over the class-vocabulary table (§5
    * metadata exemption). Rows never shuffle.
    */
  def classificationReport(df: DataFrame, actualCol: String,
                           predCol: String): DataFrame = {
    val cells = df
      .groupBy(col(actualCol).cast("string").as("_a"),
               col(predCol).cast("string").as("_p"))
      .agg(count(lit(1)).as("_c"))
    val classes = cells.select(col("_a").as("label"))
      .unionByName(cells.select(col("_p").as("label"))).distinct()
    val rowM = cells.groupBy(col("_a").as("label")).agg(sum("_c").as("n_actual"))
    val colM = cells.groupBy(col("_p").as("label")).agg(sum("_c").as("n_pred"))
    val diag = cells.filter(col("_a") === col("_p"))
      .select(col("_a").as("label"), col("_c").as("tp"))
    val perClass = classes
      .join(rowM, Seq("label"), "left").join(colM, Seq("label"), "left")
      .join(diag, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val prec = d(col("tp")) / d(col("n_pred"))
    val rec = d(col("tp")) / d(col("n_actual"))
    val f1 = lit(2.0) * prec * rec / (prec + rec)
    val scored = perClass
      .withColumn("precision", when(col("n_pred") > 0, round(prec, 9)))
      .withColumn("recall", when(col("n_actual") > 0, round(rec, 9)))
      .withColumn("f1", when(col("n_pred") > 0 && col("n_actual") > 0 && col("tp") > 0,
        round(f1, 9)).otherwise(when(col("n_pred") > 0 && col("n_actual") > 0, lit(0.0))))
    val classRows = scored.select(lit("class").as("section"), col("label"),
      col("n_actual"), col("n_pred"), col("tp"), col("precision"), col("recall"),
      col("f1"), lit(null).cast("double").as("accuracy"),
      lit(null).cast("double").as("kappa"))
    // overall: macro averages over ALL classes (absent terms = 0), κ
    // from the exact marginal-product sum
    val overall = scored.agg(
        count(lit(1)).as("_k"),
        sum("n_actual").as("_n"), sum("tp").as("_tp"),
        sum(coalesce(col("precision"), lit(0.0)).cast("decimal(20,9)")).as("_sp"),
        sum(coalesce(col("recall"), lit(0.0)).cast("decimal(20,9)")).as("_sr"),
        sum(coalesce(col("f1"), lit(0.0)).cast("decimal(20,9)")).as("_sf"),
        sum((col("n_actual").cast("decimal(19,0)") * col("n_pred")).cast("decimal(38,0)"))
          .as("_pe"))
    val po = d(col("_tp")) / d(col("_n"))
    val pe = d(col("_pe")) / (d(col("_n")) * d(col("_n")))
    overall.select(lit("overall").as("section"), lit("all").as("label"),
        col("_n").as("n_actual"), col("_n").as("n_pred"), col("_tp").as("tp"),
        round(d(col("_sp")) / d(col("_k")), 9).as("precision"),
        round(d(col("_sr")) / d(col("_k")), 9).as("recall"),
        round(d(col("_sf")) / d(col("_k")), 9).as("f1"),
        round(po, 9).as("accuracy"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 9)).as("kappa"))
      .unionByName(classRows)
  }

  /** Pairwise Cramér's V association matrix over categorical columns
    * — the NORMALIZED companion to [[miMatrix]]: χ² scaled to [0,1]
    * via V = √(χ²/(N·(min(r,c)−1))), comparable ACROSS pairs with
    * different level counts (raw MI and raw χ² both grow with
    * cardinality; V answers "which feature pair is most entangled?"
    * on one scale). Same one-pass cell build as miMatrix.
    *
    * χ² sums over ALL (x, y) level combinations including empty
    * cells; materializing the full cross product is quadratic in the
    * level counts, so empty cells are folded in CLOSED FORM:
    * Σ_empty (0−e)²/e = Σ_empty e = N − Σ_occupied e, hence
    * χ² = Σ_occ[(c−e)²/e − e] + N over occupied cells only. Each
    * occupied term is a double expression of exact counts quantized
    * DECIMAL(29,9) pre-sum; χ² rounds 1e-6, V 1e-9. Single-level
    * columns (min(r,c) = 1 — no association defined) emit NULL v.
    */
  def cramersV(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got $cols")
    val sent = " null"
    def cv(c: String): Column = coalesce(col(c).cast("string"), lit(sent))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield struct(lit(cols(i)).as("cx"), lit(cols(j)).as("cy"),
                   cv(cols(i)).as("x"), cv(cols(j)).as("y"))
    val cells = df
      .select(explode(array(pairs: _*)).as("_pr"))
      .select(col("_pr.cx").as("cx"), col("_pr.cy").as("cy"),
              col("_pr.x").as("x"), col("_pr.y").as("y"))
      .groupBy("cx", "cy", "x", "y").agg(count(lit(1)).as("_c"))
    val margX = cells.groupBy("cx", "cy", "x")
      .agg(sum("_c").as("_cx_n"))
    val margY = cells.groupBy("cx", "cy", "y")
      .agg(sum("_c").as("_cy_n"))
    val levX = margX.groupBy("cx", "cy").agg(count(lit(1)).as("_r"))
    val levY = margY.groupBy("cx", "cy").agg(count(lit(1)).as("_s"))
    val tot = cells.groupBy("cx", "cy").agg(sum("_c").as("_n"))
    val e = d(col("_cx_n")) * d(col("_cy_n")) / d(col("_n"))
    val term = (d(col("_c")) - e) * (d(col("_c")) - e) / e - e
    val chi2 = d(col("_chi")) + d(col("_nt"))
    val minDim = least(col("_rt"), col("_st")) - 1L
    cells
      .join(margX, Seq("cx", "cy", "x"))
      .join(margY, Seq("cx", "cy", "y"))
      .join(broadcast(tot), Seq("cx", "cy"))
      .withColumn("_term", term.cast("decimal(29,9)"))
      .groupBy(col("cx").as("col_x"), col("cy").as("col_y"))
      .agg(max(col("_n")).as("_nt"), sum(col("_term")).as("_chi"))
      .join(broadcast(levX.select(col("cx").as("col_x"), col("cy").as("col_y"), col("_r").as("_rt"))),
        Seq("col_x", "col_y"))
      .join(broadcast(levY.select(col("cx").as("col_x"), col("cy").as("col_y"), col("_s").as("_st"))),
        Seq("col_x", "col_y"))
      .select(col("col_x"), col("col_y"), col("_nt").as("n"),
        col("_rt").as("levels_x"), col("_st").as("levels_y"),
        round(chi2, 6).as("chi2"),
        when(minDim > 0, round(sqrt(chi2 / (d(col("_nt")) * d(minDim))), 9))
          .as("cramers_v"))
  }

  /** Multiclass Matthews correlation per group (Gorodkin 2004's R_K):
    * MCC = (c·s − Σ_k p_k t_k) / √(s² − Σp_k²) / √(s² − Σt_k²) from
    * the confusion-matrix MARGINALS alone (c = correct, s = total,
    * t_k/p_k = actual/predicted class counts) — the single
    * chance-corrected scalar that, unlike accuracy or macro-F1, stays
    * honest under class imbalance, making it the model-COMPARISON
    * column beside [[classificationReport]]'s per-class table. Groups
    * are model/segment keys: one row per group ranks them directly.
    *
    * Exactness: every Σ term is an exact integer (counts multiplied
    * as DECIMAL(19,0)→DECIMAL(38,0), summed in DECIMAL(38,0)); the
    * numerator and the two √ factors evaluate in doubles FROM those
    * exact integers in one oracle-mirrored op order, rounded 1e-9. A
    * degenerate group (single actual or single predicted class —
    * either √ factor 0) emits NULL mcc, the sklearn convention.
    *
    * Scale shape: the corpus collapses to (group, actual, predicted)
    * cells in ONE partial agg; marginals and the per-group fold run
    * over the class-vocabulary table (§5 metadata exemption).
    */
  def mccByGroup(df: DataFrame, groupCol: String, actualCol: String,
                 predCol: String): DataFrame = {
    val cells = df
      .groupBy(col(groupCol).as("_g"),
        col(actualCol).cast("string").as("_a"),
        col(predCol).cast("string").as("_p"))
      .agg(count(lit(1)).as("_c"))
    val rowM = cells.groupBy(col("_g"), col("_a").as("_l")).agg(sum("_c").as("_t"))
    val colM = cells.groupBy(col("_g"), col("_p").as("_l")).agg(sum("_c").as("_q"))
    def dd(c: Column) = c.cast("decimal(19,0)")
    val marg = rowM.join(colM, Seq("_g", "_l"), "full_outer")
      .select(col("_g"), coalesce(col("_t"), lit(0L)).as("_t"),
        coalesce(col("_q"), lit(0L)).as("_q"))
      .groupBy("_g")
      .agg(sum((dd(col("_t")) * dd(col("_q"))).cast("decimal(38,0)")).as("_pt"),
        sum((dd(col("_q")) * dd(col("_q"))).cast("decimal(38,0)")).as("_p2"),
        sum((dd(col("_t")) * dd(col("_t"))).cast("decimal(38,0)")).as("_t2"))
    val tot = cells.groupBy("_g")
      .agg(sum("_c").as("_n"),
        sum(when(col("_a") === col("_p"), col("_c")).otherwise(lit(0L))).as("_corr"))
    val s2 = d(col("_n")) * d(col("_n"))
    val num = d(col("_corr")) * d(col("_n")) - d(col("_pt"))
    val fp = s2 - d(col("_p2"))
    val ft = s2 - d(col("_t2"))
    tot.join(marg, Seq("_g"))
      .select(col("_g").as(groupCol), col("_n").as("n"),
        round(d(col("_corr")) / d(col("_n")), 9).as("accuracy"),
        when(fp > 0 && ft > 0, round(num / sqrt(fp) / sqrt(ft), 9)).as("mcc"))
  }

  /** Pairwise effect sizes across the groups of one metric: Cohen's d
    * (standardized mean difference, pooled SD) and Cliff's delta
    * (P(x>y) − P(x<y), the rank-based size immune to outliers and
    * skew) for every group pair — the MAGNITUDE companion to the
    * significance tests (#52ah ANOVA / #52ai Kruskal–Wallis say
    * "differs"; this says "by how much, in units that matter").
    * Cliff's delta is derived from the exact Mann–Whitney identity
    * delta = 2U/(n_a·n_b) − 1 on half-unit integer ranks.
    *
    * Exactness: values quantize to unit-scale longs; moments are
    * DECIMAL(38,0) sums (d is scale-free so micro-units cancel);
    * rank sums are exact integers via the (group-pair, value)
    * histogram; d and delta evaluate once in mirrored double op
    * order, rounded 1e-6/1e-9. Pairs with a group of size < 2 or
    * zero pooled variance emit NULL d.
    *
    * Scale shape: ONE partial agg to the (group, value) histogram;
    * the pair explosion joins the histogram to the broadcast
    * ≤k(k−1)/2 pair table (each cell replicated ≤ k−1 times —
    * vocabulary-bounded); the rank window is per-pair over distinct
    * values. Rows never shuffle twice.
    */
  def effectSizes(df: DataFrame, groupCol: String, valueCol: String,
                  unitScale: Long = 1000000L): DataFrame = {
    val q = df.select(col(groupCol).cast("string").as("_g"),
      floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long").as("_v"))
    val cells = q.filter(col("_v").isNotNull).groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    def dd(c: Column) = c.cast("decimal(19,0)")
    val mom = cells.groupBy("_g").agg(
      sum("_c").as("_n"),
      sum((dd(col("_v")) * col("_c")).cast("decimal(38,0)")).as("_s1"),
      sum(((dd(col("_v")) * col("_v")).cast("decimal(38,0)")
        * dd(col("_c"))).cast("decimal(38,0)")).as("_s2"))
    val gs = mom.select(col("_g"))
    val prs = gs.as("x").join(gs.as("y"), col("x._g") < col("y._g"))
      .select(col("x._g").as("_ga"), col("y._g").as("_gb"))
    val pc = cells
      .join(broadcast(prs), col("_g") === col("_ga") || col("_g") === col("_gb"))
      .groupBy("_ga", "_gb", "_v")
      .agg(sum(when(col("_g") === col("_ga"), col("_c")).otherwise(0L)).as("_ta"),
        sum(col("_c")).as("_t"))
    val ra = Ranks.running(pc, Seq("_ga", "_gb"), Seq(col("_v")), Seq("_cum" -> col("_t")))
      .withColumn("_r2", Ranks.midRank2(col("_cum"), col("_t")))
      .groupBy("_ga", "_gb")
      .agg(sum((dd(col("_ta")) * col("_r2")).cast("decimal(38,0)")).as("_r2a"))
    val momA = mom.select(col("_g").as("_ga"), col("_n").as("_na"),
      col("_s1").as("_s1a"), col("_s2").as("_s2a"))
    val momB = mom.select(col("_g").as("_gb"), col("_n").as("_nb"),
      col("_s1").as("_s1b"), col("_s2").as("_s2b"))
    def mean(tag: String) = d(col(s"_s1$tag")) / d(col(s"_n$tag"))
    def vr(tag: String) =
      (d(col(s"_s2$tag")) - d(col(s"_s1$tag")) * d(col(s"_s1$tag")) / d(col(s"_n$tag"))) /
        (d(col(s"_n$tag")) - lit(1.0))
    val pooledNum = (d(col("_na")) - lit(1.0)) * vr("a") +
      (d(col("_nb")) - lit(1.0)) * vr("b")
    val pooled = sqrt(pooledNum / (d(col("_na")) + d(col("_nb")) - lit(2.0)))
    val delta = (d(col("_r2a")) - d(col("_na")) * (d(col("_na")) + lit(1.0))) /
      (d(col("_na")) * d(col("_nb"))) - lit(1.0)
    ra.join(broadcast(momA), Seq("_ga")).join(broadcast(momB), Seq("_gb"))
      .select(col("_ga").as("group_a"), col("_gb").as("group_b"),
        col("_na").as("n_a"), col("_nb").as("n_b"),
        when(col("_na") > 1 && col("_nb") > 1 && pooledNum > 0,
          round((mean("a") - mean("b")) / pooled, 6)).as("cohens_d"),
        round(delta, 9).as("cliffs_delta"))
  }

  /** Micro + macro character error rate per group — the ASR/OCR-shape
    * transcription metric (edit distance over reference length)
    * applied to pipeline text transforms: score a cleaner/scrubber by
    * CER between raw and transformed text, grouped by language or
    * source. Micro = Σ edits / Σ ref chars (corpus-weighted); macro =
    * mean of per-document rates (document-weighted) — divergence
    * between the two flags length-correlated damage.
    *
    * Levenshtein runs as Spark's native codegen'd expression (same
    * O(|a|·|b|) DP every engine implements; byte=char-identical on
    * ASCII input — the CALLER pins the alphabet, e.g. strip
    * non-ASCII, because engines differ on multi-byte counting).
    * Per-row macro terms quantize DECIMAL(20,9) pre-sum; micro
    * divides exact longs once, rounded 1e-9. Empty references are
    * counted (n_empty_ref) and excluded from both rates.
    *
    * Scale shape: one map-side pass computes the DP per row (CPU
    * scales with text length — cap inputs like any per-byte codec),
    * then ONE partial agg per group; nothing row-scaled shuffles.
    */
  def charErrorRate(df: DataFrame, groupCol: String, refCol: String,
                    hypCol: String): DataFrame = {
    val scored = df.select(col(groupCol).as("_g"),
        levenshtein(col(refCol), col(hypCol)).cast("long").as("_lev"),
        length(col(refCol)).cast("long").as("_len"))
    scored.groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_len") === 0, 1L).otherwise(0L)).as("n_empty_ref"),
        sum(when(col("_len") > 0, col("_lev")).otherwise(0L)).as("edit_total"),
        sum(when(col("_len") > 0, col("_len")).otherwise(0L)).as("ref_chars"),
        sum(when(col("_len") > 0,
          (d(col("_lev")) / d(col("_len"))).cast("decimal(20,9)"))).as("_mr"),
        sum(when(col("_len") > 0, 1L).otherwise(0L)).as("_nv"))
      .select(col(groupCol), col("n_docs"), col("n_empty_ref"),
        col("edit_total"), col("ref_chars"),
        when(col("ref_chars") > 0,
          round(d(col("edit_total")) / d(col("ref_chars")), 9)).as("cer_micro"),
        when(col("_nv") > 0, round(d(col("_mr")) / d(col("_nv")), 9)).as("cer_macro"))
  }

  /** Cochran–Armitage trend test: is a BINARY rate trending across
    * ORDERED groups — "does the failure rate rise across model
    * versions / quality buckets / date cohorts", the ordered
    * companion to the unordered chi-square (#52k): chi-square asks
    * "different anywhere", this asks "monotone with the score", with
    * full power on the one alternative a rollout audit cares about.
    * T = Σsᵢrᵢ − (R/N)Σsᵢnᵢ over integer scores sᵢ; Var(T) =
    * (R/N)(1−R/N)[Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N]; z = T/√Var (Armitage '55).
    *
    * Exactness: every Σ is an exact integer partial agg (scores are
    * integer by contract — bucket indices, version ordinals); T, Var,
    * z evaluate in ONE mirrored double expression over those integers,
    * rounded 1e-9. Degenerate inputs (all success / all failure / one
    * group) emit NULL z.
    *
    * Scale shape: one shared partial agg over the table — group
    * cells collapse map-side; the output is one row.
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      successCol: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val s0 = col(scoreCol).cast("long")
    val y = col(successCol).cast("long")
    val sums = df.agg(
      count(lit(1)).as("n"),
      sum(y).as("r"),
      sum(s0.cast("decimal(38,0)")).as("_sn"),
      sum((s0.cast("decimal(19,0)") * y).cast("decimal(38,0)")).as("_sr"),
      sum((s0.cast("decimal(19,0)") * s0).cast("decimal(38,0)")).as("_ssn"),
      countDistinct(s0).as("_k"))
    val pN = d(col("r")) / d(col("n"))
    val t = d(col("_sr")) - pN * d(col("_sn"))
    val varT = (pN * (lit(1.0) - pN)
      * (d(col("_ssn")) - d(col("_sn")) * d(col("_sn")) / d(col("n"))))
    sums.select(col("n"), col("r"), col("_k").cast("int").as("n_groups"),
      round(t, 9).as("t_stat"),
      round(varT, 9).as("var_t"),
      when(col("r") > 0 && col("r") < col("n") && col("_k") >= 2 && varT > 0.0,
        round(t / sqrt(varT), 9)).as("z"))
  }

  /** Bartlett's test for EQUALITY OF VARIANCES across groups — the
    * parametric, more powerful sibling of #52aj's Levene (Levene is
    * robust to non-normality; Bartlett is the sharper instrument when
    * the cells are near-normal, e.g. daily means by construction):
    * χ² = [(N−k)·ln(S²ₚ) − Σ(nᵢ−1)·ln(S²ᵢ)] / (1 + (Σ1/(nᵢ−1) −
    * 1/(N−k)) / (3(k−1))), df = k−1 (Bartlett '37).
    *
    * Exactness: per-group moments are exact integer sums of unit-
    * quantized values (the #52ah contract); each S²ᵢ and its ln
    * evaluate in one mirrored double op order, the Σln terms quantize
    * DECIMAL(25,12) pre-sum; groups with nᵢ < 2 are excluded (their
    * variance is undefined), and any zero variance emits NULL (ln
    * undefined — a degenerate cell the caller should see, not a
    * silent ±Inf).
    *
    * Scale shape: one per-group partial agg + a ≤k-row final agg.
    * Output: one row (k, n, chi2_bartlett, df).
    */
  def bartlett(df: DataFrame, groupCol: String, valueCol: String,
               unitScale: Long = 1000000L): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val g = df.select(col(groupCol).as("_g"), vq.as("_v"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_ni"),
        sum(col("_v").cast("decimal(38,0)")).as("_s1"),
        sum((col("_v").cast("decimal(19,0)") * col("_v")).cast("decimal(38,0)")).as("_s2"))
      .filter(col("_ni") >= 2)
    // S²ᵢ = (Σv² − (Σv)²/nᵢ)/(nᵢ−1) in value units (÷scale²), one
    // mirrored op order
    val ssd = (d(col("_s2")) - d(col("_s1")) * d(col("_s1")) / d(col("_ni")))
    val s2i = (ssd / (d(col("_ni")) - lit(1.0))
      / (lit(unitScale.toDouble) * lit(unitScale.toDouble)))
    val terms = g.select(col("_ni"), ssd.as("_ssd"),
      ((d(col("_ni")) - lit(1.0)) * log(s2i)).cast("decimal(25,12)").as("_lt"),
      (lit(1.0) / (d(col("_ni")) - lit(1.0))).cast("decimal(25,12)").as("_ci"),
      when(s2i <= 0.0, 1L).otherwise(0L).as("_degen"))
    val agg = terms.agg(
      count(lit(1)).as("_k"), sum(col("_ni")).as("n"),
      sum(col("_ssd").cast("decimal(38,6)")).as("_ssdtot"),
      sum(col("_lt")).as("_ltsum"), sum(col("_ci")).as("_csum"),
      sum(col("_degen")).as("_ndegen"))
    val nk = d(col("n")) - d(col("_k"))
    val sp2 = (d(col("_ssdtot")) / nk
      / (lit(unitScale.toDouble) * lit(unitScale.toDouble)))
    val num = nk * log(sp2) - d(col("_ltsum"))
    val den = (lit(1.0) + (d(col("_csum")) - lit(1.0) / nk)
      / (lit(3.0) * (d(col("_k")) - lit(1.0))))
    agg.select(col("_k").cast("int").as("k"), col("n"),
      when(col("_k") >= 2 && col("_ndegen") === 0L,
        round(num / den, 9)).as("chi2_bartlett"),
      (col("_k") - 1L).cast("int").as("df"))
  }

  /** Cronbach's α internal-consistency reliability (Cronbach,
    * Psychometrika'51): do the k items (here: per-item value totals
    * over a common subject axis) measure ONE underlying quantity —
    * α = k/(k−1) · (1 − Σᵢ Var(Xᵢ)/Var(ΣᵢXᵢ)). The metric-panel sanity
    * gate: k telemetry series that claim to track the same behavior
    * should hold α ≳ 0.7, and a dropped α flags a series that came
    * unglued. Missing (subject, item) cells are zero-filled — an
    * absent measurement is a zero total, not a dropped subject.
    *
    * Scale shape: one partial-agg cell build (subject × item totals of
    * micro-quantized values), a broadcast-sized zero-fill grid
    * (subjects × items — the SMALL derived frame, never raw rows),
    * then two folds over the cells. Raw rows shuffle exactly once.
    *
    * Exactness: cell totals are exact DECIMAL sums of quantized longs;
    * item and total variances assemble as n²-scaled exact integers
    * (n·ΣX² − (ΣX)²) whose ratio cancels the scale, so the ONLY double
    * is the final α expression the oracle token-mirrors. Degenerate
    * panels (k < 2 or zero total variance) emit NULL α.
    */
  def cronbachAlpha(df: DataFrame, subjectCol: String, itemCol: String,
                    valueCol: String): DataFrame = {
    val vq = floor(col(valueCol) * 1000000L + 0.5).cast("long")
    val cells = df.select(col(subjectCol).cast("string").as("_s"),
        col(itemCol).cast("string").as("_i"), vq.as("_v"))
      .groupBy("_s", "_i").agg(sum(col("_v").cast("decimal(38,0)")).as("_x"))
    val subjects = cells.select("_s").distinct()
    val items = cells.select("_i").distinct()
    val grid = subjects.crossJoin(broadcast(items))
      .join(cells, Seq("_s", "_i"), "left")
      .select(col("_s"), col("_i"),
        coalesce(col("_x"), lit(0).cast("decimal(38,0)")).as("_x"))
    // per-item n²·variance numerators (n = subject count, shared)
    val perItem = grid.groupBy("_i")
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_sx"),
        sum(col("_x") * col("_x")).as("_sxx"))
      .select(col("_n"),
        (col("_n").cast("decimal(38,0)") * col("_sxx") - col("_sx") * col("_sx")).as("_num"))
    val itemAgg = perItem.agg(count(lit(1)).as("_k"), max(col("_n")).as("_n"),
      sum(col("_num").cast("decimal(38,0)")).as("_numi"))
    // total-score n²·variance numerator over per-subject sums
    val totals = grid.groupBy("_s").agg(sum(col("_x")).as("_t"))
      .agg(count(lit(1)).as("_nt"), sum(col("_t")).as("_st"),
        sum(col("_t") * col("_t")).as("_stt"))
      .select((col("_nt").cast("decimal(38,0)") * col("_stt") - col("_st") * col("_st"))
        .cast("double").as("_numt"))
    val j = itemAgg.crossJoin(totals)
    val kd = col("_k").cast("double")
    j.select(col("_k").cast("int").as("k_items"),
      col("_n").cast("long").as("n_subjects"),
      when(col("_k") >= 2L && col("_numt") > 0.0,
        round(kd / (kd - lit(1.0)) *
          (lit(1.0) - col("_numi").cast("double") / col("_numt")), 9)).as("alpha"))
  }

  /** Information-gain feature screen: for each candidate categorical
    * feature, IG = H(label) − H(label | feature) — how many nats of
    * label uncertainty the feature removes. The mutual-information
    * ranking every feature-selection pass starts from (and the split
    * criterion decision trees maximize); differs from [[miMatrix]] in
    * shape: one fixed LABEL against many features, reported with the
    * conditional-entropy decomposition a data audit reads directly.
    *
    * Scale shape: per feature, one partial-agg count over (value,
    * label) cells plus the shared label marginal — each a map-side
    * combine; entropies assemble from cell counts (metadata-sized).
    *
    * Exactness: the q107 entropy pattern — each p·ln p term quantizes
    * to DECIMAL(20,9) before the sum, so partial-agg order cannot
    * drift the total; IG exits via round(·, 6).
    */
  def infoGain(df: DataFrame, labelCol: String,
               featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val base = df.select(
      (col(labelCol).cast("string") +: featureCols.map(c => col(c).cast("string"))): _*)
      .toDF(("_y" +: featureCols.map(c => s"_f_$c")): _*)
    val nTotal = base.count()
    val nd = lit(nTotal.toDouble)
    // H(label): one shared marginal
    val hLabel = base.groupBy("_y").agg(count(lit(1)).as("_c"))
      .select((((col("_c").cast("double") / nd) * log(col("_c").cast("double") / nd))
        .cast("decimal(20,9)")).as("_t"))
      .agg(sum(col("_t")).as("_sy"))
    val perFeature = featureCols.map { f =>
      val cells = base.groupBy(col(s"_f_$f").as("_v"), col("_y"))
        .agg(count(lit(1)).as("_cvc"))
      val vTot = cells.groupBy("_v").agg(sum("_cvc").as("_cv"))
      cells.join(vTot, Seq("_v"))
        .select((((col("_cvc").cast("double") / nd) *
          log(col("_cvc").cast("double") / col("_cv").cast("double")))
          .cast("decimal(20,9)")).as("_t"))
        .agg(sum(col("_t")).as("_sc"))
        .select(lit(f).as("feature"), col("_sc"))
    }.reduce(_.unionByName(_))
    perFeature.crossJoin(broadcast(hLabel))
      .select(col("feature"),
        round(-col("_sy").cast("double"), 6).as("h_label"),
        round(-col("_sc").cast("double"), 6).as("h_cond"),
        round(col("_sc").cast("double") - col("_sy").cast("double"), 6).as("info_gain"))
  }

  /** Fleiss' κ inter-rater agreement (Fleiss, Psych. Bull.'71): N
    * subjects each rated by exactly n raters into one of k categories
    * — observed pairwise agreement P̄ vs chance agreement P̄ₑ from the
    * pooled category shares, κ = (P̄ − P̄ₑ)/(1 − P̄ₑ). The
    * label-quality gate for multi-annotator datasets (and for
    * LLM-judge ensembles): κ near 0 means the "labels" are noise.
    * Subjects whose rating count differs from `nRaters` are dropped
    * (the fixed-n design requirement) and reported.
    *
    * Exactness: both P̄ and P̄ₑ assemble from exact integer sums
    * (Σᵢ Σ_c n_ic², Σ_c m_c²) in one mirrored double expression each;
    * κ exits via round(·, 9), NULL when P̄ₑ = 1 (single category).
    */
  def fleissKappa(df: DataFrame, subjectCol: String, categoryCol: String,
                  nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"nRaters must be >= 2, got $nRaters")
    val counts = df.select(col(subjectCol).cast("string").as("_s"),
        col(categoryCol).cast("string").as("_c"))
      .groupBy("_s", "_c").agg(count(lit(1)).as("_n"))
    val perSubject = counts.groupBy("_s")
      .agg(sum("_n").as("_tot"), sum(col("_n") * col("_n")).as("_s2"))
    val kept = perSubject.filter(col("_tot") === nRaters.toLong)
    val catTot = counts.join(kept.select("_s"), Seq("_s"), "left_semi")
      .groupBy("_c").agg(sum("_n").as("_m"))
      .agg(sum(col("_m").cast("decimal(38,0)") * col("_m").cast("decimal(38,0)"))
        .as("_sm2"))
    val subjAgg = kept.agg(count(lit(1)).as("_ns"),
      sum(col("_s2").cast("decimal(38,0)")).as("_s2tot"))
    val j = subjAgg.crossJoin(catTot)
    val nsd = col("_ns").cast("double"); val nr = lit(nRaters.toDouble)
    val pbar = (col("_s2tot").cast("double") - nsd * nr) /
      (nsd * nr * (nr - lit(1.0)))
    val pe = col("_sm2").cast("double") / (nsd * nr * nsd * nr)
    j.select(col("_ns").cast("long").as("n_subjects"),
      lit(nRaters).as("n_raters"),
      when(col("_ns") > 0L, round(pbar, 9)).as("p_bar"),
      when(col("_ns") > 0L, round(pe, 9)).as("p_e"),
      when(col("_ns") > 0L && pe < 1.0,
        round((pbar - pe) / (lit(1.0) - pe), 9)).as("kappa"))
  }

  /** McNemar's test for PAIRED binary outcomes — "did condition A and
    * condition B disagree systematically on the same units": only the
    * DISCORDANT pairs carry signal, χ² = (|n01 − n10| − 1)²/(n01 + n10)
    * with the continuity correction. The paired-model-comparison gate
    * (two classifiers scored on the same eval set; two filter variants
    * over the same documents) where a two-proportion test would
    * double-count the shared units. One partial-agg pass; all four
    * cell counts exact integers; NULL χ² when no discordant pairs.
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean"); val b = col(bCol).cast("boolean")
    val cells = df.agg(
      sum(when(!a && !b, 1L).otherwise(0L)).as("n00"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n01"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
      sum(when(a && b, 1L).otherwise(0L)).as("n11"))
    val disc = col("n01") + col("n10")
    val dev = abs(col("n01") - col("n10")) - lit(1L)
    cells.select(col("n00"), col("n01"), col("n10"), col("n11"),
      when(disc > 0L, round(
        (dev * dev).cast("double") / disc.cast("double"), 9)).as("chi2"))
  }

  /** Inverse-propensity-weighted average treatment effect with
    * STRATIFIED propensities (the observational-data effect estimate
    * when treatment wasn't randomized): within each stratum the
    * propensity e_s = P(T = 1 | s) is the observed share, and
    * ATE = (1/N) Σᵢ [Tᵢyᵢ/e_s − (1 − Tᵢ)yᵢ/(1 − e_s)]. Strata with no
    * treated or no control units have undefined weights and are
    * EXCLUDED (reported, never silently imputed) — the positivity
    * violation made visible. Emits one row per kept stratum plus the
    * pooled `_ate` row.
    *
    * Exactness: e_s is one double division of exact counts; each
    * row's weighted contribution re-quantizes to a long before any
    * sum, so the pooled ATE never depends on fold order.
    */
  def ipwAte(df: DataFrame, stratumCol: String, treatCol: String,
             yCol: String, unitScale: Long = 1000000L): DataFrame = {
    val t = col(treatCol).cast("boolean")
    val strata = df.groupBy(col(stratumCol).cast("string").as("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(when(t, 1L).otherwise(0L)).as("_nt"))
      .withColumn("_kept", col("_nt") > 0L && col("_nt") < col("_n"))
    val e = col("_nt").cast("double") / col("_n").cast("double")
    val rows = df.select(col(stratumCol).cast("string").as("_s"),
        t.as("_t"), col(yCol).cast("double").as("_y"))
      .join(broadcast(strata.filter(col("_kept"))
        .select(col("_s"), e.as("_e"))), Seq("_s"))
      .withColumn("_wq", floor(
        when(col("_t"), col("_y") / col("_e"))
          .otherwise(-col("_y") / (lit(1.0) - col("_e")))
          * unitScale + 0.5).cast("long"))
    val per = rows.groupBy("_s")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("n_treated"),
        sum(col("_wq").cast("decimal(38,0)")).as("_sw"))
      .select(col("_s").as("stratum"), col("n"), col("n_treated"),
        round(col("_sw").cast("double") / col("n").cast("double") /
          unitScale.toDouble, 9).as("ate"))
    val dropped = strata.filter(!col("_kept"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("_nd")).head().getLong(0)
    val pooled = rows.agg(count(lit(1)).as("n"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("n_treated"),
        sum(col("_wq").cast("decimal(38,0)")).as("_sw"))
      .select(lit("_ate").as("stratum"), col("n"), col("n_treated"),
        round(col("_sw").cast("double") / col("n").cast("double") /
          unitScale.toDouble, 9).as("ate"))
    val droppedRow = df.sparkSession.createDataFrame(
        Seq(("_dropped", dropped, 0L)))
      .toDF("stratum", "n", "n_treated")
      .withColumn("ate", lit(null).cast("double"))
    per.unionByName(pooled).unionByName(droppedRow)
  }

  /** Approximate randomization (permutation) test for the difference
    * in group means — the distribution-free significance complement to
    * the bootstrap CI family: under H₀ the group labels are
    * exchangeable, so `b` content-addressed pseudo-random relabelings
    * (md5 of replicate ⊕ unit id — reproducible anywhere, the q51
    * sampling contract) yield the null distribution of the mean
    * difference, and p = (1 + #{|diff_b| ≥ |observed|})/(b + 1).
    *
    * Scale shape: the b relabelings EXPAND MAP-SIDE (explode of a
    * replicate array) and collapse to (replicate, side) partial sums —
    * the q248 bootstrap shape: no per-replicate job, no shuffle growth
    * with b. Means are double divisions of exact quantized-long sums;
    * the ≥ compare happens on identically-shaped doubles.
    */
  def permutationTestDiff(df: DataFrame, groupCol: String, valueCol: String,
                          a: String, b: String, idCol: String,
                          reps: Int = 100,
                          unitScale: Long = 1000000L): DataFrame = {
    require(reps > 0, s"reps must be positive, got $reps")
    // rebalance BEFORE the reps× relabeling expand (one md5 per
    // (row, replicate)): same single-split-scan hazard as the
    // bootstrap — the 1× shuffle is ≤1/reps of the expand bytes
    val two = rebalance(df.filter(col(groupCol).isin(a, b))
      .select(col(idCol).cast("string").as("_id"),
        col(groupCol).as("_g"),
        floor(col(valueCol).cast("double") * unitScale + 0.5).cast("long")
          .as("_vq")), "_id")
    // a degenerate relabeling (one side empty) yields a NULL diff —
    // the oracle's DuckDB division-by-zero semantics — and the NULL
    // then fails the >= extremeness filter on both engines (only
    // reachable on tiny inputs; real group sizes never empty a side)
    def sideMean(side: Column): Column = {
      val cnt = sum(when(side, 1L).otherwise(0L))
      when(cnt > 0L,
        sum(when(side, col("_vq")).otherwise(0L).cast("decimal(38,0)"))
          .cast("double") / cnt.cast("double"))
    }
    def meanDiff(side: Column): Column = sideMean(side) - sideMean(!side)
    val obs = two.agg(meanDiff(col("_g") === a).as("_d")).head().getDouble(0)
    val perms = two
      .withColumn("_b", explode(array((0 until reps).map(lit): _*)))
      .withColumn("_side",
        substring(md5(concat_ws(" ", col("_b").cast("string"),
          col("_id"))), 1, 1) < "8")
      .groupBy("_b").agg(meanDiff(col("_side")).as("_d"))
    val nExtreme = perms.filter(abs(col("_d")) >= math.abs(obs)).count()
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    df.sparkSession.createDataFrame(Seq(
        (r9(obs / unitScale.toDouble), reps.toLong, nExtreme,
          r9((1.0 + nExtreme) / (reps + 1.0)))))
      .toDF("observed_diff", "n_reps", "n_extreme", "p_value")
  }

  /** Homogeneity / completeness / V-measure (Rosenberg & Hirschberg
    * EMNLP'07) — the entropy-based clustering-vs-truth scorecard:
    * homogeneity = 1 − H(C|K)/H(C) (each cluster holds one class),
    * completeness = 1 − H(K|C)/H(K) (each class lands in one cluster),
    * V = their harmonic mean. The symmetric read-out a single
    * information-gain number hides — a clustering can be perfectly
    * homogeneous yet shatter every class. One (class, cluster)
    * contingency partial agg bounded by the label product; every
    * p·ln p term DECIMAL-quantized pre-sum (the q107 contract).
    */
  def vMeasure(df: DataFrame, classCol: String, clusterCol: String): DataFrame = {
    // the joint cell table is label²-bounded — checkpointed once so the
    // corpus scan+agg runs once, then ALL four entropy reductions fold
    // in ONE driver action (four 1-row aggs cross-joined) instead of
    // one action each (was 5 actions / 24 single-task AQE stage jobs)
    val cells = df.select(col(classCol).cast("string").as("_c"),
        col(clusterCol).cast("string").as("_k"))
      .groupBy("_c", "_k").agg(count(lit(1)).as("_n"))
      .localCheckpoint()
    val n = cells.agg(sum("_n")).head().getLong(0).toDouble
    def entropyOf(grouped: DataFrame, cnt: String, as: String): DataFrame =
      grouped.agg(sum(
          (-(col(cnt).cast("double") / n) * log(col(cnt).cast("double") / n))
            .cast("decimal(20,9)")).as(as))
    // conditional entropies from the joint and the conditioning marginal
    def condEntropy(margCol: String, as: String): DataFrame = {
      val marg = cells.groupBy(margCol).agg(sum("_n").as("_m"))
      cells.join(broadcast(marg), Seq(margCol))
        .agg(sum(
          (-(col("_n").cast("double") / n) *
            log(col("_n").cast("double") / col("_m").cast("double")))
            .cast("decimal(20,9)")).as(as))
    }
    val hRow = entropyOf(cells.groupBy("_c").agg(sum("_n").as("_m")), "_m", "_hc")
      .crossJoin(entropyOf(cells.groupBy("_k").agg(sum("_n").as("_m")), "_m", "_hk"))
      .crossJoin(condEntropy("_k", "_hck"))
      .crossJoin(condEntropy("_c", "_hkc"))
      .head()
    val hc = hRow.getDecimal(0).doubleValue()
    val hk = hRow.getDecimal(1).doubleValue()
    val hck = hRow.getDecimal(2).doubleValue() // H(C|K)
    val hkc = hRow.getDecimal(3).doubleValue() // H(K|C)
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val hom = if (hc == 0.0) 1.0 else 1.0 - hck / hc
    val com = if (hk == 0.0) 1.0 else 1.0 - hkc / hk
    val v = if (hom + com == 0.0) 0.0 else 2.0 * hom * com / (hom + com)
    df.sparkSession.createDataFrame(Seq(
        (r9(hc), r9(hk), r9(hck), r9(hkc), r9(hom), r9(com), r9(v))))
      .toDF("h_class", "h_cluster", "h_class_given_cluster",
        "h_cluster_given_class", "homogeneity", "completeness", "v_measure")
  }

  /** Cochran's Q test (Cochran '50) — k paired binary treatments on
    * the same blocks, the k-way generalization of [[mcnemar]]: "do
    * these k binary conditions fire at different rates on the SAME
    * units?" (k filter variants over one corpus; k classifiers' hit
    * flags on one eval set). Q = (k−1)·(k·ΣTⱼ² − T²)/(k·ΣBᵢ − ΣBᵢ²)
    * with Tⱼ the per-treatment totals and Bᵢ the per-block totals;
    * χ²(k−1) under H₀. Blocks must arrive pre-pivoted (one 0/1
    * column per treatment). One partial-agg pass: every sum is an
    * exact integer, Q is one mirrored double division; NULL when the
    * denominator is 0 (all blocks constant — no discordance at all).
    */
  def cochranQ(df: DataFrame, outcomeCols: Seq[String]): DataFrame = {
    require(outcomeCols.size >= 2, "cochranQ needs >= 2 treatment columns")
    val k = outcomeCols.size.toLong
    val b = outcomeCols.map(c => col(c).cast("long")).reduce(_ + _)
    val aggs =
      outcomeCols.map(c => sum(col(c).cast("long")).as(s"_t_$c")) ++ Seq(
        count(lit(1)).as("n_blocks"),
        sum(b).as("_bsum"), sum(b * b).as("_b2sum"))
    val m = df.agg(aggs.head, aggs.tail: _*)
    val tSq = outcomeCols.map(c => col(s"_t_$c") * col(s"_t_$c")).reduce(_ + _)
    def dbl(c: Column) = c.cast("double")
    m.withColumn("_den", lit(k) * col("_bsum") - col("_b2sum"))
      .select(col("n_blocks"), lit(k).as("k"), lit(k - 1L).as("df"),
        when(col("_den") > 0L, round(
          dbl(lit(k - 1L) * (lit(k) * tSq - col("_bsum") * col("_bsum"))) /
            dbl(col("_den")), 9)).as("q_stat"))
  }

  /** Weighted Cohen's κ (Cohen '68) — TWO-rater agreement on ORDINAL
    * integer labels, where near-misses count: with quadratic weights
    * w_ij = (i−j)², κ_w = 1 − N·Σw·O / Σ_ij w_ij·r_i·c_j (O the
    * contingency counts, r/c the marginals). The two-rater ordinal
    * companion to [[fleissKappa]] (nominal, n raters) — THE metric
    * for "does the cheap quality scorer agree with the expensive
    * one", because quadratic weighting reproduces the ICC and
    * punishes 0-vs-4 disagreements 16× harder than 0-vs-1.
    *
    * Scale shape: one (a, b) contingency partial agg bounded by the
    * label product; both κ terms assemble from exact integer sums
    * (weights are integer squares), one double division at the end.
    */
  def cohenKappaWeighted(df: DataFrame, aCol: String, bCol: String,
                         linear: Boolean = false): DataFrame = {
    val cells = df.select(col(aCol).cast("long").as("_a"),
        col(bCol).cast("long").as("_b"))
      .groupBy("_a", "_b").agg(count(lit(1)).as("_n"))
    def wgt(i: Column, j: Column): Column = {
      val d = abs(i - j)
      if (linear) d else d * d
    }
    // observed disagreement N·ΣwO and the marginal product ΣwₐᵦrₐcᵦE
    // fold from the SAME bounded cell table (marginals re-aggregated
    // then pair-joined — labels × labels rows, broadcast-sized)
    val ra = cells.groupBy(col("_a")).agg(sum("_n").as("_ra"))
    val cb = cells.groupBy(col("_b")).agg(sum("_n").as("_cb"))
    // N, ΣwO, and the marginal product fold in ONE driver action (the
    // repeated `cells` exchange is reused in-plan) instead of three
    val row = cells
      .agg(sum("_n").as("_nn"),
        sum(wgt(col("_a"), col("_b")) * col("_n")).as("_wo"))
      .crossJoin(ra.crossJoin(cb)
        .agg(sum((wgt(col("_a"), col("_b")) *
          col("_ra") * col("_cb")).cast("decimal(38,0)")).as("_we")))
      .head()
    val n = row.getLong(0)
    val obs = row.getLong(1)
    val exp = row.getDecimal(2)
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    // w_expected can reach maxW·N² — long overflows at corpus scale,
    // so it stays DECIMAL internally and only κ (a double) is emitted
    val kap =
      if (exp.signum == 0) None
      else Some(r9(1.0 - n.toDouble * obs.toDouble / exp.doubleValue()))
    df.sparkSession.createDataFrame(Seq((n, obs, kap)))
      .toDF("n", "w_observed", "kappa_w")
  }

  /** Reliability diagram + expected calibration error (Naeini AAAI'15;
    * Guo ICML'17's ECE) — "when the scorer says 0.8, is it right 80%
    * of the time": scores bin into `bins` equal-width cells, each
    * reporting its mean confidence, observed accuracy, and gap; the
    * `total` row carries ECE = Σ n_b/N·|acc_b − conf_b|. THE
    * post-hoc gate on any quality/domain classifier whose scores
    * feed threshold decisions (a well-ranked but mis-calibrated
    * scorer silently shifts the kept-data mix).
    *
    * One (bin) partial agg bounded by `bins`; confidences quantize to
    * micro-unit longs pre-sum, per-bin gaps quantize DECIMAL(20,9)
    * before the ECE fold. Scores must land in [0, 1] — out-of-range
    * rows would silently pile into the edge bins, so they refuse
    * loudly via the in-plan guard.
    */
  def calibrationError(df: DataFrame, scoreCol: String, labelCol: String,
                       bins: Int = 10, unitScale: Long = 1000000L): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val sc = col(scoreCol).cast("double")
    val guarded = df.select(
      when(sc < 0.0 || sc > 1.0, raise_error(format_string(
          s"calibrationError: score out of [0,1]: %s", sc.cast("string"))))
        .otherwise(sc).as("_s"),
      col(labelCol).cast("boolean").as("_y"))
    val cells = guarded.select(
        least(floor(col("_s") * bins), lit(bins - 1L)).cast("int").as("_b"),
        floor(col("_s") * unitScale + 0.5).cast("long").as("_sq"),
        when(col("_y"), 1L).otherwise(0L).as("_p"))
      .groupBy("_b")
      .agg(count(lit(1)).as("_n"),
        sum(col("_sq").cast("decimal(38,0)")).as("_ss"), sum("_p").as("_np"))
    def dbl(c: Column) = c.cast("double")
    val perBin = cells.select(col("_b"), col("_n"), col("_np"),
      (dbl(col("_ss")) / dbl(col("_n")) / unitScale.toDouble).as("_conf"),
      (dbl(col("_np")) / dbl(col("_n"))).as("_acc"))
      .withColumn("_gap", abs(col("_acc") - col("_conf")))
    val out = perBin.select(lit("bin").as("section"), col("_b").as("bin"),
      col("_n").as("n"), round(col("_conf"), 9).as("avg_conf"),
      round(col("_acc"), 9).as("accuracy"), round(col("_gap"), 9).as("gap"))
    val total = perBin.agg(sum("_n").as("_tn"),
        sum((dbl(col("_n")) * col("_gap")).cast("decimal(20,9)")).as("_wg"))
      .select(lit("total").as("section"), lit(null).cast("int").as("bin"),
        col("_tn").as("n"), lit(null).cast("double").as("avg_conf"),
        lit(null).cast("double").as("accuracy"),
        round(dbl(col("_wg")) / dbl(col("_tn")), 9).as("gap"))
    out.unionByName(total)
  }

  /** Per-segment 2×2 association: odds ratio, risk ratio, and the
    * Woolf LOG-domain 95% interval ln(OR) ± 1.96·√(1/a+1/b+1/c+1/d) —
    * the epidemiologist's read-out of "does exposure move the
    * outcome, and how tightly do we know it", per stratum. The CI is
    * emitted in LN-DOMAIN (the Good–Turing lesson: exp is a libm
    * function the two engines disagree on by ulps; ln of an exact
    * ratio is reproducible). Any empty cell → NULL measures for that
    * segment (reported, never infinities).
    *
    * One partial-agg pass to |segments| exact integer 2×2 cells.
    */
  def oddsRiskBySegment(df: DataFrame, segCol: String, exposedCol: String,
                        outcomeCol: String): DataFrame = {
    val e = col(exposedCol).cast("boolean"); val o = col(outcomeCol).cast("boolean")
    val cells = df.groupBy(col(segCol).cast("string").as("segment"))
      .agg(sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
    def dbl(c: Column) = c.cast("double")
    val ok = col("a") > 0L && col("b") > 0L && col("c") > 0L && col("d") > 0L
    val lnOr = log(dbl(col("a")) * dbl(col("d")) / (dbl(col("b")) * dbl(col("c"))))
    val se = sqrt(lit(1.0) / dbl(col("a")) + lit(1.0) / dbl(col("b")) +
      lit(1.0) / dbl(col("c")) + lit(1.0) / dbl(col("d")))
    cells.select(col("segment"), col("a"), col("b"), col("c"), col("d"),
      when(ok, round(dbl(col("a")) * dbl(col("d")) /
        (dbl(col("b")) * dbl(col("c"))), 9)).as("odds_ratio"),
      when(ok, round((dbl(col("a")) / (dbl(col("a")) + dbl(col("b")))) /
        (dbl(col("c")) / (dbl(col("c")) + dbl(col("d")))), 9)).as("risk_ratio"),
      when(ok, round(lnOr - lit(1.96) * se, 9)).as("ln_or_lo"),
      when(ok, round(lnOr + lit(1.96) * se, 9)).as("ln_or_hi"))
  }

  /** Krippendorff's α, nominal data (Krippendorff '70; the
    * computational form of Hayes & Krippendorff '07) — the
    * inter-rater reliability coefficient that, unlike
    * [[fleissKappa]]'s fixed-n design, accepts ANY number of ratings
    * per unit and simply drops unpairable units (m < 2): the
    * real-world annotation table, where coverage is ragged and
    * raters come and go. α = 1 − D_o/D_e with
    * D_o ∝ Σ_u Σ_c n_uc(m_u − n_uc)/(m_u − 1) and
    * D_e ∝ Σ_c n_c(n − n_c).
    *
    * Scale shape: one (unit, value) partial-agg count + one unit
    * count, a unit-keyed join, then bounded folds — nothing
    * quadratic, no rater identity needed. The observed-disagreement
    * terms are rationals with per-unit denominators: each quantizes
    * to DECIMAL(20,9) pre-sum; the expected side is exact integers.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valueCol: String): DataFrame = {
    val r = df.select(col(unitCol).cast("string").as("_u"),
        col(valueCol).cast("string").as("_v"))
      .filter(col("_v").isNotNull)
    val mu = r.groupBy("_u").agg(count(lit(1)).as("_m"))
      .filter(col("_m") >= 2L) // units with one rating are unpairable
    val nuc = r.groupBy("_u", "_v").agg(count(lit(1)).as("_k"))
      .join(mu, Seq("_u"))
    def dbl(c: Column) = c.cast("double")
    // ONE driver action for all three scalar reductions (D_o/cells,
    // unit count, n/Σn_c²): three 1-row aggs cross-joined — the `nuc`
    // and `mu` exchanges are identical subtrees, so the plan evaluates
    // the rating scan + both partial aggs once (ReusedExchange) instead
    // of re-running them per action (was 3 actions / 17 AQE stage jobs)
    val row = nuc.agg(
        sum((dbl(col("_k")) * dbl(col("_m") - col("_k")) /
          dbl(col("_m") - 1L)).cast("decimal(20,9)")).as("_do"),
        count(lit(1)).as("_cells"))
      .crossJoin(mu.agg(count(lit(1)).as("_units")))
      .crossJoin(nuc.groupBy("_v").agg(sum("_k").as("_nc"))
        .agg(coalesce(sum("_nc"), lit(0L)).as("_n"),
          sum((col("_nc").cast("decimal(38,0)") * col("_nc")).cast("decimal(38,0)"))
            .as("_nc2")))
      .head()
    if (row.isNullAt(0)) {
      // no pairable unit at all
      return df.sparkSession.createDataFrame(
          Seq((0L, 0L, None: Option[Double])))
        .toDF("n_units", "n_ratings", "alpha")
    }
    val doSum = row.getDecimal(0).doubleValue()
    val units = row.getLong(2)
    val n = row.getLong(3)
    val nc2 = row.getDecimal(4).doubleValue()
    // D_e denominator: Σ_c n_c(n − n_c) = n² − Σ n_c²
    val de = n.toDouble * n.toDouble - nc2
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    val alpha =
      if (de > 0.0) Some(r9(1.0 - (n.toDouble - 1.0) * doSum / de)) else None
    df.sparkSession.createDataFrame(Seq((units, n, alpha)))
      .toDF("n_units", "n_ratings", "alpha")
  }
}
