package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing
import graft.core.Sizing.rebalance

/** One-pass corpus profiling: per-group AND grand-total statistics via
  * ROLLUP — row counts, metric totals, and EXACT percentiles. The
  * dataset report every curation pipeline publishes (docs and length
  * distribution per source, plus the corpus-wide line) as a single
  * relational pass.
  *
  * Scale shape: ROLLUP is ONE shuffle with partial (map-side)
  * aggregation — the grand-total row reuses the same partials, it is
  * not a second scan. Exact percentiles use Spark's `percentile`
  * aggregate whose partial state is a value→count map: memory scales
  * with DISTINCT metric values (bounded for lengths, scores, token
  * counts), never with rows. For an unbounded-cardinality metric swap
  * `approx_percentile` in — the report contract is unchanged.
  *
  * Engine determinism: Spark `percentile`, DuckDB `quantile_cont`, and
  * numpy's 'linear' all interpolate at position p·(n−1) (verified
  * bit-identical on this corpus); the interpolated double is still
  * quantized through DECIMAL(18,4) on both engines so a last-bit
  * difference can never flip the comparison hash.
  */
object Profile {

  /** Per-group + grand-total stats of `metricCol` grouped by
    * `groupCol`. Output: (groupCol, is_total, n_rows, total, p50, p90,
    * p99) — `is_total = 1` marks the rollup's grand-total row (its
    * groupCol is NULL).
    *
    * `exact = false` routes every percentile through
    * `approx_percentile` (a KLL-family sketch at `accuracy` —
    * CONSTANT state per group regardless of value cardinality): the
    * right default at 100 TB of double-valued metrics, where the exact
    * aggregate's value→count map state is unbounded. Contract
    * difference: the approx answer is a real value from the data
    * within rank error n/accuracy (no interpolation), so it is NOT
    * oracle-hash-stable — reports only; the exact default remains the
    * gate path.
    */
  def stats(df: DataFrame, groupCol: String, metricCol: String,
            exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    def pct(p: Double, name: String): Column =
      (if (exact) percentile(col(metricCol), lit(p))
       else approx_percentile(col(metricCol), lit(p), lit(accuracy)).cast("double"))
        .cast("decimal(18,4)").cast("double").as(name)
    df.rollup(col(groupCol))
      .agg(
        grouping(col(groupCol)).cast("int").as("is_total"),
        count(lit(1)).as("n_rows"),
        sum(col(metricCol)).as("total"),
        pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
  }

  /** Adaptive per-group filtering: keep rows whose `scoreCol` is at or
    * above their OWN group's p-quantile — the per-domain threshold
    * pattern (a single global cutoff over-prunes clean domains and
    * under-prunes noisy ones; thresholding each domain against itself
    * is how modern curation pipelines set quality gates).
    *
    * Spark design: thresholds are ONE percentile agg (partial state =
    * distinct-score map per group) joined back — a model artifact the
    * size of the group count, BROADCAST only within the driver budget
    * ([[graft.core.Sizing]]) with a plain shuffled join past it
    * (domains are usually thousands, but nothing guarantees it).
    * Deliberately NOT a partition-wide window: an unbounded-frame
    * window buffers each group in one task, the agg+join form
    * combines map-side. Score and threshold are both quantized to
    * DECIMAL(18,6) before the comparison, so the boundary decision is
    * exact and engine-identical. Appends `thr` (the group threshold)
    * for auditability.
    */
  def adaptiveFilter(df: DataFrame, groupCol: String, scoreCol: String,
                     p: Double = 0.25,
                     exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(p >= 0.0 && p <= 1.0, "p must be in [0, 1]")
    // exact=false: constant-state sketch thresholds (the stats rule) —
    // the cutoff moves by at most rank error n/accuracy per group;
    // same keep semantics, not hash-stable
    val pc = if (exact) percentile(col(scoreCol), lit(p))
             else approx_percentile(col(scoreCol), lit(p), lit(accuracy)).cast("double")
    val thr = df.groupBy(col(groupCol))
      .agg(pc.cast("decimal(18,6)").as("thr"))
      .persist()
    val thrT = Sizing.broadcastIfFits(df.sparkSession, thr.count())(thr)
    df.join(thrT, Seq(groupCol))
      .filter(col(scoreCol).cast("decimal(18,6)") >= col("thr"))
  }

  /** Shannon entropy of a categorical distribution per group — the
    * diversity/purity score (how varied is a user's behavior, how
    * mixed is a cluster's label set). H = −Σ p·ln p over the
    * (group, label) counts: two partial aggs and a group-keyed join,
    * never a window. Each p·ln p term quantizes to DECIMAL(20,9)
    * before the sum — `ln` differs between libm and the JVM in the
    * last ulp, and a float sum would also be order-dependent; the
    * quantized sum is exact and order-insensitive, and the result
    * rounds at 1e-6 on both engines.
    */
  def labelEntropy(df: DataFrame, groupCol: String, labelCol: String): DataFrame = {
    val cnt = df.groupBy(col(groupCol), col(labelCol)).agg(count(lit(1)).as("_c"))
    val tot = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_tot"))
    cnt.join(tot, Seq(groupCol))
      .withColumn("_term",
        ((col("_c") / col("_tot")) * log(col("_c") / col("_tot"))).cast("decimal(20,9)"))
      .groupBy(col(groupCol))
      .agg(max("_tot").as("n_events"), sum("_term").as("_s"))
      .select(col(groupCol), col("n_events"),
        round(-col("_s").cast("double"), 6).as("entropy"))
  }

  /** Robust per-group outlier flagging by median absolute deviation:
    * a row is an outlier iff |v − median| > k·MAD of its OWN group —
    * the robust alternative to z-scores (mean and stddev are
    * themselves dragged by the outliers they should flag; median/MAD
    * have a 50% breakdown point).
    *
    * Two percentile aggs (exact `percentile` — value-map partial
    * state, the q71 shape) joined back on the group key; deviations
    * are computed ENTIRELY IN DECIMAL (|v − med| with both as
    * DECIMAL(18,6) — exact, no float subtraction), the gate
    * `dev > k·mad` is a decimal comparison with integer k, and the
    * only double in sight is the MAD percentile's interpolation input,
    * which converts exactly (≤ 6-decimal values under 2⁴⁷ are exact in
    * a double). No boundary can disagree between engines.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val med = df.groupBy(col(groupCol))
      .agg(percentile(col(valueCol), lit(0.5)).cast("decimal(18,6)").as("_med"))
    val dev = df.join(med, Seq(groupCol))
      .withColumn("_dev", abs(col(valueCol).cast("decimal(18,6)") - col("_med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(percentile(col("_dev").cast("double"), lit(0.5))
        .cast("decimal(18,6)").as("_mad"))
    dev.join(mad, Seq(groupCol))
      .withColumn("is_outlier", col("_dev") > lit(k) * col("_mad"))
      .withColumn("dev", col("_dev").cast("double"))
      .drop("_med", "_dev", "_mad")
  }

  /** Pairwise Pearson correlation matrix over numeric columns in ONE
    * aggregation pass: k + k + C(k,2) sums (per-column S and S², plus
    * per-pair cross products) computed together, so a k-column matrix
    * costs one scan and one partial-agg combine regardless of k — the
    * feature-audit pass (is quality_score redundant with length?)
    * that naive per-pair `corr` calls turn into C(k,2) scans.
    *
    * Engine determinism (the q76/q89 pattern): values quantize to
    * integer units via `floor(v·unitScale + 0.5)` in IEEE doubles
    * (bit-identical in both engines), all sums then run as
    * DECIMAL(38,0) over exact longs — order-insensitive at any
    * parallelism — and the Pearson formula
    * (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)) evaluates in
    * doubles from those exact sums, the same op sequence both
    * engines. Caller picks `unitScale` so per-row products fit a
    * long: |v·unitScale| must stay under ~3×10⁹ (√(2⁶³)).
    *
    * The pair rows expand map-side from the single agg row (explode
    * of a struct array) — the aggregation is never recomputed per
    * pair.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String], unitScale: Long = 100L): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val qn = cols.map(c => c -> s"_q_$c").toMap
    val quantized = df.select(cols.map(c =>
      floor(col(c) * unitScale + 0.5).cast("long").as(qn(c))): _*)
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) => (a, b) }
    val aggs = Seq(count(lit(1)).as("_n")) ++
      cols.map(c => sum(col(qn(c)).cast("decimal(38,0)")).as(s"_s_$c")) ++
      cols.map(c => sum((col(qn(c)) * col(qn(c))).cast("decimal(38,0)")).as(s"_ss_$c")) ++
      pairs.map { case (a, b) =>
        sum((col(qn(a)) * col(qn(b))).cast("decimal(38,0)")).as(s"_sp_${a}_$b") }
    val row = quantized.agg(aggs.head, aggs.tail: _*)
    def d(name: String) = col(name).cast("double")
    val structs = pairs.map { case (a, b) =>
      val n = col("_n").cast("double")
      val num = n * d(s"_sp_${a}_$b") - d(s"_s_$a") * d(s"_s_$b")
      val den = sqrt(n * d(s"_ss_$a") - d(s"_s_$a") * d(s"_s_$a")) *
                sqrt(n * d(s"_ss_$b") - d(s"_s_$b") * d(s"_s_$b"))
      struct(lit(a).as("col_a"), lit(b).as("col_b"), (num / den).as("r"))
    }
    row.select(explode(array(structs: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"), col("p.r").as("r"))
  }

  /** Sparse equi-width histogram of an integer metric per group: one
    * row per OCCUPIED bin — the length/score/token-count distribution
    * table behind every corpus dashboard, at any scale, in one partial
    * agg (bin assignment is map-side integer arithmetic; the shuffle
    * carries (group, bin) cells, never rows). Empty bins are not
    * emitted (at 100 TB the value range is unknowable up front; a
    * dense grid is the caller's map-side `sequence` explode over the
    * observed bin bounds if a chart needs it).
    *
    * Bin id is exact floor division via the subtract-remainder trick
    * (correct for negative values too — `bucketOf`'s contract in
    * RangeJoin, same arithmetic both engines).
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
                binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val v = col(valueCol)
    val bin = ((v - pmod(v, lit(binWidth))) / binWidth).cast("long")
    df.groupBy(col(groupCol), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col(groupCol), col("bin"), (col("bin") * binWidth).as("bin_lo"), col("n"))
  }

  /** 2-D Pareto frontier (skyline): the points not dominated in BOTH
    * `xCol` and `yCol` (maximize-maximize; dominance = ≥ on both with
    * one strict) — multi-criteria data selection ("longest AND
    * highest-quality docs", cost/quality trade-off curves) without
    * collapsing the criteria into one ad-hoc weighted score.
    *
    * Scale shape: a skyline self-join is O(n²); this is three
    * histogram-sized steps. Rows collapse to DISTINCT (x, y) points
    * map-side (partial agg — corpus size never passes the shuffle),
    * per-x only the max-y point can be on the frontier (same x,
    * higher y dominates), and across x the frontier test is "y
    * strictly above the running max over all STRICTLY GREATER x" —
    * one window over the distinct-x table ordered by −x with a range
    * frame to −1 (range, not rows: equal x must not shadow each
    * other; on longs, −x ≤ −x_cur−1 ⟺ x > x_cur exactly). The window
    * is unpartitioned but sees one row per distinct x — the
    * percentileRank histogram-state argument. Exact duplicates of a
    * frontier point ride along in `n`.
    *
    * Values must be integral (longs); quantize doubles first (the
    * corrMatrix `floor(v·scale + 0.5)` rule) — a range frame over
    * raw doubles would put the frontier on a float boundary.
    * Null coordinates are excluded (no dominance order with null).
    *
    * Output: (x, y, n) frontier points with their duplicate counts.
    */
  def paretoFront2(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .agg(count(lit(1)).as("n"))
    val byX = pts.groupBy("x").agg(max("y").as("y"))
    val w = Window.orderBy(col("_negx"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val frontier = byX.withColumn("_negx", -col("x"))
      .withColumn("_rm", max(col("y")).over(w))
      .filter(col("_rm").isNull || col("y") > col("_rm"))
      .select("x", "y")
    frontier.join(pts, Seq("x", "y")).select("x", "y", "n")
  }

  /** Per-group percentile-rank (cume_dist) normalization: each row's
    * value mapped to the fraction of its group at-or-below it — the
    * quantile transform that makes scores COMPARABLE across domains
    * before a global gate or mixing decision ([[adaptiveFilter]] cuts
    * at one quantile; this materializes the whole curve).
    *
    * Scale shape: deliberately NOT `cume_dist().over(partitionBy)` —
    * that window buffers every row of a group in one task (AQE cannot
    * split windows), the q75 rule. Instead the cumulative count runs
    * over the per-(group, value) HISTOGRAM: a partial agg collapses
    * rows to distinct values map-side (the q71 percentile-state
    * shape), the running sum's window sees only distinct values per
    * group, and rows get their rank back through a (group, value)
    * equi-join against that histogram-sized table. Result is
    * identical to cume_dist (ties share the at-or-below count); the
    * division is cast(long)/long double — engine-identical.
    */
  def percentileRank(df: DataFrame, groupCol: String, valueCol: String,
                     outCol: String = "pct"): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("_c"))
    val cum = Ranks.running(counts, Seq(groupCol), Seq(col(valueCol)),
        Seq("_cum" -> col("_c")), totals = Seq("_n" -> col("_c")))
      .select(col(groupCol), col(valueCol),
        (col("_cum").cast("double") / col("_n")).as(outCol))
    df.join(cum, Seq(groupCol, valueCol))
  }

  /** Per-group Gini coefficient (SURVEY.md §2 #52n): inequality of a
    * nonnegative contribution measure — "10% of sources contribute
    * 90% of tokens" in one number per group (0 = uniform, →1 =
    * concentrated). The mixing/dedup reporting companion: a corpus
    * with high token-Gini across sources is one hot-source outage
    * away from collapse, and a near-1 dup-count Gini says dedup
    * should target a few clusters.
    *
    * Exact integer arithmetic via the sorted-rank identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) (i = 1-based rank, ties
    * broken by a caller-supplied unique id so ranks are deterministic
    * — the identity's value is tie-order-invariant because equal x
    * swap freely): Σ i·xᵢ runs as a DECIMAL(38,0) partial agg off ONE
    * per-group rank window; the single double division rounds at
    * 1e-9. Zero-total groups emit NULL (undefined), mirrored by the
    * oracle's CASE.
    */
  def gini(df: DataFrame, groupCol: String, valueCol: String,
           idCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol), col(idCol))
    df
      .withColumn("_i", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           sum(col(valueCol).cast("decimal(38,0)")).as("_sx"),
           sum(col(valueCol).cast("decimal(38,0)") * col("_i")).as("_six"))
      .select(col(groupCol), col("n"),
        when(col("_sx") > 0, round(
          (lit(2) * col("_six") - (col("n") + 1) * col("_sx")).cast("double")
            / (col("n").cast("double") * col("_sx").cast("double")), 9))
          .as("gini"))
  }

  /** k-anonymity / l-diversity audit (SURVEY.md §2 #52l): for each
    * quasi-identifier combination, its group size and the number of
    * DISTINCT sensitive values it carries, with violation flags —
    * the data-governance gate run before a corpus (or its metadata)
    * ships: a group smaller than k re-identifies its members; a
    * k-large group with one sensitive value still discloses it
    * (which is why k-anonymity alone is not enough and l-diversity
    * rides the same pass).
    *
    * One partial agg over the quasi columns (count + distinct
    * sensitive per group — the distinct is a two-level agg, both
    * combines map-side); output is quasi-vocabulary-sized. Flags are
    * integer comparisons — nothing float anywhere.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
                 k: Long, l: Long = 1L): DataFrame = {
    require(k >= 1 && l >= 1, s"need k,l >= 1; got $k/$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
           countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("k_violation", (col("group_size") < k).cast("int"))
      .withColumn("l_violation", (col("n_sensitive") < l).cast("int"))
  }

  /** Exact WEIGHTED percentile per group (SURVEY.md §2 #52m): the
    * value at which the cumulative WEIGHT (not row count) crosses
    * p·W — "the token-weighted median document length" class of
    * question, where a handful of giant documents should move the
    * answer and a million stubs should not. Type-7-style answer
    * without interpolation: the SMALLEST value whose inclusive weight
    * prefix reaches the threshold (deterministic, integer-exact —
    * interpolating between weighted steps has no standard any two
    * engines agree on, so the step function IS the contract).
    *
    * The cumulative walk ([[Ranks.running]], selected by
    * [[Ranks.pick]]) runs over the per-(group, value) HISTOGRAM
    * (partial agg collapses rows map-side — the percentileRank state
    * shape); the crossing threshold compares integer weight sums
    * cross-multiplied against the rational p = pNum/pDen (no float
    * boundary); one row per group out.
    */
  def weightedPercentile(df: DataFrame, groupCol: String, valueCol: String,
                         weightCol: String, pNum: Long, pDen: Long): DataFrame = {
    require(pNum >= 0 && pNum <= pDen && pDen > 0, s"bad rational p=$pNum/$pDen")
    val hist = df.groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(sum(col(weightCol)).as("_w"))
    Ranks.running(hist, Seq(groupCol), Seq(col("v")),
        Seq("_cum" -> col("_w")), totals = Seq("_tot" -> col("_w")))
      .groupBy(col(groupCol))
      .agg(Ranks.pick(col("v"), col("_cum"), col("_tot"), pNum, pDen).as("wpct"),
           max(col("_tot")).as("total_weight"))
  }

  /** Robust scaling (median/IQR standardization) per group: scaled =
    * (v − median)/(Q3 − Q1) — the feature-normalization transform
    * that ignores the outliers a z-score is corrupted BY (mean and
    * stddev both move with the tail; the quartile band does not).
    * Per-group for the [[winsorize]] reason: one global band
    * mis-scales every clean domain.
    *
    * All three quartiles come from ONE cumulative walk over the
    * per-(group, value) HISTOGRAM (the [[weightedPercentile]] state
    * shape with unit weights — scales with distinct values, never
    * rows), selected by the same type-1 inverse-ECDF convention: the
    * smallest value whose inclusive count prefix reaches p·n, decided
    * by integer cross-multiplication (no float boundary). The
    * group-stats table is group-vocabulary-sized and broadcasts back;
    * the scaling itself is micro-quantized integer subtraction and
    * ONE IEEE division, rounded at 1e-9. Zero-IQR groups (over half
    * the mass on one value) emit NULL — scaling by 0 is undefined and
    * must not fabricate ±inf features.
    */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String,
                  outCol: String = "scaled"): DataFrame = {
    val vq = floor(col(valueCol) * 1000000L + 0.5).cast("long")
    val hist = df.select(col(groupCol), vq.as("_v"))
      .groupBy(col(groupCol), col("_v")).agg(count(lit(1)).as("_c"))
    val cum = Ranks.running(hist, Seq(groupCol), Seq(col("_v")),
      Seq("_cum" -> col("_c")), totals = Seq("_n" -> col("_c")))
    def q(num: Long, den: Long) = Ranks.pick(col("_v"), col("_cum"), col("_n"), num, den)
    val stats = cum.groupBy(col(groupCol))
      .agg(q(1, 4).as("_q1"), q(1, 2).as("_med"), q(3, 4).as("_q3"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn(outCol, when(col("_q3") > col("_q1"),
        round((vq - col("_med")).cast("double") /
          (col("_q3") - col("_q1")).cast("double"), 9)))
      .drop("_q1", "_med", "_q3")
  }

  /** Neyman-allocation stratified sampling: a fixed total budget of
    * `totalN` rows split across strata PROPORTIONAL TO N_h·σ_h — the
    * survey-sampling optimum (minimum-variance estimate of the
    * population mean for a fixed budget): big AND noisy strata earn
    * samples, huge-but-constant strata don't (equal or proportional
    * allocation wastes budget on them). The eval-set constructor for
    * heterogeneous corpora.
    *
    * Exactness: σ_h comes from the momentsState power sums (exact
    * integers to one IEEE sqrt); the weights then QUANTIZE to integer
    * micro-units so every subsequent step is integer arithmetic —
    * critically the weight TOTAL (a float Σw_h is addition-order-
    * sensitive across engines; the quantized sum is not). The budget
    * apportions by the largest-remainder method entirely in integers:
    * base_h = N·w_h div W, leftover = N − Σbase goes to the largest
    * remainders (rem desc, stratum asc ties). Allocations cap at the
    * stratum size (no redistribution pass — a second Neyman round on
    * the residual is the caller's loop, documented).
    *
    * Selection within a stratum is md5-rank content addressing (the
    * sampling-family rule: engine-portable, re-shard-stable, and
    * nested — growing totalN keeps every previously selected row).
    *
    * Scale shape: one partial-agg moments pass; the strata table is
    * vocabulary-sized (windows over it are free) and broadcasts back;
    * selection is one per-stratum rank window with WindowGroupLimit
    * pushdown from the rn ≤ alloc filter.
    */
  def neymanSample(df: DataFrame, stratumCol: String, valueCol: String,
                   totalN: Long, idCol: String): DataFrame = {
    require(totalN > 0, s"totalN must be positive, got $totalN")
    val q = floor(col(valueCol).cast("double") * 1e6 + lit(0.5)).cast("long")
    val m = df.groupBy(col(stratumCol)).agg(
      count(lit(1)).as("n_rows"),
      sum(q).cast("decimal(38,0)").as("_sq"),
      sum(q.cast("decimal(19,0)") * q).cast("decimal(38,0)").as("_sq2"))
    val n = col("n_rows")
    val num = (n.cast("decimal(38,0)") * col("_sq2") - col("_sq") * col("_sq"))
      .cast("decimal(38,0)")
    val sigma = when(n >= 2,
      sqrt(num.cast("double") / ((n * (n - lit(1L))).cast("double") * lit(1e12))))
      .otherwise(lit(0.0))
    val wq = floor(n.cast("double") * sigma * 1e6 + lit(0.5)).cast("long")
    val all = Window.partitionBy()
    val byRem = Window.orderBy(col("_rem").desc, col(stratumCol))
    val alloc = m
      .withColumn("_wq0", wq)
      .withColumn("_tw0", sum(col("_wq0")).over(all))
      // all-constant strata (zero total weight) degrade to EQUAL
      // allocation rather than a 0/0 — deterministic, oracle-mirrored
      .withColumn("_wq", when(col("_tw0") > 0, col("_wq0")).otherwise(lit(1L)))
      .withColumn("_tw", when(col("_tw0") > 0, col("_tw0"))
        .otherwise(count(lit(1)).over(all)))
      .withColumn("_base", expr(s"(${totalN}L * _wq) div _tw"))
      .withColumn("_rem", expr(s"(${totalN}L * _wq) % _tw"))
      .withColumn("_left", lit(totalN) - sum(col("_base")).over(all))
      .withColumn("_rk", row_number().over(byRem))
      .withColumn("alloc", least(
        col("_base") + when(col("_rk") <= col("_left"), 1L).otherwise(0L),
        col("n_rows")))
      .select(col(stratumCol), col("n_rows"), col("alloc"))
    val rank = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.select(col(stratumCol), col(idCol))
      .withColumn("_rn", row_number().over(rank))
      .join(broadcast(alloc), Seq(stratumCol))
      .filter(col("_rn") <= col("alloc"))
      .select(col(stratumCol), col(idCol), col("n_rows"), col("alloc"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between cohorts `a` and `b` —
    * the NONPARAMETRIC location test completing the drift family:
    * [[welchT]] asks "did the mean move" assuming roughly-normal
    * cohorts; U asks "does one cohort stochastically dominate" with
    * no distribution assumption at all, so it survives the heavy
    * tails and outliers real telemetry drifts WITH.
    *
    * Exactness: the entire rank computation is integer arithmetic in
    * HALF-units — per distinct value, twice-the-average-tie-rank is
    * [[Ranks.midRank2]] (always an integer), so 2·R_a and
    * 2·U_a = 2·R_a − n_a(n_a+1) are exact longs; the tie-corrected
    * normal approximation (σ² = n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1))))
    * evaluates in doubles from those exact integers in one
    * oracle-mirrored op order, z rounds at 1e-6. All-tied cohorts
    * (zero variance) emit NULL z. NULL values take no rank and are not
    * counted.
    *
    * Scale shape: one partial agg to the joint value HISTOGRAM
    * (distinct-value-sized, the weightedPercentile state), one
    * [[Ranks.running]] window over it, one scalar agg — rows never
    * shuffle.
    *
    * Output: (n_a, n_b, u2_a = 2·U_a exact, u_a, z).
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, a: String, b: String,
                   valueCol: String, unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val hist = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("_g"), vq.as("_v"))
      .groupBy(col("_v"))
      .agg(count(when(col("_g") === a, 1)).as("_ca"),
           count(when(col("_g") === b, 1)).as("_cb"))
    val t = col("_ca") + col("_cb")
    val sums = Ranks.running(hist, Nil, Seq(col("_v")), Seq("_cum" -> t))
      .withColumn("_r2a", col("_ca") * Ranks.midRank2(col("_cum"), t))
      .withColumn("_tie", Ranks.tieTerm(t))
      .agg(sum("_ca").as("n_a"), sum("_cb").as("n_b"),
           sum("_r2a").as("_r2sum"), sum("_tie").cast("decimal(38,0)").as("_ties"))
    def d(c: Column) = c.cast("double")
    val n1 = col("n_a"); val n2 = col("n_b"); val nT = n1 + n2
    val u2 = col("_r2sum") - n1 * (n1 + 1L)
    val varU = d(n1) * d(n2) / 12.0 *
      ((d(nT) + 1.0) - d(col("_ties")) / (d(nT) * (d(nT) - 1.0)))
    sums
      .withColumn("u2_a", u2)
      .withColumn("u_a", d(u2) / 2.0)
      .withColumn("z", when(n1 >= 1 && n2 >= 1 && varU > 0,
        round((d(u2) / 2.0 - d(n1) * d(n2) / 2.0) / sqrt(varU), 6)))
      .select("n_a", "n_b", "u2_a", "u_a", "z")
  }

  /** Spearman rank correlation per group — the monotonic-association
    * companion to the Pearson family (q96's correlation matrix, q156's
    * OLS): Pearson asks "linear?", Spearman asks "monotone?" and is
    * immune to the outliers and nonlinear-but-ordered relationships
    * that wreck covariance-based estimates.
    *
    * rho = Pearson on the tie-averaged ranks, computed EXACTLY: twice-
    * the-average-rank per distinct value is the integer
    * [[Ranks.midRank2]] (Pearson is scale-invariant so doubling both
    * axes changes nothing) over the rows where both axes are non-NULL,
    * ranks join back to rows by (group, value), and the six-sum closed form
    * runs as DECIMAL(38,0) over exact integers (the [[linReg]]
    * pattern) with one double evaluation in oracle-mirrored order,
    * rounded at 1e-9. Degenerate groups (n < 2 or a constant axis)
    * emit NULL.
    *
    * Scale shape: two (group, value)-histogram partial aggs + two
    * cumulative windows over them (distinct-value-sized), two hash
    * join-backs keyed (group, value) — same key as the row shuffle,
    * no row ever carries more than its two rank integers — then one
    * partial-agg six-sum reduction.
    */
  def spearman(df: DataFrame, groupCol: String, xCol: String, yCol: String,
               unitScaleX: Long = 1000000L, unitScaleY: Long = 1000000L): DataFrame = {
    def q(c: String, s: Long) =
      floor(col(c).cast("double") * s + lit(0.5)).cast("long")
    val base = df.select(col(groupCol),
        q(xCol, unitScaleX).as("_x"), q(yCol, unitScaleY).as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull) // both axes rank the same pairs
    def rank2(valCol: String, out: String): DataFrame = {
      val h = base.groupBy(col(groupCol), col(valCol))
        .agg(count(lit(1)).as("_t"))
      Ranks.running(h, Seq(groupCol), Seq(col(valCol)), Seq("_cum" -> col("_t")))
        .select(col(groupCol), col(valCol),
          Ranks.midRank2(col("_cum"), col("_t")).as(out))
    }
    val ranked = base
      .join(rank2("_x", "_rx"), Seq(groupCol, "_x"))
      .join(rank2("_y", "_ry"), Seq(groupCol, "_y"))
    val agg = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col("_rx").cast("decimal(38,0)")).as("_sx"),
      sum(col("_ry").cast("decimal(38,0)")).as("_sy"),
      sum(col("_rx").cast("decimal(19,0)") * col("_rx")).cast("decimal(38,0)").as("_sxx"),
      sum(col("_ry").cast("decimal(19,0)") * col("_ry")).cast("decimal(38,0)").as("_syy"),
      sum(col("_rx").cast("decimal(19,0)") * col("_ry")).cast("decimal(38,0)").as("_sxy"))
    def d(c: String) = col(c).cast("double")
    val n = col("n").cast("double")
    val num = n * d("_sxy") - d("_sx") * d("_sy")
    val denX = n * d("_sxx") - d("_sx") * d("_sx")
    val denY = n * d("_syy") - d("_sy") * d("_sy")
    agg
      .withColumn("rho", when(col("n") >= 2 && denX > 0 && denY > 0,
        round(num / sqrt(denX * denY), 9)))
      .select(col(groupCol), col("n"), col("rho"))
  }

  /** CUPED variance reduction (Deng et al. WSDM'13): adjust each
    * unit's experiment metric by its PRE-PERIOD covariate,
    * y' = y − θ(x − x̄) with θ = cov(x,y)/var(x) — the standard
    * experimentation trick that removes the between-user variance the
    * treatment can't explain, often halving A/B test duration. Run on
    * the metric table BEFORE the treatment comparison; the adjustment
    * is mean-preserving (Σy' = Σy) by construction.
    *
    * Exactness: x and y quantize to integer micro-units; θ's five
    * sums run as DECIMAL(38,0) (the linReg pattern), θ and the
    * per-row adjustment evaluate in doubles from exact integers in
    * one oracle-mirrored op order, rounded at 1e-6. Zero pre-period
    * variance (constant covariate — nothing to remove) emits y
    * unadjusted with theta NULL.
    *
    * Scale shape: one partial-agg moments pass over the unit table;
    * the θ/x̄ scalars broadcast back via a 1-row cross join; the
    * adjustment is map-only.
    */
  def cuped(units: DataFrame, idCol: String, xCol: String, yCol: String,
            unitScale: Long = 1000000L): DataFrame = {
    def q(c: String) = floor(col(c).cast("double") * unitScale + lit(0.5)).cast("long")
    val base = units.select(col(idCol), q(xCol).as("_x"), q(yCol).as("_y"))
    val s = base.agg(
      count(lit(1)).as("_n"),
      sum(col("_x").cast("decimal(38,0)")).as("_sx"),
      sum(col("_y").cast("decimal(38,0)")).as("_sy"),
      // cast BEFORE multiplying: per-unit covariate totals reach 10¹¹
      // micro-units, whose square overflows a long
      sum(col("_x").cast("decimal(19,0)") * col("_x")).cast("decimal(38,0)").as("_sxx"),
      sum(col("_x").cast("decimal(19,0)") * col("_y")).cast("decimal(38,0)").as("_sxy"))
    def d(c: String) = col(c).cast("double")
    val n = d("_n")
    val covNum = n * d("_sxy") - d("_sx") * d("_sy")
    val varNum = n * d("_sxx") - d("_sx") * d("_sx")
    val theta = covNum / varNum
    val xbar = d("_sx") / n
    base.crossJoin(broadcast(s))
      .withColumn("theta", when(varNum > 0, round(theta, 6)))
      .withColumn("y", round(col("_y").cast("double") / unitScale, 6))
      .withColumn("y_adj", when(varNum > 0,
          round((col("_y").cast("double") - theta *
            (col("_x").cast("double") - xbar)) / unitScale, 6))
        .otherwise(round(col("_y").cast("double") / unitScale, 6)))
      .select(col(idCol), col("y"), col("y_adj"), col("theta"))
  }

  /** Trimmed mean per group: the mean of the values STRICTLY inside
    * the group's own [pLo, pHi] type-1 percentile band — the
    * robust-location companion to [[winsorize]] (which clamps and
    * keeps every row; trimming drops the tails from the estimate
    * entirely). One histogram walk gives both cut values (the
    * [[robustScale]] machinery), the trimmed sum/count come from the
    * SAME histogram (no second pass over rows), and the mean is one
    * exact-integer division evaluated as a double, rounded 1e-9.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  loNum: Int = 1, loDen: Int = 20, hiNum: Int = 19,
                  hiDen: Int = 20): DataFrame = {
    require(loNum * hiDen < hiNum * loDen, "empty trim band")
    val vq = floor(col(valueCol).cast("double") * 1000000L + lit(0.5)).cast("long")
    val hist = df.select(col(groupCol), vq.as("_v"))
      .groupBy(col(groupCol), col("_v")).agg(count(lit(1)).as("_c"))
    val cum = Ranks.running(hist, Seq(groupCol), Seq(col("_v")),
      Seq("_cum" -> col("_c")), totals = Seq("_n" -> col("_c")))
    val bounds = cum.groupBy(col(groupCol)).agg(
      Ranks.pick(col("_v"), col("_cum"), col("_n"), loNum, loDen).as("_lo"),
      Ranks.pick(col("_v"), col("_cum"), col("_n"), hiNum, hiDen).as("_hi"))
    cum.join(bounds, Seq(groupCol))
      .filter(col("_v") > col("_lo") && col("_v") < col("_hi"))
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).as("n_kept"),
           round(sum(col("_v").cast("decimal(38,0)") * col("_c")).cast("double") /
             (sum(col("_c")).cast("double") * 1000000.0), 9).as("trimmed_mean"))
  }

  /** Split-conformal prediction intervals (Vovk; Lei et al.): per
    * group, the residual quantile q̂ such that "prediction ± q̂" covers
    * a FRESH point with probability ≥ 1−α, distribution-free — the
    * finite-sample-guaranteed uncertainty band modern eval pipelines
    * attach to any point predictor. Here the predictor is the
    * calibration split's own group mean (caller swaps in any
    * prediction column); q̂ is the ⌈(n+1)(1−α)⌉-th smallest absolute
    * calibration residual (the conformal rank — NOT the plain
    * quantile; the +1 is what buys the finite-sample guarantee), and
    * the held-out split reports realized coverage.
    *
    * Exactness: the group mean is the rational Σq/n, so residuals
    * scale through by n: |q·n − Σq| is an exact integer per row, the
    * rank selection walks the per-group residual HISTOGRAM (the
    * weightedPercentile machinery) comparing integer ranks, and the
    * coverage decision on the test split is one integer comparison
    * |q·n − Σq| ≤ r̂ — no float crosses a decision boundary anywhere;
    * q̂ converts to value units only for reporting. A conformal rank
    * past n (tiny calibration sets) clamps to the max residual,
    * reported via `rank_clamped`.
    *
    * Scale shape: one calibration agg (|groups| rows, broadcast), one
    * map-side residual pass, one histogram walk per group, one
    * broadcast join onto the test split, one final partial agg.
    */
  def conformalInterval(df: DataFrame, groupCol: String, valueCol: String,
                        calCol: Column, alphaNum: Int = 1, alphaDen: Int = 10,
                        unitScale: Long = 1000000L): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, s"alpha=$alphaNum/$alphaDen out of (0,1)")
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val base = df.select(col(groupCol), vq.as("_q"), calCol.as("_cal"))
      .filter(col("_q").isNotNull)
    val calStats = base.filter(col("_cal"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("_nc"), sum(col("_q").cast("decimal(38,0)")).as("_sq"))
    // scaled residual |q·n − Σq| — integer, exact (mean never floats)
    def res(q: Column) =
      abs((q.cast("decimal(38,0)") * col("_nc") - col("_sq")).cast("decimal(38,0)"))
    val calRes = base.filter(col("_cal")).join(broadcast(calStats), Seq(groupCol))
      .select(col(groupCol), col("_nc"), res(col("_q")).as("_r"))
    val hist = calRes.groupBy(col(groupCol), col("_nc"), col("_r"))
      .agg(count(lit(1)).as("_c"))
    // conformal rank k = ceil((n+1)(den−num)/den), clamped to n; the
    // k-th smallest residual is the first whose prefix reaches k
    val k = expr(s"((_nc + 1) * ${alphaDen - alphaNum} + ${alphaDen - 1}) div $alphaDen")
    val qhat = Ranks.running(hist, Seq(groupCol), Seq(col("_r")), Seq("_cum" -> col("_c")))
      .groupBy(col(groupCol))
      .agg(Ranks.pick(col("_r"), col("_cum"), least(k, col("_nc")), 1L, 1L).as("_rhat"),
           first(col("_nc")).as("n_cal"), first(k > col("_nc")).as("rank_clamped"))
    val test = base.filter(!col("_cal")).join(broadcast(calStats), Seq(groupCol))
      .join(broadcast(qhat), Seq(groupCol))
      .withColumn("_cov", res(col("_q")) <= col("_rhat"))
    test.groupBy(col(groupCol))
      .agg(first(col("n_cal")).as("n_cal"),
           count(lit(1)).as("n_test"),
           first(round(col("_rhat").cast("double") /
             (col("_nc").cast("double") * unitScale), 9)).as("qhat"),
           sum(when(col("_cov"), 1L).otherwise(0L)).as("n_covered"),
           first(col("rank_clamped")).as("rank_clamped"))
  }

  /** Chi-square independence statistic (SURVEY.md §2 #52k): is the
    * CATEGORICAL distribution of `catCol` the same across the cohorts
    * of `cohortCol`? — completing the drift family (KS = numeric
    * worst point, PSI = numeric shape, χ² = categorical mix). Returns
    * the statistic, the degrees of freedom (r−1)(c−1) for the
    * caller's p-value lookup, and the grand total.
    *
    * Scale shape: one partial agg to (cohort, category) cells —
    * bounded by the label vocabularies, never row-scaled; marginals
    * re-aggregate from the cells (no second scan); expected counts
    * e = rowTot·colTot/n in exact-count doubles. Each (o−e)²/e term
    * quantizes to DECIMAL(20,9) before the sum (float sums are
    * order-dependent; quantized terms make the reduction
    * order-insensitive and engine-exact), χ² rounds at 1e-6.
    */
  def chiSquare(df: DataFrame, cohortCol: String, catCol: String): DataFrame = {
    val cells = df.groupBy(col(cohortCol).as("_r"), col(catCol).as("_c"))
      .agg(count(lit(1)).as("_o"))
    val rowTot = cells.groupBy("_r").agg(sum("_o").as("_rt"))
    val colTot = cells.groupBy("_c").agg(sum("_o").as("_ct"))
    val grand = cells.agg(sum("_o").as("_n"),
      countDistinct("_r").as("_nr"), countDistinct("_c").as("_nc"))
    val e = col("_rt").cast("double") * col("_ct").cast("double") / col("_n").cast("double")
    val o = col("_o").cast("double")
    cells
      .join(broadcast(rowTot), Seq("_r")).join(broadcast(colTot), Seq("_c"))
      .crossJoin(broadcast(grand))
      .withColumn("_term", ((o - e) * (o - e) / e).cast("decimal(20,9)"))
      .agg(round(sum(col("_term")).cast("double"), 6).as("chi2"),
           max((col("_nr") - 1) * (col("_nc") - 1)).as("dof"),
           max(col("_n")).as("n"))
  }

  /** Per-group winsorization (SURVEY.md §2 #52j): clamp `valueCol`
    * into its OWN group's [pLo, pHi] exact-percentile band — the
    * outlier-taming transform that keeps every row (unlike a filter)
    * while bounding the moments heavy tails corrupt; per-group bounds
    * for the same reason as [[adaptiveFilter]]'s cutoffs (one global
    * band over-clamps clean domains).
    *
    * Scale shape: both bounds come from ONE exact-`percentile` agg
    * (value→count map partial state — scales with distinct values,
    * not rows; `approx_percentile` is the unbounded-cardinality
    * swap-in) joined back as a group-count-sized artifact under the
    * q25-style size gate logic (broadcast here: the group table is
    * bounded by the group vocabulary). The clamp itself is
    * `least/greatest` — comparisons only, no new arithmetic, so the
    * q71 bit-identical-percentile guarantee carries straight through
    * to the clamped values.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95,
                outCol: String = "clamped",
                exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad percentile band [$pLo, $pHi]")
    // exact=false: sketch bounds (constant per-group state; the stats
    // rule) — clamp band moves by at most rank error n/accuracy
    val pb = if (exact) expr(s"percentile($valueCol, array($pLo, $pHi))")
             else expr(s"approx_percentile($valueCol, array($pLo, $pHi), $accuracy)")
               .cast("array<double>")
    val bounds = df.groupBy(col(groupCol))
      .agg(pb.as("_pb"))
      .select(col(groupCol), col("_pb")(0).as("_lo"), col("_pb")(1).as("_hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(outCol, least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** Population Stability Index (SURVEY.md §2 #52i): the
    * ML-monitoring drift score Σ (pᵦ−qᵦ)·ln(pᵦ/qᵦ) over equal-width
    * value bins between groups `a` (baseline) and `b` (current) — the
    * binned, symmetrized-KL companion to [[ksDistance]] (KS finds the
    * worst single point; PSI weighs the whole shape; > 0.2 is the
    * conventional "investigate" line). Bins where either side is
    * empty are EXCLUDED from the sum and reported in
    * `n_bins_dropped` — the deterministic alternative to an arbitrary
    * smoothing epsilon (documented contract; monitoring dashboards
    * alert on the dropped count too, since a brand-new occupied bin
    * IS drift).
    *
    * Scale shape: one partial agg to (bin, ca, cb) cells — the
    * histogram state argument, shuffle carries cells never rows — one
    * tiny totals agg crossed back, one final single-row agg.
    * Exactness: bin = floor(v/width) on IEEE doubles (identical both
    * engines); each (p−q)·ln(p/q) term quantizes to DECIMAL(20,9)
    * before the sum (the q107 entropy rule: libm vs JVM ln differ in
    * the last ulp AND float sums are order-dependent); psi rounds at
    * 1e-6.
    */
  def psi(df: DataFrame, groupCol: String, a: String, b: String,
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
    val p = col("_ca").cast("double") / col("_na").cast("double")
    val q = col("_cb").cast("double") / col("_nb").cast("double")
    cells.crossJoin(broadcast(tot))
      .withColumn("_term", when(col("_ca") > 0 && col("_cb") > 0,
        ((p - q) * log(p / q)).cast("decimal(20,9)")))
      .agg(round(sum(col("_term")).cast("double"), 6).as("psi"),
           count(col("_term")).as("n_bins_used"),
           count(when(col("_term").isNull, 1)).as("n_bins_dropped"),
           max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"))
  }

  /** Per-group ordinary-least-squares trend line: slope, intercept,
    * and r² of `yCol` on `xCol` — the "is quality drifting with time /
    * does length predict score" regression every monitoring dashboard
    * fits, per group, in ONE partial-agg pass (the closed-form OLS
    * needs only n, Σx, Σy, Σx², Σy², Σxy — the corrMatrix sums plus
    * nothing).
    *
    * Engine determinism (the q96 pattern): x and y quantize to integer
    * units via `floor(v·unitScale + 0.5)` in IEEE doubles, the six
    * sums run as DECIMAL(38,0) over exact longs (order-insensitive at
    * any parallelism), and the OLS formulas evaluate in doubles from
    * those exact sums in a fixed op order mirrored by the oracle.
    * Slope is scale-invariant (both axes scale by `unitScale`);
    * intercept divides back by `unitScale`. Groups with n < 2 or zero
    * x-variance emit NULLs (no line to fit). Outputs round at 1e-9.
    */
  def linReg(df: DataFrame, groupCol: String, xCol: String, yCol: String,
             unitScale: Long = 100L): DataFrame = {
    val xq = floor(col(xCol) * unitScale + 0.5).cast("long")
    val yq = floor(col(yCol) * unitScale + 0.5).cast("long")
    val agg = df
      .select(col(groupCol), xq.as("_x"), yq.as("_y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           sum(col("_x").cast("decimal(38,0)")).as("_sx"),
           sum(col("_y").cast("decimal(38,0)")).as("_sy"),
           sum((col("_x") * col("_x")).cast("decimal(38,0)")).as("_sxx"),
           sum((col("_y") * col("_y")).cast("decimal(38,0)")).as("_syy"),
           sum((col("_x") * col("_y")).cast("decimal(38,0)")).as("_sxy"))
    def d(c: String) = col(c).cast("double")
    val n = col("n").cast("double")
    val num = n * d("_sxy") - d("_sx") * d("_sy")
    val denX = n * d("_sxx") - d("_sx") * d("_sx")
    val denY = n * d("_syy") - d("_sy") * d("_sy")
    val slope = num / denX
    agg
      .withColumn("slope", when(col("n") >= 2 && denX > 0, round(slope, 9)))
      .withColumn("intercept", when(col("n") >= 2 && denX > 0,
        round((d("_sy") - slope * d("_sx")) / n / unitScale, 9)))
      .withColumn("r2", when(col("n") >= 2 && denX > 0 && denY > 0,
        round(num * num / (denX * denY), 9)))
      .select(col(groupCol), col("n"), col("slope"), col("intercept"), col("r2"))
  }

  /** Theil–Sen robust trend: per key, the MEDIAN of all pairwise
    * slopes (v_j − v_i)/(t_j − t_i) over its time series — the
    * outlier-immune companion to [[linReg]] (OLS slope moves
    * arbitrarily far on one corrupted point; the pairwise-slope median
    * has a 29% breakdown point), the estimator to trust on telemetry
    * with sensor faults or corpus signals with scraper glitches.
    *
    * Pairwise slopes are quadratic per key BY DEFINITION, so the
    * operator is for bounded per-key series (the events-per-entity
    * shape) and REFUSES oversized groups loudly rather than grinding
    * through a hot key. The guard is FUSED into the plan (the
    * intervalJoin raise_error pattern): a per-key count window on the
    * same key partitioning the pair join needs anyway fires before any
    * quadratic row is emitted — no separate probe scan.
    *
    * The median is NEVER a sort over the raw pair list (up to n²/2
    * rows of one key in one task): pairs collapse map-side to a
    * per-(key, slope_q) HISTOGRAM partial agg, and the lower median
    * rank-selects with the [[weightedPercentile]] cumulative walk —
    * the window walks distinct slope VALUES, not pairs.
    *
    * Exactness: slopes quantize to integer milli-units-per-
    * `slopeUnitUs` via DECIMAL(38,0) cross-multiplication and ONE
    * truncating integer division (Spark `div` ≡ DuckDB `//`, both
    * toward zero — verified, the engines agree on negatives); the
    * median is the LOWER median (rank (n+1) div 2) of the sorted
    * quantized slopes — rank selection over exact integers, no
    * interpolation, no float compare. Same-timestamp pairs are
    * excluded (slope undefined), documented: a key whose events all
    * share one timestamp emits nothing.
    *
    * Output: (keyCol, n_pairs, slope_q, slope) — slope_q the exact
    * quantized median, slope = slope_q/1000 in value-units per
    * `slopeUnitUs` (default: per hour).
    */
  def theilSen(df: DataFrame, keyCol: String, timeCol: String, valueCol: String,
               slopeUnitUs: Long = 3600000000L,
               maxGroupRows: Long = 10000L): DataFrame = {
    require(slopeUnitUs > 0, s"slopeUnitUs must be positive, got $slopeUnitUs")
    val slim = df.select(col(keyCol), col(timeCol).cast("long").as("_t"),
      floor(col(valueCol) * 1000000L + 0.5).cast("long").as("_vq"))
    // In-plan guard with NO shuffle of the series: the pair join
    // broadcasts one side, so the fact side never exchanges — a count
    // window would have added the plan's only full-data shuffle
    // (measured +1s at sf0.1, and a fact-table shuffle at 100 TB).
    // Instead the OFFENDER key set (normally empty) comes from one
    // tiny partial agg, broadcasts, and a left join + raise_error
    // threaded through the value column refuses before any pair is
    // emitted — one extra column-pruned scan, zero extra shuffles,
    // no separate action (the old probe was an eager collect).
    val offenders = slim.groupBy(col(keyCol)).agg(count(lit(1)).as("_kn"))
      .filter(col("_kn") > maxGroupRows)
    // ONE key exchange of the probe side (pinned count — AQE would
    // coalesce), installed BEFORE the join so the downstream histogram
    // agg and cumulative window both run in place: the alternative is
    // exchanging the (pair-scaled) cell table twice. No sort here —
    // a guard WINDOW would add one; the broadcast join needs none.
    val guarded = rebalance(slim, keyCol)
      .join(broadcast(offenders), Seq(keyCol), "left")
      .withColumn("_vg",
        when(col("_kn").isNotNull, raise_error(format_string(
          s"theilSen: key %s exceeds $maxGroupRows rows — pairwise slopes are " +
          "quadratic per key; pre-aggregate the series first",
          col(keyCol).cast("string"))).cast("long"))
        .otherwise(col("_vq")))
    val a = guarded.select(col(keyCol), col("_t").as("_ta"), col("_vg").as("_va"))
    val b = slim.select(col(keyCol), col("_t").as("_tb"), col("_vq").as("_vb"))
    // slope_q in MILLI-value-units per slopeUnitUs: dv is in micro-
    // units, so the 1e6 quantization and the 1e3 output scale fold
    // into ONE exact division: (dv_u · U) div (dt · 1000)
    val pairs = a.join(b, Seq(keyCol)).filter(col("_ta") < col("_tb"))
      .withColumn("_sq", expr(
        s"(CAST(_vb - _va AS DECIMAL(38,0)) * ${slopeUnitUs}L) div ((_tb - _ta) * 1000L)"))
    // Histogram rank-selection of the lower median: duplicate slopes
    // collapse in the partial agg (map-side combine on the join's
    // output), the cumulative walk scans distinct values, and the
    // lower median is the SMALLEST slope whose inclusive count prefix
    // reaches rank (n_pairs+1) div 2 — identical selection to a
    // row_number over the sorted pair list, without ever sorting it.
    val hist = pairs.groupBy(col(keyCol), col("_sq")).agg(count(lit(1)).as("_c"))
    // rank (n+1) div 2 is reached exactly when 2·cum >= n
    Ranks.running(hist, Seq(keyCol), Seq(col("_sq")),
        Seq("_cum" -> col("_c")), totals = Seq("n_pairs" -> col("_c")))
      .groupBy(col(keyCol))
      .agg(max(col("n_pairs")).as("n_pairs"),
           Ranks.pick(col("_sq"), col("_cum"), col("n_pairs"), 1L, 2L).as("slope_q"))
      .withColumn("slope", round(col("slope_q").cast("double") / 1000.0, 9))
      .select(col(keyCol), col("n_pairs"), col("slope_q"), col("slope"))
  }

  /** Welch's unequal-variance t statistic between cohorts `a` and `b`
    * of `groupCol` — "did the mean move, beyond what the spread
    * explains?" — the mean-level member of the drift family
    * ([[ksDistance]] = worst CDF point, [[psi]] = whole shape,
    * [[chiSquare]] = categorical mix). Welch rather than pooled
    * Student: corpus cohorts never share a variance. Reports t, the
    * Welch–Satterthwaite dof for the caller's p-value lookup, and both
    * cohort means/sizes.
    *
    * One partial agg computes both cohorts' n/Σ/Σ² on quantized longs
    * (DECIMAL(38,0) sums — the linReg exactness pattern); means,
    * sample variances, t, and dof evaluate in doubles from exact sums
    * in a fixed oracle-mirrored op order; outputs round at 1e-6.
    * Degenerate cohorts (n < 2) or zero both-side variance emit NULL
    * t/dof.
    */
  def welchT(df: DataFrame, groupCol: String, a: String, b: String,
             valueCol: String, unitScale: Long = 100L): DataFrame = {
    val twoS = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("_g"),
        floor(col(valueCol) * unitScale + 0.5).cast("long").as("_v"))
    def side(s: String, tag: String) = Seq(
      count(when(col("_g") === s, 1)).as(s"n_$tag"),
      sum(when(col("_g") === s, col("_v").cast("decimal(38,0)"))).as(s"_s_$tag"),
      sum(when(col("_g") === s, (col("_v") * col("_v")).cast("decimal(38,0)"))).as(s"_ss_$tag"))
    val aggs = side(a, "a") ++ side(b, "b")
    val row = twoS.agg(aggs.head, aggs.tail: _*)
    def d(c: String) = col(c).cast("double")
    def mean(tag: String) = d(s"_s_$tag") / d(s"n_$tag")
    // sample variance in QUANTIZED units: (Σv² − (Σv)²/n) / (n−1)
    def va(tag: String) =
      (d(s"_ss_$tag") - d(s"_s_$tag") * d(s"_s_$tag") / d(s"n_$tag")) / (d(s"n_$tag") - 1)
    val sea = va("a") / d("n_a")
    val seb = va("b") / d("n_b")
    val se2 = sea + seb
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0
    row
      .withColumn("t_stat", when(ok,
        round((mean("a") - mean("b")) / sqrt(se2), 6)))
      .withColumn("dof", when(ok, round(
        se2 * se2 / (sea * sea / (d("n_a") - 1) + seb * seb / (d("n_b") - 1)), 6)))
      .select(col("n_a"), col("n_b"),
        round(mean("a") / unitScale, 6).as("mean_a"),
        round(mean("b") / unitScale, 6).as("mean_b"),
        col("t_stat"), col("dof"))
  }

  /** Benford first-digit audit: observed vs expected leading-digit
    * distribution of a POSITIVE INTEGRAL measure — the classic
    * fabricated/synthetic-data smell test (organically-grown
    * magnitudes follow P(d) = ln(1+1/d)/ln 10; generated or truncated
    * ones rarely do). Output: one row per digit 1–9 with counts, both
    * probabilities, and the signed deviation.
    *
    * The leading digit is EXACT string arithmetic — `substring(cast(v
    * AS string), 1, 1)` on a positive long renders identically in
    * every engine (no float log10, whose boundary at exact powers of
    * ten misclassifies). One partial agg to 9 cells; expected
    * probabilities are ln expressions in a fixed op order, both
    * p columns round at 1e-9. Non-positive rows are excluded and
    * counted in `n_skipped` (Benford is undefined there — a loud
    * column, not a silent drop).
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val tot = df.agg(count(when(v > 0, 1)).as("_n"),
                     count(when(v <= 0 || v.isNull, 1)).as("n_skipped"))
    df.filter(v > 0)
      .groupBy(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("_n").cast("double"), 9).as("p_obs"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)), 9).as("p_exp"),
        round(col("n").cast("double") / col("_n").cast("double")
          - log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)), 9).as("dev"),
        col("n_skipped"))
  }

  /** Column completeness/cardinality profile: per listed column, row
    * count, non-null count, null count, exact distinct count, and fill
    * rate — the first report run on ANY new corpus drop (a column that
    * went 40% null between generations is a pipeline bug upstream).
    *
    * One aggregation pass: the k exact distincts plan as ONE Expand
    * (k× map-side fan-out, each branch a partial agg) — a single scan
    * of the data, not k scans. Per-column rows expand map-side from
    * the single agg row (the corrMatrix struct-explode trick). For
    * unbounded-cardinality columns at extreme scale, swap
    * `approx_count_distinct` in — the report contract is unchanged.
    */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "nullProfile needs at least one column")
    val aggs = Seq(count(lit(1)).as("_n")) ++
      cols.flatMap(c => Seq(
        count(col(c)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map(c => struct(
      lit(c).as("column"),
      col("_n").as("n_rows"),
      col(s"_nn_$c").as("n_nonnull"),
      (col("_n") - col(s"_nn_$c")).as("n_null"),
      col(s"_nd_$c").as("n_distinct"),
      round(col(s"_nn_$c").cast("double") / col("_n").cast("double"), 9).as("fill_rate")))
    row.select(explode(array(structs: _*)).as("p")).select(col("p.*"))
  }

  /** Deterministic per-group mode: the most frequent `valueCol` per
    * group, ties broken to the SMALLEST value (an unordered mode is
    * nondeterministic under shuffle order — useless as a gate or an
    * oracle). Two-level shape: rows collapse to the (group, value)
    * histogram in one partial agg, then a row_number window ordered by
    * (count desc, value) picks the winner — the window sees distinct
    * values per group, never rows (the percentileRank state argument),
    * and the rn = 1 filter gets WindowGroupLimit pushdown so map
    * partitions pre-prune to one candidate each.
    */
  def modeBy(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(valueCol).as("mode_value"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col("mode_value"))
    hist.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(groupCol), col("mode_value"), col("n"))
  }

  /** Equi-depth (quantile) binning: each row labeled with its group's
    * quantile bucket 1..k — the feature-bucketing / monotone-binning
    * transform (equal-POPULATION bins, where [[histogram]]'s
    * equal-width bins collapse under heavy tails). Deliberately NOT
    * `ntile().over(partitionBy)` — that buffers each group in one task
    * (the q75/q91 window rule); instead the k−1 exact-percentile
    * cutoffs come from ONE `percentile(array(...))` agg per group
    * (value-map partial state) joined back as a group-vocabulary-sized
    * broadcast artifact, and the bin is 1 + the count of cutoffs at or
    * below the value — map-side comparisons only.
    *
    * Boundary determinism: cutoffs and values compare as
    * DECIMAL(18,6) (the q71 interpolation parity carries through the
    * quantize), so every bin decision is engine-exact. Ties across a
    * cutoff all land in the higher bin (documented contract — exact
    * ntile semantics differ engine-to-engine precisely because they
    * split ties by row order, which no distributed engine should).
    */
  def quantileBins(df: DataFrame, groupCol: String, valueCol: String,
                   k: Int, outCol: String = "bin"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val ps = (1 until k).map(i => i.toDouble / k).mkString(", ")
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, array($ps))").as("_qs"))
      .select(col(groupCol),
        expr("transform(_qs, x -> cast(x as decimal(18,6)))").as("_qs"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(outCol,
        (lit(1) + expr(s"size(filter(_qs, x -> x <= cast($valueCol as decimal(18,6))))")).cast("int"))
      .drop("_qs")
  }

  /** Two-sample Kolmogorov–Smirnov distance (SURVEY.md §2 #52h):
    * D = max over values of |CDF_a − CDF_b| between the `valueCol`
    * distributions of groups `a` and `b` — THE distribution-drift
    * gate between corpus versions, sources, or time slices ("did this
    * re-crawl change the length distribution?"), reported with the
    * value where the gap peaks (the drift location) and both sample
    * sizes.
    *
    * Scale shape: the empirical CDFs run over the per-VALUE histogram
    * (one partial agg collapses rows map-side; the window walks
    * distinct values only — the percentileRank state argument, so a
    * billion rows with thousands of distinct values sort thousands),
    * totals are one tiny agg crossed back, and the argmax is a
    * TakeOrdered over the histogram — never a row-scaled sort.
    *
    * Determinism: both CDFs divide exact counts by exact totals in an
    * oracle-mirrored op order (identical doubles), the peak
    * tie-breaks to the SMALLEST value (ORDER BY d DESC, value), and
    * d_stat rounds at 1e-9 on output.
    */
  def ksDistance(df: DataFrame, groupCol: String, a: String, b: String,
                 valueCol: String): DataFrame = {
    val twoS = df.filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull)
    val hist = twoS.groupBy(col(valueCol).as("v"))
      .agg(count(when(col(groupCol) === a, 1)).as("_ca"),
           count(when(col(groupCol) === b, 1)).as("_cb"))
    val tot = twoS.agg(
      count(when(col(groupCol) === a, 1)).as("_na"),
      count(when(col(groupCol) === b, 1)).as("_nb"))
    Ranks.running(hist, Nil, Seq(col("v")), Seq("_cuma" -> col("_ca"), "_cumb" -> col("_cb")))
      .crossJoin(broadcast(tot))
      .withColumn("_d", abs(col("_cuma").cast("double") / col("_na").cast("double")
        - col("_cumb").cast("double") / col("_nb").cast("double")))
      .orderBy(col("_d").desc, col("v"))
      .limit(1)
      .select(round(col("_d"), 9).as("d_stat"), col("v").as("at_value"),
        col("_na").as("n_a"), col("_nb").as("n_b"))
  }

  /** m-estimate target encoding: per category, the smoothed target
    * mean (Σ_c + m·prior)/(n_c + m) — the standard leakage-bounded
    * categorical encoder (a 1-row category collapses toward the global
    * prior instead of memorizing its single target). Returns the
    * encoding TABLE (category, n, encoded) — a broadcast-sized feature
    * artifact consumers join onto training rows.
    *
    * Exactness: target values quantize to micro-unit longs summed as
    * DECIMAL(38,0) (order-insensitive), and the one encoded double per
    * category is a fixed-order chain of correctly-rounded ops —
    * engine-identical. Two partial aggs (global + per-category), the
    * global row broadcast; no window, no join against the fact table.
    */
  def targetEncode(df: DataFrame, catCol: String, valueCol: String,
                   m: Int = 10): DataFrame = {
    require(m >= 0, s"smoothing m must be >= 0, got $m")
    val vq = floor(col(valueCol).cast("double") * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val glob = df.agg(sum(vq).as("_gs"), count(lit(1)).as("_gn"))
    val prior = col("_gs").cast("double") / 1e6 / col("_gn")
    df.groupBy(col(catCol))
      .agg(sum(vq).as("_s"), count(lit(1)).as("_n"))
      .crossJoin(broadcast(glob))
      .select(col(catCol), col("_n").as("n"),
        round((col("_s").cast("double") / 1e6 + lit(m) * prior) / (col("_n") + m), 6)
          .as("encoded"))
  }

  /** Out-of-fold (leakage-free) [[targetEncode]]: the encoding each
    * TRAINING row may actually see. Plain target encoding leaks — a
    * row's own target is inside its category mean, and a model reads
    * the answer off its feature. The standard fix: assign rows to k
    * folds (content-addressed, `Tafra.kfoldByHash` — grouped so a
    * user never straddles folds) and encode fold f's rows from the
    * OTHER folds' statistics only, global prior included (the prior
    * is also out-of-fold — a fold-f row must not see fold f even
    * through the smoothing term).
    *
    * Equivalence contract (spec-proven): the (cat, f) encoding is
    * EXACTLY `targetEncode(df without fold f)` for that category —
    * this operator just computes all k leave-one-fold-out encoders
    * from ONE corpus pass instead of k.
    *
    * Scale shape: one corpus-sized partial agg to the |cat|×k state
    * table; every subsequent total (per-cat, per-fold, global) is an
    * agg OVER THE STATE, broadcast back onto it — the corpus is read
    * once however many folds there are, no window, no fact-table
    * join. Returns (catCol, foldCol, n_oof, encoded), the
    * broadcast-sized feature artifact consumers join on (cat, fold).
    * A category confined to one fold encodes to the pure prior
    * (n_oof = 0, the m-weight takes over) — hence m >= 1.
    */
  def targetEncodeOof(df: DataFrame, catCol: String, valueCol: String,
                      foldCol: String, m: Int = 10): DataFrame = {
    require(m >= 1, s"out-of-fold smoothing needs m >= 1 (n_oof can be 0), got $m")
    val vq = floor(col(valueCol).cast("double") * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val cf = df.groupBy(col(catCol), col(foldCol))
      .agg(sum(vq).cast("decimal(38,0)").as("s_cf"), count(lit(1)).as("n_cf"))
    val c = cf.groupBy(col(catCol))
      .agg(sum("s_cf").cast("decimal(38,0)").as("s_c"), sum("n_cf").as("n_c"))
    val g = cf.groupBy(col(foldCol))
      .agg(sum("s_cf").cast("decimal(38,0)").as("s_f"), sum("n_cf").as("n_f"))
    val tot = cf.agg(sum("s_cf").cast("decimal(38,0)").as("s_all"), sum("n_cf").as("n_all"))
    val priorOof = (col("s_all") - col("s_f")).cast("double") / 1e6 / (col("n_all") - col("n_f"))
    cf.join(broadcast(c), Seq(catCol))
      .join(broadcast(g), Seq(foldCol))
      .crossJoin(broadcast(tot))
      .select(col(catCol), col(foldCol),
        (col("n_c") - col("n_cf")).as("n_oof"),
        round(((col("s_c") - col("s_cf")).cast("double") / 1e6 + lit(m) * priorOof)
          / ((col("n_c") - col("n_cf")) + lit(m)), 6).as("encoded"))
  }

  /** One-way ANOVA F over an already-quantized (_g, _v) frame — the
    * shared compute behind [[anovaF]] and [[levene]]. One partial agg
    * to |groups| moment cells; per-group S_g²/n_g terms evaluate in
    * doubles from exact DECIMAL sums and quantize to DECIMAL(38,6)
    * before the cross-group sum (order-insensitive at any
    * parallelism); F is ONE mirrored double expression.
    */
  private def anovaOnQuantized(q: DataFrame): DataFrame = {
    val cells = q.groupBy(col("_g")).agg(
      count(lit(1)).as("_n"),
      sum(col("_v").cast("decimal(38,0)")).as("_s"),
      sum((col("_v").cast("decimal(19,0)") * col("_v")).cast("decimal(38,0)")).as("_ss"))
    def d(c: String) = col(c).cast("double")
    cells
      .withColumn("_t", (d("_s") * d("_s") / d("_n")).cast("decimal(38,6)"))
      .agg(count(lit(1)).as("k_groups"), sum("_n").as("n"),
           sum("_s").cast("decimal(38,0)").as("_st"),
           sum("_ss").cast("decimal(38,0)").as("_sst"),
           sum("_t").cast("decimal(38,6)").as("_sbt"))
  }

  /** One-way ANOVA: does the group factor explain the metric's
    * variance beyond noise? F = (SSB/(k−1))/(SSW/(N−k)) — the k-group
    * generalization of [[welchT]]'s two-cohort question (classical
    * equal-variance form; pair with [[levene]] to check that
    * assumption first). The screening pass before per-pair tests: one
    * F across 20 sources replaces 190 pairwise t-tests and their
    * multiplicity problem (the [[graft.functions.Eval.proportionTestBh]]
    * rationale).
    *
    * Exactness: values quantize to integer `unitScale`-units; per-group
    * n/Σ/Σ² are exact DECIMAL(38,0); each S_g²/n_g is one double
    * division of exact integers quantized DECIMAL(38,6) pre-sum; SSB =
    * Σ_g S_g²/n_g − S²/N and F evaluate in one oracle-mirrored double
    * op order, rounded 1e-6 (SS outputs rescaled to original units²).
    * Degenerate inputs (k < 2, N ≤ k, or zero within-variance) emit
    * NULL f_stat.
    *
    * Scale shape: ONE partial agg corpus → |groups| moment cells, one
    * scalar agg over the group table. Rows never shuffle.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String,
             unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val row = anovaOnQuantized(df.select(col(groupCol).as("_g"), vq.as("_v")))
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    val ssb = d("_sbt") - d("_st") * d("_st") / nD
    val ssw = d("_sst") - d("_sbt")
    val ok = col("k_groups") >= 2 && col("n") > col("k_groups") && ssw > 0
    val u2 = unitScale.toDouble * unitScale.toDouble
    row.select(col("k_groups"), col("n"),
      round(ssb / u2, 6).as("ss_between"),
      round(ssw / u2, 6).as("ss_within"),
      when(ok, round((ssb / (d("k_groups") - 1.0)) / (ssw / (nD - d("k_groups"))), 6))
        .as("f_stat"))
  }

  /** Brown–Forsythe Levene test: one-way ANOVA ([[anovaF]]) on the
    * absolute deviations from each GROUP MEDIAN — "do the groups even
    * share a variance?", the assumption check classical ANOVA and
    * pooled t silently make, and a drift signal in its own right (a
    * source whose spread exploded fails Levene long before its mean
    * moves). Median-centered (Brown–Forsythe '74) rather than
    * mean-centered: robust to the heavy tails that motivate the test.
    *
    * Exactness: group medians are the [[robustScale]] inverse-ECDF
    * rank selection over the per-(group, value) histogram (integer
    * cross-multiplied boundary, no float); |v − med| is exact integer
    * subtraction in quantized units; the F over deviations inherits
    * [[anovaF]]'s decimal/mirrored arithmetic, rounded 1e-6.
    *
    * Scale shape: one histogram partial agg (distinct-value-sized) +
    * a broadcast of the group-median table back to rows + the anova
    * moment pass. Rows shuffle once, keyed by group, carrying one
    * integer each.
    */
  def levene(df: DataFrame, groupCol: String, valueCol: String,
             unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val base = df.select(col(groupCol).as("_g"), vq.as("_v0"))
    val hist = base.groupBy(col("_g"), col("_v0")).agg(count(lit(1)).as("_c"))
    val med = Ranks.running(hist, Seq("_g"), Seq(col("_v0")),
        Seq("_cum" -> col("_c")), totals = Seq("_n" -> col("_c")))
      .groupBy(col("_g"))
      .agg(Ranks.pick(col("_v0"), col("_cum"), col("_n"), 1L, 2L).as("_med"))
    val devs = base.join(broadcast(med), Seq("_g"))
      .select(col("_g"), abs(col("_v0") - col("_med")).as("_v"))
    val row = anovaOnQuantized(devs)
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    val ssb = d("_sbt") - d("_st") * d("_st") / nD
    val ssw = d("_sst") - d("_sbt")
    val ok = col("k_groups") >= 2 && col("n") > col("k_groups") && ssw > 0
    row.select(col("k_groups"), col("n"),
      when(ok, round((ssb / (d("k_groups") - 1.0)) / (ssw / (nD - d("k_groups"))), 6))
        .as("f_stat"))
  }

  /** Welch's heteroscedastic one-way ANOVA (Welch '51): the k-group
    * mean screen WITHOUT the equal-variance assumption [[anovaF]]
    * makes — the k-group generalization of [[welchT]] exactly as
    * anovaF generalizes the pooled t. Use when [[levene]] rejects:
    * classical F's pooled SSW is dominated by the noisiest group and
    * silently loses power on the quiet ones. W = Σw_g(m̄_g − m̃)² /
    * (k−1) over B = 1 + 2(k−2)/(k²−1)·Σh_g with w_g = n_g/s²_g,
    * m̃ the w-weighted grand mean, h_g = (1−w_g/W_tot)²/(n_g−1);
    * Welch–Satterthwaite dof = (k²−1)/(3Σh_g).
    *
    * Exactness: one partial agg to |groups| DECIMAL moment cells;
    * per-group mean/variance/weight evaluate in doubles from exact
    * sums IN ORIGINAL UNITS (one mirrored op order — the quantized-
    * unit inflation would push w under any decimal quantum);
    * w-weighted terms quantize DECIMAL(38,9) pre-sum, h terms
    * DECIMAL(20,9); two passes over the GROUP TABLE only (the grand
    * mean needs Σw first), scalars broadcast back. Groups with n < 2
    * or zero variance are EXCLUDED (reported in k_excluded — Welch
    * weights are undefined there); k < 2 usable groups emits NULL.
    */
  def welchAnova(df: DataFrame, groupCol: String, valueCol: String,
                 unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val cells0 = df.select(col(groupCol).as("_g"), vq.as("_v"))
      .groupBy(col("_g")).agg(
        count(lit(1)).as("_n"),
        sum(col("_v").cast("decimal(38,0)")).as("_s"),
        sum((col("_v").cast("decimal(19,0)") * col("_v")).cast("decimal(38,0)")).as("_ss"))
    def d(c: String) = col(c).cast("double")
    val u = unitScale.toDouble
    val m = (d("_s") / d("_n")) / u
    val va = ((d("_ss") - d("_s") * d("_s") / d("_n")) / (d("_n") - 1.0)) / (lit(u) * u)
    val usable = col("_n") >= 2 && va > 0
    val cells = cells0
      .withColumn("_use", usable)
      .withColumn("_m", when(usable, m))
      .withColumn("_w", when(usable, d("_n") / va))
    val tot = cells.agg(
      count(when(col("_use"), 1)).as("_k"),
      count(when(!col("_use"), 1)).as("k_excluded"),
      sum(when(col("_use"), col("_n"))).as("_nt"),
      sum(when(col("_use"), col("_w").cast("decimal(38,9)"))).as("_wt"),
      sum(when(col("_use"), (col("_w") * col("_m")).cast("decimal(38,9)"))).as("_wmt"))
    val mw = d("_wmt") / d("_wt") // the w-weighted grand mean
    val terms = cells.filter(col("_use")).crossJoin(broadcast(tot))
      .withColumn("_a", (col("_w") * (col("_m") - mw) * (col("_m") - mw))
        .cast("decimal(38,9)"))
      .withColumn("_h", (((lit(1.0) - col("_w") / d("_wt"))
          * (lit(1.0) - col("_w") / d("_wt"))) / (d("_n") - 1.0))
        .cast("decimal(20,9)"))
      .groupBy(col("_k"), col("k_excluded"), col("_nt"))
      .agg(sum("_a").as("_at"), sum("_h").as("_ht"))
    val kD = d("_k")
    val aStat = d("_at") / (kD - 1.0)
    val b = lit(1.0) + lit(2.0) * (kD - 2.0) / (kD * kD - 1.0) * d("_ht")
    val ok = col("_k") >= 2 && d("_ht") > 0
    terms.select(col("_k").as("k_groups"), col("k_excluded"),
      col("_nt").as("n"),
      when(ok, round(aStat / b, 6)).as("w_stat"),
      when(ok, round((kD * kD - 1.0) / (lit(3.0) * d("_ht")), 6)).as("dof"))
  }

  /** Kruskal–Wallis H: the k-group rank test — [[mannWhitneyU]]'s
    * generalization exactly as [[anovaF]] generalizes [[welchT]], and
    * the right screening test when the metric is heavy-tailed or
    * ordinal (rank arithmetic is immune to the outliers that inflate
    * SSW and mask real location shifts).
    *
    * Exactness: the mannWhitneyU half-unit rule throughout — per
    * distinct non-NULL value, twice-the-average-tie-rank is the exact
    * integer [[Ranks.midRank2]] from ONE [[Ranks.running]] window over
    * the joint value histogram (UNPARTITIONED but distinct-value-sized, the
    * documented §5 histogram exemption); per-group 2R_g sums are
    * DECIMAL(38,0); each (2R_g)²/(4n_g) term is one double division
    * quantized DECIMAL(38,6) pre-sum; H, the tie correction
    * C = 1 − Σ(t³−t)/(N³−N), and H/C evaluate in one mirrored double
    * op order, rounded 1e-6. Degenerate inputs (k < 2, N < 2, or all
    * values tied → C = 0) emit NULL h_corrected.
    *
    * Scale shape: one partial agg corpus → (group, value) cells, one
    * value-histogram agg over those cells + its cumulative window,
    * one join back cell-to-rank (cell-sized), two scalar aggs. Rows
    * never shuffle.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String,
                    unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val cells = df.select(col(groupCol).as("_g"), vq.as("_v"))
      .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
    val vhist = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_t"))
    val ranked = Ranks.running(vhist, Nil, Seq(col("_v")), Seq("_cum" -> col("_t")))
      .withColumn("_r2", Ranks.midRank2(col("_cum"), col("_t")))
      .withColumn("_tie", Ranks.tieTerm(col("_t")))
    val byGroup = cells.join(ranked, Seq("_v"))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"),
           sum((col("_c").cast("decimal(19,0)") * col("_r2")).cast("decimal(38,0)")).as("_r2g"))
    def d(c: String) = col(c).cast("double")
    val gstats = byGroup
      .withColumn("_rr", (d("_r2g") * d("_r2g") / (lit(4.0) * d("_n"))).cast("decimal(38,6)"))
      .agg(count(lit(1)).as("k_groups"), sum("_n").as("n"),
           sum("_rr").cast("decimal(38,6)").as("_rrt"))
    val ties = ranked.agg(sum("_tie").cast("decimal(38,0)").as("_ties"))
    val nD = d("n")
    val h = lit(12.0) / (nD * (nD + 1.0)) * d("_rrt") - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - d("_ties") / (nD * nD * nD - nD)
    val ok = col("k_groups") >= 2 && col("n") >= 2 && corr > 0
    gstats.crossJoin(broadcast(ties))
      .select(col("k_groups"), col("n"),
        round(h, 6).as("h_stat"),
        when(ok, round(h / corr, 6)).as("h_corrected"))
  }

  /** Pettitt change-point test over an ordered series: the rank-based
    * (distribution-free) detector for a SINGLE shift point —
    * "when did this metric move?", upstream of [[cusum]]'s
    * known-baseline monitoring and complementary to
    * [[graft.operators.Rolling.seasonalDecompose]]'s rhythm split.
    * U_t = 2·Σ_{i≤t} r_i − t(N+1) over global ranks; the change point
    * maximizes |U_t| and p ≈ 2·exp(−6K²/(N³+N²)) (Pettitt '79).
    *
    * Intended for SERIES, not corpora: call it on the collapsed
    * per-bucket table (daily means, hourly medians — the
    * seasonalDecompose shape), where the global rank window runs over
    * calendar-scaled rows (the §5 metadata exemption). Exactness: the
    * mannWhitneyU half-unit rank rule makes every U_t an exact long
    * (2Σr is the cumulative of exact r2 integers); K/t* selection is
    * integer max with the EARLIEST t on ties; p evaluates in one
    * mirrored double op order, rounded 1e-9.
    */
  def pettitt(df: DataFrame, orderCol: String, valueCol: String,
              unitScale: Long = 1000000L, maxRows: Long = 100000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val base0 = df.select(col(orderCol).as("_o"), vq.as("_v"))
    // in-plan refusal (the theilSen/mannKendall pattern): the
    // cumulative-rank window is UNPARTITIONED — a raw corpus pointed
    // here funnels every row through one task. One tiny broadcast
    // probe + raise_error threaded through the value column; the
    // default budget is calendar-scale (the intended input shape).
    val probe = base0.agg(count(lit(1)).as("_cnt"))
      .select(when(col("_cnt") > maxRows, col("_cnt")).as("_kn"))
    val base = base0.crossJoin(broadcast(probe))
      .select(col("_o"),
        when(col("_kn").isNotNull, raise_error(format_string(
          s"pettitt: series exceeds $maxRows rows — the cumulative rank window is " +
          "single-task; collapse to calendar cells first",
          col("_kn").cast("string"))).cast("long"))
          .otherwise(col("_v")).as("_v"))
    val vhist = base.groupBy(col("_v")).agg(count(lit(1)).as("_t"))
    val ranked = Ranks.running(vhist, Nil, Seq(col("_v")), Seq("_cum" -> col("_t")))
      .select(col("_v"), Ranks.midRank2(col("_cum"), col("_t")).as("_r2"))
    // in time order: _s2 = 2·Σ_{i≤t} r_i (exact), _ti = t, _n = N
    val u = Ranks.running(base.join(ranked, Seq("_v")), Nil, Seq(col("_o")),
        Seq("_s2" -> col("_r2"), "_ti" -> lit(1L)), totals = Seq("_n" -> lit(1L)))
      .withColumn("_u", col("_s2") - col("_ti") * (col("_n") + 1L))
    def d(c: String) = col(c).cast("double")
    u.withColumn("_k", max(abs(col("_u"))).over(Window.partitionBy()))
      .filter(abs(col("_u")) === col("_k"))
      .groupBy(col("_n").as("n"), col("_k").as("k_stat"))
      .agg(min(col("_o")).as("t_star"))
      .select(col("n"), col("t_star"), col("k_stat"),
        round(lit(2.0) * exp(lit(-6.0) * d("k_stat") * d("k_stat")
          / (d("n") * d("n") * d("n") + d("n") * d("n"))), 9).as("p_approx"))
  }

  /** Friedman rank test (blocks × treatments, the nonparametric
    * repeated-measures ANOVA): does at least one TREATMENT differ when
    * every block sees all treatments — "did any event type's daily
    * level shift, controlling for the day?" — the within-block
    * companion to [[kruskalWallis]] (which ranks globally and would
    * confound day effects with type effects). χ²_F =
    * 12/(nk(k+1))·ΣR_j² − 3n(k+1) on within-block average ranks,
    * df = k−1 (Friedman '37).
    *
    * Exactness: the [[mannWhitneyU]] half-unit rank rule per block —
    * r2 = 2·rank + ties − 1 exact integers from two same-partition
    * windows; ΣR_j² carried as DECIMAL(38,0) of exact longs; χ² is
    * one mirrored double expression, rounded 1e-9. Blocks missing any
    * treatment drop (the complete-block requirement); duplicate
    * (block, treatment) rows REFUSE in-plan (ranks would silently
    * corrupt) — collapse to one row per cell first (the calendar-cell
    * rule).
    *
    * Scale shape: built for collapsed cells — windows partition per
    * BLOCK over k rows each (bounded by the treatment count, hot-key
    * safe at any block count); the treatment rollup is one partial
    * agg; k/n/ΣR² are 1-row broadcasts.
    * Output: one row per treatment (treatment, n_blocks, r2_sum,
    * mean_rank) + the shared (k, df, chi2_f) columns.
    */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               valueCol: String, unitScale: Long = 1000000L): DataFrame = {
    val vq = floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
    val base0 = df.select(col(blockCol).as("_b"), col(treatCol).as("_t"), vq.as("_v"))
    val kRow = base0.agg(countDistinct(col("_t")).as("_k"))
    // completeness by DISTINCT treatments (dups can't fake it); a dup
    // cell inside a kept block refuses in-plan — its ranks would
    // silently corrupt (incomplete blocks drop whole, dup or not)
    val blocks = base0.groupBy(col("_b"))
      .agg(countDistinct(col("_t")).as("_bk"), count(lit(1)).as("_rows"))
    val full = base0.join(blocks, Seq("_b"))
      .crossJoin(broadcast(kRow))
      .filter(col("_bk") === col("_k"))
      .withColumn("_v", when(col("_rows") > col("_bk"), raise_error(format_string(
        "friedman: duplicate (block, treatment) rows — collapse to one row per cell first",
        col("_rows").cast("string"))).cast("long")).otherwise(col("_v")))
    // half-unit ranks within the block: r2 = 2·rank + ties − 1
    val wB = Window.partitionBy(col("_b")).orderBy(col("_v"))
    val wTie = Window.partitionBy(col("_b"), col("_v"))
    val ranked = full
      .withColumn("_r2", lit(2L) * rank().over(wB) + count(lit(1)).over(wTie) - 1L)
    val perTreat = ranked.groupBy(col("_t").as("treatment"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("_r2")).as("r2_sum"))
    val scalars = perTreat.agg(
        max(col("n_blocks")).as("_n"),
        count(lit(1)).as("_kk"),
        sum((col("r2_sum").cast("decimal(38,0)") * col("r2_sum")).cast("decimal(38,0)"))
          .as("_s2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    perTreat.crossJoin(broadcast(scalars))
      .select(col("treatment"), col("n_blocks"), col("r2_sum"),
        round(d(col("r2_sum")) / (lit(2.0) * d(col("n_blocks"))), 9).as("mean_rank"),
        col("_kk").cast("int").as("k"),
        (col("_kk") - 1L).cast("int").as("df"),
        round(lit(3.0) * d(col("_s2"))
            / (d(col("_n")) * d(col("_kk")) * (d(col("_kk")) + lit(1.0)))
          - lit(3.0) * d(col("_n")) * (d(col("_kk")) + lit(1.0)), 9).as("chi2_f"))
  }

  /** Mann–Kendall monotonic-trend test over a series — the
    * SIGNIFICANCE companion to [[theilSen]]'s slope (same
    * rank-arithmetic family: S = Σ_{i<j} sign(v_j − v_i), the count
    * of concordant minus discordant time pairs): "is the drift real,
    * and which way?", distribution-free, exactly the question asked
    * of a daily quality/volume series before alerting on it. Reports
    * S, the tie-corrected variance Var(S) = [n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5)]/18, and the continuity-corrected normal
    * z = (S∓1)/√Var (Kendall '75).
    *
    * The pair enumeration is quadratic in the SERIES length by
    * definition, so this carries the theilSen contract: built for
    * collapsed calendar-scale series (daily/hourly cells) with the
    * same IN-PLAN loud refusal above `maxRows` — never point it at
    * raw rows. S and all tie counts are exact longs; z is one double
    * of exact integers, rounded 1e-9.
    */
  def mannKendall(df: DataFrame, orderCol: String, valueCol: String,
                  unitScale: Long = 1000000L, maxRows: Long = 10000L): DataFrame = {
    val base = df.select(col(orderCol).as("_o"),
      floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long").as("_v"))
    // in-plan refusal (the theilSen pattern): one tiny agg (always one
    // row — NULL when within budget), broadcast, raise_error threaded
    // through the value column
    val probe = base.agg(count(lit(1)).as("_cnt"))
      .select(when(col("_cnt") > maxRows, col("_cnt")).as("_kn"))
    val guarded = base.crossJoin(broadcast(probe))
      .withColumn("_vg", when(col("_kn").isNotNull, raise_error(format_string(
        s"mannKendall: series exceeds $maxRows rows — the pair count is quadratic; " +
        "collapse to calendar cells first", col("_kn").cast("string"))).cast("long"))
        .otherwise(col("_v")))
    val a = guarded.select(col("_o").as("_oa"), col("_vg").as("_va"))
    val b = base.select(col("_o").as("_ob"), col("_v").as("_vb"))
    val s = a.crossJoin(b).filter(col("_oa") < col("_ob"))
      .agg(sum(signum((col("_vb") - col("_va")).cast("double")).cast("long")).as("_s"),
        count(lit(1)).as("_np"))
    val ties = base.groupBy("_v").agg(count(lit(1)).as("_t"))
      .agg(sum((col("_t").cast("decimal(19,0)") * (col("_t") - 1L)
        * (lit(2L) * col("_t") + 5L)).cast("decimal(38,0)")).as("_tsum"),
        sum("_t").as("_n"))
    def dbl(c: Column) = c.cast("double")
    s.crossJoin(ties)
      .withColumn("_var", (dbl(col("_n")) * (dbl(col("_n")) - 1.0)
        * (lit(2.0) * dbl(col("_n")) + 5.0) - dbl(col("_tsum"))) / 18.0)
      .select(col("_n").as("n"), col("_s").as("s_stat"),
        round(col("_var"), 6).as("var_s"),
        when(col("_var") > 0.0,
          round(when(col("_s") > 0, (dbl(col("_s")) - 1.0) / sqrt(col("_var")))
            .when(col("_s") < 0, (dbl(col("_s")) + 1.0) / sqrt(col("_var")))
            .otherwise(lit(0.0)), 9)).as("z"))
  }

  /** Durbin–Watson autocorrelation statistic of per-series OLS
    * residuals: DW = Σ(e_t − e_{t−1})² / Σe_t² ∈ [0,4] — "after the
    * [[linearTrend]] fit, is what's left still structured?" (≈2 =
    * independent residuals; ≪2 = positive autocorrelation, the trend
    * model is missing seasonality or regime; ≫2 = negative, likely
    * over-differencing). The standard regression post-check beside
    * [[Rolling.autocorrelation]]'s raw-series ACF.
    *
    * Exactness: the OLS fit is the q156 machinery (slope/intercept
    * doubles OF exact integer sums in one mirrored order); residuals
    * are doubles of those; both DW sums quantize per-term to
    * DECIMAL(25,12); the final division is one double op, rounded
    * 1e-9. Built for collapsed calendar-scale series — the lag window
    * runs per series over its cells.
    */
  def durbinWatson(df: DataFrame, groupCol: String, orderCol: String,
                   valueCol: String, unitScale: Long = 1000000L): DataFrame = {
    val base = df.select(col(groupCol).as("_g"), col(orderCol).cast("long").as("_x"),
      floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long").as("_y"))
    def dbl(c: Column) = c.cast("double")
    def dd(c: Column) = c.cast("decimal(38,0)")
    val fit = base.groupBy("_g").agg(count(lit(1)).as("_n"),
        sum(dd(col("_x"))).as("_sx"), sum(dd(col("_y"))).as("_sy"),
        sum((col("_x").cast("decimal(19,0)") * col("_x")).cast("decimal(38,0)")).as("_sxx"),
        sum((col("_x").cast("decimal(19,0)") * col("_y")).cast("decimal(38,0)")).as("_sxy"))
      .withColumn("_den", dbl(col("_n")) * dbl(col("_sxx")) - dbl(col("_sx")) * dbl(col("_sx")))
      .withColumn("_b", when(col("_den") =!= 0.0,
        (dbl(col("_n")) * dbl(col("_sxy")) - dbl(col("_sx")) * dbl(col("_sy"))) / col("_den"))
        .otherwise(lit(0.0)))
      .withColumn("_a", (dbl(col("_sy")) - col("_b") * dbl(col("_sx"))) / dbl(col("_n")))
      .select("_g", "_n", "_a", "_b")
    val w = Window.partitionBy("_g").orderBy("_x")
    // residuals back in VALUE units (÷ unitScale, one mirrored double
    // op): µ-unit squares overflow the DECIMAL(25,12) term quantizer;
    // DW is scale-invariant so the statistic is unchanged
    base.join(broadcast(fit), Seq("_g"))
      .withColumn("_e", (dbl(col("_y")) - (col("_a") + col("_b") * dbl(col("_x"))))
        / lit(unitScale.toDouble))
      .withColumn("_ep", lag(col("_e"), 1).over(w))
      .groupBy(col("_g").as(groupCol))
      .agg(max(col("_n")).as("n"),
        sum(when(col("_ep").isNotNull,
          ((col("_e") - col("_ep")) * (col("_e") - col("_ep"))).cast("decimal(25,12)")))
          .as("_num"),
        sum((col("_e") * col("_e")).cast("decimal(25,12)")).as("_den2"))
      .select(col(groupCol), col("n"),
        when(dbl(col("_den2")) > 0.0,
          round(dbl(col("_num")) / dbl(col("_den2")), 9)).as("dw"))
  }

  /** Market-concentration profile per group: the Herfindahl–Hirschman
    * index HHI = Σ share², its inverse (the "effective number" of
    * entities — 1/HHI equals k for k equal shares), and the top
    * single-entity share — the dependence audit for a training-data
    * mixture ("is this domain really one crawler in a trenchcoat?"),
    * a supplier base, or traffic sources. Beside [[gini]] (inequality
    * of a value column) this answers the DUAL question: how dominated
    * is the group by its largest members.
    *
    * Exactness: values quantize to cents summed in DECIMAL(38,0), so
    * shares are doubles of exact integers; per-entity share² terms
    * quantize DECIMAL(25,15) pre-sum (order-free); HHI rounds 1e-9,
    * effective_n 1e-6, top_share 1e-9.
    *
    * Scale shape: one partial agg to (group, entity) cells, one
    * per-group total joined back (group-table-sized, broadcast), one
    * per-group fold. Nothing row-scaled shuffles twice.
    */
  def concentration(df: DataFrame, groupCol: String, entityCol: String,
                    valueCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("_g"), col(entityCol).as("_e"),
        floor(col(valueCol).cast("double") * 100 + lit(0.5)).cast("long").as("_cq"))
      .groupBy("_g", "_e")
      .agg(sum(col("_cq").cast("decimal(38,0)")).as("_v"))
    val tot = cells.groupBy("_g")
      .agg(sum("_v").as("_vt"), count(lit(1)).as("_ne"))
    def dbl(c: String) = col(c).cast("double")
    val share = dbl("_v") / dbl("_vt")
    cells.join(broadcast(tot), Seq("_g"))
      .filter(col("_vt") > 0)
      .withColumn("_t", (share * share).cast("decimal(25,15)"))
      .groupBy(col("_g").as(groupCol))
      .agg(max("_ne").cast("long").as("n_entities"),
        round(sum(col("_t")).cast("double"), 9).as("hhi"),
        round(lit(1.0) / sum(col("_t")).cast("double"), 6).as("effective_n"),
        round(max(share), 9).as("top_share"))
  }

  /** Quantile normalization across groups (the Bolstad et al. '03
    * microarray method, and the cross-source score-calibration tool
    * here): every group's value distribution maps onto the SHARED
    * reference distribution — the per-quantile-bin mean of the
    * per-group bin means — so scores from sources with different
    * scales become comparable before mixing/thresholding. Returns the
    * per-(group, bin) mapping table: n, the group's own bin mean, and
    * the normalized (reference) value every member of that bin maps to.
    *
    * Scale shape: one per-group sort (ntile window), one partial agg
    * to (group, bin) cells — bounded at groups × bins — then a
    * bins-sized reference agg broadcast back. Nothing row-scaled
    * shuffles twice. Bin means are double divisions of exact
    * quantized-long sums; the reference is the mean of RE-QUANTIZED
    * bin means, so both engines fold identical integers (ntile ties
    * are pinned by the mandatory `tieCol` full ordering).
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        tieCol: String, bins: Int = 100,
                        unitScale: Long = 1000000L): DataFrame = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(tieCol))
    val vq = floor(col(valueCol).cast("double") * unitScale + 0.5).cast("long")
    // cells appears TWICE downstream (its own rows + the reference
    // agg) — localCheckpoint the groups×bins-bounded frame so the
    // per-group sort+ntile over the full input runs ONCE, not once
    // per consumer
    val cells = df
      .withColumn("_bin", ntile(bins).over(w))
      .select(col(groupCol).as("_g"), col("_bin"), vq.as("_vq"))
      .groupBy("_g", "_bin")
      .agg(sum(col("_vq").cast("decimal(38,0)")).as("_s"),
        count(lit(1)).as("_n"))
      .withColumn("_mq", floor(col("_s").cast("double") / col("_n") + 0.5)
        .cast("long"))
      .localCheckpoint()
    val ref = cells.groupBy("_bin")
      .agg(sum(col("_mq").cast("decimal(38,0)")).as("_rs"),
        count(lit(1)).as("_rn"))
    cells.join(broadcast(ref), Seq("_bin"))
      .select(col("_g").as(groupCol), col("_bin").cast("int").as("bin"),
        col("_n").as("n"),
        round(col("_mq").cast("double") / unitScale, 6).as("orig_mean"),
        round(col("_rs").cast("double") / col("_rn") / unitScale, 6)
          .as("norm_value"))
  }

  /** OLS influence diagnostics for the simple regression y ~ x — the
    * read-out behind "is this fit driven by a handful of points":
    * leverage hᵢ (distance from x̄ in design space), the residual, and
    * Cook's distance Dᵢ = e²ᵢhᵢ / (p·s²·(1−hᵢ)²) with p = 2. Returns
    * the top-`topK` rows by Cook's D (the triage list), deterministic
    * under ties via the id ordering.
    *
    * All moments are exact integer sums of quantized values
    * (decimal(38,0)); slope/intercept/leverage/residual are then
    * double expressions of those exact integers with IDENTICAL shapes
    * on both engines, and the SSE re-quantizes per-row residual
    * squares before summing so s² never depends on fold order.
    */
  def olsInfluence(df: DataFrame, xCol: String, yCol: String, idCol: String,
                   topK: Int = 20, unitScale: Long = 1000000L): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val xq = floor(col(xCol).cast("double") * unitScale + 0.5).cast("long")
    val yq = floor(col(yCol).cast("double") * unitScale + 0.5).cast("long")
    val pts = df.select(col(idCol).as("_id"), xq.as("_x"), yq.as("_y"))
    def dd(c: Column) = c.cast("decimal(38,0)")
    val m = pts.agg(count(lit(1)).as("_n"),
      sum(dd(col("_x"))).as("_sx"), sum(dd(col("_y"))).as("_sy"),
      sum(dd(col("_x")) * dd(col("_x"))).as("_sxx"),
      sum(dd(col("_x")) * dd(col("_y"))).as("_sxy")).head()
    val n = m.getLong(0).toDouble
    require(n > 2, s"olsInfluence needs n > 2 points, got ${m.getLong(0)}")
    val sx = m.getDecimal(1).doubleValue(); val sy = m.getDecimal(2).doubleValue()
    val sxx = m.getDecimal(3).doubleValue(); val sxy = m.getDecimal(4).doubleValue()
    val sxxC = sxx - sx * sx / n // Σ(x−x̄)² in quantized units²
    require(sxxC > 0, "olsInfluence: x is constant — no regression")
    val slope = (sxy - sx * sy / n) / sxxC
    val icept = (sy - slope * sx) / n
    val resid = (col("_y").cast("double") - lit(icept) -
      lit(slope) * col("_x").cast("double")) / unitScale.toDouble
    val lever = lit(1.0 / n) +
      (col("_x").cast("double") - lit(sx / n)) *
      (col("_x").cast("double") - lit(sx / n)) / lit(sxxC)
    val scored = pts
      .withColumn("_e", resid)
      .withColumn("_h", lever)
      .withColumn("_e2q", floor(col("_e") * col("_e") * unitScale + 0.5)
        .cast("long"))
    val sse = scored.agg(
      sum(col("_e2q").cast("decimal(38,0)")).as("_sse")).head()
      .getDecimal(0).doubleValue() / unitScale.toDouble
    val s2 = sse / (n - 2.0)
    scored
      .withColumn("cooks_d", round(
        col("_e") * col("_e") * col("_h") /
          (lit(2.0 * s2) * (lit(1.0) - col("_h")) * (lit(1.0) - col("_h"))), 9))
      .withColumn("_rn", row_number().over(
        Window.orderBy(col("cooks_d").desc, col("_id"))))
      .filter(col("_rn") <= topK)
      .select(col("_id").as(idCol), col("_rn").cast("int").as("rank"),
        round(col("_e"), 6).as("residual"),
        round(col("_h"), 9).as("leverage"), col("cooks_d"))
  }

  /** Partial correlation r(x,y | z) — the association between x and y
    * with the third variable's linear effect removed, from the three
    * pairwise Pearson correlations: (r_xy − r_xz·r_yz) /
    * √((1−r²_xz)(1−r²_yz)). The confounder screen next to
    * [[corrMatrix]]: a large r_xy that collapses when conditioned on z
    * was z's doing. Emits one row per ordered choice of controlled
    * variable among the three columns.
    *
    * Same exactness contract as [[corrMatrix]]: all second moments are
    * integer sums of quantized values; each r and the partial formula
    * are double expressions of exact integers, identical both engines.
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String, zCol: String,
                  unitScale: Long = 100L): DataFrame = {
    def q(c: String) =
      floor(col(c).cast("double") * unitScale + 0.5).cast("decimal(38,0)")
    val m = df.agg(count(lit(1)).as("_n"),
      sum(q(xCol)).as("_sx"), sum(q(yCol)).as("_sy"), sum(q(zCol)).as("_sz"),
      sum(q(xCol) * q(xCol)).as("_sxx"), sum(q(yCol) * q(yCol)).as("_syy"),
      sum(q(zCol) * q(zCol)).as("_szz"),
      sum(q(xCol) * q(yCol)).as("_sxy"),
      sum(q(xCol) * q(zCol)).as("_sxz"),
      sum(q(yCol) * q(zCol)).as("_syz")).head()
    val n = m.getLong(0).toDouble
    val s = (1 to 9).map(i => m.getDecimal(i).doubleValue())
    val (sx, sy, sz, sxx, syy, szz, sxy, sxz, syz) =
      (s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7), s(8))
    def r(spq: Double, sp: Double, sq2: Double, sq: Double, spp: Double): Double =
      (n * spq - sp * sq) /
        math.sqrt((n * spp - sp * sp) * (n * sq2 - sq * sq))
    val rxy = r(sxy, sx, syy, sy, sxx)
    val rxz = r(sxz, sx, szz, sz, sxx)
    val ryz = r(syz, sy, szz, sz, syy)
    def partial(rab: Double, rac: Double, rbc: Double): Double =
      (rab - rac * rbc) / math.sqrt((1 - rac * rac) * (1 - rbc * rbc))
    // HALF_UP at 1e-9 — the same rounding Spark's round() applies, so
    // this driver-side fold matches the oracle's round(x, 9)
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val spark = df.sparkSession
    spark.createDataFrame(Seq(
        (xCol, yCol, zCol, r9(partial(rxy, rxz, ryz)), r9(rxy)),
        (xCol, zCol, yCol, r9(partial(rxz, rxy, ryz)), r9(rxz)),
        (yCol, zCol, xCol, r9(partial(ryz, rxy, rxz)), r9(ryz))))
      .toDF("a", "b", "controlling", "partial_r", "pearson_r")
  }

  /** Kendall's τ-b rank correlation between two VARIABLES — the
    * tie-corrected concordance coefficient (Kendall '45):
    * τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂)) with n₀ = n(n−1)/2 and
    * n₁/n₂ the tied-pair counts in x/y. The variable-variable
    * companion to [[mannKendall]]'s variable-vs-time trend S (same
    * pair arithmetic, different question: "do these two daily
    * metrics move together?" — robust to any monotone transform,
    * where Pearson's q96 matrix is not).
    *
    * Pair enumeration is quadratic in the series by definition, so it
    * carries the theilSen/mannKendall contract: collapsed
    * calendar-scale cells only, with the same IN-PLAN loud refusal
    * above `maxRows`. C, D, and every tie count are exact longs; τ_b
    * is one double expression of exact integers, rounded 1e-9.
    */
  def kendallTauB(df: DataFrame, idCol: String, xCol: String, yCol: String,
                  unitScale: Long = 1000000L, maxRows: Long = 10000L): DataFrame = {
    def q(c: String) =
      floor(col(c).cast("double") * unitScale + lit(0.5)).cast("long")
    val base = df.select(col(idCol).as("_o"), q(xCol).as("_x"), q(yCol).as("_y"))
    val probe = base.agg(count(lit(1)).as("_cnt"))
      .select(when(col("_cnt") > maxRows, col("_cnt")).as("_kn"))
    val guarded = base.crossJoin(broadcast(probe))
      .withColumn("_xg", when(col("_kn").isNotNull, raise_error(format_string(
        s"kendallTauB: series exceeds $maxRows rows — the pair count is quadratic; " +
        "collapse to calendar cells first", col("_kn").cast("string"))).cast("long"))
        .otherwise(col("_x")))
      .select(col("_o").as("_i"), col("_xg").as("_xa"), col("_y").as("_ya"))
    val b = base.select(col("_o").as("_j"), col("_x").as("_xb"),
      col("_y").as("_yb"))
    val pairs = guarded.crossJoin(b).filter(col("_i") < col("_j"))
      .agg(
        sum(when((col("_xb") > col("_xa") && col("_yb") > col("_ya")) ||
                 (col("_xb") < col("_xa") && col("_yb") < col("_ya")), 1L)
          .otherwise(0L)).as("_c"),
        sum(when((col("_xb") > col("_xa") && col("_yb") < col("_ya")) ||
                 (col("_xb") < col("_xa") && col("_yb") > col("_ya")), 1L)
          .otherwise(0L)).as("_d"))
    def tiePairs(c: String) = base.groupBy(col(c)).agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(expr("_t * (_t - 1) div 2")), lit(0L)).as("_tp"),
        sum("_t").as("_n"))
    val tx = tiePairs("_x").select(col("_tp").as("_n1"), col("_n"))
    val ty = tiePairs("_y").select(col("_tp").as("_n2"))
    def dbl(c: Column) = c.cast("double")
    pairs.crossJoin(tx).crossJoin(ty)
      .withColumn("_n0", expr("_n * (_n - 1) div 2"))
      .select(col("_n").as("n"), col("_c").as("concordant"),
        col("_d").as("discordant"),
        col("_n1").as("ties_x"), col("_n2").as("ties_y"),
        when(col("_n0") > col("_n1") && col("_n0") > col("_n2"),
          round((dbl(col("_c")) - dbl(col("_d"))) /
            sqrt(dbl(col("_n0") - col("_n1")) * dbl(col("_n0") - col("_n2"))), 9))
          .as("tau_b"))
  }

  /** Structural-break localization by the sup-Chow / sup-F scan
    * (Quandt '60, Andrews '93): fit y ~ x separately before and after
    * EVERY candidate breakpoint and report the split maximizing
    * F = ((SSE_pooled − SSE₁ − SSE₂)/2) / ((SSE₁+SSE₂)/(n−4)) — "WHEN
    * did the trend change, and how much", the localization companion
    * to the Pettitt/CUSUM/Page–Hinkley detectors (which say THAT a
    * shift happened).
    *
    * Scale shape: one pass of running moments (n, Σx, Σy, Σxx, Σxy,
    * Σyy as exact quantized DECIMAL sums) over the ordered cells
    * gives every candidate's BOTH segment fits in closed form —
    * prefix moments for the left segment, (total − prefix) for the
    * right; no per-candidate job, no pair join. Built for collapsed
    * calendar-scale series (the §5 single-partition exemption); the
    * argmax is a TakeOrdered, ties → earliest break.
    */
  def supChow(df: DataFrame, orderCol: String, valueCol: String,
              margin: Int = 3, unitScale: Long = 1000000L): DataFrame = {
    require(margin >= 3, s"margin must be >= 3 (p = 2 per segment), got $margin")
    val base = df.select(col(orderCol).as("_o"),
      floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long").as("_y"))
      .filter(col("_o").isNotNull)
      .withColumn("_x", col("_o").cast("long"))
    def dd(c: Column) = c.cast("decimal(38,0)")
    val tot = base.agg(count(lit(1)).as("_tn"),
      sum(dd(col("_x"))).as("_tsx"), sum(dd(col("_y"))).as("_tsy"),
      sum(dd(col("_x")) * dd(col("_x"))).as("_tsxx"),
      sum(dd(col("_x")) * dd(col("_y"))).as("_tsxy"),
      sum(dd(col("_y")) * dd(col("_y"))).as("_tsyy"))
    val pre = Ranks.running(base, Nil, Seq(col("_o")), Seq(
        "_pn" -> lit(1L), "_psx" -> dd(col("_x")), "_psy" -> dd(col("_y")),
        "_psxx" -> dd(col("_x")) * dd(col("_x")), "_psxy" -> dd(col("_x")) * dd(col("_y")),
        "_psyy" -> dd(col("_y")) * dd(col("_y"))))
      .crossJoin(broadcast(tot))
    def dbl(c: Column) = c.cast("double")
    // SSE of the least-squares line on a segment, from its exact
    // moment sums: Syy − Sy²/n − (Sxy − SxSy/n)² / (Sxx − Sx²/n)
    def sse(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column,
            syy: Column): Column = {
      val sxxc = dbl(sxx) - dbl(sx) * dbl(sx) / dbl(n)
      val sxyc = dbl(sxy) - dbl(sx) * dbl(sy) / dbl(n)
      val syyc = dbl(syy) - dbl(sy) * dbl(sy) / dbl(n)
      when(sxxc > 0.0, syyc - sxyc * sxyc / sxxc).otherwise(syyc)
    }
    def slope(n: Column, sx: Column, sy: Column, sxx: Column,
              sxy: Column): Column = {
      val sxxc = dbl(sxx) - dbl(sx) * dbl(sx) / dbl(n)
      when(sxxc > 0.0,
        (dbl(sxy) - dbl(sx) * dbl(sy) / dbl(n)) / sxxc)
    }
    val scored = pre
      .filter(col("_pn") >= margin && (col("_tn") - col("_pn")) >= margin)
      .withColumn("_sse1", sse(col("_pn"), col("_psx"), col("_psy"),
        col("_psxx"), col("_psxy"), col("_psyy")))
      .withColumn("_sse2", sse(col("_tn") - col("_pn"),
        col("_tsx") - col("_psx"), col("_tsy") - col("_psy"),
        col("_tsxx") - col("_psxx"), col("_tsxy") - col("_psxy"),
        col("_tsyy") - col("_psyy")))
      .withColumn("_ssep", sse(col("_tn"), col("_tsx"), col("_tsy"),
        col("_tsxx"), col("_tsxy"), col("_tsyy")))
      .withColumn("_den", (col("_sse1") + col("_sse2")) /
        (dbl(col("_tn")) - lit(4.0)))
      .withColumn("_f", when(col("_den") > 0.0,
        ((col("_ssep") - col("_sse1") - col("_sse2")) / lit(2.0)) / col("_den")))
      .filter(col("_f").isNotNull)
    scored
      .orderBy(col("_f").desc, col("_o").asc).limit(1)
      .select(col("_tn").as("n"), col("_o").as("break_at"),
        round(col("_f"), 6).as("f_stat"),
        round(slope(col("_pn"), col("_psx"), col("_psy"), col("_psxx"),
          col("_psxy")) / unitScale, 9).as("slope_pre"),
        round(slope(col("_tn") - col("_pn"), col("_tsx") - col("_psx"),
          col("_tsy") - col("_psy"), col("_tsxx") - col("_psxx"),
          col("_tsxy") - col("_psxy")) / unitScale, 9).as("slope_post"))
  }

  /** Dunn's post-hoc test (Dunn '64) — WHICH groups differ, after
    * [[kruskalWallis]]' one-number verdict that SOME do: pairwise
    * z_ij = (R̄ᵢ − R̄ⱼ)/√(σ²·(1/nᵢ + 1/nⱼ)) on the pooled
    * tie-averaged ranks, with σ² = N(N+1)/12 − Σ(t³−t)/(12(N−1)) and
    * the Bonferroni m = k(k−1)/2 reported for the caller's α/m cut.
    *
    * Rank arithmetic is the exact half-unit integer family (q216):
    * 2·avgRank = [[Ranks.midRank2]] per DISTINCT non-NULL value, per-group
    * rank sums fold as exact DECIMAL(38,0) products, the window walks
    * distinct values only; every z is one mirrored double of exact
    * integers.
    */
  def dunnTest(df: DataFrame, groupCol: String, valueCol: String,
               unitScale: Long = 1000000L): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("_g"),
      floor(col(valueCol).cast("double") * unitScale + lit(0.5)).cast("long")
        .as("_v"))
    val hist = base.groupBy("_v").agg(count(lit(1)).as("_t"))
    val ranked = Ranks.running(hist, Nil, Seq(col("_v")), Seq("_cum" -> col("_t")))
      .withColumn("_hr2", Ranks.midRank2(col("_cum"), col("_t")))
    val perGroup = base.groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
      .join(ranked.select(col("_v"), col("_hr2")), Seq("_v"))
      .groupBy("_g")
      .agg(sum("_c").as("_n"),
        sum((col("_c").cast("decimal(38,0)") * col("_hr2")).cast("decimal(38,0)"))
          .as("_sr2"))
    // N/ties (over the ranked, NULL-free values) and the group count
    // fold in ONE driver action (the ranked and perGroup subtrees are
    // shared) instead of two
    val scalars = ranked.agg(sum("_t").as("_nn"), sum(Ranks.tieTerm(col("_t"))).as("_ties"))
      .crossJoin(perGroup.agg(count(lit(1)).as("_k"))).head()
    val n = scalars.getLong(0)
    require(n >= 2, s"dunnTest needs >= 2 rows, got $n")
    val ties = scalars.getDecimal(1).doubleValue()
    val sig2 = n.toDouble * (n.toDouble + 1.0) / 12.0 -
      ties / (12.0 * (n.toDouble - 1.0))
    def dbl(c: Column) = c.cast("double")
    val a = perGroup.select(col("_g").as("a"), col("_n").as("_na"),
      col("_sr2").as("_sa"))
    val b = perGroup.select(col("_g").as("b"), col("_n").as("_nb"),
      col("_sr2").as("_sb"))
    val pairs = a.crossJoin(b).filter(col("a") < col("b"))
    val k = scalars.getLong(2)
    pairs.select(col("a"), col("b"), col("_na").as("n_a"), col("_nb").as("n_b"),
        when(lit(sig2) > 0.0, round(
          (dbl(col("_sa")) / (lit(2.0) * dbl(col("_na"))) -
           dbl(col("_sb")) / (lit(2.0) * dbl(col("_nb")))) /
          sqrt(lit(sig2) * (lit(1.0) / dbl(col("_na")) +
            lit(1.0) / dbl(col("_nb")))), 9)).as("z"))
      .withColumn("m_comparisons", lit(k * (k - 1) / 2))
  }

  /** Bland–Altman agreement analysis (Bland & Altman '86) — do two
    * measurement methods agree well enough to swap: the mean paired
    * difference (bias), its SD, the 95% limits of agreement mean ±
    * 1.96·SD, and how many pairs fall outside them — the
    * method-comparison standard where a correlation coefficient
    * misleads (two methods can correlate at .99 and still disagree
    * by a constant clinically-fatal offset).
    *
    * Differences quantize to micro-unit longs; moments are exact
    * DECIMAL sums; the outside-count compares each exact difference
    * against limit doubles of exact integers — mirrored both engines.
    */
  def blandAltman(df: DataFrame, aCol: String, bCol: String,
                  unitScale: Long = 1000000L): DataFrame = {
    val d = (floor(col(aCol).cast("double") * unitScale + lit(0.5)) -
      floor(col(bCol).cast("double") * unitScale + lit(0.5))).cast("long")
    val base = df.select(d.as("_d"))
    val m = base.agg(count(lit(1)).as("_n"),
      sum(col("_d").cast("decimal(38,0)")).as("_s"),
      sum((col("_d").cast("decimal(38,0)") * col("_d")).cast("decimal(38,0)"))
        .as("_s2")).head()
    val n = m.getLong(0)
    require(n >= 2, s"blandAltman needs >= 2 pairs, got $n")
    val sD = m.getDecimal(1).doubleValue(); val s2 = m.getDecimal(2).doubleValue()
    val mean = sD / n.toDouble / unitScale.toDouble
    val varD = (s2 - sD * sD / n.toDouble) /
      (n.toDouble - 1.0) / unitScale.toDouble / unitScale.toDouble
    val sd = math.sqrt(varD)
    val lo = mean - 1.96 * sd; val hi = mean + 1.96 * sd
    val nOut = base.filter(
      col("_d").cast("double") / unitScale.toDouble < lo ||
      col("_d").cast("double") / unitScale.toDouble > hi).count()
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    df.sparkSession.createDataFrame(Seq(
        (n, r9(mean), r9(sd), r9(lo), r9(hi), nOut)))
      .toDF("n", "mean_diff", "sd_diff", "loa_lo", "loa_hi", "n_outside")
  }

  /** Sobel mediation test (Baron & Kenny '86; Sobel '82): does x act
    * on y THROUGH m — the indirect effect a·b from the two fits
    * m ~ x (slope a) and y ~ x + m (partial slope b, direct c′), with
    * z = a·b/√(a²·se_b² + b²·se_a²). The causal-path screen behind
    * "the discount moves revenue, but is it via quantity".
    *
    * All ten second moments fold in ONE partial-agg pass as exact
    * DECIMAL(38,0) sums of quantized values; both regressions and
    * their standard errors are closed-form double expressions of
    * those exact integers, mirrored in the oracle.
    */
  def sobelMediation(df: DataFrame, xCol: String, mCol: String, yCol: String,
                     unitScale: Long = 100L): DataFrame = {
    def q(c: String) =
      floor(col(c).cast("double") * unitScale + lit(0.5)).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)).as("_n"),
      sum(q(xCol)).as("_sx"), sum(q(mCol)).as("_sm"), sum(q(yCol)).as("_sy"),
      sum(q(xCol) * q(xCol)).as("_sxx"), sum(q(mCol) * q(mCol)).as("_smm"),
      sum(q(yCol) * q(yCol)).as("_syy"),
      sum(q(xCol) * q(mCol)).as("_sxm"),
      sum(q(xCol) * q(yCol)).as("_sxy"),
      sum(q(mCol) * q(yCol)).as("_smy")).head()
    val n = r.getLong(0).toDouble
    require(n > 3, s"sobelMediation needs n > 3, got ${r.getLong(0)}")
    val Seq(sx, sm, sy, sxx, smm, syy, sxm, sxy, smy) =
      (1 to 9).map(i => r.getDecimal(i).doubleValue())
    // centered moments (quantized units²)
    val cxx = sxx - sx * sx / n; val cmm = smm - sm * sm / n
    val cyy = syy - sy * sy / n
    val cxm = sxm - sx * sm / n; val cxy = sxy - sx * sy / n
    val cmy = smy - sm * sy / n
    require(cxx > 0 && cmm > 0, "sobelMediation: degenerate x or m")
    // path a: m ~ x
    val aHat = cxm / cxx
    val sseA = cmm - cxm * cxm / cxx
    val seA2 = (sseA / (n - 2.0)) / cxx
    // paths (c', b): y ~ x + m, normal equations on centered moments
    val det = cxx * cmm - cxm * cxm
    require(det > 0, "sobelMediation: x and m are collinear")
    val cPrime = (cmm * cxy - cxm * cmy) / det
    val bHat = (cxx * cmy - cxm * cxy) / det
    val sse = cyy - cPrime * cxy - bHat * cmy
    val sig2 = sse / (n - 3.0)
    val seB2 = sig2 * cxx / det
    val sobel = aHat * bHat /
      math.sqrt(aHat * aHat * seB2 + bHat * bHat * seA2)
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    df.sparkSession.createDataFrame(Seq(
        (r.getLong(0), r9(aHat), r9(bHat), r9(cPrime), r9(aHat * bHat),
          r9(sobel))))
      .toDF("n", "a_path", "b_path", "direct", "indirect", "sobel_z")
  }
}
