package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency/cardinality sketches as plain DataFrame
  * aggregations (SURVEY.md §2 #60-61). Spark ships approx sketches
  * (`approx_count_distinct`, datasketches), but their register layouts
  * are engine-private — useless when the sketch must be an AUDITABLE
  * ARTIFACT shared across engines (the 100 TB case: the ingest
  * pipeline builds sketches per shard, a reporting engine merges and
  * queries them). These variants are built on the md5-prefix hash
  * family ([[Hashing]]), so every register is reproducible from ANSI
  * SQL in any engine, and the DuckDB oracle verifies the full
  * sketch → estimate pipeline bit-exactly.
  *
  * Both sketches are MERGEABLE by construction — count-min cells add,
  * HLL registers max — and both build as ONE partial-agg shuffle whose
  * output is the fixed-size sketch (4096 cells / 1024 registers), so
  * the reduce side is constant regardless of corpus size.
  */
object Sketches {

  /** Count-min cell index of `key` for hash-family row j: first 32
    * md5 bits of the seeded key, mod width. DuckDB mirror:
    * `('0x'||substr(md5('cm' || j || '|' || key),1,8))::BIGINT % width`.
    */
  def cmsCell(key: Column, j: Int, width: Int): Column =
    pmod(Hashing.md5Long32(concat(lit("cm"), lit(j), lit("|"), key)), lit(width))

  /** Build a depth×width count-min sketch over `keyCol` (string).
    * One row per (j, cell) with the summed hit count — ≤ depth·width
    * rows total, partial-agg map-side so the shuffle carries at most
    * depth·width rows PER MAP TASK, never per input row. Sketches from
    * different shards/streams merge by summing cnt per (j, cell).
    */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int = 4, width: Int = 1024): DataFrame =
    df.select(col(keyCol).cast("string").as("k"))
      .select(posexplode(array((0 until depth).map(j =>
        cmsCell(col("k"), j, width)): _*)).as(Seq("j", "cell")))
      .groupBy("j", "cell").agg(count(lit(1)).as("cnt"))

  /** Point-estimate the count of each key in `keys` (a one-column
    * frame) from a built sketch: min over the depth rows of the cell
    * counts — the classic CM upper-bound estimate (overestimates only,
    * never under). The sketch is broadcast (≤ depth·width rows by
    * construction); keys the sketch never saw estimate 0 via the
    * left join.
    */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame = {
    val exploded = keys.select(col(keyCol).cast("string").as("k"))
      .select(col("k"), posexplode(array((0 until depth).map(j =>
        cmsCell(col("k"), j, width)): _*)).as(Seq("j", "cell")))
    exploded.join(broadcast(sketch), Seq("j", "cell"), "left")
      .groupBy("k")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .withColumnRenamed("k", keyCol)
  }

  /** HyperLogLog registers over `keyCol`: bucket = top `p` bits of the
    * first 32 md5 bits; rho = leading-zero count of the SECOND 32 md5
    * bits + 1 (an independent 32-bit word — a few more hash bits than
    * the textbook single-word split, same estimator). rho ∈ [1, 33];
    * the w=0 case (all 32 bits zero) caps at 33. Integer-exact via the
    * `bin()` length trick — `33 - length(bin(w))` — which both engines
    * compute identically (both strip leading zeros).
    * Output: (bucket, r) — ≤ 2^p rows, max-merged map-side.
    */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 10): DataFrame = {
    val k = col(keyCol).cast("string")
    val w = Hashing.md5Long32b(k)
    df.select(
        shiftrightunsigned(Hashing.md5Long32(k), 32 - p).as("bucket"),
        when(w === 0L, lit(33)).otherwise(lit(33) - length(bin(w))).as("rho"))
      .groupBy("bucket").agg(max("rho").as("r"))
  }

  /** Per-group HLL registers: one register table per value of
    * `groupCols` — the reporting shape (distinct users per segment,
    * distinct docs per source) where exact per-group countDistinct
    * would shuffle every (group, key) pair. Register volume is
    * |groups| × 2^p rows max, partial-max map-side, one shuffle.
    */
  def hllRegistersBy(df: DataFrame, groupCols: Seq[String], keyCol: String,
                     p: Int = 10): DataFrame = {
    val k = col(keyCol).cast("string")
    val w = Hashing.md5Long32b(k)
    df.select(groupCols.map(col) :+
        shiftrightunsigned(Hashing.md5Long32(k), 32 - p).as("bucket") :+
        when(w === 0L, lit(33)).otherwise(lit(33) - length(bin(w))).as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*).agg(max("rho").as("r"))
  }

  /** Per-group estimates from [[hllRegistersBy]] output: same exact
    * BIGINT Z-sum and final-division shape as [[hllEstimate]], one row
    * per group.
    */
  def hllEstimateBy(registers: DataFrame, groupCols: Seq[String],
                    p: Int = 10): DataFrame = {
    val m = 1L << p
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("nonzero"),
           sum(expr("shiftleft(cast(1 as bigint), 33 - r)")).as("zsum"))
      .select(groupCols.map(col) :+ col("nonzero") :+
        (col("zsum") + (lit(m) - col("nonzero")) * lit(1L << 33)).as("zs"): _*)
      .withColumn("est",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
          lit((m * m).toDouble) * lit(8589934592.0) / col("zs").cast("double"))
  }

  /** Join-size estimate from two count-min sketches (the AMS-style
    * inner product): for each hash row j, Σ_cells cntA·cntB
    * overestimates |A ⋈ B| on the sketched key (colliding keys only
    * ADD mass), so the MIN over rows is the tightest upper bound the
    * pair of sketches supports — the shuffle-free cardinality probe a
    * planner wants before committing to a join strategy, computed
    * from two ≤ depth·width artifacts without touching either table.
    *
    * Exact integer arithmetic end to end (counts are longs, the
    * per-row inner product sums as DECIMAL(38,0) — order-insensitive,
    * overflow-free to 10³⁸); output (j, row_estimate) per hash row
    * plus the min as `est` on every row (one tiny frame, the
    * triangleCounts total-column convention).
    */
  def cmsJoinSizeEstimate(sketchA: DataFrame, sketchB: DataFrame): DataFrame = {
    val joined = sketchA.select(col("j"), col("cell"), col("cnt").as("ca"))
      .join(sketchB.select(col("j"), col("cell"), col("cnt").as("cb")),
        Seq("j", "cell"))
    val perRow = joined.groupBy("j")
      .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("row_estimate"))
    perRow.crossJoin(broadcast(
      perRow.agg(min(col("row_estimate")).as("est"))))
  }

  /** Set-operation estimates from two HLL register tables: |A|, |B|,
    * |A∪B| (the registers' cellwise max — HLL's native, error-free
    * merge), and |A∩B| by inclusion–exclusion — the audit question
    * sketch artifacts exist to answer ("how many users do these two
    * segments share?") without ever re-scanning either corpus. The
    * intersection estimate inherits the union's relative error scaled
    * by |A∪B|/|A∩B| (standard HLL caveat — small intersections of
    * large sets are noisy) and CAN go slightly negative on disjoint
    * sets; it is reported raw (presentation clamps are the caller's).
    *
    * All three estimates run the exact-BIGINT Z-sum shape of
    * [[hllEstimate]]; the union merge is one partial-max agg over
    * ≤ 2·2^p register rows. Every double op is mirrored token-for-token
    * by the oracle; the derived intersection rounds at 1e-6 (one
    * guard against the final subtraction's ulp).
    */
  def hllSetEstimates(regsA: DataFrame, regsB: DataFrame, p: Int = 10): DataFrame = {
    val m = 1L << p
    def zs(regs: DataFrame, name: String): DataFrame =
      regs.agg(count(lit(1)).as("nonzero"),
          sum(expr("shiftleft(cast(1 as bigint), 33 - r)")).as("zsum"))
        .select((col("zsum") + (lit(m) - col("nonzero")) * lit(1L << 33)).as(name))
    val est = (c: Column) =>
      lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
        lit((m * m).toDouble) * lit(8589934592.0) / c.cast("double")
    val merged = regsA.unionByName(regsB).groupBy("bucket").agg(max("r").as("r"))
    zs(regsA, "zsa").crossJoin(zs(regsB, "zsb")).crossJoin(zs(merged, "zsu"))
      .select(est(col("zsa")).as("est_a"), est(col("zsb")).as("est_b"),
        est(col("zsu")).as("est_union"),
        round(est(col("zsa")) + est(col("zsb")) - est(col("zsu")), 6).as("est_intersect"))
  }

  /** The raw HLL estimate from a register table: with Z scaled by 2^33
    * every term 2^(33−r) is an exact integer (empty buckets contribute
    * 2^33), so the register sum is pure BIGINT arithmetic — the single
    * double division happens once at the end, in an expression shape
    * the oracle mirrors token-for-token. No small/large-range
    * correction (documented raw-estimator contract; bias corrections
    * are presentation-layer).
    * Output: one row (m, nonzero, zs, est).
    */
  def hllEstimate(registers: DataFrame, p: Int = 10): DataFrame = {
    val m = 1L << p
    registers
      .agg(count(lit(1)).as("nonzero"),
           sum(expr("shiftleft(cast(1 as bigint), 33 - r)")).as("zsum"))
      .select(lit(m).as("m"), col("nonzero"),
        (col("zsum") + (lit(m) - col("nonzero")) * lit(1L << 33)).as("zs"))
      .withColumn("est",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
          lit((m * m).toDouble) * lit(8589934592.0) / col("zs").cast("double"))
  }

  /** EXACT distinct count per group via bucketed bitmaps — the
    * roaring-bitmap-index trick as two partial aggs: bucket = id div
    * 64, mask = 1 << (id mod 64), per-(group, bucket) `bit_or` fold,
    * then Σ popcount. Both aggregations are commutative/associative →
    * full map-side combine, so the shuffle carries (group, bucket,
    * 64-bit word) cells — for a DENSE integer id domain that is
    * |ids|/64 words per group, an ~64× reduction over the
    * `count(distinct)` Expand shuffle of raw (group, id) pairs, with
    * none of HLL's error. This is the exact-cardinality scale path
    * when ids are dense integers (surrogate keys, user ordinals);
    * sparse/huge domains should stay on [[hllByGroup]].
    *
    * The bitmap state is also a mergeable artifact (bit_or across
    * batches — the mergeAggStates contract). Ids must be
    * non-negative; a negative id fails LOUDLY in the mask expression
    * rather than aliasing another id's bit.
    *
    * Output: (group, n_distinct, n_buckets).
    */
  def bitmapDistinct(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    val guarded = when(id < 0, raise_error(
        format_string(s"bitmapDistinct: negative id %s in $idCol — bitmap bits would alias",
          id.cast("string"))).cast("long"))
      .otherwise(id)
    df.select(col(groupCol), guarded.as("_id"))
      .groupBy(col(groupCol), expr("_id div 64").as("_bucket"))
      .agg(bit_or(expr("shiftleft(1L, cast(_id % 64 as int))")).as("_bits"))
      .groupBy(col(groupCol))
      .agg(sum(bit_count(col("_bits")).cast("long")).as("n_distinct"),
           count(lit(1)).as("n_buckets"))
  }

  /** Deterministic mergeable QUANTILE state — the member the
    * mergeable-state family was missing (aggState = sum/min/max,
    * momentsState = mean/var, HLL = distinct, CMS = frequency, bitmap
    * = exact distinct … and nothing answered "p99 across shards
    * without rescanning"). Randomized mergeable sketches (KLL,
    * t-digest) trade determinism away; the exact value→count map state
    * is unbounded on continuous metrics. This is the deterministic
    * middle: values quantize to longs, then collapse to DYADIC BINS —
    * the value truncated to its top `subBits+1` significant bits (the
    * bin id IS the bin's toward-zero bound, directly reconstructible)
    * — so per key the state is ≤ 64·2^subBits bins per sign however
    * many rows it absorbs, merges are plain per-bin count sums
    * (order/split-invariant, bit-exact), and any quantile's estimate
    * is within relative error 2^-subBits of the true quantized value.
    *
    * All bit arithmetic ([[dyadicBin]]) is the HLL oracle's
    * `length(bin(abs(q)))` trick plus an exact power-of-two truncation
    * — both engines compute identical bins, so state AND estimates
    * hash-verify.
    *
    * Scale shape: ONE map-side-combining partial agg to the bin table;
    * [[mergeQuantileStates]] is union + one partial agg;
    * [[quantileOf]] walks the cumulative histogram (bins, not rows —
    * the weightedPercentile shape) with integer rank cross-multiply.
    */
  def quantileState(df: DataFrame, keys: Seq[String], valueCol: String,
                    unitScale: Long = 1000000L, subBits: Int = 5): DataFrame = {
    require(subBits >= 1 && subBits <= 20, s"subBits out of range: $subBits")
    df.select(keys.map(col) :+ dyadicBin(col(valueCol), unitScale, subBits).as("bin"): _*)
      .groupBy(keys.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Union + one partial agg — the mergeAggStates contract. */
  def mergeQuantileStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeQuantileStates: no states")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col) :+ col("bin"): _*)
      .agg(sum("cnt").as("cnt"))
  }

  /** Type-1 quantile from a state: the SMALLEST bin whose inclusive
    * count prefix reaches rank p = pNum/pDen (integer cross-multiply,
    * no float boundary). Reports the bin's toward-zero bound scaled
    * back to value units — within relative error 2^-subBits of the
    * true type-1 quantile's quantized value by construction.
    * Output: (keys…, n, q_est).
    */
  def quantileOf(state: DataFrame, keys: Seq[String], pNum: Long, pDen: Long,
                 unitScale: Long = 1000000L): DataFrame = {
    require(pNum >= 0 && pNum <= pDen && pDen > 0, s"bad rational p=$pNum/$pDen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    state
      .withColumn("_cum", sum(col("cnt")).over(w))
      .withColumn("_n", sum(col("cnt")).over(tot))
      .filter(col("_cum") * pDen >= col("_n") * pNum)
      .groupBy(keys.map(col): _*)
      .agg(max(col("_n")).as("n"),
        (min(col("bin")).cast("double") / unitScale).as("q_est"))
  }

  /** KMV (bottom-k / K-Minimum-Values) distinct sketch (Bar-Yossef et
    * al. RANDOM'02; Beyer et al. SIGMOD'07) — the DETERMINISTIC
    * mergeable distinct estimator beside [[hllRegisters]]: where HLL
    * keeps 2^p max-run registers, KMV keeps the k smallest 60-bit
    * md5 hash values of the distinct keys. Same content-addressed
    * portability as the whole sampling family (md5 is byte-identical
    * across engines/runs/shards, so states AND estimates
    * hash-verify), better intersection behavior than HLL
    * inclusion–exclusion (the k-min union IS a uniform sample of the
    * union, so Jaccard reads off it directly — the minhash insight).
    *
    * State per key group: the ascending array of ≤k smallest hashes
    * over DISTINCT values. Merge = array union → k smallest again —
    * associative, commutative, split-invariant (bit-exact, the
    * mergeable-state family contract).
    *
    * Scale shape: one (keys, hash) distinct partial agg (the shuffle
    * carries distinct values once, never rows), one per-key bottom-k
    * window WITH WindowGroupLimit pushdown (rank ≤ k prunes map-side),
    * one bounded collect_list (≤k rows per key by construction).
    */
  def kmvState(df: DataFrame, keys: Seq[String], valueCol: String,
               k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // 60-bit hash: 15 hex chars, positive, identical to the oracle's
    // ('0x' || substr(md5('kmv|' || v), 1, 15))::BIGINT
    val h = conv(substring(md5(concat(lit("kmv|"), col(valueCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    bottomK(df.select(keys.map(col) :+ h.as("_h"): _*), keys, k)
  }

  /** k smallest distinct hashes per key group, as a sorted array. */
  private def bottomK(hashed: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("_h"))
    hashed
      .groupBy(keys.map(col) :+ col("_h"): _*).agg(count(lit(1)).as("_one"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("_h"))).as("kmv"))
  }

  /** Union + bottom-k again — the mergeable-state contract: merging
    * shard states is bit-identical to building from the union.
    */
  def mergeKmvStates(states: Seq[DataFrame], keys: Seq[String],
                     k: Int = 64): DataFrame = {
    require(states.nonEmpty, "mergeKmvStates: no states")
    val all = states.reduce(_.unionByName(_))
      .select(keys.map(col) :+ explode(col("kmv")).as("_h"): _*)
    bottomK(all, keys, k)
  }

  /** Inverse-quantile (CDF) probes against a [[quantileState]]: the
    * fraction of absorbed rows at or below each probe value — "what
    * share of requests beat the 200ms SLO" read straight off the
    * standing state, no corpus rescan. The probe maps to its dyadic
    * bin with the SAME arithmetic the state used (Column expressions
    * over the literal, constant-folded — bit-identical by
    * construction, mirrored by the oracle), so the answer is exact at
    * the state's 2^-subBits resolution: rows in bins bounded ≤ the
    * probe's bin count as ≤.
    *
    * Scale shape: one conditional partial agg over the BIN TABLE per
    * probe (state-sized, never rows).
    * Output: (keys…, probe, n_le, n, cdf).
    */
  /** The dyadic-bin map as a pure Column expression — the one bin
    * formula, used by [[quantileState]] and anywhere a plain column
    * works (probe literals in [[cdfOf]]): quantize to `unitScale`
    * units, truncate |q| to its top `subBits+1` significant bits via
    * the HLL `length(bin(abs(q)))` trick, keep the sign.
    */
  private[graft] def dyadicBin(v: Column, unitScale: Long, subBits: Int): Column = {
    val q = floor(v.cast("double") * unitScale + lit(0.5)).cast("long")
    val a = abs(q)
    // shift = max(0, bitLength - 1 - subBits); bin() of 0 is "0"
    // (length 1) so zero needs no special case
    val s = greatest(lit(0), length(bin(a)) - lit(1 + subBits))
    val p2 = pow(lit(2.0), s).cast("long") // 2^s exact in double
    // (a div p2) * p2 in long arithmetic: no `/` (long / long is a
    // double division in Spark)
    (when(q < 0, -1L).otherwise(1L)) * (a - pmod(a, p2))
  }

  def cdfOf(state: DataFrame, keys: Seq[String], probes: Seq[Double],
            unitScale: Long = 1000000L, subBits: Int = 5): DataFrame = {
    require(probes.nonEmpty, "cdfOf: need at least one probe")
    probes.map { p =>
      val pbin = dyadicBin(lit(p), unitScale, subBits)
      state.groupBy(keys.map(col): _*)
        .agg(sum(when(col("bin") <= pbin, col("cnt")).otherwise(lit(0L))).as("n_le"),
             sum(col("cnt")).as("n"))
        .select(keys.map(col) ++ Seq(lit(p).as("probe"), col("n_le"), col("n"),
          round(col("n_le").cast("double") / col("n").cast("double"), 9).as("cdf")): _*)
    }.reduce(_.unionByName(_))
  }

  /** Set-operation estimates from two KMV states (Beyer et al.
    * SIGMOD'07 §4): the k-min set of A∪B is itself the union's KMV
    * (bottom-k of a union = bottom-k of the two bottom-k's — the
    * closure property), AND a uniform hash-sample of the union — so
    * Jaccard is read DIRECTLY as ĵ = |U ∩ A ∩ B|/|U| (the minhash
    * estimator) and intersection = ĵ·est(U). This is the estimator
    * HLL cannot give: HLL intersections go through inclusion–
    * exclusion, whose error scales with the UNION (catastrophic for
    * small overlaps); the KMV ratio estimator scales with the overlap
    * itself. All arithmetic over exact 60-bit hash longs; estimates
    * mirrored doubles rounded 1e-6 (jaccard 1e-9).
    *
    * Scale shape: one state-keyed hash join + per-row array ops over
    * ≤2k-element arrays. States, never corpora.
    * Output: (keys…, n_a, n_b, est_a, est_b, est_union, jaccard,
    * est_intersection). Keys present in only one state get the
    * empty-array treatment (jaccard 0, intersection 0).
    */
  def kmvSetEstimates(sa: DataFrame, sb: DataFrame, keys: Seq[String],
                      k: Int = 64): DataFrame = {
    val empty = array().cast("array<long>")
    val a = sa.select(keys.map(col) :+ col("kmv").as("_ka"): _*)
    val b = sb.select(keys.map(col) :+ col("kmv").as("_kb"): _*)
    val j = a.join(b, keys, "full_outer")
      .withColumn("_ka", coalesce(col("_ka"), empty))
      .withColumn("_kb", coalesce(col("_kb"), empty))
      .withColumn("_u", slice(array_sort(array_union(col("_ka"), col("_kb"))), 1, k))
    def est(arr: Column): Column = {
      val nS = size(arr)
      when(nS < k, nS.cast("double"))
        .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
          / element_at(arr, k).cast("double"))
    }
    val kU = size(col("_u"))
    val kappa = size(array_intersect(array_intersect(col("_u"), col("_ka")), col("_kb")))
    val jac = when(kU > 0, kappa.cast("double") / kU.cast("double")).otherwise(lit(0.0))
    j.select(keys.map(col) ++ Seq(
      size(col("_ka")).as("n_a"), size(col("_kb")).as("n_b"),
      round(est(col("_ka")), 6).as("est_a"), round(est(col("_kb")), 6).as("est_b"),
      round(est(col("_u")), 6).as("est_union"),
      round(jac, 9).as("jaccard"),
      round(jac * est(col("_u")), 6).as("est_intersection")): _*)
  }

  /** Distinct-count estimate from a KMV state: exact |state| while the
    * sketch is unsaturated (< k hashes seen = ALL distinct hashes are
    * in the state), else the unbiased (k−1)·2^60/h_(k) — doubles from
    * exact integers, mirrored op order, rounded 1e-6.
    * Output: (keys…, n_state, est_distinct).
    */
  def kmvEstimate(state: DataFrame, keys: Seq[String], k: Int = 64): DataFrame = {
    val nS = size(col("kmv"))
    val hk = element_at(col("kmv"), k)
    state.select(keys.map(col) :+ nS.as("n_state") :+
      when(nS < k, nS.cast("double"))
        .otherwise(round(lit((k - 1).toDouble) * pow(lit(2.0), lit(60)) / hk.cast("double"), 6))
        .as("est_distinct"): _*)
  }

  /** AMS second-moment (F₂) sketch (Alon–Matias–Szegedy '96): `reps`
    * signed counters z_r = Σ_rows s_r(key) with s_r ∈ {−1,+1} from the
    * md5 family — each z_r² is an unbiased F₂ = Σ_k f_k² estimate, the
    * sketch answering "how skewed is this key column?" and sizing
    * SELF-join output (|A ⋈ A| on a key = F₂ of the key) the way
    * [[cmsJoinSize]] sizes A ⋈ B, in `reps` longs instead of
    * depth×width cells. Like every sketch in this family it is
    * MERGEABLE by construction — shard counters ADD (signs are
    * content-addressed, not positional) — so 100 TB sketches build
    * shard-local and fold anywhere, auditable from ANSI SQL.
    *
    * One partial agg builds all `reps` counters (map-side combine
    * collapses rows; the shuffle carries ≤ reps rows per map task).
    * Output: (r, z) — reps rows.
    */
  def amsF2Sketch(df: DataFrame, keyCol: String, reps: Int = 9): DataFrame = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val k = col(keyCol).cast("string")
    df.select(posexplode(array((0 until reps).map(r =>
        lit(1L) - lit(2L) * pmod(Hashing.md5Long32(
          concat(lit("ams"), lit(r), lit("|"), k)), lit(2L))): _*)).as(Seq("r", "s")))
      .groupBy("r").agg(sum("s").as("z"))
  }

  /** Median-of-estimates F₂ read-out of an AMS sketch: the median
    * over the reps of z_r² (odd reps → the exact order statistic —
    * no averaging, no float fold), which concentrates the single-z²
    * estimator's variance away (the AMS median-of-means argument).
    * All arithmetic exact integers until the final cast; the window
    * runs over `reps` rows (a fixed model artifact, never data).
    * Output: one row (reps, f2_est).
    */
  def amsF2Estimate(sketch: DataFrame): DataFrame = {
    val sq = sketch.select((col("z").cast("decimal(38,0)") * col("z")).as("_z2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_z2"))
    sq.withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter(col("_rk") === floor((col("_n") + 1L) / 2L).cast("long"))
      .select(col("_n").cast("int").as("reps"),
        col("_z2").cast("double").as("f2_est"))
  }
}
