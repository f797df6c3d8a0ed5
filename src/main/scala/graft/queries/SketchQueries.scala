package graft
package queries

import org.apache.spark.sql.functions._

import Helpers._

/** Mergeable sketches: `functions.Sketches`. */
object SketchQueries {

  val all: Seq[Query] = Seq(

    // §2#60 count-min heavy hitters: 4×1024 md5-cell sketch over the
    // event user stream, point estimates (min over rows — upper bound)
    // for every distinct key joined with exact counts, top 20. The
    // sketch is the fixed-size mergeable artifact; estimate joins
    // BROADCAST it.
    Query("q109_cms_topk", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id").cast("string").as("user_id"))
      val sketch = functions.Sketches.cmsBuild(ev, "user_id")
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      functions.Sketches.cmsEstimate(sketch, exact.select("user_id"), "user_id")
        .join(exact, Seq("user_id"))
        .orderBy(col("est").desc, col("user_id")).limit(20)
        .select("user_id", "est", "exact")
    },
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS user_id FROM events),
         cells AS (
           SELECT user_id, j.j,
             ('0x' || substr(md5('cm' || j.j || '|' || user_id), 1, 8))::BIGINT % 1024 AS cell
           FROM k CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j),
         sketch AS (SELECT j, cell, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
         exact AS (SELECT user_id, COUNT(*) AS exact FROM k GROUP BY 1),
         est AS (
           SELECT e.user_id, MIN(COALESCE(s.cnt, 0)) AS est
           FROM exact e
           CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j
           LEFT JOIN sketch s ON s.j = j.j
             AND s.cell = ('0x' || substr(md5('cm' || j.j || '|' || e.user_id), 1, 8))::BIGINT % 1024
           GROUP BY 1)
         SELECT est.user_id, est.est, exact.exact
         FROM est JOIN exact USING (user_id)
         ORDER BY est DESC, user_id LIMIT 20"""),

    // §2#61 HyperLogLog distinct (p=10, md5 registers): integer-exact
    // register sum (Z scaled by 2^33 — every term a BIGINT), one
    // double division at the end in an oracle-mirrored expression
    // shape; exact distinct alongside for the error audit.
    Query("q110_hll_distinct", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val regs = functions.Sketches.hllRegisters(ev, "user_id", 10)
      functions.Sketches.hllEstimate(regs, 10)
        .crossJoin(ev.agg(countDistinct("user_id").as("exact_distinct")))
    },
      """WITH k AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
         h AS (SELECT ('0x' || substr(md5(key), 1, 8))::BIGINT AS h1,
                      ('0x' || substr(md5(key), 9, 8))::BIGINT AS w FROM k),
         regs AS (
           SELECT h1 >> 22 AS bucket,
                  MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
           FROM h GROUP BY 1),
         s AS (SELECT COUNT(*) AS nonzero,
                      CAST(SUM(1::BIGINT << (33 - r)) AS BIGINT) AS zsum FROM regs)
         SELECT 1024::BIGINT AS m, nonzero,
           zsum + (1024 - nonzero) * (1::BIGINT << 33) AS zs,
           0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
             * 1048576.0::DOUBLE * 8589934592.0::DOUBLE
             / CAST(zsum + (1024 - nonzero) * (1::BIGINT << 33) AS DOUBLE) AS est,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
         FROM s"""),

    // §2#61b per-group HLL: distinct users per event type from one
    // grouped register table (|groups|·2^p rows max) — the segment-
    // cardinality report without shuffling every (group, key) pair;
    // exact countDistinct alongside for the error audit.
    Query("q116_hll_by_group", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val regs = functions.Sketches.hllRegistersBy(ev, Seq("event_type"), "user_id", 10)
      functions.Sketches.hllEstimateBy(regs, Seq("event_type"), 10)
        .join(ev.groupBy("event_type")
          .agg(countDistinct("user_id").as("exact_distinct")), Seq("event_type"))
    },
      """WITH k AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS key FROM events),
         h AS (SELECT event_type, ('0x' || substr(md5(key), 1, 8))::BIGINT AS h1,
                      ('0x' || substr(md5(key), 9, 8))::BIGINT AS w FROM k),
         regs AS (
           SELECT event_type, h1 >> 22 AS bucket,
                  MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
           FROM h GROUP BY 1, 2),
         s AS (SELECT event_type, COUNT(*) AS nonzero,
                      CAST(SUM(1::BIGINT << (33 - r)) AS BIGINT) AS zsum
               FROM regs GROUP BY 1),
         ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
                FROM events GROUP BY 1)
         SELECT s.event_type, s.nonzero,
           zsum + (1024 - nonzero) * (1::BIGINT << 33) AS zs,
           0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
             * 1048576.0::DOUBLE * 8589934592.0::DOUBLE
             / CAST(zsum + (1024 - nonzero) * (1::BIGINT << 33) AS DOUBLE) AS est,
           ex.exact_distinct
         FROM s JOIN ex USING (event_type)"""),

    // §2#61f KMV bottom-k distinct sketch: two shard states (split by
    // event parity) merged, then estimated — the mergeable-state
    // merge≡direct contract (the oracle computes directly over the
    // union; equality IS the split-invariance proof, the q227 rule).
    Query("q238_kmv_distinct", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val sA = functions.Sketches.kmvState(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "user_id")
      val sB = functions.Sketches.kmvState(
        ev.filter(col("event_id") % 2 === 1), Seq("event_type"), "user_id")
      val m = functions.Sketches.mergeKmvStates(Seq(sA, sB), Seq("event_type"))
      functions.Sketches.kmvEstimate(m, Seq("event_type"))
    },
      """WITH h AS (
           SELECT DISTINCT event_type,
             ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events),
         r AS (
           SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM h),
         k AS (
           SELECT event_type, CAST(COUNT(*) AS INT) AS n_state,
             MAX(CASE WHEN rn = 64 THEN h END) AS hk
           FROM r WHERE rn <= 64 GROUP BY 1)
         SELECT event_type, n_state,
           CASE WHEN n_state < 64 THEN CAST(n_state AS DOUBLE)
                ELSE round(63.0 * pow(2.0, 60) / CAST(hk AS DOUBLE), 6) END AS est_distinct
         FROM k"""),

    // §2#61g KMV set operations: per-day click vs purchase user sets —
    // Jaccard read directly off the k-min union sample (the estimator
    // HLL inclusion–exclusion can't give); states, never corpora.
    Query("q244_kmv_setops", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
      val sa = functions.Sketches.kmvState(
        ev.filter(col("event_type") === "click"), Seq("day"), "user_id")
      val sb = functions.Sketches.kmvState(
        ev.filter(col("event_type") === "purchase"), Seq("day"), "user_id")
      functions.Sketches.kmvSetEstimates(sa, sb, Seq("day"))
    },
      """WITH e AS (
           SELECT CAST(ts AS DATE) AS day, event_type,
             ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events WHERE event_type IN ('click', 'purchase')),
         hd AS (SELECT DISTINCT day, event_type, h FROM e),
         r AS (
           SELECT day, event_type, h,
             ROW_NUMBER() OVER (PARTITION BY day, event_type ORDER BY h) AS rn
           FROM hd),
         ka AS (SELECT day, h FROM r WHERE event_type = 'click' AND rn <= 64),
         kb AS (SELECT day, h FROM r WHERE event_type = 'purchase' AND rn <= 64),
         u0 AS (SELECT day, h FROM ka UNION SELECT day, h FROM kb),
         ur AS (SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn FROM u0),
         uk AS (SELECT day, h FROM ur WHERE rn <= 64),
         asq AS (SELECT day, CAST(COUNT(*) AS INT) AS n_a,
                   MAX(CASE WHEN rn = 64 THEN h END) AS hk FROM r
                 WHERE event_type = 'click' AND rn <= 64 GROUP BY 1),
         bsq AS (SELECT day, CAST(COUNT(*) AS INT) AS n_b,
                   MAX(CASE WHEN rn = 64 THEN h END) AS hk FROM r
                 WHERE event_type = 'purchase' AND rn <= 64 GROUP BY 1),
         usq AS (SELECT day, CAST(COUNT(*) AS INT) AS n_u,
                   MAX(CASE WHEN rn = 64 THEN h END) AS hk FROM ur
                 WHERE rn <= 64 GROUP BY 1),
         kap AS (
           SELECT uk.day, COUNT(*) AS kappa
           FROM uk
           JOIN ka ON uk.day = ka.day AND uk.h = ka.h
           JOIN kb ON uk.day = kb.day AND uk.h = kb.h
           GROUP BY 1),
         days AS (SELECT DISTINCT day FROM hd)
         SELECT d.day,
           COALESCE(asq.n_a, 0) AS n_a, COALESCE(bsq.n_b, 0) AS n_b,
           CASE WHEN COALESCE(asq.n_a, 0) < 64 THEN CAST(COALESCE(asq.n_a, 0) AS DOUBLE)
                ELSE round(63.0 * pow(2.0, 60) / CAST(asq.hk AS DOUBLE), 6) END AS est_a,
           CASE WHEN COALESCE(bsq.n_b, 0) < 64 THEN CAST(COALESCE(bsq.n_b, 0) AS DOUBLE)
                ELSE round(63.0 * pow(2.0, 60) / CAST(bsq.hk AS DOUBLE), 6) END AS est_b,
           CASE WHEN COALESCE(usq.n_u, 0) < 64 THEN CAST(COALESCE(usq.n_u, 0) AS DOUBLE)
                ELSE round(63.0 * pow(2.0, 60) / CAST(usq.hk AS DOUBLE), 6) END AS est_union,
           round(CASE WHEN COALESCE(usq.n_u, 0) > 0
             THEN CAST(COALESCE(kap.kappa, 0) AS DOUBLE) / CAST(usq.n_u AS DOUBLE)
             ELSE 0.0 END, 9) AS jaccard,
           round((CASE WHEN COALESCE(usq.n_u, 0) > 0
             THEN CAST(COALESCE(kap.kappa, 0) AS DOUBLE) / CAST(usq.n_u AS DOUBLE)
             ELSE 0.0 END)
             * (CASE WHEN COALESCE(usq.n_u, 0) < 64 THEN CAST(COALESCE(usq.n_u, 0) AS DOUBLE)
                ELSE 63.0 * pow(2.0, 60) / CAST(usq.hk AS DOUBLE) END), 6) AS est_intersection
         FROM days d
         LEFT JOIN asq ON d.day = asq.day
         LEFT JOIN bsq ON d.day = bsq.day
         LEFT JOIN usq ON d.day = usq.day
         LEFT JOIN kap ON d.day = kap.day"""),

    // §2#60f CDF probes on the quantile state: "what share of values
    // sit at or below x" read off the standing dyadic bins — the
    // inverse of q227's quantileOf; probe bins computed with the
    // state's own arithmetic, constant-folded.
    Query("q255_quantile_cdf", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("value"))
      val st = functions.Sketches.quantileState(ev, Seq("event_type"), "value")
      functions.Sketches.cdfOf(st, Seq("event_type"), Seq(25.0, 50.0, 100.0))
    },
      """WITH e AS (
           SELECT event_type, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS q
           FROM events),
         bnn AS (
           SELECT event_type,
             (CASE WHEN q < 0 THEN -1 ELSE 1 END)
               * ((abs(q) // CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT))
                  * CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT)) AS bin
           FROM e),
         st AS (SELECT event_type, bin, COUNT(*) AS cnt FROM bnn GROUP BY 1, 2),
         pb AS (
           SELECT CAST(probe AS DOUBLE) AS probe,
             (CASE WHEN q < 0 THEN -1 ELSE 1 END)
               * ((abs(q) // CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT))
                  * CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT)) AS pbin
           FROM (SELECT probe, CAST(floor(CAST(probe AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
                 FROM (SELECT unnest([25.0, 50.0, 100.0]) AS probe)))
         SELECT s.event_type, pb.probe,
           CAST(SUM(CASE WHEN s.bin <= pb.pbin THEN s.cnt ELSE 0 END) AS BIGINT) AS n_le,
           CAST(SUM(s.cnt) AS BIGINT) AS n,
           round(CAST(SUM(CASE WHEN s.bin <= pb.pbin THEN s.cnt ELSE 0 END) AS DOUBLE)
             / CAST(SUM(s.cnt) AS DOUBLE), 9) AS cdf
         FROM st s CROSS JOIN pb
         GROUP BY 1, 2"""),

    // §2#60i (r7) AMS F₂ sketch: 9 signed md5-family counters whose
    // squared median estimates Σf_k² (self-join size / skew) — built
    // in one partial agg, merged by addition, verified against the
    // exact F₂ in the same result row.
    Query("q285_ams_f2", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val est = functions.Sketches.amsF2Estimate(
        functions.Sketches.amsF2Sketch(ev, "user_id", reps = 9))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("_c"))
        .agg(sum((col("_c").cast("decimal(19,0)") * col("_c")).cast("decimal(38,0)"))
          .as("_f2"))
      est.crossJoin(exact)
        .select(col("reps"), col("f2_est"),
          col("_f2").cast("double").as("f2_exact"),
          round(abs(col("f2_est") / col("_f2").cast("double") - lit(1.0)), 9)
            .as("rel_err"))
    },
      // signed md5-family counters exact; median-of-z² the exact order
      // statistic; exact F2 from per-key HUGEINT squares
      """WITH signs AS (
           SELECT r, SUM(1 - 2 * (('0x' || substr(md5('ams' || r || '|'
             || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2)) AS z
           FROM events, (SELECT UNNEST(range(9)) AS r) reps GROUP BY r),
         med AS (
           SELECT CAST(z AS HUGEINT) * z AS z2,
             ROW_NUMBER() OVER (ORDER BY CAST(z AS HUGEINT) * z) AS rk,
             COUNT(*) OVER () AS n
           FROM signs),
         est AS (
           SELECT CAST(n AS INT) AS reps, CAST(z2 AS DOUBLE) AS f2_est
           FROM med WHERE rk = (n + 1) // 2),
         exact AS (
           SELECT SUM(CAST(c AS HUGEINT) * c) AS f2
           FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id))
         SELECT reps, f2_est, CAST(f2 AS DOUBLE) AS f2_exact,
           round(abs(f2_est / CAST(f2 AS DOUBLE) - 1.0), 9) AS rel_err
         FROM est, exact"""),

    // §2#61d HLL set operations: click-users vs purchase-users from two
    // register tables — |A|, |B|, |A∪B| (cellwise-max merge), |A∩B| by
    // inclusion–exclusion; the sketch-artifact audit question answered
    // without rescanning either side.
    Query("q138_hll_setops", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val a = functions.Sketches.hllRegisters(
        ev.filter(col("event_type") === "click"), "user_id")
      val b = functions.Sketches.hllRegisters(
        ev.filter(col("event_type") === "purchase"), "user_id")
      functions.Sketches.hllSetEstimates(a, b)
    },
      // q110's exact-BIGINT Z-sum shape three times (A, B, cellwise-max
      // union), intersection by inclusion–exclusion in the same token
      // order as Sketches.hllSetEstimates
      """WITH ka AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events WHERE event_type = 'click'),
         kb AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events WHERE event_type = 'purchase'),
         ra AS (
           SELECT ('0x' || substr(md5(key), 1, 8))::BIGINT >> 22 AS bucket,
             MAX(CASE WHEN ('0x' || substr(md5(key), 9, 8))::BIGINT = 0 THEN 33
                      ELSE 33 - length(bin(('0x' || substr(md5(key), 9, 8))::BIGINT)) END) AS r
           FROM ka GROUP BY 1),
         rb AS (
           SELECT ('0x' || substr(md5(key), 1, 8))::BIGINT >> 22 AS bucket,
             MAX(CASE WHEN ('0x' || substr(md5(key), 9, 8))::BIGINT = 0 THEN 33
                      ELSE 33 - length(bin(('0x' || substr(md5(key), 9, 8))::BIGINT)) END) AS r
           FROM kb GROUP BY 1),
         ru AS (
           SELECT bucket, MAX(r) AS r
           FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
         za AS (SELECT CAST(SUM(1::BIGINT << (33 - r)) AS BIGINT)
                  + (1024 - COUNT(*)) * (1::BIGINT << 33) AS zs FROM ra),
         zb AS (SELECT CAST(SUM(1::BIGINT << (33 - r)) AS BIGINT)
                  + (1024 - COUNT(*)) * (1::BIGINT << 33) AS zs FROM rb),
         zu AS (SELECT CAST(SUM(1::BIGINT << (33 - r)) AS BIGINT)
                  + (1024 - COUNT(*)) * (1::BIGINT << 33) AS zs FROM ru)
         SELECT
           0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
             * 1048576.0::DOUBLE * 8589934592.0::DOUBLE / CAST(za.zs AS DOUBLE) AS est_a,
           0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
             * 1048576.0::DOUBLE * 8589934592.0::DOUBLE / CAST(zb.zs AS DOUBLE) AS est_b,
           0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
             * 1048576.0::DOUBLE * 8589934592.0::DOUBLE / CAST(zu.zs AS DOUBLE) AS est_union,
           ROUND(
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
               * 1048576.0::DOUBLE * 8589934592.0::DOUBLE / CAST(za.zs AS DOUBLE)
             + 0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
               * 1048576.0::DOUBLE * 8589934592.0::DOUBLE / CAST(zb.zs AS DOUBLE)
             - 0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 1024.0::DOUBLE)
               * 1048576.0::DOUBLE * 8589934592.0::DOUBLE / CAST(zu.zs AS DOUBLE), 6) AS est_intersect
         FROM za, zb, zu"""),

    // §2#60c shuffle-free join-size probe: the AMS inner product of
    // the orders and customer custkey sketches — min over hash rows is
    // the tightest upper bound two CMS artifacts support, computed
    // without touching either table.
    Query("q154_join_size", (s, dir) => {
      val a = functions.Sketches.cmsBuild(
        t(s, dir, "orders").df.select(col("o_custkey").as("k")), "k")
      val b = functions.Sketches.cmsBuild(
        t(s, dir, "customer").df.select(col("c_custkey").as("k")), "k")
      functions.Sketches.cmsJoinSizeEstimate(a, b)
        .select(col("j"), col("row_estimate").cast("long").as("row_estimate"),
          col("est").cast("long").as("est"))
    },
      """WITH ka AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
         kb AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
         ca AS (
           SELECT j.j, ('0x' || substr(md5('cm' || j.j || '|' || k), 1, 8))::BIGINT % 1024 AS cell,
             COUNT(*) AS cnt
           FROM ka CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j GROUP BY 1, 2),
         cb AS (
           SELECT j.j, ('0x' || substr(md5('cm' || j.j || '|' || k), 1, 8))::BIGINT % 1024 AS cell,
             COUNT(*) AS cnt
           FROM kb CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j GROUP BY 1, 2),
         pr AS (
           SELECT ca.j, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS row_estimate
           FROM ca JOIN cb ON ca.j = cb.j AND ca.cell = cb.cell GROUP BY 1)
         SELECT j, row_estimate,
           (SELECT MIN(row_estimate) FROM pr) AS est
         FROM pr"""),

    // §2#61c exact bitmap distinct: bucket-bitmap bit_or fold — the
    // roaring-index trick; exact cardinality with a |ids|/64-word
    // shuffle instead of count(distinct)'s Expand, zero error.
    Query("q213_bitmap_distinct", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_type", "user_id")
      functions.Sketches.bitmapDistinct(ev, "event_type", "user_id")
    },
      """SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct,
           COUNT(DISTINCT user_id // 64) AS n_buckets
         FROM events GROUP BY 1"""),

    // §2#60d deterministic mergeable quantile state: two disjoint
    // batch states merged, then p50/p90 rank-selected from the bin
    // histogram — the "p99 across shards without rescanning" member
    // of the mergeable-state family; the oracle computes the same
    // dyadic bins directly over the full table (merge ≡ direct is the
    // state contract, spec-asserted).
    Query("q227_quantile_state", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      val sA = functions.Sketches.quantileState(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "value")
      val sB = functions.Sketches.quantileState(
        ev.filter(col("event_id") % 2 === 1), Seq("event_type"), "value")
      val m = functions.Sketches.mergeQuantileStates(Seq(sA, sB), Seq("event_type"))
      val p50 = functions.Sketches.quantileOf(m, Seq("event_type"), 1, 2)
        .select(col("event_type"), col("n"), col("q_est").as("p50"))
      val p90 = functions.Sketches.quantileOf(m, Seq("event_type"), 9, 10)
        .select(col("event_type"), col("q_est").as("p90"))
      p50.join(p90, Seq("event_type"))
    },
      // dyadic quantile bins: value truncated to its top 6 significant
      // bits via the HLL oracle's length(bin(abs(q))) trick + one exact
      // power-of-two division; type-1 rank by integer cross-multiply
      """WITH e AS (
           SELECT event_type, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS q
           FROM events),
         bnn AS (
           SELECT event_type,
             (CASE WHEN q < 0 THEN -1 ELSE 1 END)
               * ((abs(q) // CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT))
                  * CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT)) AS bin
           FROM e),
         st AS (SELECT event_type, bin, COUNT(*) AS cnt FROM bnn GROUP BY 1, 2),
         c AS (
           SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
           FROM st),
         p50 AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MIN(bin) AS DOUBLE) / 1000000 AS p50
                 FROM c WHERE cum * 2 >= n * 1 GROUP BY 1),
         p90 AS (SELECT event_type, CAST(MIN(bin) AS DOUBLE) / 1000000 AS p90
                 FROM c WHERE cum * 10 >= n * 9 GROUP BY 1)
         SELECT p50.event_type, n, p50.p50, p90.p90
         FROM p50 JOIN p90 ON p50.event_type = p90.event_type""")
  )
}
