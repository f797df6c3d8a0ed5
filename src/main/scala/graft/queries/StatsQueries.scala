package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Tafra
import Helpers._

/** Profiling and statistical tests: `functions.Profile`. */
object StatsQueries {

  val all: Seq[Query] = Seq(

    // §2#52 corpus stats report: per-source + grand-total doc counts,
    // char totals, and EXACT length percentiles in ONE rollup pass
    // (partial-agg; percentile state = distinct-value map, not rows).
    Query("q71_corpus_stats", (s, dir) =>
      functions.Profile.stats(t(s, dir, "documents").df, "source", "n_chars"),
      // quantile_cont shares percentile's p·(n−1) interpolation; both
      // engines quantize the double through DECIMAL(18,4) (see Profile).
      // SUM(bigint) is HUGEINT in DuckDB → cast back to BIGINT.
      """SELECT source, CAST(GROUPING(source) AS INT) AS is_total,
         COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total,
         CAST(CAST(quantile_cont(n_chars, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS p50,
         CAST(CAST(quantile_cont(n_chars, 0.9) AS DECIMAL(18,4)) AS DOUBLE) AS p90,
         CAST(CAST(quantile_cont(n_chars, 0.99) AS DECIMAL(18,4)) AS DOUBLE) AS p99
         FROM documents GROUP BY ROLLUP(source)"""),

    // §2#56 adaptive per-source quality gate: each source thresholds
    // against its own p25 stopword ratio — per-domain cutoffs instead
    // of one global gate; threshold table broadcast under a size gate.
    Query("q75_adaptive_filter", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      val scored = t(s, dir, "documents").df
        .select(col("doc_id"), col("source"), T.tokens(col("text")).as("w"))
        .withColumn("stop_ratio",
          T.markerCount(col("w"), Seq("the", "a")).cast("double") / size(col("w")))
        .drop("w")
      functions.Profile.adaptiveFilter(scored, "source", "stop_ratio", 0.25)
        .select(col("doc_id"), col("source"), col("stop_ratio"),
          col("thr").cast("double").as("thr"))
    },
      """WITH t AS (
           SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sc AS (
           SELECT doc_id, source,
             CAST(len(list_filter(w, x -> list_contains(['the','a'], x))) AS DOUBLE)
               / len(w) AS stop_ratio
           FROM t),
         thr AS (
           SELECT source, CAST(quantile_cont(stop_ratio, 0.25) AS DECIMAL(18,6)) AS thr_d
           FROM sc GROUP BY source)
         SELECT doc_id, sc.source, stop_ratio, CAST(thr_d AS DOUBLE) AS thr
         FROM sc JOIN thr ON sc.source = thr.source
         WHERE CAST(stop_ratio AS DECIMAL(18,6)) >= thr_d"""),

    // §2#56b per-domain percentile-rank (cume_dist) normalization via
    // the value-histogram window — never a per-row group window.
    Query("q91_percentile_rank", (s, dir) =>
      functions.Profile.percentileRank(
        t(s, dir, "documents").select(Seq("doc_id", "source", "n_chars")).df,
        "source", "n_chars"),
      """WITH counts AS (
           SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2),
         cum AS (
           SELECT source, n_chars,
             CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / SUM(c) OVER (PARTITION BY source) AS pct
           FROM counts)
         SELECT d.doc_id, d.source, d.n_chars, cum.pct
         FROM documents d JOIN cum USING (source, n_chars)"""),

    // §2#52b one-pass Pearson correlation matrix (decimal-exact sums,
    // engine-identical double formula) over lineitem numerics.
    Query("q96_corr_matrix", (s, dir) =>
      functions.Profile.corrMatrix(t(s, dir, "lineitem").df,
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      """WITH q AS (
           SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qq,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS qp,
                  CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS qd
           FROM lineitem),
         s AS (
           SELECT COUNT(*) AS n,
             SUM(CAST(qq AS DECIMAL(38,0))) AS sq,
             SUM(CAST(qp AS DECIMAL(38,0))) AS sp,
             SUM(CAST(qd AS DECIMAL(38,0))) AS sd,
             SUM(CAST(qq*qq AS DECIMAL(38,0))) AS sqq,
             SUM(CAST(qp*qp AS DECIMAL(38,0))) AS spp,
             SUM(CAST(qd*qd AS DECIMAL(38,0))) AS sdd,
             SUM(CAST(qq*qp AS DECIMAL(38,0))) AS s_qp,
             SUM(CAST(qq*qd AS DECIMAL(38,0))) AS s_qd,
             SUM(CAST(qp*qd AS DECIMAL(38,0))) AS s_pd
           FROM q)
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           (CAST(n AS DOUBLE) * CAST(s_qp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) AS r
         FROM s
         UNION ALL
         SELECT 'l_quantity', 'l_discount',
           (CAST(n AS DOUBLE) * CAST(s_qd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
         FROM s
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount',
           (CAST(n AS DOUBLE) * CAST(s_pd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
         FROM s"""),

    // §2#52d robust outliers: |v − group median| > 3·MAD, all-decimal
    // deviation arithmetic — no float boundary anywhere.
    Query("q105_mad_outliers", (s, dir) =>
      functions.Profile.madOutliers(
        t(s, dir, "documents").select(Seq("doc_id", "source", "n_chars")).df,
        "source", "n_chars"),
      """WITH med AS (
           SELECT source, CAST(quantile_cont(n_chars, 0.5) AS DECIMAL(18,6)) AS med
           FROM documents GROUP BY 1),
         dev AS (
           SELECT doc_id, source, n_chars,
             abs(CAST(n_chars AS DECIMAL(18,6)) - med) AS dev
           FROM documents JOIN med USING (source)),
         mad AS (
           SELECT source, CAST(quantile_cont(CAST(dev AS DOUBLE), 0.5) AS DECIMAL(18,6)) AS mad
           FROM dev GROUP BY 1)
         SELECT doc_id, source, n_chars, (dev > 3 * mad) AS is_outlier,
           CAST(dev AS DOUBLE) AS dev
         FROM dev JOIN mad USING (source)"""),

    // §2#52e behavioral diversity: Shannon entropy of each user's
    // event-type distribution (decimal-quantized p·ln p terms).
    Query("q107_label_entropy", (s, dir) =>
      functions.Profile.labelEntropy(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select("user_id", "event_type"),
        "user_id", "event_type"),
      """WITH c AS (
           SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
         t AS (SELECT user_id, COUNT(*) AS tot FROM events GROUP BY 1),
         s AS (
           SELECT c.user_id, MAX(tot) AS n_events,
             SUM(CAST((c / CAST(tot AS DOUBLE)) * ln(c / CAST(tot AS DOUBLE))
                      AS DECIMAL(20,9))) AS s
           FROM c JOIN t USING (user_id)
           GROUP BY 1)
         SELECT user_id, n_events, ROUND(-CAST(s AS DOUBLE), 6) AS entropy
         FROM s"""),

    // §2#52ah (r7) one-way ANOVA F across event types — the k-group
    // mean screen (one F replaces k(k−1)/2 pairwise Welch tests);
    // decimal moment sums, mirrored double F.
    Query("q264_anova", (s, dir) =>
      functions.Profile.anovaF(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "event_type", "value"),
      // decimal moment sums per group; each S_g^2/n_g quantized
      // DECIMAL(38,6) pre-sum; F in one mirrored double op order
      """WITH q AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
           FROM events),
         cells AS (
           SELECT g, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS ss
           FROM q GROUP BY 1),
         agg AS (
           SELECT COUNT(*) AS k, SUM(n) AS n, SUM(s) AS st, SUM(ss) AS sst,
             SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               AS DECIMAL(38,6))) AS sbt
           FROM cells)
         SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
           round((CAST(sbt AS DOUBLE)
             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             / (1000000.0 * 1000000.0), 6) AS ss_between,
           round((CAST(sst AS DOUBLE) - CAST(sbt AS DOUBLE))
             / (1000000.0 * 1000000.0), 6) AS ss_within,
           CASE WHEN k >= 2 AND n > k
                 AND CAST(sst AS DOUBLE) - CAST(sbt AS DOUBLE) > 0 THEN
             round(((CAST(sbt AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(k AS DOUBLE) - 1.0))
               / ((CAST(sst AS DOUBLE) - CAST(sbt AS DOUBLE))
                 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
           END AS f_stat
         FROM agg"""),

    // §2#52ai (r7) Kruskal–Wallis H across event types — the rank-
    // based k-group screen for heavy-tailed metrics; half-unit integer
    // ranks over the joint value histogram, tie-corrected.
    Query("q265_kruskal", (s, dir) =>
      functions.Profile.kruskalWallis(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "event_type", "value"),
      // half-unit integer ranks over the joint value histogram (the
      // mannWhitneyU rule); (2R_g)^2/(4n_g) quantized DECIMAL(38,6)
      // pre-sum; H and the tie correction in mirrored double order
      """WITH q AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
           FROM events),
         cells AS (SELECT g, v, COUNT(*) AS c FROM q GROUP BY 1, 2),
         vh AS (SELECT v, SUM(c) AS t FROM cells GROUP BY 1),
         rk AS (
           SELECT v, t,
             2 * COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2,
             CAST(t AS HUGEINT) * t * t - t AS tie
           FROM vh),
         bg AS (
           SELECT g, SUM(c) AS n, SUM(CAST(c AS HUGEINT) * r2) AS r2g
           FROM cells JOIN rk USING (v) GROUP BY 1),
         gs AS (
           SELECT COUNT(*) AS k, SUM(n) AS n,
             SUM(CAST(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
               / (4.0 * CAST(n AS DOUBLE)) AS DECIMAL(38,6))) AS rrt
           FROM bg),
         tt AS (SELECT SUM(tie) AS ties FROM rk)
         SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
           round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
             * CAST(rrt AS DOUBLE) - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat,
           CASE WHEN k >= 2 AND n >= 2
                 AND 1.0 - CAST(ties AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(n AS DOUBLE)) > 0 THEN
             round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                 * CAST(rrt AS DOUBLE) - 3.0 * (CAST(n AS DOUBLE) + 1.0))
               / (1.0 - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(n AS DOUBLE))), 6)
           END AS h_corrected
         FROM gs, tt"""),

    // §2#52aj (r7) Brown–Forsythe Levene: variance-equality across
    // event types (the ANOVA assumption check and a spread-drift
    // signal) — ANOVA on |v − group median|, medians by exact
    // inverse-ECDF rank selection.
    Query("q266_levene", (s, dir) =>
      functions.Profile.levene(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "event_type", "value"),
      // group medians by exact inverse-ECDF rank selection, then the
      // q264 ANOVA arithmetic over |v - med|
      """WITH q AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v0
           FROM events),
         h AS (SELECT g, v0, COUNT(*) AS c FROM q GROUP BY 1, 2),
         cum AS (
           SELECT g, v0,
             SUM(c) OVER (PARTITION BY g ORDER BY v0
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
             SUM(c) OVER (PARTITION BY g) AS n
           FROM h),
         med AS (SELECT g, MIN(CASE WHEN cumc * 2 >= n THEN v0 END) AS med
                 FROM cum GROUP BY 1),
         dv AS (SELECT q.g, ABS(v0 - med) AS v FROM q JOIN med ON q.g = med.g),
         cells AS (
           SELECT g, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS ss
           FROM dv GROUP BY 1),
         agg AS (
           SELECT COUNT(*) AS k, SUM(n) AS n, SUM(st2) AS st, SUM(ss) AS sst,
             SUM(CAST(CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE) / CAST(n AS DOUBLE)
               AS DECIMAL(38,6))) AS sbt
           FROM (SELECT g, n, s AS st2, ss FROM cells))
         SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
           CASE WHEN k >= 2 AND n > k
                 AND CAST(sst AS DOUBLE) - CAST(sbt AS DOUBLE) > 0 THEN
             round(((CAST(sbt AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(k AS DOUBLE) - 1.0))
               / ((CAST(sst AS DOUBLE) - CAST(sbt AS DOUBLE))
                 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
           END AS f_stat
         FROM agg"""),

    // §2#53ac (r7) Pettitt change-point over the daily mean-value
    // series: rank-based single-shift detector — the series is the
    // collapsed per-day table (calendar-scale, §5 exemption), means
    // are exact-integer divisions rounded 1e-6 on both engines.
    Query("q269_pettitt", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("day")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      functions.Profile.pettitt(daily, "day", "day_mean")
    },
      // daily means from exact integer sums (rounded 1e-6 on both
      // engines), half-unit ranks, U_t exact longs, earliest-t argmax
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         daily AS (
           SELECT day, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1),
         b AS (SELECT day AS o,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS v FROM daily),
         vh AS (SELECT v, COUNT(*) AS t FROM b GROUP BY 1),
         rk AS (
           SELECT v, 2 * COALESCE(SUM(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
           FROM vh),
         u AS (
           SELECT o,
             SUM(r2) OVER (ORDER BY o
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2,
             COUNT(*) OVER (ORDER BY o
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ti,
             COUNT(*) OVER () AS n
           FROM b JOIN rk USING (v)),
         uu AS (SELECT o, n, s2 - ti * (n + 1) AS uv FROM u),
         kk AS (SELECT *, MAX(ABS(uv)) OVER () AS k FROM uu)
         SELECT CAST(n AS BIGINT) AS n, MIN(o) AS t_star,
           CAST(k AS BIGINT) AS k_stat,
           round(2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 9) AS p_approx
         FROM kk WHERE ABS(uv) = k GROUP BY n, k"""),

    // §2#52an (r7) Welch's heteroscedastic ANOVA across event types:
    // the k-group mean screen without q264's equal-variance assumption
    // — run it when q266's Levene rejects.
    Query("q275_welch_anova", (s, dir) =>
      functions.Profile.welchAnova(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "event_type", "value"),
      // per-group moments in ORIGINAL units (one mirrored op order);
      // w-weighted terms DECIMAL(38,9), h terms DECIMAL(20,9) pre-sum
      """WITH q AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
           FROM events),
         cells AS (
           SELECT g, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS ss
           FROM q GROUP BY 1),
         c2 AS (
           SELECT *,
             (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS m,
             ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0)) / (1000000.0 * 1000000.0) AS va
           FROM cells),
         c3 AS (
           SELECT *, (n >= 2 AND va > 0) AS usable,
             CASE WHEN n >= 2 AND va > 0 THEN CAST(n AS DOUBLE) / va END AS w
           FROM c2),
         tot AS (
           SELECT COUNT(*) FILTER (WHERE usable) AS k,
             COUNT(*) FILTER (WHERE NOT usable) AS k_excluded,
             SUM(n) FILTER (WHERE usable) AS nt,
             SUM(CAST(w AS DECIMAL(38,9))) FILTER (WHERE usable) AS wt,
             SUM(CAST(w * m AS DECIMAL(38,9))) FILTER (WHERE usable) AS wmt
           FROM c3),
         terms AS (
           SELECT k, k_excluded, nt,
             SUM(CAST(w * (m - CAST(wmt AS DOUBLE) / CAST(wt AS DOUBLE))
               * (m - CAST(wmt AS DOUBLE) / CAST(wt AS DOUBLE)) AS DECIMAL(38,9))) AS at,
             SUM(CAST((1.0 - w / CAST(wt AS DOUBLE)) * (1.0 - w / CAST(wt AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0) AS DECIMAL(20,9))) AS ht
           FROM c3, tot WHERE usable GROUP BY 1, 2, 3)
         SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(k_excluded AS BIGINT) AS k_excluded, CAST(nt AS BIGINT) AS n,
           CASE WHEN k >= 2 AND CAST(ht AS DOUBLE) > 0 THEN
             round((CAST(at AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
               / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                 / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) * CAST(ht AS DOUBLE)), 6)
           END AS w_stat,
           CASE WHEN k >= 2 AND CAST(ht AS DOUBLE) > 0 THEN
             round((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
               / (3.0 * CAST(ht AS DOUBLE)), 6)
           END AS dof
         FROM terms"""),

    // §2#52aq (r7) supplier-concentration profile per nation: HHI /
    // effective supplier count / top share over exact-cent revenue —
    // the dependence audit dual to q155's Gini.
    Query("q284_concentration", (s, dir) => {
      val li = t(s, dir, "lineitem").df
      val sup = t(s, dir, "supplier").df
      val rev = li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      functions.Profile.concentration(rev, "s_nationkey", "l_suppkey", "rev")
    },
      // exact-cent revenue cells; share² terms DECIMAL(25,15) pre-sum
      """WITH cells AS (
           SELECT s_nationkey AS g, l_suppkey AS e,
             SUM(CAST(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
               AS BIGINT) AS DECIMAL(38,0))) AS v
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tot AS (SELECT g, SUM(v) AS vt, COUNT(*) AS ne FROM cells GROUP BY 1),
         terms AS (
           SELECT c.g, ne,
             CAST((CAST(v AS DOUBLE) / CAST(vt AS DOUBLE))
               * (CAST(v AS DOUBLE) / CAST(vt AS DOUBLE)) AS DECIMAL(25,15)) AS t,
             CAST(v AS DOUBLE) / CAST(vt AS DOUBLE) AS sh
           FROM cells c JOIN tot USING (g) WHERE vt > 0)
         SELECT g AS s_nationkey, CAST(MAX(ne) AS BIGINT) AS n_entities,
           round(CAST(SUM(t) AS DOUBLE), 9) AS hhi,
           round(1.0 / CAST(SUM(t) AS DOUBLE), 6) AS effective_n,
           round(MAX(sh), 9) AS top_share
         FROM terms GROUP BY 1"""),

    // §2#53ai (r7) Mann–Kendall monotonic-trend test on the daily mean
    // series — the significance companion to q204's Theil–Sen slope
    // (same collapsed-series contract + in-plan quadratic refusal).
    Query("q301_mann_kendall", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("day")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      functions.Profile.mannKendall(daily, "day", "day_mean")
    },
      // q269's daily means; S and tie sums exact integers; z one
      // mirrored double op order with the continuity correction
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         daily AS (
           SELECT day, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1),
         b AS (SELECT day AS o,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS v FROM daily),
         s AS (
           SELECT SUM(CASE WHEN b2.v > b1.v THEN 1
                           WHEN b2.v < b1.v THEN -1 ELSE 0 END) AS s
           FROM b b1 JOIN b b2 ON b1.o < b2.o),
         t AS (
           SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tsum,
             SUM(t) AS n
           FROM (SELECT v, COUNT(*) AS t FROM b GROUP BY 1)),
         v2 AS (
           SELECT n, s,
             (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
               * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tsum AS DOUBLE)) / 18.0
               AS var_s
           FROM s, t)
         SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s_stat,
           round(var_s, 6) AS var_s,
           CASE WHEN var_s > 0.0 THEN
             round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
                        WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
                        ELSE 0.0 END, 9) END AS z
         FROM v2"""),

    // §2#52at (r7) Durbin–Watson on per-type daily-mean OLS residuals
    // — "is what the q156 trend fit left behind still structured?";
    // the regression post-check beside q132's raw ACF.
    Query("q303_durbin_watson", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"),
          (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("event_type", "day")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      functions.Profile.durbinWatson(daily, "event_type", "day", "day_mean")
    },
      // q156's exact-sum OLS per series; residual DW terms DECIMAL(25,12)
      """WITH e AS (
           SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         daily AS (
           SELECT g, day, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1, 2),
         b AS (SELECT g, day AS x,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS y FROM daily),
         fit AS (
           SELECT g, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
           FROM b GROUP BY 1),
         ab2 AS (
           SELECT g, n, sx, sy,
             CASE WHEN den <> 0.0 THEN
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
             ELSE 0.0 END AS bb
           FROM (SELECT *, CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den FROM fit)),
         ab3 AS (
           SELECT g, n, bb,
             (CAST(sy AS DOUBLE) - bb * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS aa
           FROM ab2),
         r AS (
           SELECT b.g, b.x, ab3.n,
             (CAST(y AS DOUBLE) - (aa + bb * CAST(x AS DOUBLE))) / 1000000.0 AS e2
           FROM b JOIN ab3 ON ab3.g = b.g),
         lg AS (
           SELECT g, n, e2, LAG(e2) OVER (PARTITION BY g ORDER BY x) AS ep
           FROM r),
         agg AS (
           SELECT g, MAX(n) AS n,
             SUM(CASE WHEN ep IS NOT NULL THEN
               CAST((e2 - ep) * (e2 - ep) AS DECIMAL(25,12)) END) AS num,
             SUM(CAST(e2 * e2 AS DECIMAL(25,12))) AS den2
           FROM lg GROUP BY 1)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(den2 AS DOUBLE) > 0.0 THEN
             round(CAST(num AS DOUBLE) / CAST(den2 AS DOUBLE), 9) END AS dw
         FROM agg"""),

    // §2#52bd (r10) quantile normalization across event types — every
    // type's value distribution maps onto the shared per-bin reference
    // (the cross-source score-calibration step before mixing); output
    // is the (type, bin) mapping table.
    Query("q349_quantile_norm", (s, dir) =>
      functions.Profile.quantileNormalize(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select(col("event_type"), col("value"), col("event_id")),
        "event_type", "value", "event_id", bins = 20),
      // mirrors Profile.quantileNormalize: ntile over (value, id),
      // re-quantized bin means, bins-sized reference
      """WITH e AS (
           SELECT event_type, value, event_id,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         b AS (SELECT event_type, vq,
             NTILE(20) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
           FROM e),
         cells AS (SELECT event_type, bin, SUM(CAST(vq AS HUGEINT)) AS s,
             COUNT(*) AS n FROM b GROUP BY 1, 2),
         cm AS (SELECT event_type, bin, n,
             CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS mq FROM cells),
         ref AS (SELECT bin, SUM(CAST(mq AS HUGEINT)) AS rs, COUNT(*) AS rn
           FROM cm GROUP BY 1)
         SELECT event_type, CAST(cm.bin AS INT) AS bin, n,
           round(CAST(mq AS DOUBLE) / 1000000.0, 6) AS orig_mean,
           round(CAST(rs AS DOUBLE) / rn / 1000000.0, 6) AS norm_value
         FROM cm JOIN ref ON cm.bin = ref.bin"""),

    // §2#52bh (r10) OLS influence diagnostics on the daily-mean trend:
    // leverage, residual, and Cook's distance per day — "which days
    // drive the fitted trend"; exact integer moments, top-15 triage
    // list with deterministic tie order.
    Query("q353_ols_influence", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("day")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      functions.Profile.olsInfluence(daily, "day", "day_mean", "day", topK = 15)
    },
      // mirrors Profile.olsInfluence over the daily-mean series: exact
      // integer moments, quantized SSE, Cook's D ranked on its rounded value
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         daily AS (
           SELECT day, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1),
         p AS (SELECT day AS id,
             CAST(floor(CAST(day AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS y
           FROM daily),
         mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
           FROM p),
         c2 AS (SELECT nd, sx, sy, sxx - sx * sx / nd AS sxxc,
             (sxy - sx * sy / nd) / (sxx - sx * sx / nd) AS slope
           FROM mo),
         c3 AS (SELECT nd, sx, sxxc, slope, (sy - slope * sx) / nd AS icept FROM c2),
         r AS (SELECT id, x,
             (CAST(y AS DOUBLE) - icept - slope * CAST(x AS DOUBLE)) / 1000000.0 AS e,
             1.0 / nd + (CAST(x AS DOUBLE) - sx / nd) * (CAST(x AS DOUBLE) - sx / nd)
               / sxxc AS h
           FROM p, c3),
         r2 AS (SELECT id, e, h,
             CAST(floor(e * e * 1000000 + 0.5) AS BIGINT) AS e2q FROM r),
         ss AS (SELECT CAST(SUM(CAST(e2q AS HUGEINT)) AS DOUBLE) / 1000000.0
             / ((SELECT nd FROM c3) - 2.0) AS s2 FROM r2),
         f AS (SELECT id, round(e, 6) AS residual, round(h, 9) AS leverage,
             round(e * e * h / ((2.0 * s2) * (1.0 - h) * (1.0 - h)), 9) AS cooks_d
           FROM r2, ss),
         rk AS (SELECT id, residual, leverage, cooks_d,
             CAST(ROW_NUMBER() OVER (ORDER BY cooks_d DESC, id) AS INT) AS rank
           FROM f)
         SELECT id AS day, rank, residual, leverage, cooks_d
         FROM rk WHERE rank <= 15"""),

    // §2#52bi (r10) partial correlation on lineitem: quantity ↔
    // extended price with the discount's linear effect removed (and
    // each other rotation) — the confounder screen beside q96's raw
    // correlation matrix; exact integer moments.
    Query("q354_partial_corr", (s, dir) =>
      functions.Profile.partialCorr(t(s, dir, "lineitem").df,
        "l_quantity", "l_extendedprice", "l_discount"),
      // mirrors Profile.partialCorr: exact quantized second moments, one
      // mirrored double per correlation
      """WITH q AS (SELECT
           CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS x,
           CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS y,
           CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS z
           FROM lineitem),
         mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(z) AS DOUBLE) AS sz,
             CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(z * z) AS DOUBLE) AS szz,
             CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * z) AS DOUBLE) AS sxz,
             CAST(SUM(y * z) AS DOUBLE) AS syz
           FROM q),
         r AS (SELECT
             (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
             (n * sxz - sx * sz) / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
             (n * syz - sy * sz) / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
           FROM mo)
         SELECT 'l_quantity' AS a, 'l_extendedprice' AS b, 'l_discount' AS controlling,
           round((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 9) AS partial_r,
           round(rxy, 9) AS pearson_r FROM r
         UNION ALL SELECT 'l_quantity', 'l_discount', 'l_extendedprice',
           round((rxz - rxy * ryz) / sqrt((1 - rxy * rxy) * (1 - ryz * ryz)), 9),
           round(rxz, 9) FROM r
         UNION ALL SELECT 'l_extendedprice', 'l_discount', 'l_quantity',
           round((ryz - rxy * rxz) / sqrt((1 - rxy * rxy) * (1 - rxz * rxz)), 9),
           round(ryz, 9) FROM r"""),

    // §2#52bk (r10) Kendall τ-b between the click and view daily
    // means — tie-corrected rank concordance of two metrics, robust to
    // any monotone transform; bounded-series contract (daily cells),
    // exact integer pair counts.
    Query("q357_kendall_tau", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .filter(col("event_type").isin("click", "view"))
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          col("event_type"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      def m(t: String) = {
        val cnt = sum(when(col("event_type") === t, 1L).otherwise(0L))
        when(cnt > 0L, round(
          sum(when(col("event_type") === t, col("_vq")).otherwise(0L)
            .cast("decimal(38,0)")).cast("double") / cnt.cast("double") / 1e6, 6))
      }
      val daily = ev.groupBy("day")
        .agg(m("click").as("click_mean"), m("view").as("view_mean"))
        .filter(col("click_mean").isNotNull && col("view_mean").isNotNull)
      functions.Profile.kendallTauB(daily, "day", "click_mean", "view_mean")
    },
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day, event_type,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events WHERE event_type IN ('click', 'view')),
         daily AS (
           SELECT day,
             CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(SUM(CASE WHEN event_type = 'click'
                     THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
                 / 1000000.0, 6) END AS cm,
             CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(SUM(CASE WHEN event_type = 'view'
                     THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
                 / 1000000.0, 6) END AS vm
           FROM e GROUP BY 1),
         b AS (
           SELECT day AS o, CAST(floor(cm * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(vm * 1000000 + 0.5) AS BIGINT) AS y
           FROM daily WHERE cm IS NOT NULL AND vm IS NOT NULL),
         pairs AS (
           SELECT SUM(CASE WHEN (b2.x > b1.x AND b2.y > b1.y)
                             OR (b2.x < b1.x AND b2.y < b1.y) THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN (b2.x > b1.x AND b2.y < b1.y)
                        OR (b2.x < b1.x AND b2.y > b1.y) THEN 1 ELSE 0 END) AS d
           FROM b b1 JOIN b b2 ON b1.o < b2.o),
         tx AS (SELECT COALESCE(SUM((t * (t - 1)) // 2), 0) AS n1, SUM(t) AS n
           FROM (SELECT x, COUNT(*) AS t FROM b GROUP BY 1)),
         ty AS (SELECT COALESCE(SUM((t * (t - 1)) // 2), 0) AS n2
           FROM (SELECT y, COUNT(*) AS t FROM b GROUP BY 1)),
         f AS (SELECT n, c, d, n1, n2, (n * (n - 1)) // 2 AS n0 FROM pairs, tx, ty)
         SELECT CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant, CAST(n1 AS BIGINT) AS ties_x,
           CAST(n2 AS BIGINT) AS ties_y,
           CASE WHEN n0 > n1 AND n0 > n2 THEN
             round((CAST(c AS DOUBLE) - CAST(d AS DOUBLE))
               / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 9)
           END AS tau_b
         FROM f"""),

    // §2#53aq (r10) sup-Chow structural-break scan on the daily mean
    // series — localizes WHEN the trend changed (Pettitt/PH say that
    // it did); every candidate split scored from one prefix-moment
    // window pass, argmax via TakeOrdered.
    Query("q361_sup_chow", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("day")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      functions.Profile.supChow(daily, "day", "day_mean", margin = 5)
    },
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         daily AS (
           SELECT day, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1),
         b AS (SELECT day AS o, CAST(day AS BIGINT) AS x,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS y
           FROM daily),
         tot AS (
           SELECT COUNT(*) AS tn, SUM(CAST(x AS HUGEINT)) AS tsx,
             SUM(CAST(y AS HUGEINT)) AS tsy,
             SUM(CAST(x AS HUGEINT) * x) AS tsxx,
             SUM(CAST(x AS HUGEINT) * y) AS tsxy,
             SUM(CAST(y AS HUGEINT) * y) AS tsyy
           FROM b),
         pre AS (
           SELECT o, COUNT(*) OVER w AS pn,
             SUM(CAST(x AS HUGEINT)) OVER w AS psx,
             SUM(CAST(y AS HUGEINT)) OVER w AS psy,
             SUM(CAST(x AS HUGEINT) * x) OVER w AS psxx,
             SUM(CAST(x AS HUGEINT) * y) OVER w AS psxy,
             SUM(CAST(y AS HUGEINT) * y) OVER w AS psyy
           FROM b
           WINDOW w AS (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         sc AS (
           SELECT o, pn, psx, psy, psxx, psxy, tn, tsx, tsy, tsxx, tsxy,
             CASE WHEN CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) > 0.0
               THEN (CAST(psyy AS DOUBLE) - CAST(psy AS DOUBLE) * CAST(psy AS DOUBLE) / CAST(pn AS DOUBLE))
                 - (CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE) / CAST(pn AS DOUBLE))
                   * (CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE) / CAST(pn AS DOUBLE))
                   / (CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE))
               ELSE CAST(psyy AS DOUBLE) - CAST(psy AS DOUBLE) * CAST(psy AS DOUBLE) / CAST(pn AS DOUBLE)
             END AS sse1,
             CASE WHEN CAST(tsxx - psxx AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsx - psx AS DOUBLE) / CAST(tn - pn AS DOUBLE) > 0.0
               THEN (CAST(tsyy - psyy AS DOUBLE) - CAST(tsy - psy AS DOUBLE) * CAST(tsy - psy AS DOUBLE) / CAST(tn - pn AS DOUBLE))
                 - (CAST(tsxy - psxy AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsy - psy AS DOUBLE) / CAST(tn - pn AS DOUBLE))
                   * (CAST(tsxy - psxy AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsy - psy AS DOUBLE) / CAST(tn - pn AS DOUBLE))
                   / (CAST(tsxx - psxx AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsx - psx AS DOUBLE) / CAST(tn - pn AS DOUBLE))
               ELSE CAST(tsyy - psyy AS DOUBLE) - CAST(tsy - psy AS DOUBLE) * CAST(tsy - psy AS DOUBLE) / CAST(tn - pn AS DOUBLE)
             END AS sse2,
             CASE WHEN CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) / CAST(tn AS DOUBLE) > 0.0
               THEN (CAST(tsyy AS DOUBLE) - CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE) / CAST(tn AS DOUBLE))
                 - (CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE) / CAST(tn AS DOUBLE))
                   * (CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE) / CAST(tn AS DOUBLE))
                   / (CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) / CAST(tn AS DOUBLE))
               ELSE CAST(tsyy AS DOUBLE) - CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE) / CAST(tn AS DOUBLE)
             END AS ssep
           FROM pre CROSS JOIN tot
           WHERE pn >= 5 AND tn - pn >= 5),
         fs AS (
           SELECT *,
             CASE WHEN (sse1 + sse2) / (CAST(tn AS DOUBLE) - 4.0) > 0.0 THEN
               ((ssep - sse1 - sse2) / 2.0)
                 / ((sse1 + sse2) / (CAST(tn AS DOUBLE) - 4.0))
             END AS f
           FROM sc),
         top AS (
           SELECT * FROM fs WHERE f IS NOT NULL ORDER BY f DESC, o ASC LIMIT 1)
         SELECT CAST(tn AS BIGINT) AS n, CAST(o AS BIGINT) AS break_at,
           round(f, 6) AS f_stat,
           round(CASE WHEN CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) > 0.0
             THEN (CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE) / CAST(pn AS DOUBLE))
               / (CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE))
             END / 1000000.0, 9) AS slope_pre,
           round(CASE WHEN CAST(tsxx - psxx AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsx - psx AS DOUBLE) / CAST(tn - pn AS DOUBLE) > 0.0
             THEN (CAST(tsxy - psxy AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsy - psy AS DOUBLE) / CAST(tn - pn AS DOUBLE))
               / (CAST(tsxx - psxx AS DOUBLE) - CAST(tsx - psx AS DOUBLE) * CAST(tsx - psx AS DOUBLE) / CAST(tn - pn AS DOUBLE))
             END / 1000000.0, 9) AS slope_post
         FROM top"""),

    // §2#52bq (r10) Dunn's post-hoc pairwise rank z after q265's
    // Kruskal-Wallis: WHICH event types differ; exact half-unit
    // integer ranks, Bonferroni m reported.
    Query("q375_dunn", (s, dir) =>
      functions.Profile.dunnTest(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select(col("event_type"), col("value")),
        "event_type", "value"),
      """WITH b AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
           FROM events),
         hist AS (SELECT v, COUNT(*) AS t FROM b GROUP BY 1),
         rk AS (
           SELECT v, t,
             SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum
           FROM hist),
         hr AS (SELECT v, 2 * (cum - t) + t + 1 AS hr2 FROM rk),
         pg AS (
           SELECT g, SUM(c) AS n,
             SUM(CAST(c AS HUGEINT) * hr2) AS sr2
           FROM (SELECT g, v, COUNT(*) AS c FROM b GROUP BY 1, 2) gv
           JOIN hr ON gv.v = hr.v GROUP BY 1),
         sc AS (
           SELECT CAST(SUM(t) AS BIGINT) AS nn,
             CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE) AS ties
           FROM hist),
         s2 AS (
           SELECT CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) / 12.0
             - ties / (12.0 * (CAST(nn AS DOUBLE) - 1.0)) AS sig2
           FROM sc),
         kk AS (SELECT COUNT(*) AS k FROM pg)
         SELECT a.g AS a, b2.g AS b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b2.n AS BIGINT) AS n_b,
           CASE WHEN sig2 > 0.0 THEN round(
             (CAST(a.sr2 AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE))
              - CAST(b2.sr2 AS DOUBLE) / (2.0 * CAST(b2.n AS DOUBLE)))
             / sqrt(sig2 * (1.0 / CAST(a.n AS DOUBLE)
               + 1.0 / CAST(b2.n AS DOUBLE))), 9) END AS z,
           CAST(k * (k - 1) // 2 AS BIGINT) AS m_comparisons
         FROM pg a JOIN pg b2 ON a.g < b2.g, s2, kk"""),

    // §2#52br (r10) Bland-Altman agreement between each user's mean
    // click value and mean view value — bias, SD, 95% limits of
    // agreement, and the pairs outside them.
    Query("q376_bland_altman", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      def m(t: String) = {
        val cnt = sum(when(col("event_type") === t, 1L).otherwise(0L))
        when(cnt > 0L, round(
          sum(when(col("event_type") === t, col("_vq")).otherwise(0L)
            .cast("decimal(38,0)")).cast("double") / cnt.cast("double") / 1e6, 6))
      }
      val per = ev.groupBy("user_id")
        .agg(m("click").as("a"), m("view").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull)
      functions.Profile.blandAltman(per, "a", "b")
    },
      """WITH e AS (
           SELECT user_id, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events WHERE event_type IN ('click', 'view')),
         per AS (
           SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(SUM(CASE WHEN event_type = 'click'
                     THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                     AS DOUBLE) / 1000000.0, 6) END AS a,
             CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(SUM(CASE WHEN event_type = 'view'
                     THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                     AS DOUBLE) / 1000000.0, 6) END AS b
           FROM e GROUP BY 1),
         d AS (
           SELECT CAST(floor(a * 1000000 + 0.5) AS BIGINT)
             - CAST(floor(b * 1000000 + 0.5) AS BIGINT) AS dq
           FROM per WHERE a IS NOT NULL AND b IS NOT NULL),
         m AS (
           SELECT COUNT(*) AS n, CAST(SUM(CAST(dq AS HUGEINT)) AS DOUBLE) AS s,
             CAST(SUM(CAST(dq AS HUGEINT) * dq) AS DOUBLE) AS s2
           FROM d),
         st AS (
           SELECT n, s / CAST(n AS DOUBLE) / 1000000.0 AS mean_d,
             sqrt((s2 - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
               / 1000000.0 / 1000000.0) AS sd_d
           FROM m)
         SELECT CAST(n AS BIGINT) AS n,
           round(mean_d, 9) + 0.0 AS mean_diff, round(sd_d, 9) + 0.0 AS sd_diff,
           round(mean_d - 1.96 * sd_d, 9) + 0.0 AS loa_lo,
           round(mean_d + 1.96 * sd_d, 9) + 0.0 AS loa_hi,
           (SELECT COUNT(*) FROM d, st
            WHERE CAST(dq AS DOUBLE) / 1000000.0 < mean_d - 1.96 * sd_d
               OR CAST(dq AS DOUBLE) / 1000000.0 > mean_d + 1.96 * sd_d)
             AS n_outside
         FROM st"""),

    // §2#52bs (r10) Sobel mediation on lineitem: does the discount
    // act on extended price THROUGH quantity — indirect a·b with its
    // z, direct c'; one pass of exact DECIMAL moments.
    Query("q377_sobel", (s, dir) =>
      functions.Profile.sobelMediation(t(s, dir, "lineitem").df,
        "l_discount", "l_quantity", "l_extendedprice"),
      """WITH q AS (
           SELECT CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS x,
             CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS m,
             CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS HUGEINT) AS y
           FROM lineitem),
         mm AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS nn,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(m) AS DOUBLE) AS sm,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(m * m) AS DOUBLE) AS smm,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * m) AS DOUBLE) AS sxm, CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(m * y) AS DOUBLE) AS smy
           FROM q),
         cen AS (
           SELECT nn, n, sxx - sx * sx / n AS cxx, smm - sm * sm / n AS cmm,
             syy - sy * sy / n AS cyy, sxm - sx * sm / n AS cxm,
             sxy - sx * sy / n AS cxy, smy - sm * sy / n AS cmy
           FROM mm),
         fit AS (
           SELECT nn, n, cyy, cxy, cmy, cxx,
             cxm / cxx AS a_hat,
             ((cmm - cxm * cxm / cxx) / (n - 2.0)) / cxx AS se_a2,
             cxx * cmm - cxm * cxm AS det,
             (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm) AS c_prime,
             (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) AS b_hat
           FROM cen),
         fit3 AS (
           SELECT nn, a_hat, b_hat, c_prime, se_a2,
             ((cyy - c_prime * cxy - b_hat * cmy) / (n - 3.0)) * cxx / det
               AS se_b2
           FROM fit)
         SELECT CAST(nn AS BIGINT) AS n,
           round(a_hat, 9) + 0.0 AS a_path, round(b_hat, 9) + 0.0 AS b_path,
           round(c_prime, 9) + 0.0 AS direct,
           round(a_hat * b_hat, 9) + 0.0 AS indirect,
           round(a_hat * b_hat / sqrt(a_hat * a_hat * se_b2
             + b_hat * b_hat * se_a2), 9) + 0.0 AS sobel_z
         FROM fit3"""),

    // §2#52au (r8) Friedman rank test on the day × event-type daily-
    // mean table: "did any event type's level shift, CONTROLLING for
    // the day" — the within-block companion to q265's global Kruskal
    // ranks; complete blocks only, half-unit ranks per day.
    Query("q317_friedman", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          col("event_type"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("day", "event_type")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      functions.Profile.friedman(daily, "day", "event_type", "day_mean")
    },
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day, event_type,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         daily AS (
           SELECT day, event_type, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1, 2),
         q AS (SELECT day, event_type,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS v FROM daily),
         kt AS (SELECT COUNT(DISTINCT event_type) AS k FROM q),
         cb AS (SELECT day, COUNT(*) AS c FROM q GROUP BY 1),
         f AS (SELECT q.* FROM q JOIN cb ON cb.day = q.day, kt WHERE cb.c = kt.k),
         r AS (SELECT day, event_type,
             2 * RANK() OVER (PARTITION BY day ORDER BY v)
               + COUNT(*) OVER (PARTITION BY day, v) - 1 AS r2
           FROM f),
         pt AS (SELECT event_type AS treatment, COUNT(*) AS n_blocks,
             CAST(SUM(r2) AS BIGINT) AS r2_sum FROM r GROUP BY 1),
         sc AS (SELECT MAX(n_blocks) AS n, COUNT(*) AS kk,
             SUM(CAST(r2_sum AS HUGEINT) * r2_sum) AS s2 FROM pt)
         SELECT treatment, n_blocks, r2_sum,
           round(CAST(r2_sum AS DOUBLE) / (2.0 * CAST(n_blocks AS DOUBLE)), 9) AS mean_rank,
           CAST(kk AS INT) AS k, CAST(kk - 1 AS INT) AS df,
           round(3.0 * CAST(s2 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(kk AS DOUBLE) * (CAST(kk AS DOUBLE) + 1.0))
             - 3.0 * CAST(n AS DOUBLE) * (CAST(kk AS DOUBLE) + 1.0), 9) AS chi2_f
         FROM pt, sc"""),

    // §2#52f sparse equi-width histogram: document length distribution
    // per source in 200-char bins — one partial agg, bins map-side.
    Query("q121_histogram", (s, dir) =>
      functions.Profile.histogram(t(s, dir, "documents").df,
        "source", "n_chars", 200L),
      """SELECT source, n_chars // 200 AS bin, (n_chars // 200) * 200 AS bin_lo,
           COUNT(*) AS n
         FROM documents GROUP BY 1, 2, 3"""),

    // §2#56c Pareto frontier: users not dominated on (event volume,
    // behavioral diversity) — the multi-criteria selection curve,
    // histogram-sized at every step after the per-user agg.
    Query("q122_pareto", (s, dir) => {
      val perUser = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
             countDistinct("event_type").as("n_types"))
      functions.Profile.paretoFront2(perUser, "n_events", "n_types")
    },
      """WITH u AS (
           SELECT user_id, COUNT(*) AS x0, COUNT(DISTINCT event_type) AS y0
           FROM events GROUP BY 1),
         pts AS (SELECT x0 AS x, y0 AS y, COUNT(*) AS n FROM u GROUP BY 1, 2)
         SELECT x, y, n FROM pts p
         WHERE NOT EXISTS (
           SELECT 1 FROM pts q
           WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))"""),

    // §2#52h two-sample KS drift: how far apart are the click and
    // purchase value distributions, and where does the gap peak —
    // CDFs over the distinct-value histogram, argmax a TakeOrdered.
    Query("q141_ks_drift", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("value"))
      functions.Profile.ksDistance(ev, "event_type", "click", "purchase", "value")
    },
      """WITH e AS (SELECT event_type, value FROM events
                    WHERE event_type IN ('click', 'purchase')),
         h AS (
           SELECT value AS v,
             COUNT(*) FILTER (event_type = 'click') AS ca,
             COUNT(*) FILTER (event_type = 'purchase') AS cb
           FROM e GROUP BY 1),
         c AS (
           SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
           FROM h),
         t AS (
           SELECT COUNT(*) FILTER (event_type = 'click') AS na,
             COUNT(*) FILTER (event_type = 'purchase') AS nb
           FROM e)
         SELECT ROUND(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)), 9) AS d_stat,
           v AS at_value, na AS n_a, nb AS n_b
         FROM c, t
         ORDER BY abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
           - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)) DESC, v
         LIMIT 1"""),

    // §2#52i PSI drift score between the click and purchase value
    // distributions in width-25 bins — the whole-shape companion of
    // q141's KS point statistic; empty-on-one-side bins report as
    // dropped instead of smoothing.
    Query("q143_psi", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("value"))
      functions.Profile.psi(ev, "event_type", "click", "purchase", "value",
        binWidth = 25.0)
    },
      """WITH e AS (SELECT event_type, value FROM events
                    WHERE event_type IN ('click', 'purchase')),
         c AS (
           SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
             COUNT(*) FILTER (event_type = 'click') AS ca,
             COUNT(*) FILTER (event_type = 'purchase') AS cb
           FROM e GROUP BY 1),
         t AS (
           SELECT COUNT(*) FILTER (event_type = 'click') AS na,
             COUNT(*) FILTER (event_type = 'purchase') AS nb
           FROM e),
         terms AS (
           SELECT CASE WHEN ca > 0 AND cb > 0 THEN
               CAST((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                     - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                 * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                      / (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) AS DECIMAL(20,9))
             END AS term, na, nb
           FROM c, t)
         SELECT ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi,
           COUNT(term) AS n_bins_used,
           COUNT(*) FILTER (term IS NULL) AS n_bins_dropped,
           MAX(na) AS n_a, MAX(nb) AS n_b
         FROM terms"""),

    // §2#52j per-type winsorization: event values clamped into their
    // own type's exact [p05, p95] band — every row kept, tails tamed;
    // percentile interpolation is bit-identical across engines (q71).
    Query("q145_winsorize", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("event_id"), col("value"))
      functions.Profile.winsorize(ev, "event_type", "value")
    },
      """WITH b AS (
           SELECT event_type,
             quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
           FROM events GROUP BY 1)
         SELECT e.event_type, e.event_id, e.value,
           least(greatest(e.value, b.lo), b.hi) AS clamped
         FROM events e JOIN b USING (event_type)"""),

    // §2#52k categorical drift: is the event-type mix independent of
    // weekday-vs-weekend? χ² over the (cohort, type) contingency
    // cells — label-vocabulary-sized everywhere after one partial agg.
    Query("q146_chisq", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"),
          when(expr("pmod(unix_micros(ts) div 86400000000, 7)") < 5, "weekday")
            .otherwise("weekend").as("cohort"))
      functions.Profile.chiSquare(ev, "cohort", "event_type")
    },
      """WITH ev AS (
           SELECT event_type,
             CASE WHEN (epoch_us(ts) // 86400000000) % 7 < 5
                  THEN 'weekday' ELSE 'weekend' END AS cohort
           FROM events),
         cells AS (
           SELECT cohort AS r, event_type AS c, COUNT(*) AS o
           FROM ev GROUP BY 1, 2),
         rt AS (SELECT r, SUM(o) AS rtot FROM cells GROUP BY 1),
         ct AS (SELECT c, SUM(o) AS ctot FROM cells GROUP BY 1),
         g AS (SELECT SUM(o) AS n, COUNT(DISTINCT r) AS nr,
                      COUNT(DISTINCT c) AS nc FROM cells),
         terms AS (
           SELECT CAST(
               (CAST(o AS DOUBLE) - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(n AS DOUBLE))
             AS DECIMAL(20,9)) AS term, n, nr, nc
           FROM cells JOIN rt USING (r) JOIN ct USING (c), g)
         SELECT ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
           MAX((nr - 1) * (nc - 1)) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
         FROM terms"""),

    // §2#52l k-anonymity / l-diversity audit: can a user be singled
    // out from (event_type, weekday)? group sizes + distinct users per
    // quasi-identifier cell with k=50 / l=5 violation flags.
    Query("q150_k_anonymity", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("user_id"),
          expr("pmod(unix_micros(ts) div 86400000000, 7)").as("dow"))
      functions.Profile.kAnonymity(ev, Seq("event_type", "dow"), "user_id",
        k = 50L, l = 5L)
    },
      """SELECT event_type,
           CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT) AS dow,
           COUNT(*) AS group_size,
           COUNT(DISTINCT user_id) AS n_sensitive,
           CAST(COUNT(*) < 50 AS INT) AS k_violation,
           CAST(COUNT(DISTINCT user_id) < 5 AS INT) AS l_violation
         FROM events GROUP BY 1, 2"""),

    // §2#52m exact char-weighted median doc length per source: the
    // value where HALF THE CHARACTERS live in shorter docs — giant
    // docs move it, a million stubs don't; rational-threshold step
    // contract, no float boundary.
    Query("q151_weighted_median", (s, dir) =>
      functions.Profile.weightedPercentile(t(s, dir, "documents").df,
        "source", "n_chars", "n_chars", pNum = 1L, pDen = 2L),
      """WITH h AS (
           SELECT source, n_chars AS v, SUM(n_chars) AS w
           FROM documents GROUP BY 1, 2),
         c AS (
           SELECT source, v,
             SUM(w) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY source) AS tot
           FROM h)
         SELECT source, CAST(MIN(v) AS BIGINT) AS wpct,
           CAST(MAX(tot) AS BIGINT) AS total_weight
         FROM c WHERE cum * 2 >= tot * 1 GROUP BY 1"""),

    // §2#52n contribution inequality: per-source Gini of document
    // character mass — "is this source a few giants or many stubs" in
    // one number; exact integer rank identity, one rank window.
    Query("q155_gini", (s, dir) =>
      functions.Profile.gini(t(s, dir, "documents").df,
        "source", "n_chars", "doc_id"),
      """WITH r AS (
           SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i
           FROM documents),
         s AS (
           SELECT source, COUNT(*) AS n,
             SUM(CAST(n_chars AS DECIMAL(38,0))) AS sx,
             SUM(CAST(n_chars AS DECIMAL(38,0)) * i) AS six
           FROM r GROUP BY 1)
         SELECT source, n,
           CASE WHEN sx > 0 THEN
             ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
           END AS gini
         FROM s"""),

    // §2#52o per-flag OLS trend: does quantity predict price, per
    // return flag — slope/intercept/r² from one six-sum partial agg
    // (the corrMatrix sums, closed-form OLS), DECIMAL(38,0)-exact.
    Query("q156_linreg", (s, dir) =>
      functions.Profile.linReg(t(s, dir, "lineitem").df,
        "l_returnflag", "l_quantity", "l_extendedprice"),
      """WITH q AS (
           SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
             SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
           FROM q GROUP BY 1)
         SELECT l_returnflag, n,
           CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) END AS slope,
           CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
             ROUND((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 100, 9) END AS intercept,
           CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) END AS r2
         FROM s"""),

    // §2#52p Welch's t between two sources' doc-length distributions —
    // the mean-level drift gate (KS = worst point, PSI = shape,
    // χ² = categorical, t = mean); one both-cohort partial agg.
    Query("q157_welch_t", (s, dir) =>
      functions.Profile.welchT(t(s, dir, "documents").df,
        "source", "src1", "src2", "n_chars", unitScale = 1L),
      """WITH q AS (
           SELECT source, CAST(floor(n_chars * 1 + 0.5) AS BIGINT) AS v
           FROM documents WHERE source IN ('src1', 'src2')),
         s AS (
           SELECT
             COUNT(*) FILTER (source = 'src1') AS n_a,
             COUNT(*) FILTER (source = 'src2') AS n_b,
             SUM(CAST(v AS DECIMAL(38,0))) FILTER (source = 'src1') AS sa,
             SUM(CAST(v AS DECIMAL(38,0))) FILTER (source = 'src2') AS sb,
             SUM(CAST(v * v AS DECIMAL(38,0))) FILTER (source = 'src1') AS ssa,
             SUM(CAST(v * v AS DECIMAL(38,0))) FILTER (source = 'src2') AS ssb
           FROM q),
         e AS (
           SELECT n_a, n_b,
             CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
             CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
             (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1) / CAST(n_a AS DOUBLE) AS sea,
             (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1) / CAST(n_b AS DOUBLE) AS seb
           FROM s)
         SELECT n_a, n_b,
           ROUND(ma / 1, 6) AS mean_a, ROUND(mb / 1, 6) AS mean_b,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND sea + seb > 0 THEN
             ROUND((ma - mb) / sqrt(sea + seb), 6) END AS t_stat,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND sea + seb > 0 THEN
             ROUND((sea + seb) * (sea + seb)
               / (sea * sea / (CAST(n_a AS DOUBLE) - 1) + seb * seb / (CAST(n_b AS DOUBLE) - 1)), 6) END AS dof
         FROM e"""),

    // §2#52q Benford first-digit audit of order totals (in exact
    // cents): observed vs ln(1+1/d)/ln 10 — the fabricated-data smell
    // test; leading digit by exact string arithmetic, never log10.
    Query("q158_benford", (s, dir) =>
      functions.Profile.benford(
        t(s, dir, "orders").df.select(
          floor(col("o_totalprice") * 100 + 0.5).as("cents")), "cents"),
      """WITH base AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders),
         tot AS (
           SELECT COUNT(*) FILTER (v > 0) AS n_pos,
             COUNT(*) FILTER (v <= 0 OR v IS NULL) AS n_skipped
           FROM base)
         SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
           COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(tot.n_pos) AS DOUBLE), 9) AS p_obs,
           ROUND(ln(1.0 + 1.0 / CAST(CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT) AS DOUBLE)) / ln(10.0), 9) AS p_exp,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(tot.n_pos) AS DOUBLE)
             - ln(1.0 + 1.0 / CAST(CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT) AS DOUBLE)) / ln(10.0), 9) AS dev,
           MAX(tot.n_skipped) AS n_skipped
         FROM base CROSS JOIN tot WHERE v > 0 GROUP BY 1"""),

    // §2#52r column completeness profile over derived nullable
    // views of orders — n_null / n_distinct / fill_rate per column in
    // ONE scan (the k distincts share one Expand pass).
    Query("q159_null_profile", (s, dir) =>
      functions.Profile.nullProfile(
        t(s, dir, "orders").df.select(
          when(col("o_orderpriority") =!= "1-URGENT", col("o_orderpriority")).as("pri"),
          when(col("o_orderstatus") === "F", col("o_orderstatus")).as("status_f"),
          when(col("o_totalprice") > 200000, col("o_totalprice")).as("price_high")),
        Seq("pri", "status_f", "price_high")),
      """WITH d AS (
           SELECT
             CASE WHEN o_orderpriority <> '1-URGENT' THEN o_orderpriority END AS pri,
             CASE WHEN o_orderstatus = 'F' THEN o_orderstatus END AS status_f,
             CASE WHEN o_totalprice > 200000 THEN o_totalprice END AS price_high
           FROM orders)
         SELECT 'pri' AS "column", COUNT(*) AS n_rows, COUNT(pri) AS n_nonnull,
           COUNT(*) - COUNT(pri) AS n_null, COUNT(DISTINCT pri) AS n_distinct,
           ROUND(CAST(COUNT(pri) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS fill_rate
         FROM d
         UNION ALL
         SELECT 'status_f', COUNT(*), COUNT(status_f),
           COUNT(*) - COUNT(status_f), COUNT(DISTINCT status_f),
           ROUND(CAST(COUNT(status_f) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         FROM d
         UNION ALL
         SELECT 'price_high', COUNT(*), COUNT(price_high),
           COUNT(*) - COUNT(price_high), COUNT(DISTINCT price_high),
           ROUND(CAST(COUNT(price_high) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         FROM d"""),

    // §2#52s deterministic per-user modal event type: histogram partial
    // agg + one distinct-value window, ties to the smallest value.
    Query("q160_mode", (s, dir) =>
      functions.Profile.modeBy(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select("user_id", "event_type"),
        "user_id", "event_type"),
      """WITH h AS (
           SELECT user_id, event_type AS mode_value, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT user_id, mode_value, n,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, mode_value) AS rn
           FROM h)
         SELECT user_id, mode_value, n FROM r WHERE rn = 1"""),

    // §2#52u equi-depth quantile binning: per-source quartile bucket
    // per doc from ONE percentile-array agg joined back — never ntile
    // (whose tie handling is row-order-dependent and whose window
    // buffers a group per task).
    Query("q171_quantile_bins", (s, dir) =>
      functions.Profile.quantileBins(
        t(s, dir, "documents").select(Seq("doc_id", "source", "n_chars")).df,
        "source", "n_chars", k = 4),
      """WITH b AS (
           SELECT source,
             list_transform(quantile_cont(n_chars, [0.25, 0.5, 0.75]),
               x -> CAST(x AS DECIMAL(18,6))) AS qs
           FROM documents GROUP BY 1)
         SELECT d.doc_id, d.source, d.n_chars,
           CAST(1 + len(list_filter(b.qs, x -> x <= CAST(d.n_chars AS DECIMAL(18,6)))) AS INT) AS bin
         FROM documents d JOIN b USING (source)"""),

    // §2#52w m-estimate target encoding: smoothed per-category target
    // means — two partial aggs, exact integer sums, broadcast prior.
    Query("q189_target_encode", (s, dir) =>
      functions.Profile.targetEncode(
        t(s, dir, "lineitem").select(Seq("l_suppkey", "l_quantity")).df,
        "l_suppkey", "l_quantity", m = 10),
      """WITH q AS (
           SELECT l_suppkey,
             CAST(floor(CAST(l_quantity AS DOUBLE) * 1000000 + 0.5) AS DECIMAL(38,0)) AS vq
           FROM lineitem),
         g AS (SELECT SUM(vq) AS gs, COUNT(*) AS gn FROM q),
         c AS (SELECT l_suppkey, SUM(vq) AS s, COUNT(*) AS n FROM q GROUP BY 1)
         SELECT l_suppkey, n,
           ROUND((CAST(s AS DOUBLE) / 1e6 + 10 * (CAST(gs AS DOUBLE) / 1e6 / gn))
             / (n + 10), 6) AS encoded
         FROM c, g"""),

    // §2#52x out-of-fold target encoding: the leakage-free variant of
    // q189 — fold f's encoding uses ONLY the other folds' statistics
    // (prior included), all k leave-one-fold-out encoders from one
    // corpus pass over the (cat, fold) state table.
    Query("q233_target_encode_oof", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_type", "user_id", "value")
      val folded = new core.Tafra(ev).kfoldByHash(5, Seq("user_id")).df
      functions.Profile.targetEncodeOof(folded, "event_type", "value", "fold", m = 10)
    },
      """WITH f AS (
           SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS INT) AS fold,
             CAST(floor(value * 1e6 + 0.5) AS DECIMAL(38,0)) AS q
           FROM events),
         cf AS (SELECT event_type, fold, CAST(SUM(q) AS DECIMAL(38,0)) AS s_cf,
                       COUNT(*) AS n_cf
                FROM f GROUP BY 1, 2),
         c AS (SELECT event_type, CAST(SUM(s_cf) AS DECIMAL(38,0)) AS s_c,
                      SUM(n_cf) AS n_c FROM cf GROUP BY 1),
         g AS (SELECT fold, CAST(SUM(s_cf) AS DECIMAL(38,0)) AS s_f,
                      SUM(n_cf) AS n_f FROM cf GROUP BY 1),
         t AS (SELECT CAST(SUM(s_cf) AS DECIMAL(38,0)) AS s_all, SUM(n_cf) AS n_all FROM cf)
         SELECT cf.event_type, cf.fold, CAST(c.n_c - cf.n_cf AS BIGINT) AS n_oof,
           round((CAST(c.s_c - cf.s_cf AS DOUBLE) / 1e6
                  + 10 * (CAST(t.s_all - g.s_f AS DOUBLE) / 1e6 / (t.n_all - g.n_f)))
                 / ((c.n_c - cf.n_cf) + 10), 6) AS encoded
         FROM cf JOIN c USING (event_type) JOIN g USING (fold) CROSS JOIN t"""),

    // §2#53t Theil-Sen robust trend: median of pairwise slopes per
    // user — the OLS companion (q156) with a 29% breakdown point;
    // exact integer slope quantization + lower-median rank selection.
    Query("q204_theil_sen", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("value"))
      functions.Profile.theilSen(ev, "user_id", "tus", "value")
    },
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS t,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
           FROM events),
         p AS (
           SELECT a.user_id,
             (CAST(b.vq - a.vq AS HUGEINT) * 3600000000) // ((b.t - a.t) * 1000) AS sq
           FROM e a JOIN e b ON a.user_id = b.user_id AND a.t < b.t),
         r AS (
           SELECT user_id, CAST(sq AS BIGINT) AS sq,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sq) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS np
           FROM p)
         SELECT user_id, np AS n_pairs, sq AS slope_q,
           round(CAST(sq AS DOUBLE) / 1000.0, 9) AS slope
         FROM r WHERE rn = (np + 1) // 2"""),

    // §2#52p robust scaling: (v − median)/IQR per group, quartiles
    // from one histogram walk (type-1 inverse ECDF, integer-decided) —
    // the outlier-immune feature standardization.
    Query("q205_robust_scale", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      functions.Profile.robustScale(ev, "event_type", "value")
    },
      """WITH q AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
           FROM events),
         h AS (SELECT event_type, vq AS v, COUNT(*) AS c FROM q GROUP BY 1, 2),
         cw AS (
           SELECT event_type, v,
             SUM(c) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
           FROM h),
         s AS (
           SELECT event_type,
             MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
             MIN(CASE WHEN cum * 2 >= n THEN v END) AS med,
             MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
           FROM cw GROUP BY 1)
         SELECT q.event_id, q.event_type, q.value,
           CASE WHEN s.q3 > s.q1 THEN
             round(CAST(q.vq - s.med AS DOUBLE) / CAST(s.q3 - s.q1 AS DOUBLE), 9)
           END AS scaled
         FROM q JOIN s USING (event_type)"""),

    // §2#45d Neyman-allocation stratified sample: budget ∝ N_h·σ_h
    // (the survey-sampling optimum), largest-remainder apportionment
    // entirely in integers, md5-rank selection within strata.
    Query("q209_neyman", (s, dir) =>
      functions.Profile.neymanSample(
        t(s, dir, "documents").df.select(col("source"), col("doc_id"),
          size(functions.TextFunctions.tokens(col("text"))).cast("double").as("nt")),
        "source", "nt", totalN = 120L, idCol = "doc_id"),
      """WITH v AS (
           SELECT source, doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS nt
           FROM documents),
         q AS (
           SELECT source, doc_id,
             CAST(floor(CAST(nt AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vq
           FROM v),
         m AS (
           SELECT source, COUNT(*) AS n_rows,
             SUM(CAST(vq AS HUGEINT)) AS sq, SUM(CAST(vq AS HUGEINT) * vq) AS sq2
           FROM q GROUP BY 1),
         w AS (
           SELECT source, n_rows,
             CASE WHEN n_rows >= 2 THEN
               sqrt(CAST(n_rows*sq2 - sq*sq AS DOUBLE)
                 / (CAST(n_rows*(n_rows-1) AS DOUBLE) * 1e12))
             ELSE 0.0 END AS sigma
           FROM m),
         wq AS (
           SELECT source, n_rows,
             CAST(floor(CAST(n_rows AS DOUBLE) * sigma * 1e6 + 0.5) AS BIGINT) AS wq0
           FROM w),
         tw AS (SELECT *, SUM(wq0) OVER () AS tw0, COUNT(*) OVER () AS ns FROM wq),
         ww AS (
           SELECT source, n_rows,
             CASE WHEN tw0 > 0 THEN wq0 ELSE 1 END AS wqe,
             CASE WHEN tw0 > 0 THEN CAST(tw0 AS BIGINT) ELSE ns END AS twe
           FROM tw),
         ap AS (
           SELECT source, n_rows,
             (120 * wqe) // twe AS base, (120 * wqe) % twe AS rem
           FROM ww),
         rk AS (
           SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             120 - SUM(base) OVER () AS leftover
           FROM ap),
         al AS (
           SELECT source, n_rows,
             LEAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n_rows) AS alloc
           FROM rk),
         rn AS (
           SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM q)
         SELECT rn.source, rn.doc_id, al.n_rows, CAST(al.alloc AS BIGINT) AS alloc
         FROM rn JOIN al ON rn.source = al.source WHERE rn.rn <= al.alloc"""),

    // §2#52r Mann-Whitney U: the nonparametric drift test — rank
    // arithmetic entirely in exact integer half-units, tie-corrected
    // z from exact sums; survives the tails Welch's t assumes away.
    Query("q215_mannwhitney", (s, dir) =>
      functions.Profile.mannWhitneyU(t(s, dir, "documents").df,
        "source", "src1", "src2", "n_chars", unitScale = 1L),
      """WITH two AS (
           SELECT source AS g,
             CAST(floor(CAST(n_chars AS DOUBLE) * 1 + 0.5) AS BIGINT) AS v
           FROM documents WHERE source IN ('src1', 'src2')),
         h AS (
           SELECT v, COUNT(*) FILTER (WHERE g = 'src1') AS ca,
                     COUNT(*) FILTER (WHERE g = 'src2') AS cb
           FROM two GROUP BY 1),
         c AS (
           SELECT *, COALESCE(SUM(ca + cb) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM h),
         s AS (
           SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
             SUM(ca * (2*cum + (ca + cb) + 1)) AS r2sum,
             SUM(CAST((ca+cb)*(ca+cb)*(ca+cb) - (ca+cb) AS HUGEINT)) AS ties
           FROM c),
         f AS (
           SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(r2sum - n_a*(n_a+1) AS BIGINT) AS u2_a,
             CAST(ties AS DOUBLE) AS ties_d
           FROM s),
         g AS (
           SELECT *, CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/12.0 *
             ((CAST(n_a+n_b AS DOUBLE) + 1.0)
               - ties_d/(CAST(n_a+n_b AS DOUBLE)*(CAST(n_a+n_b AS DOUBLE) - 1.0))) AS varu
           FROM f)
         SELECT n_a, n_b, u2_a, CAST(u2_a AS DOUBLE)/2.0 AS u_a,
           CASE WHEN n_a >= 1 AND n_b >= 1 AND varu > 0 THEN
             round((CAST(u2_a AS DOUBLE)/2.0
               - CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/2.0)/sqrt(varu), 6)
           END AS z
         FROM g"""),

    // §2#52s Spearman rank correlation: per event type, the monotone
    // association between time and value — Pearson on exact
    // tie-averaged half-unit ranks.
    Query("q216_spearman", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), unix_micros(col("ts")).as("tus"), col("value"))
      functions.Profile.spearman(ev, "event_type", "tus", "value",
        unitScaleX = 1L, unitScaleY = 1000000L)
    },
      """WITH b AS (
           SELECT event_type AS g,
             CAST(floor(CAST(epoch_us(ts) AS DOUBLE) * 1 + 0.5) AS BIGINT) AS x,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS y
           FROM events),
         hx AS (SELECT g, x, COUNT(*) AS t FROM b GROUP BY 1, 2),
         cx AS (
           SELECT g, x, 2*COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS rx
           FROM hx),
         hy AS (SELECT g, y, COUNT(*) AS t FROM b GROUP BY 1, 2),
         cy AS (
           SELECT g, y, 2*COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS ry
           FROM hy),
         r AS (
           SELECT b.g, cx.rx, cy.ry FROM b
           JOIN cx ON b.g = cx.g AND b.x = cx.x
           JOIN cy ON b.g = cy.g AND b.y = cy.y),
         a AS (
           SELECT g, COUNT(*) AS n,
             SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
             SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
             SUM(CAST(ry AS HUGEINT) * ry) AS syy,
             SUM(CAST(rx AS HUGEINT) * ry) AS sxy
           FROM r GROUP BY 1)
         SELECT g AS event_type, n,
           CASE WHEN n >= 2
                 AND CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) > 0
           THEN round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 9)
           END AS rho
         FROM a"""),

    // §2#52u CUPED variance reduction: per-user experiment metric
    // adjusted by the pre-period covariate, theta from exact integer
    // sums — the A/B-test-duration halver; mean-preserving.
    Query("q220_cuped", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("value"))
      val mid = ev.agg(expr("(min(tus) + max(tus)) div 2").as("_mid"))
      val vq = floor(col("value") * 1e6 + lit(0.5)).cast("long")
      val units = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg((sum(when(col("tus") < col("_mid"), vq).otherwise(0L)).cast("double") / 1e6).as("x"),
             (sum(when(col("tus") >= col("_mid"), vq).otherwise(0L)).cast("double") / 1e6).as("y"))
      functions.Profile.cuped(units, "user_id", "x", "y")
    },
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS tus,
             CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq
           FROM events),
         b AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS mid FROM e),
         u AS (
           SELECT user_id,
             CAST(SUM(CASE WHEN tus < mid THEN vq ELSE 0 END) AS DOUBLE) / 1e6 AS x,
             CAST(SUM(CASE WHEN tus >= mid THEN vq ELSE 0 END) AS DOUBLE) / 1e6 AS y
           FROM e, b GROUP BY user_id),
         q AS (
           SELECT user_id,
             CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS qx,
             CAST(floor(y * 1e6 + 0.5) AS BIGINT) AS qy
           FROM u),
         s AS (
           SELECT COUNT(*) AS n,
             SUM(CAST(qx AS HUGEINT)) AS sx, SUM(CAST(qy AS HUGEINT)) AS sy,
             SUM(CAST(qx AS HUGEINT) * qx) AS sxx, SUM(CAST(qx AS HUGEINT) * qy) AS sxy
           FROM q),
         t AS (
           SELECT *,
             CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS covnum,
             CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS varnum,
             CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) AS xbar
           FROM s)
         SELECT user_id, round(CAST(qy AS DOUBLE) / 1e6, 6) AS y,
           CASE WHEN varnum > 0 THEN
             round((CAST(qy AS DOUBLE) - (covnum/varnum) * (CAST(qx AS DOUBLE) - xbar)) / 1e6, 6)
           ELSE round(CAST(qy AS DOUBLE) / 1e6, 6) END AS y_adj,
           CASE WHEN varnum > 0 THEN round(covnum/varnum, 6) END AS theta
         FROM q, t"""),

    // §2#52v trimmed mean: robust location from the same histogram
    // walk as the cuts themselves — tails dropped from the estimate,
    // unlike winsorize's clamp.
    Query("q221_trimmed_mean", (s, dir) =>
      functions.Profile.trimmedMean(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select("event_type", "value"),
        "event_type", "value"),
      """WITH h AS (
           SELECT event_type AS g, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v,
             COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         cw AS (
           SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
           FROM h),
         bd AS (
           SELECT g, MIN(CASE WHEN cum * 20 >= n * 1 THEN v END) AS lo,
                     MIN(CASE WHEN cum * 20 >= n * 19 THEN v END) AS hi
           FROM cw GROUP BY 1)
         SELECT cw.g AS event_type, CAST(SUM(c) AS BIGINT) AS n_kept,
           round(CAST(SUM(CAST(v AS HUGEINT) * c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * 1000000.0), 9) AS trimmed_mean
         FROM cw JOIN bd ON cw.g = bd.g WHERE v > lo AND v < hi GROUP BY 1"""),

    // §2#52w split-conformal prediction intervals: the finite-sample
    // distribution-free uncertainty band — conformal-rank residual
    // quantile on a calibration split, realized coverage on held-out;
    // every decision an integer comparison (residuals scale through
    // by n so the mean never floats).
    Query("q222_conformal", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("event_id"), col("value"))
      functions.Profile.conformalInterval(ev, "event_type", "value",
        calCol = col("event_id") % 2 === 0)
    },
      """WITH b AS (
           SELECT event_type AS g, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS q,
             event_id % 2 = 0 AS cal
           FROM events),
         cs AS (SELECT g, COUNT(*) AS nc, SUM(CAST(q AS HUGEINT)) AS sq
                FROM b WHERE cal GROUP BY 1),
         cr AS (SELECT b.g, cs.nc, abs(CAST(b.q AS HUGEINT)*cs.nc - cs.sq) AS r
                FROM b JOIN cs ON b.g = cs.g WHERE b.cal),
         h AS (SELECT g, nc, r, COUNT(*) AS c FROM cr GROUP BY 1, 2, 3),
         cw AS (
           SELECT *, SUM(c) OVER (PARTITION BY g ORDER BY r
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             ((nc + 1) * 9 + 9) // 10 AS k0
           FROM h),
         qh AS (
           SELECT g, MIN(r) AS rhat, MIN(nc) AS ncal,
             bool_or(k0 > nc) AS rank_clamped
           FROM cw WHERE cum >= LEAST(k0, nc) GROUP BY 1)
         SELECT b.g AS event_type,
           CAST(MIN(qh.ncal) AS BIGINT) AS n_cal,
           COUNT(*) AS n_test,
           round(CAST(MIN(qh.rhat) AS DOUBLE) / (CAST(MIN(cs.nc) AS DOUBLE) * 1e6), 9) AS qhat,
           CAST(SUM(CASE WHEN abs(CAST(b.q AS HUGEINT)*cs.nc - cs.sq) <= qh.rhat
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           bool_or(qh.rank_clamped) AS rank_clamped
         FROM b JOIN cs ON b.g = cs.g JOIN qh ON b.g = qh.g
         WHERE NOT b.cal GROUP BY 1""")
  )
}
