package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Helpers._

/** Model and ranking evaluation: `functions.Eval`. */
object EvalQueries {

  val all: Seq[Query] = Seq(

    // §2#52y ROC AUC per group via the exact rank-sum identity — the
    // per-group, [0,1]-normalized form of q215's U statistic; one
    // histogram partial agg + a group-partitioned cumulative window.
    Query("q235_grouped_auc", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("value"),
          (pmod(col("user_id"), lit(2)) === 1).as("label"))
      functions.Eval.groupedAuc(ev, "event_type", "label", "value", unitScale = 100L)
    },
      """WITH e AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v,
             (user_id % 2 = 1) AS p
           FROM events),
         h AS (
           SELECT g, v, COUNT(*) FILTER (WHERE p) AS cp,
                        COUNT(*) FILTER (WHERE NOT p) AS cn
           FROM e GROUP BY 1, 2),
         c AS (
           SELECT *, COALESCE(SUM(cp + cn) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM h),
         s AS (
           SELECT g, SUM(cp) AS n_pos, SUM(cn) AS n_neg,
             SUM(CAST(cp AS HUGEINT) * (2*cum + (cp + cn) + 1)) AS r2
           FROM c GROUP BY 1)
         SELECT g AS event_type, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             round(CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 9)
           END AS auc
         FROM s"""),

    // §2#52z Jensen–Shannon drift: finite on one-side-empty bins (the
    // PSI drop / KL blow-up case), bounded by ln 2 — the psi plan
    // shape exactly (bin cells + broadcast totals + one-row agg).
    Query("q236_js_divergence", (s, dir) =>
      functions.Eval.jsDivergence(
        streaming.Events.readBatch(s, s"$dir/events.parquet"),
        "event_type", "click", "purchase", "value", binWidth = 10.0),
      """WITH t AS (
           SELECT event_type, value FROM events
           WHERE event_type IN ('click', 'purchase')),
         cells AS (
           SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
             COUNT(*) FILTER (WHERE event_type = 'click') AS ca,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS cb
           FROM t GROUP BY 1),
         tot AS (
           SELECT COUNT(*) FILTER (WHERE event_type = 'click') AS na,
                  COUNT(*) FILTER (WHERE event_type = 'purchase') AS nb
           FROM t),
         terms AS (
           SELECT
             CASE WHEN ca > 0 THEN CAST(0.5 * (CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))
               * ln((CAST(ca AS DOUBLE)/CAST(na AS DOUBLE))
                 / ((CAST(ca AS DOUBLE)/CAST(na AS DOUBLE)
                   + CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE)) / 2.0)) AS DECIMAL(20,9)) END AS ta,
             CASE WHEN cb > 0 THEN CAST(0.5 * (CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE))
               * ln((CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE))
                 / ((CAST(ca AS DOUBLE)/CAST(na AS DOUBLE)
                   + CAST(cb AS DOUBLE)/CAST(nb AS DOUBLE)) / 2.0)) AS DECIMAL(20,9)) END AS tb,
             na, nb
           FROM cells, tot)
         SELECT round(CAST(COALESCE(SUM(ta), 0) + COALESCE(SUM(tb), 0) AS DOUBLE), 6) AS jsd_nats,
           COUNT(*) AS n_bins, MAX(na) AS n_a, MAX(nb) AS n_b
         FROM terms"""),

    // §2#52aa pairwise mutual information (feature redundancy /
    // leakage audit): all column pairs from ONE corpus pass —
    // per-row pair-cell explode (k(k−1)/2 structs, k fixed), one
    // partial agg to category-pair cells, marginals as aggs OVER the
    // cells joined back.
    Query("q237_mi_matrix", (s, dir) => {
      val o = t(s, dir, "orders").df.select(
        col("o_orderstatus"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("string").as("o_year"))
      functions.Eval.miMatrix(o, Seq("o_orderstatus", "o_orderpriority", "o_year"))
    },
      """WITH o AS (
           SELECT COALESCE(CAST(o_orderstatus AS VARCHAR), ' null') AS s,
                  COALESCE(CAST(o_orderpriority AS VARCHAR), ' null') AS p,
                  COALESCE(CAST(year(o_orderdate) AS VARCHAR), ' null') AS y
           FROM orders),
         pr AS (
           SELECT 'o_orderstatus' AS cx, 'o_orderpriority' AS cy, s AS x, p AS y FROM o
           UNION ALL
           SELECT 'o_orderstatus', 'o_year', s, y FROM o
           UNION ALL
           SELECT 'o_orderpriority', 'o_year', p, y FROM o),
         cells AS (SELECT cx, cy, x, y, COUNT(*) AS c FROM pr GROUP BY 1,2,3,4),
         m AS (
           SELECT *, SUM(c) OVER (PARTITION BY cx, cy, x) AS cxn,
                     SUM(c) OVER (PARTITION BY cx, cy, y) AS cyn,
                     SUM(c) OVER (PARTITION BY cx, cy) AS n
           FROM cells),
         terms AS (
           SELECT cx, cy, n,
             CAST((CAST(c AS DOUBLE)/CAST(n AS DOUBLE))
               * ln(CAST(n AS DOUBLE)*CAST(c AS DOUBLE)
                 / (CAST(cxn AS DOUBLE)*CAST(cyn AS DOUBLE))) AS DECIMAL(20,9)) AS term
           FROM m)
         SELECT cx AS col_x, cy AS col_y, CAST(MAX(n) AS BIGINT) AS n,
           round(CAST(SUM(term) AS DOUBLE), 6) AS mi_nats
         FROM terms GROUP BY 1, 2"""),

    // §2#52ab cumulative gain/lift table: deciles of the (score desc,
    // id) total order via the two-level q144 global-ordinal
    // decomposition — never a global row window; the final cumulative
    // window runs over 10 bucket rows.
    Query("q239_lift_table", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("value"),
          (pmod(col("user_id"), lit(2)) === 1).as("label"))
      functions.Eval.liftTable(ev, "label", "value", "event_id",
        nBuckets = 10, unitScale = 100L, bucketWidth = 5000L)
    },
      """WITH e AS (
           SELECT event_id, (user_id % 2 = 1) AS p,
             -CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS sq
           FROM events),
         r AS (
           SELECT *, ROW_NUMBER() OVER (ORDER BY sq, event_id) AS idx,
             COUNT(*) OVER () AS nt,
             SUM(CASE WHEN p THEN 1 ELSE 0 END) OVER () AS npt
           FROM e),
         b AS (
           SELECT ((idx - 1) * 10) // nt AS bucket, COUNT(*) AS n,
             COUNT(*) FILTER (WHERE p) AS n_pos, MAX(nt) AS nt, MAX(npt) AS npt
           FROM r GROUP BY 1),
         c AS (
           SELECT *, SUM(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
             SUM(n_pos) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
           FROM b)
         SELECT CAST(bucket AS BIGINT) AS bucket, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 9) AS rate,
           CASE WHEN npt > 0 THEN
             round((CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
               / (CAST(npt AS DOUBLE) / CAST(nt AS DOUBLE)), 9) END AS cum_lift
         FROM c"""),

    // §2#52ag (r7) multi-class classification report: confusion-table
    // marginals → per-class precision/recall/F1 + one overall row with
    // macro averages, accuracy, and Cohen's κ. Predictions synthesized
    // with a systematic event_id%7 confusion toward 'click' so every
    // cell type (diagonal, off-diagonal, imbalance) is exercised.
    Query("q263_classification_report", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type").as("actual"),
          when(col("event_id") % 7 === 0, lit("click"))
            .otherwise(col("event_type")).as("predicted"))
      functions.Eval.classificationReport(ev, "actual", "predicted")
    },
      // confusion cells -> marginals -> per-class PRF (rounded BEFORE the
      // macro DECIMAL(20,9) sums, mirroring Spark); kappa's expected
      // agreement from the exact HUGEINT marginal-product sum
      """WITH e AS (
           SELECT event_type AS a,
             CASE WHEN event_id % 7 = 0 THEN 'click' ELSE event_type END AS p
           FROM events),
         cells AS (SELECT a, p, COUNT(*) AS c FROM e GROUP BY 1, 2),
         cls AS (SELECT a AS label FROM cells UNION SELECT p FROM cells),
         rm AS (SELECT a AS label, SUM(c) AS n_actual FROM cells GROUP BY 1),
         cm AS (SELECT p AS label, SUM(c) AS n_pred FROM cells GROUP BY 1),
         dg AS (SELECT a AS label, c AS tp FROM cells WHERE a = p),
         pc AS (
           SELECT cls.label,
             COALESCE(n_actual, 0) AS n_actual, COALESCE(n_pred, 0) AS n_pred,
             COALESCE(tp, 0) AS tp
           FROM cls LEFT JOIN rm USING (label) LEFT JOIN cm USING (label)
             LEFT JOIN dg USING (label)),
         sc AS (
           SELECT label, n_actual, n_pred, tp,
             CASE WHEN n_pred > 0 THEN
               round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 9) END AS prec,
             CASE WHEN n_actual > 0 THEN
               round(CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE), 9) END AS rec,
             CASE WHEN n_pred > 0 AND n_actual > 0 THEN
               CASE WHEN tp > 0 THEN
                 round(2.0 * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
                   * (CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE))
                   / ((CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
                     + (CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE))), 9)
               ELSE 0.0 END END AS f1
           FROM pc),
         ov AS (
           SELECT COUNT(*) AS k, SUM(n_actual) AS n, SUM(tp) AS tpt,
             SUM(CAST(COALESCE(prec, 0) AS DECIMAL(20,9))) AS sp,
             SUM(CAST(COALESCE(rec, 0) AS DECIMAL(20,9))) AS sr,
             SUM(CAST(COALESCE(f1, 0) AS DECIMAL(20,9))) AS sf,
             SUM(CAST(n_actual AS HUGEINT) * n_pred) AS pe
           FROM sc)
         SELECT 'overall' AS section, 'all' AS label,
           CAST(n AS BIGINT) AS n_actual, CAST(n AS BIGINT) AS n_pred,
           CAST(tpt AS BIGINT) AS tp,
           round(CAST(sp AS DOUBLE) / CAST(k AS DOUBLE), 9) AS "precision",
           round(CAST(sr AS DOUBLE) / CAST(k AS DOUBLE), 9) AS recall,
           round(CAST(sf AS DOUBLE) / CAST(k AS DOUBLE), 9) AS f1,
           round(CAST(tpt AS DOUBLE) / CAST(n AS DOUBLE), 9) AS accuracy,
           CASE WHEN CAST(pe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
             round((CAST(tpt AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(pe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 - CAST(pe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 9)
           END AS kappa
         FROM ov
         UNION ALL
         SELECT 'class', label, CAST(n_actual AS BIGINT), CAST(n_pred AS BIGINT),
           CAST(tp AS BIGINT), prec, rec, f1,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         FROM sc"""),

    // §2#52ak (r7) Cramér's V association matrix over the q237
    // categorical triple — χ² normalized to [0,1] per pair so
    // associations are comparable across level counts; empty cells
    // folded in closed form.
    Query("q270_cramers_v", (s, dir) =>
      functions.Eval.cramersV(
        t(s, dir, "orders").df.select(col("o_orderstatus"), col("o_orderpriority"),
          year(col("o_orderdate")).as("o_year")),
        Seq("o_orderstatus", "o_orderpriority", "o_year")),
      // the q237 cell build; chi^2 folds empty cells in closed form
      // (sum over occupied of (c-e)^2/e - e, + N); terms DECIMAL(29,9)
      """WITH o AS (
           SELECT COALESCE(CAST(o_orderstatus AS VARCHAR), ' null') AS s,
                  COALESCE(CAST(o_orderpriority AS VARCHAR), ' null') AS p,
                  COALESCE(CAST(year(o_orderdate) AS VARCHAR), ' null') AS y
           FROM orders),
         pr AS (
           SELECT 'o_orderstatus' AS cx, 'o_orderpriority' AS cy, s AS x, p AS y FROM o
           UNION ALL
           SELECT 'o_orderstatus', 'o_year', s, y FROM o
           UNION ALL
           SELECT 'o_orderpriority', 'o_year', p, y FROM o),
         cells AS (SELECT cx, cy, x, y, COUNT(*) AS c FROM pr GROUP BY 1,2,3,4),
         m AS (
           SELECT *, SUM(c) OVER (PARTITION BY cx, cy, x) AS cxn,
                     SUM(c) OVER (PARTITION BY cx, cy, y) AS cyn,
                     SUM(c) OVER (PARTITION BY cx, cy) AS n
           FROM cells),
         lev AS (
           SELECT cx, cy, COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS sl
           FROM cells GROUP BY 1, 2),
         terms AS (
           SELECT cx, cy, n,
             CAST((CAST(c AS DOUBLE)
                 - CAST(cxn AS DOUBLE) * CAST(cyn AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(c AS DOUBLE)
                 - CAST(cxn AS DOUBLE) * CAST(cyn AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(cxn AS DOUBLE) * CAST(cyn AS DOUBLE) / CAST(n AS DOUBLE))
               - CAST(cxn AS DOUBLE) * CAST(cyn AS DOUBLE) / CAST(n AS DOUBLE)
               AS DECIMAL(29,9)) AS term
           FROM m),
         agg AS (
           SELECT cx AS col_x, cy AS col_y, MAX(n) AS nt, SUM(term) AS chi
           FROM terms GROUP BY 1, 2)
         SELECT col_x, col_y, CAST(nt AS BIGINT) AS n,
           CAST(r AS BIGINT) AS levels_x, CAST(sl AS BIGINT) AS levels_y,
           round(CAST(chi AS DOUBLE) + CAST(nt AS DOUBLE), 6) AS chi2,
           CASE WHEN LEAST(r, sl) - 1 > 0 THEN
             round(sqrt((CAST(chi AS DOUBLE) + CAST(nt AS DOUBLE))
               / (CAST(nt AS DOUBLE) * CAST(LEAST(r, sl) - 1 AS DOUBLE))), 9)
           END AS cramers_v
         FROM agg JOIN lev ON agg.col_x = lev.cx AND agg.col_y = lev.cy"""),

    // §2#52am (r7) PR-AUC per group: the imbalance-honest companion to
    // q235's ROC AUC — tie-aware step interpolation over the same
    // (group, score)-histogram state, exact cumulative counts.
    Query("q273_pr_auc", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), (pmod(col("user_id"), lit(2)) === 1).as("label"),
          col("value"))
      functions.Eval.groupedPrAuc(ev, "event_type", "label", "value", unitScale = 100L)
    },
      // the groupedAuc histogram state walked DESCENDING; per-threshold
      // tp*(cumTP/cumN) terms DECIMAL(20,9) pre-sum
      """WITH e AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v,
             (user_id % 2 = 1) AS p
           FROM events),
         h AS (
           SELECT g, v, COUNT(*) FILTER (WHERE p) AS cp,
                        COUNT(*) FILTER (WHERE NOT p) AS cn
           FROM e GROUP BY 1, 2),
         c AS (
           SELECT *,
             SUM(cp) OVER (PARTITION BY g ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
             SUM(cp + cn) OVER (PARTITION BY g ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnn
           FROM h),
         s AS (
           SELECT g, SUM(cp) AS n_pos, SUM(cn) AS n_neg,
             SUM(CAST(CAST(cp AS DOUBLE) * (CAST(ctp AS DOUBLE) / CAST(cnn AS DOUBLE))
               AS DECIMAL(20,9))) AS num
           FROM c GROUP BY 1)
         SELECT g AS event_type, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 THEN
             round(CAST(num AS DOUBLE) / CAST(n_pos AS DOUBLE), 9)
           END AS pr_auc
         FROM s"""),

    // §2#52ao (r7) Murphy decomposition of the binned Brier score over
    // the q242 calibration bins: reliability (recalibration can fix) −
    // resolution (it can't add) + irreducible uncertainty.
    Query("q276_brier", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((col("value") / 500.0).as("pred"),
          (pmod(col("user_id"), lit(2)) === 1).as("label"))
      functions.Eval.brierDecomposition(ev, "label", "pred", nBins = 10)
    },
      // the q242 bins (conf/acc rounded 1e-9 there, mirrored), Murphy
      // terms DECIMAL(29,9) pre-sum, final row in one mirrored op order
      """WITH e AS (
           SELECT (user_id % 2 = 1) AS p, CAST(value AS DOUBLE) / 500.0 AS pr
           FROM events),
         b AS (
           SELECT LEAST(GREATEST(CAST(floor(pr * 10) AS BIGINT), 0), 9) AS bin,
             CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS pq, p
           FROM e),
         a AS (
           SELECT bin, COUNT(*) AS n, COUNT(*) FILTER (WHERE p) AS n_pos,
             SUM(CAST(pq AS HUGEINT)) AS sp
           FROM b GROUP BY 1),
         c AS (
           SELECT bin, n, n_pos,
             round(CAST(sp AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 9) AS conf,
             round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 9) AS acc
           FROM a),
         t AS (SELECT SUM(n) AS nt, SUM(n_pos) AS pt FROM c),
         terms AS (
           SELECT nt, pt,
             CAST(CAST(n AS DOUBLE) * (conf - acc) * (conf - acc) AS DECIMAL(29,9)) AS rel,
             CAST(CAST(n AS DOUBLE)
               * (acc - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
               * (acc - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) AS DECIMAL(29,9)) AS res
           FROM c, t),
         g AS (SELECT nt, pt, SUM(rel) AS relt, SUM(res) AS rest
               FROM terms GROUP BY 1, 2)
         SELECT CAST(nt AS BIGINT) AS n,
           round(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS base_rate,
           round(CAST(relt AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS reliability,
           round(CAST(rest AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS resolution,
           round(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)
             * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 9) AS uncertainty,
           round(CAST(relt AS DOUBLE) / CAST(nt AS DOUBLE)
             - CAST(rest AS DOUBLE) / CAST(nt AS DOUBLE)
             + CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)
               * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 9) AS brier
         FROM g"""),

    // §2#52ap (r7) grouped multiclass MCC: the chance-corrected model-
    // comparison scalar per segment — three synthetic "models" with
    // DIFFERENT confusion rates (event_id mod 5/6/7 flipped to
    // 'click') so the ranking itself is exercised, not just the value.
    Query("q282_mcc", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(concat(lit("m"), pmod(col("user_id"), lit(3)).cast("string")).as("model"),
          col("event_type").as("actual"),
          when(pmod(col("event_id"), lit(5) + pmod(col("user_id"), lit(3))) === 0,
            lit("click")).otherwise(col("event_type")).as("predicted"))
      functions.Eval.mccByGroup(ev, "model", "actual", "predicted")
    },
      // confusion marginals exact HUGEINT; MCC numerator and both
      // sqrt factors mirrored doubles of exact integers
      """WITH e AS (
           SELECT 'm' || CAST(user_id % 3 AS VARCHAR) AS g, event_type AS a,
             CASE WHEN event_id % (5 + user_id % 3) = 0 THEN 'click'
                  ELSE event_type END AS p
           FROM events),
         cells AS (SELECT g, a, p, COUNT(*) AS c FROM e GROUP BY 1, 2, 3),
         rm AS (SELECT g, a AS l, SUM(c) AS t FROM cells GROUP BY 1, 2),
         cm AS (SELECT g, p AS l, SUM(c) AS q FROM cells GROUP BY 1, 2),
         marg AS (
           SELECT COALESCE(rm.g, cm.g) AS g,
             COALESCE(t, 0) AS t, COALESCE(q, 0) AS q
           FROM rm FULL OUTER JOIN cm ON rm.g = cm.g AND rm.l = cm.l),
         ms AS (
           SELECT g, SUM(CAST(t AS HUGEINT) * q) AS pt,
             SUM(CAST(q AS HUGEINT) * q) AS p2,
             SUM(CAST(t AS HUGEINT) * t) AS t2
           FROM marg GROUP BY 1),
         tot AS (
           SELECT g, SUM(c) AS n,
             SUM(CASE WHEN a = p THEN c ELSE 0 END) AS corr
           FROM cells GROUP BY 1)
         SELECT t.g AS model, CAST(n AS BIGINT) AS n,
           round(CAST(corr AS DOUBLE) / CAST(n AS DOUBLE), 9) AS accuracy,
           CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(p2 AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(t2 AS DOUBLE) > 0 THEN
             round((CAST(corr AS DOUBLE) * CAST(n AS DOUBLE) - CAST(pt AS DOUBLE))
               / sqrt(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(p2 AS DOUBLE))
               / sqrt(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(t2 AS DOUBLE)), 9)
           END AS mcc
         FROM tot t JOIN ms USING (g)"""),

    // §2#52as (r7) pairwise effect sizes across event types: Cohen's d
    // + Cliff's delta for all 10 pairs — the magnitude read-out behind
    // q264/q265's "differs" verdicts.
    Query("q296_effect_sizes", (s, dir) =>
      functions.Eval.effectSizes(
        streaming.Events.readBatch(s, s"$dir/events.parquet"),
        "event_type", "value"),
      // joint half-unit ranks per pair; moments exact HUGEINT; d and
      // delta one mirrored double op order each
      """WITH q AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
           FROM events),
         cells AS (SELECT g, v, COUNT(*) AS c FROM q GROUP BY 1, 2),
         mom AS (
           SELECT g, SUM(c) AS n, SUM(CAST(v AS HUGEINT) * c) AS s1,
             SUM(CAST(v AS HUGEINT) * v * c) AS s2
           FROM cells GROUP BY 1),
         prs AS (
           SELECT x.g AS ga, y.g AS gb
           FROM (SELECT g FROM mom) x JOIN (SELECT g FROM mom) y ON x.g < y.g),
         pcells AS (
           SELECT p.ga, p.gb, c.v,
             SUM(CASE WHEN c.g = p.ga THEN c.c ELSE 0 END) AS ta,
             SUM(c.c) AS t
           FROM cells c JOIN prs p ON c.g = p.ga OR c.g = p.gb
           GROUP BY 1, 2, 3),
         rk AS (
           SELECT ga, gb, ta,
             2 * COALESCE(SUM(t) OVER (PARTITION BY ga, gb ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
           FROM pcells),
         ra AS (SELECT ga, gb, SUM(CAST(ta AS HUGEINT) * r2) AS r2a
                FROM rk GROUP BY 1, 2),
         j AS (
           SELECT ra.ga, ra.gb, ra.r2a, ma.n AS na, ma.s1 AS s1a, ma.s2 AS s2a,
             mb.n AS nb, mb.s1 AS s1b, mb.s2 AS s2b
           FROM ra JOIN mom ma ON ma.g = ra.ga JOIN mom mb ON mb.g = ra.gb),
         k AS (
           SELECT *,
             (CAST(na AS DOUBLE) - 1.0)
               * ((CAST(s2a AS DOUBLE)
                   - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE))
                 / (CAST(na AS DOUBLE) - 1.0))
             + (CAST(nb AS DOUBLE) - 1.0)
               * ((CAST(s2b AS DOUBLE)
                   - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE))
                 / (CAST(nb AS DOUBLE) - 1.0)) AS pnum
           FROM j)
         SELECT ga AS group_a, gb AS group_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CASE WHEN na > 1 AND nb > 1 AND pnum > 0 THEN
             round((CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE)
                 - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE))
               / sqrt(pnum / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)), 6)
           END AS cohens_d,
           round((CAST(r2a AS DOUBLE)
               - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0))
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) - 1.0, 9) AS cliffs_delta
         FROM k"""),

    // §2#52ax (r10) Cronbach's α over the day × event-type panel of
    // daily value totals: do the k event-type series track one
    // underlying activity level — the metric-panel reliability gate;
    // zero-filled cells, exact n²-scaled variance integers.
    Query("q340_cronbach_alpha", (s, dir) =>
      functions.Eval.cronbachAlpha(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
            col("event_type"), col("value")),
        "day", "event_type", "value"),
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v FROM events),
         cells0 AS (SELECT day, event_type, SUM(CAST(v AS HUGEINT)) AS x FROM e GROUP BY 1, 2),
         grid AS (
           SELECT d.day, i.event_type, COALESCE(c.x, 0) AS x
           FROM (SELECT DISTINCT day FROM cells0) d
           CROSS JOIN (SELECT DISTINCT event_type FROM cells0) i
           LEFT JOIN cells0 c ON c.day = d.day AND c.event_type = i.event_type),
         pi AS (
           SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
           FROM grid GROUP BY 1),
         ia AS (
           SELECT COUNT(*) AS k, MAX(n) AS n,
             SUM(CAST(n AS HUGEINT) * sxx - sx * sx) AS numi FROM pi),
         tot AS (
           SELECT CAST(CAST(COUNT(*) AS HUGEINT) * SUM(t * t) - SUM(t) * SUM(t) AS DOUBLE) AS numt
           FROM (SELECT day, SUM(x) AS t FROM grid GROUP BY 1))
         SELECT CAST(k AS INT) AS k_items, CAST(n AS BIGINT) AS n_subjects,
           CASE WHEN k >= 2 AND numt > 0 THEN
             round(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0) *
               (1.0 - CAST(numi AS DOUBLE) / numt), 9) END AS alpha
         FROM ia, tot"""),

    // §2#52ay (r10) information-gain feature screen: how many nats of
    // event-type uncertainty hour-of-day and the value bucket each
    // remove — the mutual-information ranking feature selection starts
    // from, with the H(label)/H(label|feature) decomposition reported.
    Query("q341_info_gain", (s, dir) =>
      functions.Eval.infoGain(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select(col("event_type"),
            ((unix_micros(col("ts")) / lit(3600000000L)).cast("long") % 24)
              .as("hour_of_day"),
            floor(col("value") / lit(50.0)).cast("long").as("value_bin")),
        "event_type", Seq("hour_of_day", "value_bin")),
      """WITH e AS (
           SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
             CAST(floor(value / 50.0) AS BIGINT) AS value_bin
           FROM events),
         n AS (SELECT COUNT(*) AS nt FROM e),
         hl AS (
           SELECT SUM(CAST((CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
             * ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) AS DECIMAL(20,9))) AS sy
           FROM (SELECT event_type, COUNT(*) AS c FROM e GROUP BY 1), n),
         hch AS (
           SELECT SUM(CAST((CAST(cvc AS DOUBLE) / CAST(nt AS DOUBLE))
             * ln(CAST(cvc AS DOUBLE) / CAST(cv AS DOUBLE)) AS DECIMAL(20,9))) AS sc
           FROM (SELECT hour_of_day AS v, event_type, COUNT(*) AS cvc FROM e GROUP BY 1, 2) c
           JOIN (SELECT hour_of_day AS v, COUNT(*) AS cv FROM e GROUP BY 1) t USING (v), n),
         hcb AS (
           SELECT SUM(CAST((CAST(cvc AS DOUBLE) / CAST(nt AS DOUBLE))
             * ln(CAST(cvc AS DOUBLE) / CAST(cv AS DOUBLE)) AS DECIMAL(20,9))) AS sc
           FROM (SELECT value_bin AS v, event_type, COUNT(*) AS cvc FROM e GROUP BY 1, 2) c
           JOIN (SELECT value_bin AS v, COUNT(*) AS cv FROM e GROUP BY 1) t USING (v), n)
         SELECT 'hour_of_day' AS feature,
           round(-CAST(sy AS DOUBLE), 6) AS h_label,
           round(-CAST(sc AS DOUBLE), 6) AS h_cond,
           round(CAST(sc AS DOUBLE) - CAST(sy AS DOUBLE), 6) AS info_gain
         FROM hl, hch
         UNION ALL SELECT 'value_bin',
           round(-CAST(sy AS DOUBLE), 6), round(-CAST(sc AS DOUBLE), 6),
           round(CAST(sc AS DOUBLE) - CAST(sy AS DOUBLE), 6)
         FROM hl, hcb"""),

    // §2#52az (r10) Fleiss' κ inter-rater agreement: each day's first
    // 10 events (by time) act as 10 raters assigning the day to an
    // event-type category — κ near 0 = the "ratings" are noise; the
    // multi-annotator label-quality gate. Fixed-n design: days with
    // fewer than 10 events drop.
    Query("q342_fleiss_kappa", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          col("event_type"), unix_micros(col("ts")).as("tus"), col("event_id"))
      val first10 = ev.withColumn("rn", row_number().over(
          Window.partitionBy("day").orderBy(col("tus"), col("event_id"))))
        .filter(col("rn") <= 10)
      functions.Eval.fleissKappa(first10, "day", "event_type", 10)
    },
      """WITH e AS (
           SELECT epoch_us(ts) // 86400000000 AS day, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY epoch_us(ts) // 86400000000
               ORDER BY epoch_ns(ts)//1000, event_id) AS rn
           FROM events),
         r AS (SELECT day, event_type FROM e WHERE rn <= 10),
         cnt AS (SELECT day, event_type, COUNT(*) AS n FROM r GROUP BY 1, 2),
         ps AS (SELECT day, SUM(n) AS tot, SUM(n * n) AS s2 FROM cnt GROUP BY 1),
         kept AS (SELECT day, s2 FROM ps WHERE tot = 10),
         ct AS (
           SELECT SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS sm2 FROM (
             SELECT c.event_type, SUM(c.n) AS m
             FROM cnt c JOIN kept USING (day) GROUP BY 1)),
         sa AS (SELECT COUNT(*) AS ns, SUM(CAST(s2 AS HUGEINT)) AS s2tot FROM kept),
         raw AS (
           SELECT ns,
             (CAST(s2tot AS DOUBLE) - CAST(ns AS DOUBLE) * 10.0)
               / (CAST(ns AS DOUBLE) * 10.0 * (10.0 - 1.0)) AS pbar,
             CAST(sm2 AS DOUBLE)
               / (CAST(ns AS DOUBLE) * 10.0 * CAST(ns AS DOUBLE) * 10.0) AS pe
           FROM sa, ct)
         SELECT CAST(ns AS BIGINT) AS n_subjects, CAST(10 AS INT) AS n_raters,
           CASE WHEN ns > 0 THEN round(pbar, 9) END AS p_bar,
           CASE WHEN ns > 0 THEN round(pe, 9) END AS p_e,
           CASE WHEN ns > 0 AND pe < 1.0 THEN round((pbar - pe) / (1.0 - pe), 9) END AS kappa
         FROM raw"""),

    // §2#52be (r10) McNemar's paired test: per user, "clicked" vs
    // "purchased" as the paired binary outcomes — only discordant
    // users carry signal; continuity-corrected χ².
    Query("q350_mcnemar", (s, dir) => {
      val per = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
      functions.Eval.mcnemar(per, "a", "b")
    },
      """WITH per AS (
           SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
           FROM events GROUP BY 1),
         c AS (SELECT
             CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM per)
         SELECT n00, n01, n10, n11,
           CASE WHEN n01 + n10 > 0 THEN round(
             CAST((abs(n01 - n10) - 1) * (abs(n01 - n10) - 1) AS DOUBLE)
               / CAST(n01 + n10 AS DOUBLE), 9) END AS chi2
         FROM c"""),

    // §2#52bf (r10) IPW average treatment effect: urgent-priority
    // orders as "treatment", order value as outcome, market segment as
    // the propensity stratum — positivity-violating strata excluded
    // loudly, per-row weighted contributions integer-quantized.
    Query("q351_ipw_ate", (s, dir) => {
      val j = t(s, dir, "orders").df
        .join(t(s, dir, "customer").df,
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("treated"),
          col("o_totalprice"))
      functions.Eval.ipwAte(j, "seg", "treated", "o_totalprice")
    },
      // mirrors Eval.ipwAte: stratified propensities, quantized weighted
      // contributions, positivity-violating strata excluded
      """WITH j AS (
           SELECT c_mktsegment AS s,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS t,
             CAST(o_totalprice AS DOUBLE) AS y
           FROM orders JOIN customer ON o_custkey = c_custkey),
         st AS (SELECT s, COUNT(*) AS n,
             CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt
           FROM j GROUP BY 1),
         keep AS (SELECT s, CAST(nt AS DOUBLE) / CAST(n AS DOUBLE) AS e
           FROM st WHERE nt > 0 AND nt < n),
         r AS (SELECT j.s, j.t, CAST(floor(
             (CASE WHEN t THEN y / e ELSE -y / (1.0 - e) END) * 1000000 + 0.5)
             AS BIGINT) AS wq
           FROM j JOIN keep USING (s))
         SELECT s AS stratum, COUNT(*) AS n,
           CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
           round(CAST(SUM(CAST(wq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 9) AS ate
         FROM r GROUP BY 1
         UNION ALL SELECT '_ate', COUNT(*),
           CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT),
           round(CAST(SUM(CAST(wq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 9)
         FROM r
         UNION ALL SELECT '_dropped',
           CAST(COALESCE((SELECT SUM(n) FROM st WHERE NOT (nt > 0 AND nt < n)), 0) AS BIGINT),
           CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#52bg (r10) approximate-randomization permutation test for the
    // click-vs-view mean-value difference: 100 content-addressed
    // md5 relabelings expand map-side (the q248 bootstrap shape),
    // p = (1 + #extreme)/(B + 1).
    Query("q352_permutation_test", (s, dir) =>
      functions.Eval.permutationTestDiff(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select(col("event_type"), col("value"), col("event_id")),
        "event_type", "value", "click", "view", "event_id", reps = 100),
      // mirrors Eval.permutationTestDiff: md5 relabelings, quantized
      // sums, identically-shaped mean differences
      """WITH two AS (
           SELECT CAST(event_id AS VARCHAR) AS id, event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events WHERE event_type IN ('click', 'view')),
         obs AS (SELECT
             CAST(SUM(CASE WHEN g = 'click' THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(SUM(CASE WHEN g != 'click' THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN g != 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS d
           FROM two),
         ex AS (SELECT two.vq,
             substr(md5(CAST(bb.b AS VARCHAR) || ' ' || two.id), 1, 1) < '8' AS side,
             bb.b
           FROM two CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS b) bb),
         perms AS (SELECT b,
             CAST(SUM(CASE WHEN side THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN side THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(SUM(CASE WHEN NOT side THEN CAST(vq AS HUGEINT) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN NOT side THEN 1 ELSE 0 END) AS DOUBLE) AS d
           FROM ex GROUP BY 1),
         ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM perms, obs
           WHERE abs(perms.d) >= abs(obs.d))
         SELECT round((SELECT d FROM obs) / 1000000.0, 9) AS observed_diff,
           CAST(100 AS BIGINT) AS n_reps, (SELECT n FROM ne) AS n_extreme,
           round((1.0 + (SELECT n FROM ne)) / 101.0, 9) AS p_value"""),

    // §2#52bj (r10) homogeneity / completeness / V-measure of the
    // source partition against the language truth — the symmetric
    // entropy scorecard a single information-gain number hides.
    Query("q355_v_measure", (s, dir) =>
      functions.Eval.vMeasure(t(s, dir, "documents").df, "lang", "source"),
      // mirrors Eval.vMeasure: DECIMAL-quantized p·ln p terms, entropy
      // ratios in identically-shaped doubles
      """WITH cells AS (SELECT lang AS c, source AS k, COUNT(*) AS cnt
           FROM documents GROUP BY 1, 2),
         nn AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM cells),
         hc AS (SELECT CAST(SUM(CAST(
             -(CAST(m AS DOUBLE) / n) * ln(CAST(m AS DOUBLE) / n)
             AS DECIMAL(20,9))) AS DOUBLE) AS h
           FROM (SELECT c, SUM(cnt) AS m FROM cells GROUP BY 1), nn),
         hk AS (SELECT CAST(SUM(CAST(
             -(CAST(m AS DOUBLE) / n) * ln(CAST(m AS DOUBLE) / n)
             AS DECIMAL(20,9))) AS DOUBLE) AS h
           FROM (SELECT k, SUM(cnt) AS m FROM cells GROUP BY 1), nn),
         hck AS (SELECT CAST(SUM(CAST(
             -(CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / CAST(m AS DOUBLE))
             AS DECIMAL(20,9))) AS DOUBLE) AS h
           FROM cells JOIN (SELECT k, SUM(cnt) AS m FROM cells GROUP BY 1) mk
             USING (k), nn),
         hkc AS (SELECT CAST(SUM(CAST(
             -(CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / CAST(m AS DOUBLE))
             AS DECIMAL(20,9))) AS DOUBLE) AS h
           FROM cells JOIN (SELECT c, SUM(cnt) AS m FROM cells GROUP BY 1) mc
             USING (c), nn),
         v AS (SELECT hc.h AS hc, hk.h AS hk, hck.h AS hck, hkc.h AS hkc,
             CASE WHEN hc.h = 0 THEN 1.0 ELSE 1.0 - hck.h / hc.h END AS hom,
             CASE WHEN hk.h = 0 THEN 1.0 ELSE 1.0 - hkc.h / hk.h END AS com
           FROM hc, hk, hck, hkc)
         SELECT round(hc, 9) AS h_class, round(hk, 9) AS h_cluster,
           round(hck, 9) AS h_class_given_cluster,
           round(hkc, 9) AS h_cluster_given_class,
           round(hom, 9) AS homogeneity, round(com, 9) AS completeness,
           round(CASE WHEN hom + com = 0 THEN 0.0
             ELSE 2.0 * hom * com / (hom + com) END, 9) AS v_measure
         FROM v"""),

    // §2#52bl (r10) Cochran's Q across the click/view/purchase
    // per-user flags — k paired binary treatments on the same blocks,
    // McNemar's k-way generalization; all-integer cells.
    Query("q358_cochran_q", (s, dir) => {
      val per = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("t_click"),
          max(when(col("event_type") === "view", 1L).otherwise(0L)).as("t_view"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("t_purchase"))
      functions.Eval.cochranQ(per, Seq("t_click", "t_view", "t_purchase"))
    },
      """WITH per AS (
           SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS tc,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS tv,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS tp
           FROM events GROUP BY 1),
         m AS (
           SELECT COUNT(*) AS n_blocks, SUM(tc) AS t1, SUM(tv) AS t2,
             SUM(tp) AS t3, SUM(tc + tv + tp) AS bsum,
             SUM((tc + tv + tp) * (tc + tv + tp)) AS b2sum
           FROM per)
         SELECT n_blocks, CAST(3 AS BIGINT) AS k, CAST(2 AS BIGINT) AS df,
           CASE WHEN 3 * bsum - b2sum > 0 THEN
             round(CAST(2 * (3 * (t1 * t1 + t2 * t2 + t3 * t3) - bsum * bsum)
                 AS DOUBLE) / CAST(3 * bsum - b2sum AS DOUBLE), 9)
           END AS q_stat
         FROM m"""),

    // §2#52bm (r10) quadratic-weighted Cohen's κ between two ordinal
    // document quality raters (char-length band vs token-count band) —
    // the two-rater ordinal agreement gate; integer weights and cells.
    Query("q359_cohen_kappa", (s, dir) => {
      val toks = functions.TextFunctions.tokens(col("text"))
      val rated = t(s, dir, "documents").df
        .select(least(floor(length(col("text")) / 400L), lit(4L)).as("rater_a"),
          least(floor(size(toks).cast("long") / 80L), lit(4L)).as("rater_b"))
      functions.Eval.cohenKappaWeighted(rated, "rater_a", "rater_b")
    },
      """WITH r AS (
           SELECT least(length(text) // 400, 4) AS a,
             least(len(string_split_regex(lower(trim(text)), '\s+')) // 80, 4) AS b
           FROM documents),
         cells AS (SELECT a, b, COUNT(*) AS n FROM r GROUP BY 1, 2),
         nn AS (SELECT SUM(n) AS n FROM cells),
         obs AS (SELECT SUM((a - b) * (a - b) * n) AS wo FROM cells),
         ra AS (SELECT a, SUM(n) AS ra FROM cells GROUP BY 1),
         cb AS (SELECT b, SUM(n) AS cb FROM cells GROUP BY 1),
         ex AS (SELECT SUM(CAST((ra.a - cb.b) * (ra.a - cb.b) AS HUGEINT)
               * ra.ra * cb.cb) AS we
           FROM ra CROSS JOIN cb)
         SELECT CAST(nn.n AS BIGINT) AS n, CAST(obs.wo AS BIGINT) AS w_observed,
           CASE WHEN ex.we <> 0 THEN
             round(1.0 - CAST(nn.n AS DOUBLE) * CAST(obs.wo AS DOUBLE)
               / CAST(ex.we AS DOUBLE), 9)
           END AS kappa_w
         FROM nn, obs, ex"""),

    // §2#52bn (r10) reliability diagram + ECE: fractional-part
    // confidence vs the user-parity label over events — per-bin
    // conf/acc/gap cells plus the weighted-ECE total row.
    Query("q365_calibration", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((col("value") - floor(col("value"))).as("conf"),
          (pmod(col("user_id"), lit(2)) === 1).as("label"))
      functions.Eval.calibrationError(ev, "conf", "label", bins = 10)
    },
      """WITH g AS (
           SELECT value - floor(value) AS conf,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS y
           FROM events),
         cells AS (
           SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS b,
             COUNT(*) AS n,
             SUM(CAST(CAST(floor(conf * 1000000 + 0.5) AS BIGINT) AS HUGEINT)) AS ss,
             SUM(y) AS np
           FROM g GROUP BY 1),
         pb AS (
           SELECT b, n, np,
             CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS conf,
             CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS acc
           FROM cells),
         pb2 AS (SELECT *, abs(acc - conf) AS gap FROM pb)
         SELECT 'bin' AS section, CAST(b AS INT) AS bin, CAST(n AS BIGINT) AS n,
           round(conf, 9) AS avg_conf, round(acc, 9) AS accuracy,
           round(gap, 9) AS gap
         FROM pb2
         UNION ALL
         SELECT 'total', CAST(NULL AS INT), CAST(SUM(n) AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE),
           round(CAST(SUM(CAST(CAST(n AS DOUBLE) * gap AS DECIMAL(20,9))) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE), 9)
         FROM pb2"""),

    // §2#52bo (r10) per-segment odds/risk ratios with the Woolf
    // ln-domain interval: urgent-priority exposure vs high-value
    // outcome across market segments — exact 2x2 integer cells.
    Query("q366_odds_risk", (s, dir) => {
      val j = t(s, dir, "orders").df
        .join(t(s, dir, "customer").df, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("exposed"),
          (col("o_totalprice") > 150000.0).as("outcome"))
      functions.Eval.oddsRiskBySegment(j, "seg", "exposed", "outcome")
    },
      """WITH j AS (
           SELECT c_mktsegment AS seg,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
             o_totalprice > 150000.0 AS o
           FROM orders JOIN customer ON o_custkey = c_custkey),
         cells AS (
           SELECT seg AS segment,
             SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS d
           FROM j GROUP BY 1)
         SELECT segment, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
               / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 9) END AS odds_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round((CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))
               / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))), 9)
           END AS risk_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
               - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                 + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)), 9)
           END AS ln_or_lo,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
               + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                 + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)), 9)
           END AS ln_or_hi
         FROM cells"""),

    // §2#52bp (r10) Krippendorff's α (nominal): within-(user, day)
    // event-type consistency — the any-m inter-rater coefficient;
    // single-rating units drop (the missing-data contract),
    // per-unit disagreement terms DECIMAL-quantized pre-sum.
    Query("q368_krippendorff", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(concat_ws(":", col("user_id"),
          (unix_micros(col("ts")) / lit(86400000000L)).cast("long")).as("unit"),
          col("event_type"))
      functions.Eval.krippendorffAlpha(ev, "unit", "event_type")
    },
      """WITH r AS (
           SELECT CAST(user_id AS VARCHAR) || ':' ||
               CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS u,
             event_type AS v
           FROM events),
         mu AS (SELECT u, COUNT(*) AS m FROM r GROUP BY 1 HAVING COUNT(*) >= 2),
         nuc AS (
           SELECT r.u, r.v, COUNT(*) AS k, ANY_VALUE(mu.m) AS m
           FROM r JOIN mu ON r.u = mu.u GROUP BY 1, 2),
         dsum AS (
           SELECT SUM(CAST(CAST(k AS DOUBLE) * CAST(m - k AS DOUBLE)
             / CAST(m - 1 AS DOUBLE) AS DECIMAL(20,9))) AS do_sum
           FROM nuc),
         ncs AS (SELECT v, SUM(k) AS nc FROM nuc GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(nc) AS BIGINT) AS n,
             CAST(SUM(CAST(nc AS HUGEINT) * nc) AS DOUBLE) AS nc2
           FROM ncs),
         un AS (SELECT COUNT(*) AS units FROM mu)
         SELECT CAST(units AS BIGINT) AS n_units, n AS n_ratings,
           CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - nc2 > 0.0 THEN
             round(1.0 - (CAST(n AS DOUBLE) - 1.0) * CAST(do_sum AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - nc2), 9) + 0.0
           END AS alpha
         FROM un, tot, dsum"""),

    // §2#52av (r8) Cochran–Armitage trend: is the purchase RATE
    // monotone across the hour-of-day ordinal — the ordered companion
    // to q146's anywhere-different chi-square; exact integer sums, one
    // mirrored double z.
    Query("q319_cochran_armitage", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(((unix_micros(col("ts")) / lit(3600000000L)).cast("long") % 24).as("hr"),
          (col("event_type") === "purchase").cast("long").as("is_purchase"))
      functions.Eval.cochranArmitage(ev, "hr", "is_purchase")
    },
      """WITH e AS (
           SELECT (epoch_us(ts) // 3600000000) % 24 AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
         a AS (
           SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS r,
             SUM(CAST(s AS HUGEINT)) AS sn, SUM(CAST(s AS HUGEINT) * y) AS sr,
             SUM(CAST(s AS HUGEINT) * s) AS ssn, COUNT(DISTINCT s) AS k
           FROM e)
         SELECT n, r, CAST(k AS INT) AS n_groups,
           round(CAST(sr AS DOUBLE)
             - CAST(r AS DOUBLE) / CAST(n AS DOUBLE) * CAST(sn AS DOUBLE), 9) AS t_stat,
           round(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
               * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(ssn AS DOUBLE)
                 - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS var_t,
           CASE WHEN r > 0 AND r < n AND k >= 2
                 AND CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
                   * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(ssn AS DOUBLE)
                     - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0
             THEN round((CAST(sr AS DOUBLE)
                 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE) * CAST(sn AS DOUBLE))
               / sqrt(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
                 * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(ssn AS DOUBLE)
                   - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))), 9)
           END AS z
         FROM a"""),

    // §2#52aw (r8) Bartlett variance-equality test across event types —
    // the parametric, sharper sibling of q266's robust Levene; ln-of-
    // variance terms DECIMAL-quantized pre-sum, zero-variance cells
    // refuse to a NULL verdict.
    Query("q320_bartlett", (s, dir) =>
      functions.Eval.bartlett(
        streaming.Events.readBatch(s, s"$dir/events.parquet"),
        "event_type", "value"),
      """WITH e AS (
           SELECT event_type AS g,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
           FROM events),
         gs AS (
           SELECT g, COUNT(*) AS ni,
             SUM(CAST(v AS HUGEINT)) AS s1, SUM(CAST(v AS HUGEINT) * v) AS s2
           FROM e GROUP BY 1 HAVING COUNT(*) >= 2),
         terms AS (
           SELECT ni,
             CAST(CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(ni AS DOUBLE)
               AS DECIMAL(38,6)) AS ssdq,
             CAST((CAST(ni AS DOUBLE) - 1.0)
               * ln((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(ni AS DOUBLE))
                 / (CAST(ni AS DOUBLE) - 1.0) / (1000000.0 * 1000000.0))
               AS DECIMAL(25,12)) AS lt,
             CAST(1.0 / (CAST(ni AS DOUBLE) - 1.0) AS DECIMAL(25,12)) AS ci,
             CASE WHEN (CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(ni AS DOUBLE))
                 / (CAST(ni AS DOUBLE) - 1.0) / (1000000.0 * 1000000.0) <= 0.0
               THEN 1 ELSE 0 END AS degen
           FROM gs),
         a AS (
           SELECT COUNT(*) AS k, CAST(SUM(ni) AS BIGINT) AS n,
             SUM(ssdq) AS ssdtot, SUM(lt) AS ltsum, SUM(ci) AS csum,
             SUM(degen) AS ndegen
           FROM terms)
         SELECT CAST(k AS INT) AS k, n,
           CASE WHEN k >= 2 AND ndegen = 0 THEN
             round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                 * ln(CAST(ssdtot AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                   / (1000000.0 * 1000000.0))
               - CAST(ltsum AS DOUBLE))
               / (1.0 + (CAST(csum AS DOUBLE)
                   - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                 / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 9)
           END AS chi2_bartlett,
           CAST(k - 1 AS INT) AS df
         FROM a"""),

    // §2#52ar (r7) character error rate per language: Spark's native
    // levenshtein between the ASCII-pinned reference text and a
    // deterministic corruption (leet substitutions + tail truncation)
    // — micro vs macro CER per language, the ASR/OCR eval shape on
    // pipeline text transforms.
    Query("q292_cer", (s, dir) => {
      val docs = t(s, dir, "documents").df
      val ref = substring(regexp_replace(lower(col("text")), "[^\\x20-\\x7e]", ""), 1, 200)
      val prep = docs.select(col("lang"), ref.as("ref"),
        substring(translate(ref, "aeio", "4310"), 1, 180).as("hyp"))
      functions.Eval.charErrorRate(prep, "lang", "ref", "hyp")
    },
      // ASCII-pinned alphabet so levenshtein counts identically; macro
      // terms DECIMAL(20,9) pre-sum, micro one division of exact longs
      """WITH prep AS (
           SELECT lang,
             substr(regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g'), 1, 200)
               AS ref
           FROM documents),
         p2 AS (
           SELECT lang, ref,
             substr(translate(ref, 'aeio', '4310'), 1, 180) AS hyp
           FROM prep),
         sc AS (
           SELECT lang, CAST(levenshtein(ref, hyp) AS BIGINT) AS lev,
             CAST(length(ref) AS BIGINT) AS len
           FROM p2)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN len = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_ref,
           CAST(SUM(CASE WHEN len > 0 THEN lev ELSE 0 END) AS BIGINT) AS edit_total,
           CAST(SUM(CASE WHEN len > 0 THEN len ELSE 0 END) AS BIGINT) AS ref_chars,
           CASE WHEN SUM(CASE WHEN len > 0 THEN len ELSE 0 END) > 0 THEN
             round(CAST(SUM(CASE WHEN len > 0 THEN lev ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN len > 0 THEN len ELSE 0 END) AS DOUBLE), 9)
           END AS cer_micro,
           CASE WHEN SUM(CASE WHEN len > 0 THEN 1 ELSE 0 END) > 0 THEN
             round(CAST(SUM(CASE WHEN len > 0 THEN
                 CAST(CAST(lev AS DOUBLE) / CAST(len AS DOUBLE) AS DECIMAL(20,9))
               END) AS DOUBLE)
               / CAST(SUM(CASE WHEN len > 0 THEN 1 ELSE 0 END) AS DOUBLE), 9)
           END AS cer_macro
         FROM sc GROUP BY 1"""),

    // §2#52af (r7) grouped two-proportion z-tests with
    // Benjamini–Hochberg FDR control: "which event types shifted the
    // value>50 share between user cohorts" asked across ALL types at
    // once with the false-discovery share capped at 5% — one partial
    // agg to |types| cells; the BH sort runs over the vocabulary-sized
    // group table, quantized-integer thresholds.
    Query("q260_fdr_bh", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"),
          (pmod(col("user_id"), lit(2)) === 1).as("arm"),
          (col("value") > 50.0).as("flag"))
      functions.Eval.proportionTestBh(ev, "event_type", "arm", "flag")
    },
      // z from exact counts in ONE mirrored double op order; normal tail
      // via the A&S 7.1.26 erf polynomial (Horner order mirrored); BH on
      // 1e-9-quantized p's with DECIMAL cross-multiplied thresholds
      """WITH c AS (
           SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_treat,
             COUNT(*) FILTER (WHERE user_id % 2 = 1 AND value > 50) AS x_treat,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_ctrl,
             COUNT(*) FILTER (WHERE user_id % 2 = 0 AND value > 50) AS x_ctrl
           FROM events GROUP BY 1),
         z AS (
           SELECT *,
             (n_treat = 0 OR n_ctrl = 0 OR x_treat + x_ctrl = 0
              OR x_treat + x_ctrl = n_treat + n_ctrl) AS degen,
             (CAST(x_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
              - CAST(x_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
             / sqrt((CAST(x_treat + x_ctrl AS DOUBLE) / CAST(n_treat + n_ctrl AS DOUBLE))
                 * (1.0 - CAST(x_treat + x_ctrl AS DOUBLE) / CAST(n_treat + n_ctrl AS DOUBLE))
                 * (1.0 / CAST(n_treat AS DOUBLE) + 1.0 / CAST(n_ctrl AS DOUBLE))) AS zv
           FROM c),
         pv AS (
           SELECT *,
             CASE WHEN NOT degen THEN CAST(floor(
               (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs(zv) / 1.4142135623730951)))
                  + -1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs(zv) / 1.4142135623730951)))
                  + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs(zv) / 1.4142135623730951)))
                  + -0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs(zv) / 1.4142135623730951)))
                  + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs(zv) / 1.4142135623730951))))
               * exp(-(abs(zv) / 1.4142135623730951) * (abs(zv) / 1.4142135623730951))
               * 1000000000 + 0.5) AS BIGINT) END AS pq
           FROM z),
         b AS (
           SELECT *,
             CASE WHEN pq IS NOT NULL THEN CAST(ROW_NUMBER() OVER
               (ORDER BY pq ASC NULLS LAST, event_type) AS INT) END AS rk,
             COUNT(pq) OVER () AS m
           FROM pv),
         o AS (
           SELECT *, CASE WHEN pq IS NOT NULL
               AND CAST(pq AS DECIMAL(38,0)) * 100 * m
                   <= CAST(5 AS DECIMAL(38,0)) * rk * 1000000000
             THEN rk END AS ok
           FROM b)
         SELECT event_type, n_treat, x_treat, n_ctrl, x_ctrl,
           CASE WHEN NOT degen THEN round(zv, 6) END AS z,
           CAST(pq AS DOUBLE) / 1e9 AS p_value,
           rk AS p_rank, m AS m_tests,
           COALESCE(rk <= MAX(ok) OVER (), false) AS rejected
         FROM o"""),

    // §2#52ae Poisson bootstrap CI for per-type mean value: B=100
    // content-addressed replicates, multiplicities from integer CDF
    // thresholds, fan-out map-local collapsing to (group, replicate)
    // cells — uncertainty at corpus scale without coordinated
    // resampling. B is a knob (bootstrapCiMean(b=...)); the gate pins
    // B=100 DELIBERATELY (r9 perf review): ~100 replicates is the
    // floor for stable percentile tails at alpha=5%, the cost is pure
    // map-side compute (no shuffle growth — embarrassingly parallel
    // on a real cluster), and halving B to shave the local benchmark
    // would trade statistical validity for nothing architectural.
    Query("q248_bootstrap_ci", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), col("value"), col("event_id"))
      functions.Eval.bootstrapCiMean(ev, "event_type", "value", "event_id")
    },
      OracleGen.bootstrapCiSql(
      "event_type", "value", "event_id", "events")),

    // §2#52ad isotonic (PAV) calibration: the optimal monotone
    // score→probability map via the data-parallel minimax identity —
    // pooled (group, x) cells, bounded pair join under the theilSen
    // loud-refusal contract, two cell-sized windows.
    Query("q246_isotonic", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"), floor(col("value")).as("xb"),
          (pmod(col("user_id"), lit(2)) === 1).cast("int").as("label"))
      functions.Eval.isotonicFit(ev, "event_type", "xb", "label")
    },
      """WITH base AS (
           SELECT event_type AS g,
             CAST(floor(CAST(floor(value) AS DOUBLE) * 1 + 0.5) AS BIGINT) AS x,
             CAST(floor(CAST(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT) AS y
           FROM events),
         pooled AS (
           SELECT g, x, SUM(CAST(y AS HUGEINT)) AS sy, COUNT(*) AS w
           FROM base GROUP BY 1, 2),
         pref AS (
           SELECT g, x, sy, w,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS i,
             SUM(sy) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             SUM(w) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
           FROM pooled),
         pairs AS (
           SELECT l.g, l.i AS j, r.i AS k,
             CAST(r.s - (l.s - l.sy) AS DOUBLE)
               / CAST(r.cw - (l.cw - l.w) AS DOUBLE) AS a
           FROM pref l JOIN pref r ON l.g = r.g AND l.i <= r.i),
         sm AS (
           SELECT g, j, k, MIN(a) OVER (PARTITION BY g, j ORDER BY k DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
           FROM pairs),
         ft AS (SELECT g, k, MAX(m) AS fit FROM sm GROUP BY 1, 2)
         SELECT p.g AS event_type, CAST(p.x AS DOUBLE) AS x, p.w AS n,
           round(CAST(p.sy AS DOUBLE) / (1000000.0 * CAST(p.w AS DOUBLE)), 9) AS y_mean,
           round(ft.fit / 1000000.0, 9) AS fit
         FROM pref p JOIN ft ON p.g = ft.g AND p.i = ft.k"""),

    // §2#52ac calibration (reliability) bins: conf-vs-acc per
    // confidence decile — ONE partial agg to ≤10 cells; micro-unit
    // DECIMAL sums make the mean confidence order-free.
    Query("q242_calibration", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((col("value") / 500.0).as("pred"),
          (pmod(col("user_id"), lit(2)) === 1).as("label"))
      functions.Eval.calibration(ev, "label", "pred", nBins = 10)
    },
      """WITH e AS (
           SELECT (user_id % 2 = 1) AS p, CAST(value AS DOUBLE) / 500.0 AS pr
           FROM events),
         b AS (
           SELECT LEAST(GREATEST(CAST(floor(pr * 10) AS BIGINT), 0), 9) AS bin,
             CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS pq, p
           FROM e),
         a AS (
           SELECT bin, COUNT(*) AS n, COUNT(*) FILTER (WHERE p) AS n_pos,
             SUM(CAST(pq AS HUGEINT)) AS sp
           FROM b GROUP BY 1)
         SELECT bin, n, n_pos,
           round(CAST(sp AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 9) AS conf,
           round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 9) AS acc,
           round(abs(CAST(sp AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
             - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS gap
         FROM a""")
  )
}
