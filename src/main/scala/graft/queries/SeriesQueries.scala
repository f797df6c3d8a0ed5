package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Helpers._

/** Time-series and behavioural analytics: `operators.Rolling` and
  * `operators.Behavior`.
  */
object SeriesQueries {

  val all: Seq[Query] = Seq(

    // §2#53 sliding time-range window: per-user trailing-5-minute
    // event count and value sum as of every event — one RANGE-frame
    // window, no self-join pair blowup. µs-long times (the ns trap).
    Query("q72_rolling_window", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.trailing(ev, "user_id", "tus", 300L * 1000000L, "value")
        .select("event_id", "user_id", "tus", "n_win", "sum_win")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus,
                      CAST(value AS DECIMAL(18,4)) AS v FROM events)
         SELECT event_id, user_id, tus,
           COUNT(*) OVER w AS n_win,
           CAST(SUM(v) OVER w AS DOUBLE) AS sum_win
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)"""),

    // §2#53b resample: per-user 6-hour grid with as-of forward fill —
    // irregular events → regular series. Grid anchored by exact
    // integer pmod arithmetic; fill reuses the one-shuffle asof.
    Query("q86_resample", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.resample(ev, "user_id", "tus", 21600000000L, Seq("tus", "value"))
        .withColumnsRenamed(Map("tus" -> "last_ts", "value" -> "last_value"))
    },
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS tus, value FROM events),
         b AS (
           SELECT user_id,
             MIN(tus) + (21600000000 - MIN(tus) % 21600000000) % 21600000000 AS g0,
             MAX(tus) - MAX(tus) % 21600000000 AS g1
           FROM e GROUP BY user_id),
         g AS (
           SELECT user_id, gts
           FROM b, unnest(generate_series(g0, g1, 21600000000)) t(gts)
           WHERE g0 <= g1)
         SELECT g.user_id, gts AS grid_ts, e.tus AS last_ts, e.value AS last_value
         FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND e.tus <= g.gts"""),

    // §2#53c ordered funnel view → click → purchase: per-step entry
    // times chained by user-keyed joins, no per-user sort.
    Query("q98_funnel", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"))
      operators.Behavior.funnel(ev, Seq("view", "click", "purchase"))
    },
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS tus, event_type FROM events),
         t0 AS (SELECT user_id, MIN(tus) AS t FROM e
                WHERE event_type = 'view' GROUP BY 1),
         t1 AS (SELECT e.user_id, MIN(tus) AS t FROM e JOIN t0 USING (user_id)
                WHERE event_type = 'click' AND tus > t0.t GROUP BY 1),
         t2 AS (SELECT e.user_id, MIN(tus) AS t FROM e JOIN t1 USING (user_id)
                WHERE event_type = 'purchase' AND tus > t1.t GROUP BY 1),
         c AS (SELECT (SELECT COUNT(*) FROM t0) AS n0,
                      (SELECT COUNT(*) FROM t1) AS n1,
                      (SELECT COUNT(*) FROM t2) AS n2)
         SELECT 1 AS step_idx, 'view' AS step, n0 AS n_users,
           CAST(1.0 AS DOUBLE) AS conv FROM c
         UNION ALL
         SELECT 2, 'click', n1, CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM c
         UNION ALL
         SELECT 3, 'purchase', n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c"""),

    // §2#53d retention cohorts by first active day; exact integer day
    // arithmetic; (user, day) deduped before anything aggregates.
    Query("q99_retention", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"))
      operators.Behavior.retention(ev)
    },
      """WITH e AS (
           SELECT user_id, (epoch_ns(ts)//1000) // 86400000000 AS dnum FROM events),
         d AS (SELECT DISTINCT user_id, dnum FROM e),
         f AS (SELECT user_id, MIN(dnum) AS cohort FROM d GROUP BY 1)
         SELECT make_timestamp(cohort * 86400000000) AS cohort_day,
           CAST(dnum - cohort AS INT) AS day_offset, COUNT(*) AS n_users
         FROM d JOIN f USING (user_id)
         GROUP BY cohort, day_offset"""),

    // §2#53e time-weighted average: each observation weighted by how
    // long it stayed current — the correct mean for irregular samples.
    Query("q101_twap", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.twap(ev, "user_id", "tus", "value", "event_id")
    },
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts)//1000 AS tus, value FROM events),
         d AS (
           SELECT user_id, value,
             LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dur
           FROM e),
         a AS (
           SELECT user_id,
             SUM(CAST(value * dur AS DECIMAL(27,6))) AS num,
             SUM(dur) AS den, COUNT(*) AS n_obs
           FROM d WHERE dur IS NOT NULL GROUP BY 1)
         SELECT user_id, n_obs,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS twap
         FROM a"""),

    // §2#53f interval merging: 10-minute activity windows per event,
    // fused into islands — per-user busy time and island counts.
    Query("q102_interval_merge", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("s0"))
        .withColumn("e0", col("s0") + 600000000L)
      operators.Rolling.mergeIntervals(ev, "user_id", "s0", "e0")
    },
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS s0,
                  epoch_ns(ts)//1000 + 600000000 AS e0 FROM events),
         m AS (
           SELECT user_id, s0, e0,
             MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, e0
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM e),
         i AS (
           SELECT user_id, s0, e0,
             SUM(CASE WHEN pmax IS NULL OR s0 > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s0, e0
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM m),
         g AS (SELECT user_id, isl, MIN(s0) AS s, MAX(e0) AS e FROM i GROUP BY 1, 2)
         SELECT user_id, COUNT(*) AS n_islands,
           CAST(SUM(e - s) AS BIGINT) AS covered_us
         FROM g GROUP BY 1"""),

    // §2#53g market-basket lift over per-user event-type sets:
    // support / confidence / lift per type pair.
    Query("q106_basket_lift", (s, dir) =>
      operators.Behavior.basketLift(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select("user_id", "event_type"),
        "user_id", "event_type"),
      """WITH d AS (SELECT DISTINCT user_id AS k, event_type AS item FROM events),
         nk AS (SELECT COUNT(DISTINCT k) AS n FROM d),
         ic AS (SELECT item, COUNT(*) AS ic FROM d GROUP BY 1),
         p AS (
           SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
           FROM d a JOIN d b ON a.k = b.k AND a.item < b.item
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_both,
           ROUND(n_both / CAST(n AS DOUBLE), 9) AS support,
           ROUND(CAST(n_both AS DOUBLE) / ia.ic, 9) AS confidence,
           ROUND(n_both * CAST(n AS DOUBLE) / (ia.ic * ib.ic), 9) AS lift
         FROM p
         CROSS JOIN nk
         JOIN ic ia ON ia.item = item_a
         JOIN ic ib ON ib.item = item_b"""),

    // §2#65 SCD2 history build: the per-user event_type change log
    // compressed to validity periods (valid_to stitched by lead over
    // the PERIOD rows, null = current) — micro-second longs out, so no
    // timestamp formatting is in the hash.
    Query("q115_scd2", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"))
      operators.Rolling.scd2(ev, "user_id", "tus", "event_type",
          tieCols = Seq("event_id"))
        .select(col("user_id"), col("value").as("status"),
          col("valid_from").as("from_us"), col("valid_to").as("to_us"),
          col("n_rows"), col("period_seq"))
    },
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
         r AS (
           SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS chg
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         p AS (
           SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS per FROM r),
         g AS (
           SELECT user_id, per, MIN(event_type) AS status, MIN(tus) AS from_us,
                  COUNT(*) AS n_rows
           FROM p GROUP BY 1, 2)
         SELECT user_id, status, from_us,
           lead(from_us) OVER (PARTITION BY user_id ORDER BY per) AS to_us,
           n_rows, CAST(per AS BIGINT) AS period_seq
         FROM g"""),

    // §2#53h first-order Markov transitions: (from → to) step counts
    // and row-normalized probabilities over per-user event sequences.
    Query("q119_transitions", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"))
      operators.Behavior.transitions(ev, "user_id", "tus", "event_type",
        tieCols = Seq("event_id"))
    },
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
         s AS (
           SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS to_type
           FROM e),
         c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
               WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
         SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS p
         FROM c JOIN t USING (from_type)"""),

    // §2#53v Markov removal-effect attribution: journeys → transition
    // chain → per-channel counterfactual absorption drop, normalized
    // into conversion-value shares. 16 value-iteration rounds on the
    // scenario-keyed model frame; the oracle unrolls every round.
    Query("q234_removal_effect", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"), col("value"))
      operators.Behavior.removalEffect(ev, "user_id", "tus", "event_type",
        "purchase", "value", tieCols = Seq("event_id"), rounds = 16)
    },
      OracleGen.removalEffectSql(Seq("click", "error", "signup", "view"))),

    // §2#53w frequent 3-itemsets by map-side basket enumeration:
    // C(w,3) combinations explode in the map stage (bounded basket
    // width, loud refusal above), zero corpus self-joins — the triple
    // extension of q106's pair lift.
    Query("q243_frequent_triples", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(concat_ws("|", col("user_id"),
          to_date(col("ts")).cast("string")).as("basket"), col("event_type"))
      operators.Behavior.frequentTriples(ev, "basket", "event_type", minCount = 2L)
    },
      """WITH b AS (
           SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' ||
             CAST(CAST(ts AS DATE) AS VARCHAR) AS k, event_type AS i
           FROM events),
         t AS (
           SELECT b1.k, b1.i AS a, b2.i AS bb, b3.i AS c
           FROM b b1
           JOIN b b2 ON b1.k = b2.k AND b1.i < b2.i
           JOIN b b3 ON b2.k = b3.k AND b2.i < b3.i),
         nb AS (SELECT COUNT(DISTINCT k) AS n FROM b)
         SELECT a AS item_a, bb AS item_b, c AS item_c,
           COUNT(*) AS n_baskets,
           round(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT n FROM nb) AS DOUBLE), 9) AS support
         FROM t GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2"""),

    // §2#53ab (r7) classical additive seasonal decomposition of the
    // hourly value series: y = trend (24h centered MA) + seasonal
    // (hour-of-day mean detrended deviation) + residual — corpus
    // collapses to hourly cells in one partial agg; every window after
    // that is calendar-scaled (the §5 metadata exemption).
    Query("q261_seasonal_decompose", (s, dir) =>
      operators.Rolling.seasonalDecompose(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "ts", "value"),
      """WITH hourly AS (
           SELECT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS hour_start,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS yq
           FROM events GROUP BY 1),
         w AS (
           SELECT hour_start, yq,
             SUM(yq) OVER (ORDER BY hour_start
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS s24,
             COUNT(*) OVER (ORDER BY hour_start
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS c24,
             EXTRACT(hour FROM hour_start) AS k
           FROM hourly),
         wd AS (
           SELECT *, CASE WHEN c24 = 24 THEN 24 * yq - s24 END AS det FROM w),
         slots AS (
           SELECT k, SUM(CAST(det AS DECIMAL(38,0))) AS sd, COUNT(*) AS nk
           FROM wd WHERE det IS NOT NULL GROUP BY 1)
         SELECT hour_start,
           round(CAST(yq AS DOUBLE) / 1000000.0, 6) AS y,
           round(CASE WHEN c24 = 24 THEN CAST(s24 AS DOUBLE) / 24.0 / 1000000.0 END, 6) AS trend,
           round(CAST(sd AS DOUBLE) / (24.0 * CAST(nk AS DOUBLE)) / 1000000.0, 6) AS seasonal,
           round(CAST(yq AS DOUBLE) / 1000000.0
               - CASE WHEN c24 = 24 THEN CAST(s24 AS DOUBLE) / 24.0 / 1000000.0 END
               - CAST(sd AS DOUBLE) / (24.0 * CAST(nk AS DOUBLE)) / 1000000.0, 6) AS residual
         FROM wd LEFT JOIN slots USING (k)"""),

    // §2#53ad (r7) Nelson–Aalen cumulative hazard on q249's
    // time-to-conversion observations: the rate-space dual of the
    // Kaplan–Meier curve — hazard ratios read directly off H(t).
    Query("q278_hazard", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"))
      val perUser = ev.groupBy("user_id").agg(
        min(col("tus")).as("_t0"),
        min(when(col("event_type") === "purchase", col("tus"))).as("_tc"),
        max(col("tus")).as("_tm"))
      val obs = perUser.select(
        concat(lit("c"), pmod(col("user_id"), lit(3)).cast("string")).as("cohort"),
        expr("(coalesce(_tc, _tm) - _t0) div 86400000000").as("dur_days"),
        col("_tc").isNotNull.cast("int").as("converted"))
      operators.Behavior.hazardCurve(obs, "cohort", "dur_days", "converted")
    },
      // the q249 risk-set machinery with d/n and d/n^2 terms
      // DECIMAL(20,9) pre-cumsum
      """WITH u AS (
           SELECT user_id, MIN(epoch_us(ts)) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tc,
             MAX(epoch_us(ts)) AS tm
           FROM events GROUP BY 1),
         obs AS (
           SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS g,
             (COALESCE(tc, tm) - t0) // 86400000000 AS t,
             CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM u),
         cells AS (SELECT g, t, SUM(e) AS d, COUNT(*) AS c FROM obs GROUP BY 1, 2),
         r AS (
           SELECT *, SUM(c) OVER (PARTITION BY g)
             - COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nrisk
           FROM cells),
         tm2 AS (
           SELECT *,
             CASE WHEN d > 0 THEN
               CAST(CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE) AS DECIMAL(20,9)) END AS term,
             CASE WHEN d > 0 THEN
               CAST(CAST(d AS DOUBLE) / (CAST(nrisk AS DOUBLE) * CAST(nrisk AS DOUBLE))
                 AS DECIMAL(20,9)) END AS vterm
           FROM r),
         hz AS (
           SELECT *,
             SUM(term) OVER (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hh,
             SUM(vterm) OVER (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
           FROM tm2)
         SELECT g AS cohort, CAST(t AS BIGINT) AS t, CAST(nrisk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_events,
           round(CAST(hh AS DOUBLE), 6) AS cum_hazard,
           round(CAST(vv AS DOUBLE), 9) AS hazard_var
         FROM hz WHERE d > 0"""),

    // §2#53ae (r7) log-rank test across q249's conversion cohorts: the
    // hypothesis-test read-out of the survival family — per-cohort
    // observed vs expected deaths under the pooled-hazard null, with
    // the k-sample chi-square approximation on the overall row.
    Query("q281_log_rank", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"))
      val perUser = ev.groupBy("user_id").agg(
        min(col("tus")).as("_t0"),
        min(when(col("event_type") === "purchase", col("tus"))).as("_tc"),
        max(col("tus")).as("_tm"))
      val obs = perUser.select(
        concat(lit("c"), pmod(col("user_id"), lit(3)).cast("string")).as("cohort"),
        expr("(coalesce(_tc, _tm) - _t0) div 86400000000").as("dur_days"),
        col("_tc").isNotNull.cast("int").as("converted"))
      operators.Behavior.logRank(obs, "cohort", "dur_days", "converted")
    },
      // the q249 observation machinery; E/V terms doubles of exact longs
      // DECIMAL(20,9) pre-sum; k-sample chi-square on the overall row
      """WITH u AS (
           SELECT user_id, MIN(epoch_us(ts)) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tc,
             MAX(epoch_us(ts)) AS tm
           FROM events GROUP BY 1),
         obs AS (
           SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS g,
             (COALESCE(tc, tm) - t0) // 86400000000 AS t,
             CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM u),
         cells AS (SELECT g, t, SUM(e) AS d, COUNT(*) AS c FROM obs GROUP BY 1, 2),
         ptot AS (SELECT t, SUM(d) AS dt, SUM(c) AS ct FROM cells GROUP BY 1),
         pooled AS (
           SELECT t, dt,
             SUM(ct) OVER () - COALESCE(SUM(ct) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt
           FROM ptot),
         pev AS (SELECT t, dt, nt FROM pooled WHERE dt > 0),
         grid AS (
           SELECT gs.g, ts.t, 0 AS d, 0 AS c
           FROM (SELECT DISTINCT g FROM cells) gs, (SELECT t FROM pev) ts),
         aug AS (
           SELECT g, t, SUM(d) AS d, SUM(c) AS c FROM (
             SELECT g, t, d, c FROM cells
             UNION ALL SELECT g, t, d, c FROM grid) GROUP BY 1, 2),
         aug2 AS (
           SELECT g, t, d,
             SUM(c) OVER (PARTITION BY g)
               - COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ng
           FROM aug),
         risked AS (
           SELECT a.g, a.d,
             CAST(CAST(p.dt AS DOUBLE) * CAST(a.ng AS DOUBLE)
               / CAST(p.nt AS DOUBLE) AS DECIMAL(20,9)) AS eterm,
             CASE WHEN p.nt > 1 THEN
               CAST(CAST(p.dt AS DOUBLE) * (CAST(a.ng AS DOUBLE) / CAST(p.nt AS DOUBLE))
                 * (1.0 - CAST(a.ng AS DOUBLE) / CAST(p.nt AS DOUBLE))
                 * (CAST(p.nt - p.dt AS DOUBLE) / CAST(p.nt - 1 AS DOUBLE))
                 AS DECIMAL(20,9))
             ELSE CAST(0.0 AS DECIMAL(20,9)) END AS vterm
           FROM aug2 a JOIN pev p USING (t)),
         per AS (SELECT g, SUM(d) AS o, SUM(eterm) AS ex, SUM(vterm) AS vr
                 FROM risked GROUP BY 1)
         SELECT 'group' AS section, g AS label, CAST(o AS BIGINT) AS observed,
           round(CAST(ex AS DOUBLE), 6) AS expected,
           round(CAST(vr AS DOUBLE), 6) AS variance,
           CASE WHEN CAST(vr AS DOUBLE) > 0 THEN
             round((CAST(o AS DOUBLE) - CAST(ex AS DOUBLE))
               / sqrt(CAST(vr AS DOUBLE)), 9) END AS z,
           CAST(NULL AS DOUBLE) AS chi2, CAST(NULL AS BIGINT) AS df
         FROM per
         UNION ALL
         SELECT 'overall', 'all', CAST(SUM(o) AS BIGINT),
           round(CAST(SUM(ex) AS DOUBLE), 6), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), round(CAST(SUM(x2) AS DOUBLE), 9),
           COUNT(*) - 1
         FROM (SELECT o, ex,
             CAST(CASE WHEN CAST(ex AS DOUBLE) > 0 THEN
               (CAST(o AS DOUBLE) - CAST(ex AS DOUBLE))
                 * (CAST(o AS DOUBLE) - CAST(ex AS DOUBLE)) / CAST(ex AS DOUBLE)
             ELSE 0.0 END AS DECIMAL(20,9)) AS x2 FROM per)"""),

    // §2#53af (r7) forecast-accuracy scorecard: the naive lag-1
    // forecast on each event type's daily mean series scored with
    // MAPE/sMAPE/RMSE/MASE (seasonal-naive denominator, season=7) —
    // the baseline every forecasting pipeline must publish first.
    Query("q283_forecast_metrics", (s, dir) =>
      operators.Rolling.forecastAccuracy(
        streaming.Events.readBatch(s, s"$dir/events.parquet"),
        "event_type", "ts", "value", season = 7),
      // q269's daily means; error terms doubles of the rounded means
      // quantized DECIMAL(20,9)/(25,12) pre-sum; final folds mirrored
      """WITH e AS (
           SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         cells AS (
           SELECT g, day, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS y
           FROM e GROUP BY 1, 2),
         lagd AS (
           SELECT g, y,
             LAG(y, 1) OVER (PARTITION BY g ORDER BY day) AS f,
             LAG(y, 7) OVER (PARTITION BY g ORDER BY day) AS fs
           FROM cells),
         agg AS (
           SELECT g, COUNT(*) AS n_days,
             SUM(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END) AS n_scored,
             SUM(CASE WHEN f IS NOT NULL AND y <> 0.0 THEN 1 ELSE 0 END) AS nm,
             SUM(CASE WHEN f IS NOT NULL THEN
               CAST(abs(y - f) AS DECIMAL(20,9)) END) AS sae,
             SUM(CASE WHEN f IS NOT NULL AND y <> 0.0 THEN
               CAST(abs(y - f) / abs(y) AS DECIMAL(20,9)) END) AS sape,
             SUM(CASE WHEN f IS NOT NULL AND abs(y) + abs(f) <> 0.0 THEN
               CAST(2.0 * abs(y - f) / (abs(y) + abs(f)) AS DECIMAL(20,9)) END) AS ssm,
             SUM(CASE WHEN f IS NOT NULL THEN
               CAST(abs(y - f) * abs(y - f) AS DECIMAL(25,12)) END) AS sse,
             SUM(CASE WHEN fs IS NOT NULL THEN
               CAST(abs(y - fs) AS DECIMAL(20,9)) END) AS ssn,
             SUM(CASE WHEN fs IS NOT NULL THEN 1 ELSE 0 END) AS nsn
           FROM lagd GROUP BY 1)
         SELECT g AS event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(n_scored AS BIGINT) AS n_scored,
           CASE WHEN nm > 0 THEN
             round(CAST(sape AS DOUBLE) / CAST(nm AS DOUBLE), 9) END AS mape,
           CASE WHEN n_scored > 0 THEN
             round(CAST(ssm AS DOUBLE) / CAST(n_scored AS DOUBLE), 9) END AS smape,
           CASE WHEN n_scored > 0 THEN
             round(sqrt(CAST(sse AS DOUBLE) / CAST(n_scored AS DOUBLE)), 9) END AS rmse,
           CASE WHEN nsn > 0 AND CAST(ssn AS DOUBLE) > 0 AND n_scored > 0 THEN
             round((CAST(sae AS DOUBLE) / CAST(n_scored AS DOUBLE))
               / (CAST(ssn AS DOUBLE) / CAST(nsn AS DOUBLE)), 9) END AS mase
         FROM agg"""),

    // §2#53ag (r7) RFM segmentation of the customer base from orders:
    // recency/frequency/monetary each scored 1–5 against exact global
    // quintiles, collapsed to the ≤125-cell segment table.
    Query("q287_rfm", (s, dir) =>
      operators.Behavior.rfmSegments(
        t(s, dir, "orders").df, "o_custkey", "o_orderdate", "o_totalprice"),
      // exact quantile_cont boundaries quantized DECIMAL(18,6) (the
      // q171 rule) over integer day/count/cent metrics
      """WITH per AS (
           SELECT o_custkey AS cust,
             MAX(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)) AS r,
             COUNT(*) AS f,
             CAST(SUM(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS BIGINT) AS m
           FROM orders GROUP BY 1),
         b AS (
           SELECT
             list_transform(quantile_cont(r, [0.2, 0.4, 0.6, 0.8]),
               x -> CAST(x AS DECIMAL(18,6))) AS qr,
             list_transform(quantile_cont(f, [0.2, 0.4, 0.6, 0.8]),
               x -> CAST(x AS DECIMAL(18,6))) AS qf,
             list_transform(quantile_cont(m, [0.2, 0.4, 0.6, 0.8]),
               x -> CAST(x AS DECIMAL(18,6))) AS qm
           FROM per),
         scored AS (
           SELECT
             CAST(1 + len(list_filter(qr, x -> x <= CAST(r AS DECIMAL(18,6)))) AS INT)
               AS r_score,
             CAST(1 + len(list_filter(qf, x -> x <= CAST(f AS DECIMAL(18,6)))) AS INT)
               AS f_score,
             CAST(1 + len(list_filter(qm, x -> x <= CAST(m AS DECIMAL(18,6)))) AS INT)
               AS m_score,
             m
           FROM per, b)
         SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           round(CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DOUBLE) / 100.0, 2)
             AS total_spend
         FROM scored GROUP BY 1, 2, 3"""),

    // §2#53ah (r7) time-bounded funnel: q98's ordered steps with a 6h
    // conversion window per hop — the dashboard semantics (greedy
    // earliest-entry), cutting conversions that took days.
    Query("q300_funnel_windowed", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"))
      operators.Behavior.funnelWindowed(ev, Seq("view", "click", "purchase"),
        withinUs = 21600000000L)
    },
      // the q98 funnel machinery with the 6h window bound on each hop
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
         t0 AS (SELECT user_id, MIN(tus) AS t FROM e
                WHERE event_type = 'view' GROUP BY 1),
         t1 AS (SELECT e.user_id, MIN(tus) AS t FROM e JOIN t0 USING (user_id)
                WHERE event_type = 'click' AND tus > t0.t
                  AND tus <= t0.t + 21600000000 GROUP BY 1),
         t2 AS (SELECT e.user_id, MIN(tus) AS t FROM e JOIN t1 USING (user_id)
                WHERE event_type = 'purchase' AND tus > t1.t
                  AND tus <= t1.t + 21600000000 GROUP BY 1),
         c AS (SELECT (SELECT COUNT(*) FROM t0) AS n0,
                      (SELECT COUNT(*) FROM t1) AS n1,
                      (SELECT COUNT(*) FROM t2) AS n2)
         SELECT 1 AS step_idx, 'view' AS step, n0 AS n_users,
           CAST(1.0 AS DOUBLE) AS conv FROM c
         UNION ALL
         SELECT 2, 'click', n1, CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM c
         UNION ALL
         SELECT 3, 'purchase', n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c"""),

    // §2#28f (r8) hot-key-safe batch sessionization: the q64
    // bucket+carry decomposition applied to q137's gaps-and-islands —
    // per-(key, bucket) windows with one carried prev-timestamp and a
    // bucket-level start cumsum, result ≡ the plain per-key sort
    // (THIS gate proves it: same oracle SQL as q137).
    Query("q311_sessions_bucketed", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      operators.Behavior.sessionizeBatchBucketed(ev, "user_id", "tus",
        gapUs = 1800000000L, bucketWidth = 3600000000L, tieCols = Seq("event_id"))
    },
      // IDENTICAL oracle to q137 — the bucketed decomposition must
      // reproduce the plain per-key sessionization exactly
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
         f AS (
           SELECT user_id, event_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                    OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         s AS (
           SELECT user_id, tus,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM f)
         SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
           MIN(tus) AS start_us, MAX(tus) AS end_us,
           COUNT(*) AS n_events, MAX(tus) - MIN(tus) AS duration_us
         FROM s GROUP BY 1, 2"""),

    // §2#53aj (r10) Ljung–Box white-noise test per user (lags 1..3):
    // the portmanteau companion to q132's per-lag ACF — one χ²(m)
    // statistic per series instead of m separate cutoffs; exact
    // n²-scaled integer sums, one mirrored double assembly.
    Query("q339_ljung_box", (s, dir) =>
      operators.Rolling.ljungBox(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("value"), col("event_id")),
        "user_id", "tus", "value", "event_id", maxLag = 3),
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS tus, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x FROM events),
         l AS (
           SELECT user_id, x,
             LAG(x, 1) OVER w AS p1, LAG(x, 2) OVER w AS p2, LAG(x, 3) OVER w AS p3
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         s AS (
           SELECT user_id, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss,
             SUM(CASE WHEN p1 IS NOT NULL THEN CAST(x AS HUGEINT) * CAST(p1 AS HUGEINT) END) AS c1,
             SUM(CASE WHEN p1 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS a1,
             SUM(CASE WHEN p1 IS NOT NULL THEN CAST(p1 AS HUGEINT) END) AS b1,
             SUM(CASE WHEN p2 IS NOT NULL THEN CAST(x AS HUGEINT) * CAST(p2 AS HUGEINT) END) AS c2,
             SUM(CASE WHEN p2 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS a2,
             SUM(CASE WHEN p2 IS NOT NULL THEN CAST(p2 AS HUGEINT) END) AS b2,
             SUM(CASE WHEN p3 IS NOT NULL THEN CAST(x AS HUGEINT) * CAST(p3 AS HUGEINT) END) AS c3,
             SUM(CASE WHEN p3 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS a3,
             SUM(CASE WHEN p3 IS NOT NULL THEN CAST(p3 AS HUGEINT) END) AS b3
           FROM l GROUP BY 1),
         r AS (
           SELECT user_id, n,
             CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * ss
                  - CAST(n AS HUGEINT) * sx * sx AS DOUBLE) AS den,
             CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * COALESCE(c1, 0)
                  - CAST(n AS HUGEINT) * sx * (COALESCE(a1, 0) + COALESCE(b1, 0))
                  + (CAST(n AS HUGEINT) - 1) * sx * sx AS DOUBLE) AS m1,
             CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * COALESCE(c2, 0)
                  - CAST(n AS HUGEINT) * sx * (COALESCE(a2, 0) + COALESCE(b2, 0))
                  + (CAST(n AS HUGEINT) - 2) * sx * sx AS DOUBLE) AS m2,
             CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * COALESCE(c3, 0)
                  - CAST(n AS HUGEINT) * sx * (COALESCE(a3, 0) + COALESCE(b3, 0))
                  + (CAST(n AS HUGEINT) - 3) * sx * sx AS DOUBLE) AS m3
           FROM s)
         SELECT user_id, n,
           CASE WHEN n > 4 AND den > 0 THEN
             round((m1 / den * (m1 / den) / (CAST(n AS DOUBLE) - 1.0)
                    + m2 / den * (m2 / den) / (CAST(n AS DOUBLE) - 2.0)
                    + m3 / den * (m3 / den) / (CAST(n AS DOUBLE) - 3.0))
                   * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0), 9)
           END AS lb_q
         FROM r"""),

    // §2#53ap (r10) Page–Hinkley drift detection on the per-type daily
    // mean series — q176 CUSUM's self-calibrating sibling: no target
    // mean parameter, each point tests against the series' own running
    // mean; integer-exact PH statistic (deviations re-quantize before
    // the prefix sum).
    Query("q347_page_hinkley", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
          col("event_type"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val daily = ev.groupBy("day", "event_type")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("day_mean"))
      operators.Rolling.pageHinkley(daily, "event_type", "day", "day_mean",
          delta = 0.001, lambda = 0.05)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("is_drift"), 1L).otherwise(0L)).as("n_drift"),
          round(max(col("ph")).cast("double") / 1e6, 6).as("max_ph"))
    },
      // mirrors Rolling.pageHinkley: quantized daily means, dev vs the
      // running mean re-quantized before the integer prefix sum
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
         w1 AS (SELECT event_type, day, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             SUM(v) OVER (PARTITION BY event_type ORDER BY day) AS cum
           FROM q),
         w2 AS (SELECT event_type, day,
             CAST(floor((CAST(i * v - cum AS DOUBLE)
               / (CAST(i AS DOUBLE) * 1000000.0) - 0.001) * 1000000 + 0.5)
               AS BIGINT) AS devq
           FROM w1),
         w3 AS (SELECT event_type, day,
             SUM(devq) OVER (PARTITION BY event_type ORDER BY day) AS mm
           FROM w2),
         w4 AS (SELECT event_type,
             mm - LEAST(CAST(0 AS BIGINT),
               MIN(mm) OVER (PARTITION BY event_type ORDER BY day)) AS ph
           FROM w3)
         SELECT event_type, COUNT(*) AS n_days,
           CAST(SUM(CASE WHEN ph > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_drift,
           round(CAST(MAX(ph) AS DOUBLE) / 1000000.0, 6) AS max_ph
         FROM w4 GROUP BY 1"""),

    // §2#53ar (r10) Schuster periodogram of the hourly mean series:
    // spectral power at candidate periods (6..48 h) from ONE
    // conditional-sum pass — finds the period seasonalDecompose
    // needs as an input; libm cos/sin pinned at 1e-9 per factor.
    Query("q373_periodogram", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select((unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("hr"),
          floor(col("value") * 1000000L + lit(0.5)).cast("long").as("_vq"))
      val hourly = ev.groupBy("hr")
        .agg(round(sum(col("_vq").cast("decimal(38,0)")).cast("double")
          / count(lit(1)).cast("double") / 1e6, 6).as("hour_mean"))
      operators.Rolling.periodogram(hourly, "hr", "hour_mean",
        Seq(6, 8, 12, 24, 36, 48))
    },
      """WITH e AS (
           SELECT epoch_us(ts) // 3600000000 AS hr,
             CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         hourly AS (
           SELECT hr, round(CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS m
           FROM e GROUP BY 1),
         b AS (SELECT hr AS t,
             CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS vq FROM hourly),
         mm AS (SELECT COUNT(*) AS n,
             CAST(SUM(CAST(vq AS HUGEINT)) AS DOUBLE) AS s FROM b),
         pds AS (SELECT unnest([6, 8, 12, 24, 36, 48]) AS p),
         cells AS (
           SELECT p,
             SUM(CAST(((CAST(vq AS DOUBLE) - (s / CAST(n AS DOUBLE))) / 1000000.0)
               * CAST(CAST(cos((6.283185307179586 * CAST(t % p AS DOUBLE))
                 / CAST(p AS DOUBLE)) AS DECIMAL(20,9)) AS DOUBLE)
               AS DECIMAL(20,9))) AS c,
             SUM(CAST(((CAST(vq AS DOUBLE) - (s / CAST(n AS DOUBLE))) / 1000000.0)
               * CAST(CAST(sin((6.283185307179586 * CAST(t % p AS DOUBLE))
                 / CAST(p AS DOUBLE)) AS DECIMAL(20,9)) AS DOUBLE)
               AS DECIMAL(20,9))) AS sv
           FROM b CROSS JOIN pds CROSS JOIN mm GROUP BY 1),
         pw AS (
           SELECT p AS period,
             round(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
               + CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE), 9) + 0.0 AS power
           FROM cells)
         SELECT CAST(period AS INT) AS period, power,
           CAST(ROW_NUMBER() OVER (ORDER BY power DESC, period) AS INT) AS rank
         FROM pw"""),

    // §2#53as (r10) Wald SPRT per event type: is the value>500 rate
    // above 0.5 — sequential early stopping at the first boundary
    // crossing; integer LLR (quantized per-observation increments),
    // peek-proof boundaries.
    Query("q374_sprt", (s, dir) =>
      operators.Rolling.sprtBernoulli(
        streaming.Events.readBatch(s, s"$dir/events.parquet")
          .select(col("event_type"), col("event_id"),
            (col("value") > 500.0).as("hit")),
        "event_type", "event_id", "hit", p0 = 0.5, p1 = 0.55),
      """WITH c AS (
           SELECT CAST(floor(ln(0.55 / 0.5) * 1000000000 + 0.5) AS BIGINT) AS c1,
             CAST(floor(ln((1.0 - 0.55) / (1.0 - 0.5)) * 1000000000 + 0.5)
               AS BIGINT) AS c0,
             CAST(floor(ln((1.0 - 0.05) / 0.05) * 1000000000 + 0.5)
               AS BIGINT) AS up,
             CAST(floor(ln(0.05 / (1.0 - 0.05)) * 1000000000 + 0.5)
               AS BIGINT) AS lo),
         e AS (
           SELECT event_type AS key, event_id,
             CASE WHEN value > 500.0 THEN 1 ELSE 0 END AS x
           FROM events),
         sc AS (
           SELECT key, event_id,
             ROW_NUMBER() OVER w AS t,
             SUM(x) OVER w AS cx
           FROM e WINDOW w AS (PARTITION BY key ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         ll AS (
           SELECT key, t,
             cx * (SELECT c1 FROM c) + (t - cx) * (SELECT c0 FROM c) AS llr
           FROM sc),
         hits AS (
           SELECT key, t, llr,
             CASE WHEN llr >= (SELECT up FROM c) THEN 'h1'
                  WHEN llr <= (SELECT lo FROM c) THEN 'h0' END AS hit
           FROM ll),
         agg AS (
           SELECT key, COUNT(*) AS n_total,
             MIN(CASE WHEN hit IS NOT NULL THEN t END) AS nd
           FROM hits GROUP BY 1)
         SELECT agg.key, agg.n_total,
           COALESCE(h.hit, 'continue') AS decision,
           agg.nd AS n_at_decision,
           round(CAST(h.llr AS DOUBLE) / 1e9, 9) AS llr_at_decision
         FROM agg LEFT JOIN hits h ON h.key = agg.key AND h.t = agg.nd"""),

    // §2#53aa (r7) hot-key probe: the selection guide for the per-key
    // sequence-window family (transitions/sessions/paths/trailing) —
    // one partial agg + single-row rollup answering "is any key
    // corpus-scaled enough to need the bucketed decomposition"; run
    // once per source, not per query.
    Query("q259_hot_key_probe", (s, dir) =>
      operators.Behavior.hotKeyProbe(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "user_id",
        bucketThreshold = 1000L),
      """WITH k AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
         SELECT CAST(SUM(n) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           round(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 9) AS hot_share,
           MAX(n) > 1000 AS use_bucketed
         FROM k"""),

    // §2#53z hot-key-safe trailing windows: the q64 bucket+carry
    // decomposition applied to q72's time-range frames — per-(key,
    // bucket) windows with ghosted carry-in rows, result ≡ the plain
    // per-key sort (THIS gate proves it: same oracle SQL as q72).
    Query("q252_trailing_bucketed", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.trailingBucketed(ev, "user_id", "tus",
          300L * 1000000L, "value", bucketWidth = 600L * 1000000L)
        .select("event_id", "user_id", "tus", "n_win", "sum_win")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus,
                      CAST(value AS DECIMAL(18,4)) AS v FROM events)
         SELECT event_id, user_id, tus,
           COUNT(*) OVER w AS n_win,
           CAST(SUM(v) OVER w AS DOUBLE) AS sum_win
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)"""),

    // §2#53x Kaplan-Meier time-to-conversion: per-user duration to
    // first purchase (censored at last observation otherwise), cohort
    // by user hash — the censoring-aware retention curve; exact log-
    // survival out (callers exp for display).
    Query("q249_survival", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_type"))
      val perUser = ev.groupBy("user_id").agg(
        min(col("tus")).as("_t0"),
        min(when(col("event_type") === "purchase", col("tus"))).as("_tc"),
        max(col("tus")).as("_tm"))
      val obs = perUser.select(
        concat(lit("c"), pmod(col("user_id"), lit(3)).cast("string")).as("cohort"),
        expr("(coalesce(_tc, _tm) - _t0) div 86400000000").as("dur_days"),
        col("_tc").isNotNull.cast("int").as("converted"))
      operators.Behavior.survivalCurve(obs, "cohort", "dur_days", "converted")
    },
      """WITH u AS (
           SELECT user_id, MIN(epoch_us(ts)) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tc,
             MAX(epoch_us(ts)) AS tm
           FROM events GROUP BY 1),
         obs AS (
           SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS g,
             (COALESCE(tc, tm) - t0) // 86400000000 AS t,
             CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS e
           FROM u),
         cells AS (SELECT g, t, SUM(e) AS d, COUNT(*) AS c FROM obs GROUP BY 1, 2),
         r AS (
           SELECT *, SUM(c) OVER (PARTITION BY g)
             - COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nrisk
           FROM cells),
         tm2 AS (
           SELECT *, CASE WHEN d > 0 AND d < nrisk THEN
               CAST(ln(CAST(nrisk - d AS DOUBLE) / CAST(nrisk AS DOUBLE)) AS DECIMAL(20,9))
             END AS term,
             SUM(CASE WHEN d = nrisk AND d > 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           FROM r),
         lg AS (
           SELECT *, SUM(term) OVER (PARTITION BY g ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS logs
           FROM tm2)
         SELECT g AS cohort, CAST(t AS BIGINT) AS t, CAST(nrisk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_events,
           CASE WHEN dead = 0 THEN round(CAST(logs AS DOUBLE), 6) END AS log_surv
         FROM lg WHERE d > 0"""),

    // §2#53y Markov entropy rate: H(next|state) over the q119
    // transition counts — the sequence-predictability scalar (low =
    // scripted/bot-like traffic, high = diverse organic behavior);
    // exact counts, entropy-rule terms.
    Query("q250_markov_entropy", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"))
      val tr = operators.Behavior.transitions(ev, "user_id", "tus", "event_type",
        tieCols = Seq("event_id"))
      val tot = Window.partitionBy(col("from_type"))
      val withN = tr.select(col("from_type"), col("to_type"), col("n"))
        .withColumn("_tot", sum(col("n")).over(tot))
        .crossJoin(broadcast(tr.agg(sum(col("n")).as("_N"))))
      withN
        .withColumn("_term",
          ((col("n").cast("double") / col("_N").cast("double"))
            * log(col("n").cast("double") / col("_tot").cast("double")))
            .cast("decimal(20,9)"))
        .agg(max(col("_N")).as("n_steps"),
          countDistinct(col("from_type")).as("n_states"),
          round(-sum(col("_term")).cast("double"), 6).as("entropy_nats"))
    },
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
         st AS (
           SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS to_type
           FROM e),
         tc AS (SELECT from_type, to_type, COUNT(*) AS n FROM st
                WHERE to_type IS NOT NULL GROUP BY 1, 2),
         w AS (
           SELECT *, SUM(n) OVER (PARTITION BY from_type) AS tot,
                     SUM(n) OVER () AS nn
           FROM tc),
         terms AS (
           SELECT nn, from_type,
             CAST((CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) AS DECIMAL(20,9)) AS term
           FROM w)
         SELECT CAST(MAX(nn) AS BIGINT) AS n_steps,
           COUNT(DISTINCT from_type) AS n_states,
           round(-CAST(SUM(term) AS DOUBLE), 6) AS entropy_nats
         FROM terms"""),

    // §2#53i linear-decay weighted moving average: trailing-10 smoother
    // per user via the (k−rn)·S1 + S2 two-frame-sum decomposition —
    // exact integer arithmetic end to end, one double division.
    Query("q124_wma", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.wma(ev, "user_id", "tus", "value", "event_id", k = 10)
    },
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, value,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS rn FROM e),
         f AS (
           SELECT user_id, event_id, tus, value, rn,
             SUM(CAST(vq AS DECIMAL(38,0))) OVER w AS s1,
             SUM(CAST(vq AS DECIMAL(38,0)) * rn) OVER w AS s2,
             COUNT(*) OVER w AS m
           FROM r WINDOW w AS (PARTITION BY user_id ORDER BY rn
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, tus, value,
           ROUND(CAST((10 - rn) * s1 + s2 AS DOUBLE)
             / CAST(m * 10 - (m * (m - 1)) // 2 AS DOUBLE) / 1000000.0, 9) AS wma
         FROM f"""),

    // §2#53j per-user lag-1/lag-2 autocorrelation of event values —
    // one key-partitioned sort for every lag's lead, pairs exploded
    // map-side, five decimal-exact Pearson sums in one partial agg.
    Query("q132_autocorr", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.autocorr(ev, "user_id", "tus", "value", "event_id",
        lags = Seq(1, 2))
    },
      // the q96 Pearson shape, grouped by (user, lag) over lead pairs
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         l AS (
           SELECT user_id, vq AS x,
             LEAD(vq, 1) OVER w AS y1, LEAD(vq, 2) OVER w AS y2
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         p AS (
           SELECT user_id, CAST(1 AS INT) AS lag, x, y1 AS y FROM l WHERE y1 IS NOT NULL
           UNION ALL
           SELECT user_id, CAST(2 AS INT), x, y2 FROM l WHERE y2 IS NOT NULL),
         s AS (
           SELECT user_id, lag, COUNT(*) AS n_pairs,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x*x AS DECIMAL(38,0))) AS sxx, SUM(CAST(y*y AS DECIMAL(38,0))) AS syy,
             SUM(CAST(x*y AS DECIMAL(38,0))) AS sxy
           FROM p GROUP BY 1, 2)
         SELECT user_id, lag, n_pairs,
           CASE WHEN n_pairs >= 2
                 AND CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
             THEN ROUND(
               (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
           END AS acf
         FROM s"""),

    // §2#53k last-touch attribution: each purchase credited to the
    // user's most recent non-purchase touch within 7 days (as-of join
    // with tolerance), rolled up per channel; the no-touch row reports
    // as channel NULL. Touches dedupe to one per (user, instant) first
    // so timestamp ties cannot make credit nondeterministic.
    Query("q133_attribution", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"), col("value"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tus"), col("value"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("tus"))
        .agg(max(col("event_type")).as("channel"))
      operators.Behavior.lastTouchAttribution(conv, touches,
        "user_id", "tus", "channel", "value", lookbackUs = 604800000000L)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type, value FROM events),
         c AS (SELECT user_id, tus, value FROM e WHERE event_type = 'purchase'),
         tt AS (SELECT user_id, tus, MAX(event_type) AS channel
                FROM e WHERE event_type <> 'purchase' GROUP BY 1, 2),
         m AS (
           SELECT c.user_id, c.value, t.channel
           FROM c LEFT JOIN LATERAL (
             SELECT channel FROM tt
             WHERE tt.user_id = c.user_id AND tt.tus <= c.tus
               AND c.tus - tt.tus <= 604800000000
             ORDER BY tt.tus DESC LIMIT 1) t ON TRUE)
         SELECT channel, COUNT(*) AS n_conv,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM m GROUP BY 1"""),

    // §2#28e batch sessionization: the streaming sessionizer's (q21)
    // reprocessable one-shot twin — 30-min inactivity gap, one
    // key-partitioned sort shared by the gap flag and the running
    // session counter.
    Query("q137_batch_sessions", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      operators.Behavior.sessionizeBatch(ev, "user_id", "tus",
        gapUs = 1800000000L, tieCols = Seq("event_id"))
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
         f AS (
           SELECT user_id, event_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                    OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         s AS (
           SELECT user_id, tus,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM f)
         SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
           MIN(tus) AS start_us, MAX(tus) AS end_us,
           COUNT(*) AS n_events, MAX(tus) - MIN(tus) AS duration_us
         FROM s GROUP BY 1, 2"""),

    // §2#53l trailing-window anomaly flags: per user, is this value
    // > 3σ from the trailing hour's OTHER observations? — the z-score
    // gate cross-multiplied into pure decimal integer arithmetic
    // (dev² > 9·var·n²-form), so no float ever decides a flag.
    Query("q139_rolling_anomaly", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.anomalies(ev, "user_id", "tus", "value",
          widthUs = 3600000000L, minObs = 5L, k = 3)
        .withColumn("is_anomaly", col("is_anomaly").cast("int"))
    },
      // the z-score gate entirely in exact integer arithmetic: DuckDB's
      // BIGINT sums widen to HUGEINT, Spark's run DECIMAL(38,0) — same
      // integers, so the cross-multiplied dev² > 9·var gate agrees at
      // every boundary
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, value,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         f AS (
           SELECT user_id, event_id, tus, value, vq,
             COUNT(*) OVER w AS cnt,
             SUM(vq) OVER w AS s,
             SUM(vq * vq) OVER w AS ss
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, tus, value,
           CAST(cnt - 1 AS BIGINT) AS n_win,
           CASE WHEN cnt - 1 >= 5 THEN
             CASE WHEN ((cnt - 1) * vq - (s - vq)) * ((cnt - 1) * vq - (s - vq))
                       > 9 * ((cnt - 1) * (ss - vq * vq) - (s - vq) * (s - vq))
               THEN 1 ELSE 0 END
           END AS is_anomaly
         FROM f"""),

    // §2#53m sequence-gap detection: missing o_orderkey ranges per
    // priority — within-bucket lead window + histogram-sized
    // cross-bucket summary, never a per-key global sort.
    Query("q163_gaps", (s, dir) =>
      operators.Rolling.gaps(
        t(s, dir, "orders").df.select(col("o_orderpriority").as("pri"),
          col("o_orderkey")),
        "pri", "o_orderkey", bucketWidth = 64L),
      """WITH ids AS (
           SELECT DISTINCT o_orderpriority AS pri, o_orderkey AS id FROM orders),
         g AS (
           SELECT pri, id,
             lead(id) OVER (PARTITION BY pri ORDER BY id) AS nxt
           FROM ids)
         SELECT pri, id + 1 AS gap_lo, nxt - 1 AS gap_hi, nxt - id - 1 AS gap_len
         FROM g WHERE nxt - id > 1"""),

    // §2#53n per-user inter-arrival cadence: count/min/max/exact-median
    // gap micros off one (time, id)-ordered key window.
    Query("q170_interarrival", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id"))
      operators.Behavior.interArrival(ev, "user_id", "tus", Seq("event_id"))
    },
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS tus, event_id FROM events),
         g AS (
           SELECT user_id,
             lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS gap
           FROM e)
         SELECT user_id, COUNT(*) AS n_gaps, MIN(gap) AS min_gap, MAX(gap) AS max_gap,
           CAST(CAST(quantile_cont(gap, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS median_gap
         FROM g WHERE gap IS NOT NULL GROUP BY 1"""),

    // §2#53o top within-session event trigram paths: session islands +
    // both lookaheads off ONE key sort; cross-session windows cut by
    // comparing the session index lead.
    Query("q173_top_paths", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"), col("event_id"))
      operators.Behavior.topPaths(ev, "user_id", "tus", "event_type",
        gapUs = 1800000000L, n = 3, topK = 20, tieCols = Seq("event_id"))
    },
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS tus, event_type, event_id
           FROM events),
         s AS (
           SELECT user_id, tus, event_type, event_id,
             CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
                    OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS nw
           FROM e),
         sd AS (
           SELECT user_id, tus, event_type, event_id,
             SUM(nw) OVER (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM s),
         p AS (
           SELECT event_type AS t0, sid,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS t1,
             lead(sid, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS s1,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS t2,
             lead(sid, 2) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS s2
           FROM sd),
         c AS (
           SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS c
           FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND s1 = sid AND s2 = sid
           GROUP BY 1),
         r AS (
           SELECT path, c,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, path) AS INT) AS rank
           FROM c)
         SELECT path, c, rank FROM r WHERE rank <= 20"""),

    // §2#53p CUSUM mean-shift scores per event type: Page's recurrence
    // in its closed prefix form (cum − running extremum incl. the
    // empty prefix) — one key sort, exact integer micro-units.
    Query("q176_cusum", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.cusum(ev, "event_type", "tus", "value",
        target = 50.0, h = 2000.0, tieCols = Seq("event_id"))
        .select("event_id", "event_type", "tus", "cusum_hi", "cusum_lo", "is_shift")
    },
      """WITH e AS (
           SELECT event_id, event_type, epoch_ns(ts)//1000 AS tus,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) - 50000000 AS dev
           FROM events),
         c AS (
           SELECT event_id, event_type, tus,
             SUM(dev) OVER (PARTITION BY event_type ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM e),
         d AS (
           SELECT event_id, event_type, tus, cum,
             MIN(cum) OVER (PARTITION BY event_type ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin,
             MAX(cum) OVER (PARTITION BY event_type ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
           FROM c)
         SELECT event_id, event_type, tus,
           CAST(cum - least(0, rmin) AS BIGINT) AS cusum_hi,
           CAST(greatest(0, rmax) - cum AS BIGINT) AS cusum_lo,
           (cum - least(0, rmin) > 2000000000 OR greatest(0, rmax) - cum > 2000000000) AS is_shift
         FROM d"""),

    // §2#53s dyadic-decay EWMA: exponential smoothing made engine-
    // exact by pinning decay to 1/2 and truncating at w=16 lags — the
    // answer to wma's "EWMA cannot be engine-exact" caveat.
    Query("q199_ewma", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.ewmaDyadic(ev, "user_id", "tus", "value", "event_id")
    },
      {
      val w = 16
      val terms = (0 until w).map { l =>
        val src = if (l == 0) "vq" else s"lag(vq, $l) OVER w"
        s"COALESCE(CAST($src AS HUGEINT) * ${1L << (w - 1 - l)}, 0)"
      }.mkString(" + ")
      s"""WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, value,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         f AS (
           SELECT user_id, event_id, tus, value,
             LEAST(ROW_NUMBER() OVER w, $w) AS m,
             $terms AS num
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id))
         SELECT user_id, event_id, tus, value,
           ROUND(CAST(num AS DOUBLE)
             / (${(1L << w).toDouble} - power(2, $w - m)) / 1000000.0, 9) AS ewma
         FROM f"""
    }),

    // §2#62f point-in-time (PIT) join: facts enriched with the
    // dimension state AS OF each fact's own event time — scd2 builds
    // the status periods from the profile-update stream (event_id%5),
    // asofJoin attaches (status, period start) to every other event.
    // The leakage-safe feature join: never reads a FUTURE dim state.
    Query("q203_pit_join", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"))
      val periods = operators.Rolling.scd2(
          ev.filter(col("event_id") % 5 === 0),
          "user_id", "tus", "event_type", tieCols = Seq("event_id"))
        .select(col("user_id"), col("value").as("status"),
          col("valid_from").as("from_us"))
      val facts = ev.filter(col("event_id") % 5 =!= 0)
        .select("user_id", "event_id", "tus")
      operators.AsofJoin.asofJoin(facts, periods, "user_id", "tus", "from_us",
        Seq("status", "from_us"))
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
         upd AS (SELECT * FROM e WHERE event_id % 5 = 0),
         r AS (
           SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS chg
           FROM upd WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         p AS (
           SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS per FROM r),
         g AS (SELECT user_id, per, MIN(event_type) AS status, MIN(tus) AS from_us
               FROM p GROUP BY 1, 2),
         f AS (SELECT user_id, event_id, tus FROM e WHERE event_id % 5 <> 0)
         SELECT f.user_id, f.event_id, f.tus, g.status, g.from_us
         FROM f ASOF LEFT JOIN g ON f.user_id = g.user_id AND g.from_us <= f.tus"""),

    // §2#53u time-decay attribution: every lookback touch credited
    // 2^(−half-lives) of the conversion — dyadic weights, exact
    // integer normalization, completing last-touch (q133).
    Query("q210_decay_attribution", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"), col("value"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tus"), col("value"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("tus"))
        .agg(max(col("event_type")).as("channel"))
      operators.Behavior.timeDecayAttribution(conv, touches,
        "user_id", "tus", "channel", "value",
        lookbackUs = 604800000000L, halflifeUs = 86400000000L)
    },
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS tus, event_type, value FROM events),
         conv AS (
           SELECT user_id, tus AS ct, SUM(value) AS cv FROM e
           WHERE event_type = 'purchase' GROUP BY 1, 2),
         tch AS (
           SELECT user_id, tus AS tt, MAX(event_type) AS ch FROM e
           WHERE event_type <> 'purchase' GROUP BY 1, 2),
         p AS (
           SELECT c.user_id, c.ct, c.cv, t.ch,
             (c.ct - t.tt) // 86400000000 AS b
           FROM conv c JOIN tch t ON c.user_id = t.user_id
             AND t.tt <= c.ct AND c.ct - t.tt <= 604800000000),
         w AS (SELECT *, CAST(power(2.0, 7 - b) AS BIGINT) AS wt FROM p),
         sw AS (SELECT *, SUM(wt) OVER (PARTITION BY user_id, ct) AS swt FROM w),
         cr AS (
           SELECT ch,
             CAST(cv * CAST(wt AS DOUBLE) / CAST(swt AS DOUBLE) AS DECIMAL(18,6)) AS credit
           FROM sw)
         SELECT ch AS channel, COUNT(*) AS n_credits,
           CAST(SUM(credit) AS DOUBLE) AS total_credit
         FROM cr GROUP BY 1"""),

    // §2#53q seasonal-baseline residual anomalies: per (type,
    // hour-of-day) mean broadcast back; decision cross-multiplied in
    // exact integers — the daily-rhythm-aware spike detector.
    Query("q184_seasonal_anomaly", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("value"))
      operators.Rolling.seasonalAnomaly(ev, "event_type", "tus", "value",
        threshold = 25.0)
        .select("event_id", "event_type", "hod", "base_mean", "is_anomaly")
    },
      """WITH e AS (
           SELECT event_id, event_type, epoch_ns(ts)//1000 AS tus,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
           FROM events),
         h AS (
           SELECT event_id, event_type,
             CAST((tus // 3600000000) % 24 AS INT) AS hod, vq
           FROM e),
         b AS (
           SELECT event_type, hod, SUM(vq) AS s, COUNT(*) AS n
           FROM h GROUP BY 1, 2)
         SELECT h.event_id, h.event_type, h.hod,
           CAST(s AS DOUBLE) / n AS base_mean,
           abs(n * vq - s) > 25000000 * n AS is_anomaly
         FROM h JOIN b USING (event_type, hod)""")
  )
}
