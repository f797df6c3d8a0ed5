package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Helpers._

/** Structured-streaming queries: `streaming.Events` and
  * `sources.TxChangesStream`.
  */
object StreamQueries {

  val all: Seq[Query] = Seq(

    // §2#27 streaming windowed agg — readStream → tumbling window →
    // memory sink; oracle is the equivalent batch SQL.
    Query("q20_stream_window", (s, dir) =>
      streaming.Events.hourlyByType(s, s"$dir/events.parquet"),
      // Both engines truncate ns→µs identically (Spark: ts div 1000;
      // DuckDB: epoch_ns//1000) before any time arithmetic.
      """SELECT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS hour_start,
         event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2"""),

    // §2#28 sessionization via flatMapGroupsWithState (30 min gap);
    // oracle is the batch lag/cumsum SQL over µs-truncated times.
    Query("q21_sessionize", (s, dir) =>
      streaming.Events.sessionize(s, s"$dir/events.parquet"),
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS tus FROM events),
         l AS (SELECT user_id, tus,
                 CASE WHEN LAG(tus) OVER w IS NULL OR tus - LAG(tus) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
         s AS (SELECT user_id, tus,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
               FROM l)
         SELECT user_id, CAST(sid AS INT) AS session_id, COUNT(*) AS n_events,
           make_timestamp(MIN(tus)) AS session_start,
           make_timestamp(MAX(tus)) AS session_end
         FROM s GROUP BY 1, 2"""),

    // §2#29-streaming: dropDuplicates over a doubled stream — the
    // streaming face of exact dedup (state-backed, watermark-boundable).
    Query("q38_stream_dedup", (s, dir) =>
      streaming.Events.streamDedup(s, s"$dir/events.parquet"),
      // the doubled stream dedups back to exactly the distinct event set
      """SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts, event_type, value
         FROM events"""),

    // §2#28d stream-stream join: same pairing as a watermarked
    // two-stream join (purchase in [click, click+30min]); state bounded
    // by watermark + band horizon on both sides.
    Query("q48_stream_join", (s, dir) =>
      streaming.Events.streamClickPurchaseJoin(s, s"$dir/events.parquet"),
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus, value FROM events),
         c AS (SELECT user_id, tus AS cus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS bus, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, make_timestamp(cus) AS click_ts, click_value,
           make_timestamp(bus) AS buy_ts, buy_value
         FROM c JOIN b ON c.user_id = b.user_id
           AND bus >= cus AND bus <= cus + 1800000000"""),

    // §2#27b sliding streaming windows: 1-hour hopping every 15 min —
    // each event in exactly 4 windows, expanded map-side before the
    // same partial-agg shuffle as tumbling.
    Query("q77_stream_sliding", (s, dir) =>
      streaming.Events.slidingByType(s, s"$dir/events.parquet"),
      // every event lands in the 4 slide-aligned windows whose start is
      // in (ts - 1h, ts]: floor-align to the 15-min grid, back off k slides
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000 AS tus, value FROM events),
         w AS (SELECT event_type, value,
                 (tus // 900000000) * 900000000 - k * 900000000 AS ws
               FROM e, unnest(generate_series(0, 3)) t(k))
         SELECT make_timestamp(ws) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2"""),

    // §2#28e stream-static broadcast enrich: live events against a
    // precomputed per-user profile, daily windowed anomaly counts.
    Query("q87_stream_enrich", (s, dir) =>
      streaming.Events.streamEnrichAnomalies(s, s"$dir/events.parquet"),
      """WITH e AS (
           SELECT user_id, epoch_ns(ts)//1000 AS tus, event_type, value FROM events),
         prof AS (
           SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
           FROM e GROUP BY user_id)
         SELECT date_trunc('day', make_timestamp(tus)) AS day_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN value > avg_value * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
         FROM e JOIN prof USING (user_id)
         GROUP BY 1, 2"""),

    // §2#27c streaming trending: incrementally-maintained hourly
    // counts, top-3 per hour ranked per emission (foreachBatch shape).
    Query("q103_stream_trending", (s, dir) =>
      streaming.Events.trendingByHour(s, s"$dir/events.parquet"),
      """WITH c AS (
           SELECT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS hour_start,
             event_type, COUNT(*) AS n_events
           FROM events GROUP BY 1, 2)
         SELECT hour_start, event_type, n_events, rnk FROM (
           SELECT hour_start, event_type, n_events,
             CAST(ROW_NUMBER() OVER (PARTITION BY hour_start
               ORDER BY n_events DESC, event_type) AS INT) AS rnk
           FROM c) WHERE rnk <= 3"""),

    // §2#60b streaming sketch build: the CMS aggregation over the
    // event STREAM — state is the fixed-size sketch itself, and the
    // final snapshot hash-matches the batch build (commutative cells),
    // so the identical oracle verifies the streaming path.
    Query("q117_stream_sketch", (s, dir) =>
      streaming.Events.streamCmsSketch(s, s"$dir/events.parquet"),
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS user_id FROM events),
         cells AS (
           SELECT user_id, j.j,
             ('0x' || substr(md5('cm' || j.j || '|' || user_id), 1, 8))::BIGINT % 1024 AS cell
           FROM k CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j)
         SELECT j, cell, COUNT(*) AS cnt FROM cells GROUP BY 1, 2"""),

    // §2#61f streaming KMV build: per-batch states folded via
    // mergeKmvStates (foreachBatch, history never rescanned) — final
    // state bit-identical to the direct build across ANY micro-batch
    // boundaries; estimates read off it exactly like q238.
    Query("q245_stream_kmv", (s, dir) =>
      functions.Sketches.kmvEstimate(
        streaming.Events.streamKmv(s, s"$dir/events.parquet"), Seq("event_type")),
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

    // §2#60g (r7) per-hour streaming quantile states: one dyadic bin
    // table per event-time hour (watermarked append in production —
    // sealed windows emit finalized states, spec-asserted; complete
    // mode here for the oracle), read out as the live per-hour
    // p50/p99 — "latency percentiles per hour, forever, in constant
    // per-window memory".
    Query("q257_stream_quantile_hourly", (s, dir) => {
      val st = streaming.Events.streamQuantileHourly(s, s"$dir/events.parquet")
      val p50 = functions.Sketches.quantileOf(st, Seq("hour_start"), 1, 2)
        .select(col("hour_start"), col("n"), col("q_est").as("p50"))
      val p99 = functions.Sketches.quantileOf(st, Seq("hour_start"), 99, 100)
        .select(col("hour_start"), col("q_est").as("p99"))
      p50.join(p99, Seq("hour_start"))
    },
      """WITH e AS (
           SELECT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS hour_start,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS q
           FROM events),
         bnn AS (
           SELECT hour_start,
             (CASE WHEN q < 0 THEN -1 ELSE 1 END)
               * ((abs(q) // CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT))
                  * CAST(pow(2, GREATEST(0, length(bin(abs(q))) - 6)) AS BIGINT)) AS bin
           FROM e),
         st AS (SELECT hour_start, bin, COUNT(*) AS cnt FROM bnn GROUP BY 1, 2),
         c AS (
           SELECT hour_start, bin, cnt,
             SUM(cnt) OVER (PARTITION BY hour_start ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY hour_start) AS n
           FROM st),
         p50 AS (
           SELECT hour_start, CAST(MAX(n) AS BIGINT) AS n,
             CAST(MIN(bin) AS DOUBLE) / 1000000 AS p50
           FROM c WHERE cum * 2 >= n * 1 GROUP BY 1),
         p99 AS (
           SELECT hour_start, CAST(MIN(bin) AS DOUBLE) / 1000000 AS p99
           FROM c WHERE cum * 100 >= n * 99 GROUP BY 1)
         SELECT p50.hour_start, n, p50, p99
         FROM p50 JOIN p99 USING (hour_start)"""),

    // §2#61h (r7) per-hour streaming KMV: one bottom-k hash array per
    // event-time hour via the foreachBatch fold with explicit
    // watermark sealing (bottom-k is not a bounded native streaming
    // agg; state = open-windows × k hashes) — distinct-per-hour WITH
    // downstream set-op support; estimates read off the states.
    Query("q258_stream_kmv_hourly", (s, dir) =>
      functions.Sketches.kmvEstimate(
        streaming.Events.streamKmvHourly(s, s"$dir/events.parquet").drop("sealed"),
        Seq("hour_start")),
      """WITH h AS (
           SELECT DISTINCT
             date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS hour_start,
             ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events),
         r AS (
           SELECT hour_start, h,
             ROW_NUMBER() OVER (PARTITION BY hour_start ORDER BY h) AS rn
           FROM h),
         k AS (
           SELECT hour_start, CAST(COUNT(*) AS INT) AS n_state,
             MAX(CASE WHEN rn = 64 THEN h END) AS hk
           FROM r WHERE rn <= 64 GROUP BY 1)
         SELECT hour_start, n_state,
           CASE WHEN n_state < 64 THEN CAST(n_state AS DOUBLE)
                ELSE round(63.0 * pow(2.0, 60) / CAST(hk AS DOUBLE), 6) END AS est_distinct
         FROM k"""),

    // §2#60h (r7) per-hour streaming CMS: the frequency member of the
    // per-window sealed-emission family (HLL q152 / quantile q257 /
    // KMV q258) — read out as per-hour point estimates for a fixed
    // probe key set (min over depth rows, the classic CM upper bound).
    Query("q277_stream_cms_hourly", (s, dir) => {
      val sk = streaming.Events.streamCmsHourly(s, s"$dir/events.parquet")
      val probes = s.createDataFrame(Seq(Tuple1("1"), Tuple1("2"), Tuple1("3")))
        .toDF("k")
      val pc = probes.select(col("k"), posexplode(array((0 until 4).map(j =>
        functions.Sketches.cmsCell(col("k"), j, 1024)): _*)).as(Seq("j", "cell")))
      val skr = sk.select(col("hour_start").as("_h"), col("j").as("_j"),
        col("cell").as("_cell"), col("cnt"))
      sk.select(col("hour_start")).distinct()
        .crossJoin(pc)
        .join(skr, col("_h") === col("hour_start")
          && col("_j") === col("j") && col("_cell") === col("cell"), "left")
        .groupBy(col("hour_start"), col("k").as("user_id"))
        .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    },
      // the q117 CMS cells with an hour dimension; probe estimates =
      // min over depth rows (missing cell -> 0 via the left join)
      """WITH e AS (
           SELECT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS hour_start,
             CAST(user_id AS VARCHAR) AS k
           FROM events),
         cells AS (
           SELECT hour_start, j.j,
             ('0x' || substr(md5('cm' || j.j || '|' || k), 1, 8))::BIGINT % 1024 AS cell
           FROM e CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j),
         sk AS (SELECT hour_start, j, cell, COUNT(*) AS cnt FROM cells GROUP BY 1,2,3),
         probes AS (SELECT unnest(['1','2','3']) AS k),
         pc AS (
           SELECT p.k, j.j,
             ('0x' || substr(md5('cm' || j.j || '|' || p.k), 1, 8))::BIGINT % 1024 AS cell
           FROM probes p CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j),
         hrs AS (SELECT DISTINCT hour_start FROM sk)
         SELECT h.hour_start, pc.k AS user_id,
           CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
         FROM hrs h
         CROSS JOIN pc
         LEFT JOIN sk ON sk.hour_start = h.hour_start
           AND sk.j = pc.j AND sk.cell = pc.cell
         GROUP BY 1, 2"""),

    // §2#27d (r7) exactly-once streaming sink into a TxTable: the
    // stream runs TWICE with a fresh checkpoint each time (the
    // checkpoint-lost crash, every batch redelivered) — the table must
    // hold each event ONCE and exactly one version per real batch; a
    // naive append sink doubles both and fails the hash.
    Query("q293_stream_tx_sink", (s, dir) => {
      val table = sidePath("graft_txsink", dir)
      sources.TxTable.drop(s, table)
      val tbl = streaming.Events.streamIntoTx(
        s, s"$dir/events.parquet", table, "sink", runs = 2)
      val agg = tbl.agg(count(lit(1)).as("n_rows"),
          round(sum(floor(col("value") * 1000000L + lit(0.5)).cast("long")
            .cast("decimal(38,0)")).cast("double") / 1e6, 6).as("metric"))
        .select(lit("table").as("section"), lit("all").as("label"),
          col("n_rows"), col("metric"))
      val meta = s.createDataFrame(Seq(
          ("meta", "n_versions", sources.TxTable.currentVersion(s, table).toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("metric", lit(null).cast("double"))
      agg.unionByName(meta)
    },
      // one batch per run (single input file), second run replays batch 0
      // through the idempotent committer: one version, each event once
      """SELECT 'table' AS section, 'all' AS label, COUNT(*) AS n_rows,
           round(CAST(SUM(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 1e6, 6) AS metric
         FROM events
         UNION ALL SELECT 'meta', 'n_versions', 1, CAST(NULL AS DOUBLE)"""),

    // §2#62v (r8) streaming CDC SOURCE over a TxTable — the inverse of
    // q293's exactly-once sink, the Delta streaming-source shape:
    // offsets ARE committed versions; the stream-replayed change rows
    // must equal the batch changes(0, head) section-for-section, and
    // the per-version commit times ride along strictly increasing.
    Query("q306_tx_changes_stream", (s, dir) => {
      val table = sidePath("graft_txcdcs", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      def part(p: String) = ord.filter(col("o_orderpriority") === p)
        .select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(part("1-URGENT"), table)
      sources.TxTable.commit(part("2-HIGH"), table)
      sources.TxTable.commit(part("5-LOW"), table, op = "overwrite")
      val streamed = sources.TxChangesStream.replayAll(s, table)
      def summarize(df: org.apache.spark.sql.DataFrame, section: String) =
        df.groupBy(concat(col("_change"), lit("@"), col("_version")).as("label"))
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
          .select(lit(section).as("section"), col("label"), col("n_rows"), col("sum_price"))
      val batch = sources.TxTable.changes(s, table, 0, 3)
      val wv = org.apache.spark.sql.expressions.Window.orderBy(col("_version"))
      val msOk = streamed.select(col("_version"), col("_commit_ms")).distinct()
        .withColumn("_prev", lag(col("_commit_ms"), 1).over(wv))
        .agg(min(when(col("_prev").isNull || col("_commit_ms") > col("_prev"), 1L)
          .otherwise(0L)).as("n_rows"))
        .select(lit("meta").as("section"), lit("ms_monotonic").as("label"),
          col("n_rows"), lit(null).cast("double").as("sum_price"))
      summarize(streamed, "stream").unionByName(summarize(batch, "batch"))
        .unionByName(msOk)
    },
      // expected CDC sections recomputed from the versioned data-file
      // globs (the q256 technique): insert@N = vN files; the overwrite's
      // deletes = every parent file. Stream and batch must both match;
      // the meta row asserts commit-time monotonicity (protocol-true).
      """WITH v1 AS (SELECT o_orderkey, o_totalprice
             FROM read_parquet('/tmp/graft_txcdcs___SFTAG__/data/v1_*.parquet')),
         v2n AS (SELECT o_orderkey, o_totalprice
             FROM read_parquet('/tmp/graft_txcdcs___SFTAG__/data/v2_*.parquet')),
         v3 AS (SELECT o_orderkey, o_totalprice
             FROM read_parquet('/tmp/graft_txcdcs___SFTAG__/data/v3_*.parquet')),
         rows AS (
           SELECT 'insert@1' AS label, o_totalprice FROM v1
           UNION ALL SELECT 'insert@2', o_totalprice FROM v2n
           UNION ALL SELECT 'delete@3', o_totalprice FROM v1
           UNION ALL SELECT 'delete@3', o_totalprice FROM v2n
           UNION ALL SELECT 'insert@3', o_totalprice FROM v3),
         agg AS (
           SELECT label, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           FROM rows GROUP BY 1)
         SELECT 'stream' AS section, label, n_rows, sum_price FROM agg
         UNION ALL SELECT 'batch', label, n_rows, sum_price FROM agg
         UNION ALL SELECT 'meta', 'ms_monotonic', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#62y (r8) the full incremental pipeline composed end-to-end:
    // CDC SOURCE (q306) → transform → exactly-once SINK (q293) via
    // TxChangesStream.pipeTo — continuous materialization of a
    // downstream table at batch cost. Run 1 streams 3 versions (one
    // per micro-batch, throttled); run 2 resumes the checkpoint (no
    // new commits → 0 batches); run 3 LOSES the checkpoint entirely
    // and replays everything — commitIdempotent turns every
    // re-delivery into a no-op (applied=0, version count unchanged).
    Query("q318_tx_pipeline", (s, dir) => {
      val src = sidePath("graft_txpipe_src", dir)
      val dst = sidePath("graft_txpipe_dst", dir)
      sources.TxTable.drop(s, src); sources.TxTable.drop(s, dst)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      def part(p: String) = ord.filter(col("o_orderpriority") === p)
        .select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(part("1-URGENT"), src)
      sources.TxTable.commit(part("2-HIGH"), src)
      sources.TxTable.commit(part("3-MEDIUM"), src)
      def mkCkpt() = java.nio.file.Files.createTempDirectory("graft_pipe_ckpt_").toString
      val tf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        b => b.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
      val ck = mkCkpt()
      val n1 = sources.TxChangesStream.pipeTo(s, src, dst, "pipe", tf, ck,
        maxVersionsPerTrigger = Some(1))
      val n2 = sources.TxChangesStream.pipeTo(s, src, dst, "pipe", tf, ck)
      val n3 = sources.TxChangesStream.pipeTo(s, src, dst, "pipe", tf, mkCkpt(),
        maxVersionsPerTrigger = Some(1))
      val tbl = sources.TxTable.read(s, dst)
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
        .select(lit("table").as("section"), lit("all").as("label"),
          col("n_rows"), col("sum_price"))
      val meta = s.createDataFrame(Seq(
          ("meta", "n_versions", sources.TxTable.currentVersion(s, dst).toLong),
          ("meta", "run1_applied", n1),
          ("meta", "run2_applied", n2),
          ("meta", "run3_applied", n3)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      tbl.unionByName(meta)
    },
      """WITH u AS (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
             AND o_orderkey % 2 = 0)
         SELECT 'table' AS section, 'all' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM u
         UNION ALL SELECT 'meta', 'n_versions', CAST(3 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'run1_applied', CAST(3 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'run2_applied', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'run3_applied', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#60j (r8) streaming AMS F₂ build: the second-moment member
    // completing the streaming sketch family — ~72 bytes of operator
    // state at any cardinality; final snapshot ≡ the batch sketch,
    // audited against the exact F₂ (q285's oracle verbatim).
    Query("q323_stream_ams", (s, dir) => {
      val est = functions.Sketches.amsF2Estimate(
        streaming.Events.streamAmsSketch(s, s"$dir/events.parquet"))
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("_c"))
        .agg(sum((col("_c").cast("decimal(19,0)") * col("_c")).cast("decimal(38,0)"))
          .as("_f2"))
      est.crossJoin(exact)
        .select(col("reps"), col("f2_est"),
          col("_f2").cast("double").as("f2_exact"),
          round(abs(col("f2_est") / col("_f2").cast("double") - lit(1.0)), 9)
            .as("rel_err"))
    },
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

    // §2#28g (r9) AvailableNow backfill over the CDC source: drain a
    // 5-commit history in ⌈5/2⌉ rate-limited micro-batches, then stop
    // cleanly (the scheduled-catch-up shape — commits landing during
    // the run wait for the next run). The oracle replays each append's
    // delta from its manifest-named files and pins the batch count.
    Query("q326_tx_backfill", (s, dir) => {
      val table = sidePath("graft_txan", dir)
      val ckpt = sidePath("graft_txan_ckpt", dir)
      sources.TxTable.drop(s, table)
      sources.TxTable.drop(s, ckpt) // fresh checkpoint: a rerun re-backfills
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      // 5 priority-keyed versions from one distributed write; slice ids
      // follow the priority prefix digit so version order is unchanged
      sources.TxTable.commitSlices(ord, table,
        substring(col("o_orderpriority"), 1, 1).cast("int") - 1, 5,
        payloadCols = Seq("o_orderkey", "o_totalprice"))
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Double)]()
      val nBatches = sources.TxChangesStream.runAvailableNow(s, table, ckpt,
        (b, _) => {
          b.groupBy(col("_version"))
            .agg(count(lit(1)).as("n"),
              sum(dec(col("o_totalprice"))).cast("double").as("sp"))
            .collect()
            .foreach(r => acc.add((r.getInt(0), r.getLong(1), r.getDouble(2))))
          ()
        },
        maxVersionsPerTrigger = Some(2))
      import scala.jdk.CollectionConverters._
      import s.implicits._
      val perVersion = acc.asScala.toSeq.toDF("version", "n_rows", "sum_price")
      perVersion.unionByName(
        Seq((0, nBatches, Option.empty[Double])).toDF("version", "n_rows", "sum_price"))
    },
      """SELECT CAST(1 AS INT) AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM read_parquet('/tmp/graft_txan___SFTAG__/data/v1_*.parquet')
         UNION ALL SELECT CAST(2 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txan___SFTAG__/data/v2_*.parquet')
         UNION ALL SELECT CAST(3 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txan___SFTAG__/data/v3_*.parquet')
         UNION ALL SELECT CAST(4 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txan___SFTAG__/data/v4_*.parquet')
         UNION ALL SELECT CAST(5 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txan___SFTAG__/data/v5_*.parquet')
         UNION ALL SELECT CAST(0 AS INT), CAST(3 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#62ab (r9) CDC stream ACROSS a merge-on-read delete: the
    // tx-changes source replays a posdelete version as exactly the
    // deleted rows (touching only the files the sidecar references),
    // and a later re-append of deleted keys streams normally — the
    // per-file deletion-vector scope holds in the stream too. Closes
    // the MoR-delete ↔ streaming-source seam end-to-end.
    Query("q327_tx_stream_mor", (s, dir) => {
      val table = sidePath("graft_txsm", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(ord.repartitionByRange(4, col("o_orderkey")), table,
        statsCols = Seq("o_orderkey"))
      sources.TxTable.deleteWherePos(s, table, col("o_orderkey").between(1.0, 300.0))
      sources.TxTable.commit(ord.filter(col("o_orderkey") <= 100), table,
        statsCols = Seq("o_orderkey"))
      sources.TxChangesStream.replayAll(s, table)
        .groupBy(col("_change").as("change"), col("_version").as("version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice,
             regexp_extract(filename, '[^/]*$') AS fn, file_row_number AS ri
           FROM read_parquet('/tmp/graft_txsm___SFTAG__/data/v1_*.parquet',
                             filename=true, file_row_number=true)),
         vec AS (
           SELECT _gf, _gp
           FROM read_parquet('/tmp/graft_txsm___SFTAG__/data/v2_p*.parquet'))
         SELECT 'insert' AS change, CAST(1 AS INT) AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v1
         UNION ALL
         SELECT 'delete', CAST(2 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM v1 d SEMI JOIN vec t ON d.fn = t._gf AND d.ri = t._gp
         UNION ALL
         SELECT 'insert', CAST(3 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txsm___SFTAG__/data/v3_*.parquet')"""),

    // §2#62ad (r9) streaming MIRROR with delete propagation: pipeTo's
    // missing half — the downstream table tracks the upstream exactly,
    // inserts AND row deletions, at delta cost (deletes apply via the
    // bloom-accelerated key-set MoR path; versions apply in order
    // under per-version txn markers, so crash replay never re-deletes
    // re-inserted keys). The oracle computes BOTH
    // sections from the SOURCE's raw files — if mirroring diverged,
    // the Spark-side dst section would hash-mismatch.
    Query("q329_tx_mirror", (s, dir) => {
      val src = sidePath("graft_txmis", dir)
      val dst = sidePath("graft_txmid", dir)
      val ckpt = sidePath("graft_txmi_ckpt", dir)
      sources.TxTable.drop(s, src); sources.TxTable.drop(s, dst)
      sources.TxTable.drop(s, ckpt) // fresh checkpoint: a rerun re-mirrors
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      def part(p: String) = ord.filter(col("o_orderpriority") === p)
      sources.TxTable.commit(part("1-URGENT"), src, statsCols = Seq("o_orderkey")) // v1
      sources.TxTable.commit(part("2-HIGH"), src)                                  // v2
      sources.TxTable.deleteWherePos(s, src, col("o_orderkey").between(1.0, 400.0))               // v3
      sources.TxTable.commit(part("5-LOW"), src)                                   // v4
      // no trigger rate limit: the per-version loop inside the mirror
      // already applies versions in order, so one micro-batch drains
      // the whole backfill (the spec covers the rate-limited shape)
      sources.TxChangesStream.pipeToMirror(s, src, dst, "o_orderkey",
        "graft_q329", ckpt, bloomCols = Seq("o_orderkey"))
      def side(tb: String, label: String) =
        sources.TxTable.read(s, tb)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
          .select(lit(label).as("side"), col("o_orderpriority"),
            col("n_rows"), col("sum_price"))
      side(src, "src").unionByName(side(dst, "dst"))
    },
      """WITH phys AS (
           SELECT o_orderkey, o_totalprice, o_orderpriority,
             regexp_extract(filename, '[^/]*$') AS fn, file_row_number AS ri
           FROM read_parquet(['/tmp/graft_txmis___SFTAG__/data/v1_*.parquet',
                              '/tmp/graft_txmis___SFTAG__/data/v2_*.parquet',
                              '/tmp/graft_txmis___SFTAG__/data/v4_*.parquet'],
                             filename=true, file_row_number=true)),
         vec AS (
           SELECT _gf, _gp
           FROM read_parquet('/tmp/graft_txmis___SFTAG__/data/v3_p*.parquet')),
         cur AS (
           SELECT d.o_orderkey, d.o_totalprice, d.o_orderpriority FROM phys d
           ANTI JOIN vec t ON d.fn = t._gf AND d.ri = t._gp)
         SELECT 'src' AS side, o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM cur GROUP BY 2
         UNION ALL
         SELECT 'dst', o_orderpriority, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM cur GROUP BY 2"""),

    // §2#28h (r10) stream-stream LEFT OUTER join: q48's click→purchase
    // pairing, plus the abandoned-cart rows — an unmatched click emits
    // its null-padded row only once the watermark CLOSES its match
    // window, which is why outer stream joins require both watermarks
    // and a two-sided time bound. The oracle mirrors the eviction
    // boundary: unmatched clicks surface only when the final watermark
    // (max ts − 1h) passed click_ts + 30min.
    Query("q343_stream_join_outer", (s, dir) =>
      streaming.Events.streamClickPurchaseJoin(s, s"$dir/events.parquet",
        how = "leftOuter"),
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus, value FROM events),
         c AS (SELECT user_id, tus AS cus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS bus, value AS buy_value FROM e WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT MAX(cus) FROM c), (SELECT MAX(bus) FROM b))
                  - 3600000000 AS w),
         m AS (
           SELECT c.user_id, cus, click_value, bus, buy_value
           FROM c JOIN b ON c.user_id = b.user_id
             AND bus >= cus AND bus <= cus + 1800000000),
         um AS (
           SELECT c.user_id, cus, click_value,
             CAST(NULL AS BIGINT) AS bus, CAST(NULL AS DOUBLE) AS buy_value
           FROM c ANTI JOIN m ON c.user_id = m.user_id AND c.cus = m.cus
           WHERE cus + 1800000000 < (SELECT w FROM wm))
         SELECT user_id, make_timestamp(cus) AS click_ts, click_value,
           make_timestamp(bus) AS buy_ts, buy_value FROM m
         UNION ALL SELECT user_id, make_timestamp(cus), click_value,
           make_timestamp(bus), buy_value FROM um"""),

    // §2#61c streaming HLL build: the register max-aggregation over the
    // event stream — state IS the ≤1024-row register table at any key
    // cardinality; the final snapshot matches the batch registers
    // cell-for-cell under the same oracle.
    Query("q126_stream_hll", (s, dir) =>
      streaming.Events.streamHllRegisters(s, s"$dir/events.parquet"),
      """WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
         h AS (SELECT ('0x' || substr(md5(key), 1, 8))::BIGINT AS h1,
                      ('0x' || substr(md5(key), 9, 8))::BIGINT AS w FROM k)
         SELECT h1 >> 22 AS bucket,
           CAST(MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS INT) AS r
         FROM h GROUP BY 1"""),

    // §2#61e per-hour streaming HLL: one register table per event-time
    // hour — "distinct users per hour in constant per-window memory";
    // complete mode here for the oracle, watermarked append in
    // production (spec-asserted sealed-window emission).
    Query("q152_stream_hll_hourly", (s, dir) =>
      streaming.Events.streamHllHourly(s, s"$dir/events.parquet"),
      """WITH k AS (
           SELECT DISTINCT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS h,
             CAST(user_id AS VARCHAR) AS key
           FROM events),
         hh AS (
           SELECT h, ('0x' || substr(md5(key), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(key), 9, 8))::BIGINT AS w
           FROM k)
         SELECT h AS hour_start, h1 >> 22 AS bucket,
           CAST(MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS INT) AS r
         FROM hh GROUP BY 1, 2"""),

    // §2#52t streaming PSI drift: per event-time hour, PSI of the
    // hour's value histogram vs the corpus baseline — bounded
    // (window × bin) stream state + the q143 per-emission arithmetic.
    Query("q169_stream_psi", (s, dir) =>
      streaming.Events.streamPsiHourly(s, s"$dir/events.parquet"),
      """WITH e AS (
           SELECT date_trunc('hour', make_timestamp(epoch_ns(ts)//1000)) AS h,
             CAST(floor(value / 20.0) AS BIGINT) AS bin
           FROM events),
         cells AS (SELECT h, bin, COUNT(*) AS n FROM e GROUP BY 1, 2),
         ht AS (SELECT h, SUM(n) AS tot FROM cells GROUP BY 1),
         base AS (SELECT bin, COUNT(*) AS bn FROM e GROUP BY 1),
         bt AS (SELECT SUM(bn) AS btot FROM base),
         grid AS (
           SELECT hh.h, b.bin, b.bn
           FROM (SELECT DISTINCT h FROM cells) hh CROSS JOIN base b),
         f AS (
           SELECT coalesce(g.h, c.h) AS h, coalesce(g.bin, c.bin) AS bin, g.bn, c.n
           FROM grid g FULL JOIN cells c ON g.h = c.h AND g.bin = c.bin),
         t AS (
           SELECT f.h,
             CASE WHEN n > 0 AND bn > 0 THEN
               CAST((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - CAST(bn AS DOUBLE) / CAST(btot AS DOUBLE))
                 * ln((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) / (CAST(bn AS DOUBLE) / CAST(btot AS DOUBLE)))
                 AS DECIMAL(20,9)) END AS term,
             tot
           FROM f JOIN ht ON ht.h = f.h CROSS JOIN bt)
         SELECT h AS hour_start, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi,
           COUNT(term) AS n_bins_used,
           COUNT(CASE WHEN term IS NULL THEN 1 END) AS n_bins_dropped,
           CAST(MAX(tot) AS BIGINT) AS n_events
         FROM t GROUP BY 1"""),

    // §2#52v streaming CUSUM monitor: three longs of state per key,
    // per-event scores emitted once; exact match with the batch
    // closed form, so q176's SQL is the oracle for the whole stream.
    Query("q187_stream_cusum", (s, dir) =>
      streaming.Events.streamCusum(s, s"$dir/events.parquet")
        .select("event_id", "event_type", "tus", "cusum_hi", "cusum_lo", "is_shift"),
      // the streaming monitor is exact-equal to the batch closed form
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

    // §2#62h streaming incremental state merge: each micro-batch
    // aggregated once, folded into the standing state via foreachBatch
    // + mergeAggStates — history never rescanned, bit-identical to a
    // from-scratch agg (the oracle recomputes from scratch).
    Query("q217_stream_state_merge", (s, dir) =>
      streaming.Events.streamAggState(s, s"$dir/events.parquet")
        .select(col("event_type"), col("n"),
          (col("sum_q").cast("double") / 1e6).as("sum_v"),
          col("min_v"), col("max_v")),
      """SELECT event_type, COUNT(value) AS n,
           CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sum_v,
           MIN(value) AS min_v, MAX(value) AS max_v
         FROM events GROUP BY 1"""),

    // §2#60e streaming quantile-state build: the q227 state maintained
    // by the stream in complete mode (state = bin table, never keyed
    // by value), read out as the live per-type p99.
    Query("q228_stream_quantile", (s, dir) => {
      val st = streaming.Events.streamQuantileState(s, s"$dir/events.parquet")
      functions.Sketches.quantileOf(st, Seq("event_type"), 99, 100)
        .select(col("event_type"), col("n"), col("q_est").as("p99"))
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
         c AS (
           SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
           FROM st)
         SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(bin) AS DOUBLE) / 1000000 AS p99
         FROM c WHERE cum * 100 >= n * 99 GROUP BY 1""")
  )
}
