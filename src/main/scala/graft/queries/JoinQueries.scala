package graft
package queries

import org.apache.spark.sql.functions._

import Helpers._

/** Specialised joins and packing: `AsofJoin`, `RangeJoin`, `SkewJoin`,
  * `BloomJoin`, `Linkage` and `Packing` in `operators`.
  */
object JoinQueries {

  val all: Seq[Query] = Seq(

    // §2#41 salted equi-join (SURVEY §5 skew path): identical result set
    // to the plain join, hot keys spread over 16 reducers.
    Query("q34_skew_join", (s, dir) => {
      operators.SkewJoin.saltedEquiJoin(
        t(s, dir, "lineitem").select(Seq("l_orderkey", "l_linenumber", "l_quantity")).df,
        t(s, dir, "orders").select(Seq("o_orderkey", "o_totalprice")).df,
        "l_orderkey", "o_orderkey")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderkey, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""),

    // §2#46 sequence packing: concat-and-chunk context-window layout;
    // per-shard prefix sum (one window), shards pack independently.
    Query("q45_pack_sequences", (s, dir) =>
      operators.Packing.packSequences(t(s, dir, "documents").df),
      """SELECT doc_id, shard, n_tokens, tok_offset,
           CAST(FLOOR(tok_offset / 2048.0) AS BIGINT) AS chunk
         FROM (
           SELECT doc_id, doc_id % 8 AS shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
           FROM (
             SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS n_tokens
             FROM documents))"""),

    // §2#50 band join: clicks paired with same-user purchases within
    // ±30 min. Bucketed equi-join on (user, time-bucket) — a hot user's
    // rows spread across reducers by time — with the exact band as the
    // residual filter.
    Query("q47_band_join", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tus").as("click_us"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tus").as("buy_us"), col("value").as("buy_value"))
      operators.RangeJoin.bandJoin(clicks, buys, Seq("user_id"),
          "click_us", "buy_us", 30L * 60 * 1000 * 1000)
        .select(col("user_id"),
          timestamp_micros(col("click_us")).as("click_ts"), col("click_value"),
          timestamp_micros(col("buy_us")).as("buy_ts"), col("buy_value"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus, value FROM events),
         c AS (SELECT user_id, tus AS cus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS bus, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, make_timestamp(cus) AS click_ts, click_value,
           make_timestamp(bus) AS buy_ts, buy_value
         FROM c JOIN b ON c.user_id = b.user_id AND abs(cus - bus) <= 1800000000"""),

    // §2#42 as-of join (union+window, no range-join pair blowup): each
    // click matched to the user's latest purchase at-or-before it.
    Query("q35_asof_join", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("buy_ts"), col("value").as("buy_value"))
      operators.AsofJoin.asofJoin(clicks, buys,
        "user_id", "click_ts", "buy_ts", Seq("buy_ts", "buy_value"))
    },
      """WITH e AS (SELECT user_id, event_type,
                      make_timestamp(epoch_ns(ts)//1000) AS tus, value FROM events),
         c AS (SELECT user_id, tus AS click_ts, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS buy_ts, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, click_ts, click_value, buy_ts, buy_value
         FROM c ASOF LEFT JOIN b ON c.user_id = b.user_id AND b.buy_ts <= c.click_ts"""),

    // §2#50b LEFT band join: clicks keep a row (null purchase columns)
    // when no same-user purchase lands within ±30 min.
    Query("q52_band_left", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tus").as("click_us"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tus").as("buy_us"), col("value").as("buy_value"))
      operators.RangeJoin.bandJoin(clicks, buys, Seq("user_id"),
          "click_us", "buy_us", 30L * 60 * 1000 * 1000, how = "left")
        .select(col("user_id"),
          timestamp_micros(col("click_us")).as("click_ts"), col("click_value"),
          timestamp_micros(col("buy_us")).as("buy_ts"), col("buy_value"))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus, value FROM events),
         c AS (SELECT user_id, tus AS cus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS bus, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, make_timestamp(cus) AS click_ts, click_value,
           make_timestamp(bus) AS buy_ts, buy_value
         FROM c LEFT JOIN b ON c.user_id = b.user_id AND abs(cus - bus) <= 1800000000"""),

    // §2#42b as-of join with tolerance: matches older than 10 minutes
    // are nulled (pandas merge_asof tolerance semantics).
    Query("q53_asof_tolerance", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("buy_ts"), col("value").as("buy_value"))
      operators.AsofJoin.asofJoin(clicks, buys,
        "user_id", "click_ts", "buy_ts", Seq("buy_ts", "buy_value"),
        tolerance = Some(expr("INTERVAL '10' MINUTE")))
    },
      """WITH e AS (SELECT user_id, event_type,
                      make_timestamp(epoch_ns(ts)//1000) AS tus, value FROM events),
         c AS (SELECT user_id, tus AS click_ts, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS buy_ts, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, click_ts, click_value, m.buy_ts, m.buy_value
         FROM c LEFT JOIN LATERAL (
           SELECT b.buy_ts, b.buy_value FROM b
           WHERE b.user_id = c.user_id AND b.buy_ts <= c.click_ts
             AND b.buy_ts >= c.click_ts - INTERVAL '10 minutes'
           ORDER BY b.buy_ts DESC LIMIT 1) m ON TRUE"""),

    // §2#46b MATERIALIZED packing: the actual context-window contents —
    // ordered span concatenation with cross-window spill cuts — per
    // (shard, chunk); what a trainer's loader consumes (q45 emits only
    // the assignment). capacity=200 at this corpus' document lengths
    // forces frequent spills, so the cut path is exercised everywhere.
    Query("q62_pack_emit", (s, dir) =>
      operators.Packing.packChunks(t(s, dir, "documents").df, capacity = 200, nShards = 8),
      // materialized packing: per-shard prefix-sum offsets → per-doc
      // window spans (integer-div chunk range, boundary cuts) → ordered
      // span concatenation per (shard, chunk). generate_series bounds are
      // corpus-derived constants (DuckDB lacks lateral series) with the
      // real chunk range applied in WHERE.
      """WITH toks AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         o AS (
           SELECT doc_id, shard, w, CAST(len(w) AS BIGINT) AS n,
             CAST(COALESCE(SUM(len(w)) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           FROM toks),
         sp AS (
           SELECT shard, i AS chunk,
             GREATEST(off, i * 200) - i * 200 AS chunk_offset,
             LEAST(off + n, (i + 1) * 200) - GREATEST(off, i * 200) AS span_tokens,
             array_to_string(
               w[CAST(GREATEST(off, i * 200) - off + 1 AS BIGINT) :
                 CAST(LEAST(off + n, (i + 1) * 200) - off AS BIGINT)], ' ') AS span_text
           FROM o, unnest(generate_series(0,
             (SELECT CAST(MAX((off + n - 1) // 200) AS BIGINT) FROM o))) AS t(i)
           WHERE n > 0 AND i BETWEEN off // 200 AND (off + n - 1) // 200)
         SELECT shard, chunk, COUNT(*) AS n_docs,
           CAST(SUM(span_tokens) AS BIGINT) AS n_tokens,
           string_agg(span_text, ' ' ORDER BY chunk_offset) AS packed_text
         FROM sp GROUP BY 1, 2"""),

    // §2#42b hot-key as-of: the (key, time-bucket)-partitioned variant
    // with boundary carry-in — same semantics as q35, window tasks
    // bounded per bucket instead of per key. µs-long times (the ns
    // trap), 1-hour buckets.
    Query("q64_asof_bucketed", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("cus"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("bus"), col("value").as("buy_value"))
      operators.AsofJoin.asofJoinBucketed(clicks, buys,
        "user_id", "cus", "bus", Seq("bus", "buy_value"), bucketWidth = 3600L * 1000000L)
    },
      // same ASOF semantics as q35, times as µs longs
      """WITH e AS (SELECT user_id, event_type,
                      epoch_ns(ts)//1000 AS tus, value FROM events),
         c AS (SELECT user_id, tus AS cus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS bus, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, cus, click_value, bus, buy_value
         FROM c ASOF LEFT JOIN b ON c.user_id = b.user_id AND b.bus <= c.cus"""),

    // §2#42c FORWARD as-of: each click matched to the user's NEXT
    // purchase at-or-after it — backward machinery on negated times.
    Query("q82_asof_forward", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("cus"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("bus"), col("value").as("buy_value"))
      operators.AsofJoin.asofJoinForward(clicks, buys,
        "user_id", "cus", "bus", Seq("bus", "buy_value"))
    },
      """WITH e AS (SELECT user_id, event_type,
                      epoch_ns(ts)//1000 AS tus, value FROM events),
         c AS (SELECT user_id, tus AS cus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS bus, value AS buy_value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id, cus, click_value, bus, buy_value
         FROM c ASOF LEFT JOIN b ON c.user_id = b.user_id AND b.bus >= c.cus"""),

    // §2#46c sliding-window chunking (the RAG/embedding chunker):
    // 20-token windows, stride 15, tail shortened — map-only.
    Query("q94_sliding_chunks", (s, dir) =>
      operators.Packing.slidingChunks(t(s, dir, "documents").df),
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         b AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) >= 1),
         c AS (
           SELECT doc_id, i AS chunk_idx, i*15 + 1 AS start_tok, n, w
           FROM b, unnest(generate_series(0, (greatest(n - 20, 0) + 14)//15)) s(i))
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(start_tok AS INT) AS start_tok,
           CAST(least(20, n - start_tok + 1) AS INT) AS n_tok,
           array_to_string(w[start_tok : start_tok + 19], ' ') AS chunk_text
         FROM c"""),

    // §2#50b point-in-interval join: lineitems shipped inside their
    // order's 120-day fulfillment window — intervals bucket-split to
    // 32-day cells, points keep one cell, plain hash equi-join + exact
    // BETWEEN residual.
    Query("q118_interval_join", (s, dir) => {
      val usDay = 86400000000L
      // dates ship as TIMESTAMP_NTZ; the cast reads them in the session
      // tz, pinned UTC everywhere (the Events.normTs contract)
      val pts = t(s, dir, "lineitem").df.select(
        col("l_orderkey"), col("l_linenumber"),
        expr(s"unix_micros(cast(l_shipdate as timestamp)) div $usDay").as("ship_day"))
      val ivs = t(s, dir, "orders").df.select(
        col("o_orderkey").as("l_orderkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $usDay").as("d0"))
        .withColumn("d1", col("d0") + 120)
      operators.RangeJoin.intervalJoin(pts, ivs, Seq("l_orderkey"),
        "ship_day", "d0", "d1", bucket = 32L)
    },
      """SELECT l_orderkey, l_linenumber,
           epoch_us(l_shipdate) // 86400000000 AS ship_day,
           epoch_us(o_orderdate) // 86400000000 AS d0,
           epoch_us(o_orderdate) // 86400000000 + 120 AS d1
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE epoch_us(l_shipdate) // 86400000000
                 >= epoch_us(o_orderdate) // 86400000000
           AND epoch_us(l_shipdate) // 86400000000
                 <= epoch_us(o_orderdate) // 86400000000 + 120"""),

    // §2#42d nearest as-of join: each click matched to the closest
    // purchase within ±1 h in either direction, ties to the earlier
    // one — both directional carries from ONE exchange (two sorts).
    // Purchases dedupe per (user, instant) for deterministic ties.
    Query("q136_asof_nearest", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tus"), col("value").as("click_value"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("tus").as("btus"))
        .agg(max(col("value")).as("buy_value"))
      operators.AsofJoin.asofJoinNearest(clicks, buys, "user_id", "tus", "btus",
        Seq("btus", "buy_value"), tolerance = Some(lit(3600000000L)))
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type, value FROM events),
         c AS (SELECT user_id, tus, value AS click_value FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, tus AS btus, MAX(value) AS buy_value
               FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.user_id, c.tus, c.click_value, m.btus, m.buy_value
         FROM c LEFT JOIN LATERAL (
           SELECT btus, buy_value FROM b
           WHERE b.user_id = c.user_id AND abs(b.btus - c.tus) <= 3600000000
           ORDER BY abs(b.btus - c.tus), b.btus LIMIT 1) m ON TRUE"""),

    // §2#31c Fellegi–Sunter record linkage over SORTED-NEIGHBORHOOD
    // candidates (n·w pairs — LINEAR at any scale; the blocked
    // scorePairs form is quadratic per block and measured 15× on the
    // 10× replica): integer log2 likelihood-ratio weights (name
    // agreement at bounded edit distance 1: m=8/9,u=1/9 → ±3; acctbal
    // within 50.00 in exact cents: m=4/5,u=1/5 → ±2), links at ≥ 1.
    Query("q198_linkage", (s, dir) => {
      val cust = t(s, dir, "customer").df
      operators.Linkage.scoreNeighborPairs(
        cust, "c_custkey", sortCol = "c_name",
        valueCols = Seq("c_name", "c_acctbal"),
        fields = Seq(
          operators.Linkage.LinkField("c_name",
            (a, b) => levenshtein(a, b, 1) >= 0, 3, -3),
          operators.Linkage.LinkField("c_acctbal",
            (a, b) => abs(floor(a.cast("double") * 100 + lit(0.5)).cast("long") -
                          floor(b.cast("double") * 100 + lit(0.5)).cast("long")) <= 5000,
            2, -2)),
        minScore = 1, w = 10)
    },
      """WITH c AS (
           SELECT c_custkey, c_name,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           FROM customer),
         r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS idx FROM c)
         SELECT a.c_custkey AS c_custkey_a, b.c_custkey AS c_custkey_b,
           (CASE WHEN levenshtein(a.c_name, b.c_name) <= 1 THEN '1' ELSE '0' END) ||
           (CASE WHEN abs(a.cents - b.cents) <= 5000 THEN '1' ELSE '0' END) AS pattern,
           (CASE WHEN levenshtein(a.c_name, b.c_name) <= 1 THEN 3 ELSE -3 END) +
           (CASE WHEN abs(a.cents - b.cents) <= 5000 THEN 2 ELSE -2 END) AS score
         FROM r a JOIN r b ON b.idx - a.idx BETWEEN 1 AND 10
         WHERE (CASE WHEN levenshtein(a.c_name, b.c_name) <= 1 THEN 3 ELSE -3 END) +
               (CASE WHEN abs(a.cents - b.cents) <= 5000 THEN 2 ELSE -2 END) >= 1"""),

    // §2#4b bloom-filtered join: dim-key bloom prunes the fact side
    // map-side BEFORE the shuffle — the explicit form of AQE's
    // runtime row-level filter, guaranteed rather than heuristic.
    Query("q202_bloom_join", (s, dir) => {
      val li = t(s, dir, "lineitem").df
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val dim = t(s, dir, "part").df.filter(col("p_size") <= 2)
        .select("p_partkey", "p_brand")
      operators.BloomJoin.bloomFilteredJoin(
          li.withColumnRenamed("l_partkey", "p_partkey"), dim, Seq("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    },
      """SELECT p.p_brand, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_size <= 2
         GROUP BY 1"""),

    // §2#50c interval-overlap join: concurrent-validity detection —
    // per customer, pairs of 31-day order windows that overlap; each
    // pair emitted exactly once via the overlap-start-cell rule, no
    // dedup shuffle.
    Query("q207_interval_overlap", (s, dir) => {
      val usDay = 86400000000L
      def ivs(ka: String, sa: String, ea: String) =
        t(s, dir, "orders").df.select(
          col("o_custkey"), col("o_orderkey").as(ka),
          expr(s"unix_micros(cast(o_orderdate as timestamp)) div $usDay").as(sa))
          .withColumn(ea, col(sa) + 30)
      operators.RangeJoin.intervalOverlapJoin(
          ivs("key_a", "s_a", "e_a"), ivs("key_b", "s_b", "e_b"),
          Seq("o_custkey"), "s_a", "e_a", "s_b", "e_b", bucket = 32L)
        .filter(col("key_a") < col("key_b"))
        .select(col("o_custkey"), col("key_a"), col("key_b"),
          (least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")) + 1)
            .as("ov_days"))
    },
      """WITH i AS (
           SELECT o_custkey, o_orderkey,
             epoch_us(o_orderdate) // 86400000000 AS s,
             epoch_us(o_orderdate) // 86400000000 + 30 AS e
           FROM orders)
         SELECT a.o_custkey, a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           least(a.e, b.e) - greatest(a.s, b.s) + 1 AS ov_days
         FROM i a JOIN i b
           ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
           AND a.s <= b.e AND b.s <= a.e""")
  )
}
