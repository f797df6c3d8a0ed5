package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import Helpers._

/** Transactional tables: `sources.TxTable`, `operators.Upsert` and
  * `sources.BinaryDir`.
  */
object TxQueries {

  /** The table summary most queries here report: `n_rows` (`count(1)`)
    * and `sum_price`, the exact DECIMAL(18,4) sum of `o_totalprice` as a
    * double, after one column per `tags` entry (name -> value). A Column
    * value groups the rows, one summary row per group; any other value
    * is a literal, and with literals only the summary is one row, also
    * of an empty frame.
    */
  private def priceSummary(df: DataFrame, tags: (String, Any)*): DataFrame =
    df.groupBy(tags.collect { case (n, c: Column) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .select(tags.map {
        case (n, _: Column) => col(n)
        case (n, x) => lit(x).as(n)
      } ++ Seq(col("n_rows"), col("sum_price")): _*)

  val all: Seq[Query] = Seq(

    // §2#62 CDC merge: a deterministic change feed derived from
    // lineitem (latest l_linenumber wins per order; ~1/7 of keys
    // delete, the rest update status+price) applied onto the orders
    // snapshot — winner-per-key window over the FEED only, one
    // full-outer equi-join against the untouched base.
    Query("q111_cdc_upsert", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(Seq("o_orderkey", "o_orderstatus", "o_totalprice")).df
      val changes = t(s, dir, "lineitem").df.select(
        col("l_orderkey").as("o_orderkey"),
        col("l_linenumber").cast("long").as("seq"),
        when(pmod(functions.Hashing.md5Long32(
          concat(lit("op"), col("l_orderkey"), lit(":"), col("l_linenumber"))), lit(7)) === 0,
          lit("D")).otherwise(lit("U")).as("op"),
        lit("R").as("o_orderstatus"),
        col("l_extendedprice").as("o_totalprice"))
      // l_linenumber repeats within an order in this corpus, so the
      // price column completes the total order the apply needs
      operators.Upsert.applyChanges(base, changes, "o_orderkey", "seq", "op",
        tieCols = Seq("o_totalprice"))
    },
      """WITH ch AS (
           SELECT l_orderkey AS o_orderkey, CAST(l_linenumber AS BIGINT) AS seq,
             CASE WHEN ('0x' || substr(md5('op' || l_orderkey || ':' || l_linenumber), 1, 8))::BIGINT % 7 = 0
                  THEN 'D' ELSE 'U' END AS op,
             'R' AS o_orderstatus, l_extendedprice AS o_totalprice
           FROM lineitem),
         w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC, o_totalprice DESC) AS rn FROM ch),
         win AS (SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM w WHERE rn = 1)
         SELECT o_orderkey,
           CASE WHEN win.op IS NOT NULL THEN win.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN win.op IS NOT NULL THEN win.o_totalprice ELSE b.o_totalprice END AS o_totalprice
         FROM orders b FULL OUTER JOIN win USING (o_orderkey)
         WHERE win.op IS NULL OR win.op <> 'D'"""),

    // §2#62p (r7) manifest data-skipping: per-file min/max recorded in
    // the TxTable transaction log at commit (the Delta shape), range
    // reads prune FILES from the manifest alone — the gated query
    // proves the pruned read returns exactly the full snapshot's
    // filtered rows; the spec proves files were actually skipped.
    Query("q272_tx_skipping", (s, dir) => {
      val table = sidePath("graft_txk", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
      sources.TxTable.commit(ord, table, statsCols = Seq("o_orderkey"))
      priceSummary(sources.TxTable.scan(s, table, col("o_orderkey").between(1000.0, 3000.0)),
          "section" -> "pruned")
        .unionByName(priceSummary(sources.TxTable.read(s, table)
          .filter(col("o_orderkey").between(1000, 3000)), "section" -> "snapshot"))
    },
      // the pruned read must return EXACTLY the full snapshot's filtered
      // rows — both sections recompute from the base table
      """WITH f AS (SELECT * FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000),
         a AS (SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           FROM f)
         SELECT 'pruned' AS section, n_rows, sum_price FROM a
         UNION ALL
         SELECT 'snapshot', n_rows, sum_price FROM a"""),

    // §2#62q (r7) z-order + manifest skipping composed: the q92 layout
    // committed through TxTable with BOTH dims' stats, then range
    // reads on EITHER dim prune files from the transaction log —
    // multi-dimensional data skipping, the full OPTIMIZE story.
    Query("q280_tx_zorder_skip", (s, dir) => {
      val table = sidePath("graft_txz", dir)
      sources.TxTable.drop(s, table)
      val li = t(s, dir, "lineitem").df
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      sources.TxTable.commit(
        functions.Layout.zorderLayout(li, "l_orderkey", "l_partkey", 16),
        table, statsCols = Seq("l_orderkey", "l_partkey"))
      def summarize(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_rows"),
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
          .select(lit(tag).as("section"), col("n_rows"), col("sum_qty"))
      summarize(sources.TxTable.scan(s, table, col("l_orderkey").between(1000.0, 3000.0)), "by_okey")
        .unionByName(
          summarize(sources.TxTable.scan(s, table, col("l_partkey").between(10.0, 60.0)), "by_pkey"))
    },
      // both sections recompute from the base table — the z-ordered
      // pruned reads must be row-exact
      """SELECT 'by_okey' AS section, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
         UNION ALL
         SELECT 'by_pkey', COUNT(*),
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
         FROM lineitem WHERE l_partkey BETWEEN 10 AND 60"""),

    // §2#62r (r7) copy-on-write row-level DELETE through TxTable: four
    // range-bucketed single-file commits (manifest stats per file),
    // then a delete whose range stats-prunes to ONE candidate file —
    // the other three carry forward untouched (zero write
    // amplification), CDC reads the version as remove+add of the
    // rewritten subset only. Sections audit the final snapshot, the
    // prune counts, and the CDC churn.
    Query("q289_tx_delete", (s, dir) => {
      val table = sidePath("graft_txdel", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      val m = ord.agg(max(col("o_orderkey"))).head().getLong(0)
      val width = (m + 3) / 4
      // one distributed write for the 4-bucket history (commitSlices:
      // identical per-version files/stats, minus 3 scan+write jobs)
      sources.TxTable.commitSlices(ord, table,
        expr(s"(o_orderkey - 1) div ${width}L"), 4,
        statsCols = Seq("o_orderkey"))
      val lo = 1.0
      val hi = (width / 2).toDouble
      val (v, nRewritten, nCarried) =
        sources.TxTable.deleteWhere(s, table, col("o_orderkey").between(lo, hi))
      val snap = priceSummary(sources.TxTable.readVersion(s, table, v),
        "section" -> "snapshot", "label" -> "after_delete")
      val files = s.createDataFrame(Seq(
          ("files", "rewritten", nRewritten.toLong),
          ("files", "carried", nCarried.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      val cdc = priceSummary(sources.TxTable.changes(s, table, v - 1, v),
        "section" -> "cdc", "label" -> concat(col("_change"), lit("@"), col("_version")))
      snap.unionByName(files).unionByName(cdc)
    },
      // the bucket layout, prune counts, snapshot, and CDC churn all
      // derived from orders + the same integer width arithmetic
      """WITH w AS (SELECT (MAX(o_orderkey) + 3) // 4 AS width FROM orders),
         del AS (SELECT width, width // 2 AS hi FROM w)
         SELECT 'snapshot' AS section, 'after_delete' AS label,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders, del WHERE NOT (o_orderkey >= 1 AND o_orderkey <= hi)
         UNION ALL
         SELECT 'files', 'rewritten',
           (SELECT COUNT(DISTINCT (o_orderkey - 1) // width)
            FROM orders, del WHERE o_orderkey >= 1 AND o_orderkey <= hi),
           CAST(NULL AS DOUBLE)
         UNION ALL
         SELECT 'files', 'carried',
           (SELECT COUNT(DISTINCT (o_orderkey - 1) // width) FROM orders, del)
             - (SELECT COUNT(DISTINCT (o_orderkey - 1) // width)
                FROM orders, del WHERE o_orderkey >= 1 AND o_orderkey <= hi),
           CAST(NULL AS DOUBLE)
         UNION ALL
         SELECT 'cdc', 'insert@5', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM orders, del WHERE o_orderkey <= width
           AND NOT (o_orderkey >= 1 AND o_orderkey <= hi)
         UNION ALL
         SELECT 'cdc', 'delete@5', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM orders, del WHERE o_orderkey <= width"""),

    // §2#62s (r7) exactly-once idempotent commits (the Delta
    // txnAppId/txnVersion contract): three event batches committed
    // with (app, batch) markers, batch 0 REDELIVERED in between — the
    // replay must be a no-op (version count stays 3, the duplicate
    // reports not-applied, and the final table sums every event ONCE;
    // a double apply fails the data row's hash).
    Query("q290_tx_idempotent", (s, dir) => {
      val table = sidePath("graft_txid", dir)
      sources.TxTable.drop(s, table)
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      def batch(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      val (v1, _) = sources.TxTable.commitIdempotent(batch(0), table, "ingest", 0L)
      sources.TxTable.commitIdempotent(batch(1), table, "ingest", 1L)
      val (vr, ar) = sources.TxTable.commitIdempotent(batch(0), table, "ingest", 0L)
      sources.TxTable.commitIdempotent(batch(2), table, "ingest", 2L)
      val tbl = sources.TxTable.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(floor(col("value") * 1000000L + lit(0.5)).cast("long")
            .cast("decimal(38,0)")).cast("double") / 1e6, 6).as("metric"))
        .select(lit("table").as("section"), lit("all").as("label"),
          col("n_rows"), col("metric"))
      val meta = s.createDataFrame(Seq(
          ("meta", "n_versions", sources.TxTable.currentVersion(s, table).toLong),
          ("meta", "replay_applied", if (ar) 1L else 0L),
          ("meta", "replay_version", vr.toLong),
          ("meta", "first_version", v1.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("metric", lit(null).cast("double"))
      tbl.unionByName(meta)
    },
      // the data row proves single application (a double apply would
      // double n_rows/metric); the meta rows pin the protocol outcome
      """SELECT 'table' AS section, 'all' AS label, COUNT(*) AS n_rows,
           round(CAST(SUM(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 1e6, 6) AS metric
         FROM events
         UNION ALL SELECT 'meta', 'n_versions', 3, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'replay_applied', 0, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'replay_version', 1, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'first_version', 1, CAST(NULL AS DOUBLE)"""),

    // §2#62t (r7) additive schema evolution: v1 commits the old
    // 2-column shape, v2 evolves in o_year, v3 plain-appends the
    // evolved shape (the post-evolution gate now compares against the
    // UNION schema); the final snapshot reads with mergeSchema, so
    // pre-evolution rows surface o_year as NULL — counted via
    // count(o_year) — while v1 time travel still reads the old shape.
    Query("q294_tx_evolve", (s, dir) => {
      val table = sidePath("graft_txev", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice")), table)
      sources.TxTable.commitEvolve(ord.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year")), table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "3-MEDIUM")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year")), table)
      val v3 = sources.TxTable.readVersion(s, table, 3)
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
          count(col("o_year")).as("n_year"),
          sum(col("o_year").cast("decimal(19,0)")).cast("double").as("sum_year"))
        .select(lit("v3").as("section"), lit("all").as("label"), col("n_rows"),
          col("sum_price"), col("n_year"), col("sum_year"))
      val v1 = priceSummary(sources.TxTable.readVersion(s, table, 1),
          "section" -> "v1", "label" -> "all")
        .withColumn("n_year", lit(null).cast("long"))
        .withColumn("sum_year", lit(null).cast("double"))
      v3.unionByName(v1)
    },
      // v3 reads through mergeSchema: pre-evolution rows count NULL
      // o_year; v1 time travel keeps the old 2-column shape
      """SELECT 'v3' AS section, 'all' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           COUNT(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 END) AS n_year,
           CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' THEN
             CAST(year(o_orderdate) AS DECIMAL(19,0)) END) AS DOUBLE) AS sum_year
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
         UNION ALL
         SELECT 'v1', 'all', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
         FROM orders WHERE o_orderpriority = '1-URGENT'"""),

    // §2#62u (r7) incremental OPTIMIZE: one well-sized commit + three
    // micro-batch-sized appends, then `compact(minBytes = 4096)`
    // rewrites ONLY the three small files (the big one carries by
    // reference) — the
    // nightly-OPTIMIZE-after-streaming-ingest story; content and the
    // version/file accounting both gated.
    Query("q302_tx_compact_small", (s, dir) => {
      val table = sidePath("graft_txcs", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      // slice 0 = the big remainder batch, slices 1-3 = the small
      // mod-keyed batches; one distributed write builds all 4 versions
      sources.TxTable.commitSlices(ord, table,
        when(pmod(col("o_orderkey"), lit(1500)).isin(1, 2, 3),
          pmod(col("o_orderkey"), lit(1500))).otherwise(lit(0)), 4,
        statsCols = Seq("o_orderkey"))
      val (v, nRw, nCar) = sources.TxTable.compact(s, table, minBytes = 4096)
      val content = priceSummary(sources.TxTable.readVersion(s, table, v),
        "section" -> "content", "label" -> "after")
      val meta = s.createDataFrame(Seq(
          ("meta", "rewritten", nRw.toLong),
          ("meta", "carried", nCar.toLong),
          ("meta", "n_versions", v.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      content.unionByName(meta)
    },
      // content preserved; rewritten/carried/version accounting pinned
      // (3 micro-files re-binned, the big file carried by reference)
      """SELECT 'content' AS section, 'after' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders
         UNION ALL SELECT 'meta', 'rewritten', 3, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'carried', 1, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_versions', 5, CAST(NULL AS DOUBLE)"""),

    // §2#62w (r8) constraint-gated commit (Delta CHECK constraints /
    // WAP): the declared Quality audit runs BEFORE publish; a clean
    // frame commits and its verdicts report, a violating frame refuses
    // with the head untouched (spec-side).
    Query("q313_tx_constraints", (s, dir) => {
      val table = sidePath("graft_txchk", dir)
      sources.TxTable.drop(s, table)
      val urgent = t(s, dir, "orders").df
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      def checks = Seq[functions.Quality.Check](
        functions.Quality.Completeness("o_orderkey"),
        functions.Quality.Uniqueness("o_orderkey"),
        functions.Quality.NonNegative("o_totalprice"))
      sources.TxTable.commitChecked(urgent, table, checks)
      val snap = sources.TxTable.read(s, table)
      val agg = priceSummary(snap, "section" -> "table", "label" -> "all")
      val verdicts = functions.Quality.audit(snap, checks)
        .select(lit("check").as("section"),
          concat(col("check"), lit("@"), col("column")).as("label"),
          when(col("passed"), 1L).otherwise(0L).as("n_rows"),
          lit(null).cast("double").as("sum_price"))
      agg.unionByName(verdicts)
    },
      // verdicts recomputed in plain SQL over the same filter — all three
      // checks pass on this data (the refusal path is spec-gated)
      """WITH u AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderpriority = '1-URGENT')
         SELECT 'table' AS section, 'all' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM u
         UNION ALL
         SELECT 'check', 'completeness@o_orderkey',
           CAST(CASE WHEN COUNT(o_orderkey) = COUNT(*) THEN 1 ELSE 0 END AS BIGINT),
           CAST(NULL AS DOUBLE) FROM u
         UNION ALL
         SELECT 'check', 'uniqueness@o_orderkey',
           CAST(CASE WHEN COUNT(DISTINCT o_orderkey) = COUNT(*)
                      AND COUNT(o_orderkey) = COUNT(*) THEN 1 ELSE 0 END AS BIGINT),
           CAST(NULL AS DOUBLE) FROM u
         UNION ALL
         SELECT 'check', 'non_negative@o_totalprice',
           CAST(CASE WHEN SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0
                      THEN 1 ELSE 0 END AS BIGINT),
           CAST(NULL AS DOUBLE) FROM u"""),

    // §2#62x (r8) bloom-filter file skipping (the Delta bloom index):
    // the point-lookup complement of q272's min/max stats — the table
    // is deliberately hash-scattered on the key, so every file's range
    // spans the domain and ONLY membership prunes; a present key reads
    // its files (no false negatives), an absent key prunes on bloom
    // bits alone. Per-file blooms and both probes are recomputed
    // independently by the oracle from the data files (filename=true).
    Query("q316_tx_bloom_skip", (s, dir) => {
      val table = sidePath("graft_txbloom", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(8, col("o_orderkey")) // unclustered: range stats useless
      sources.TxTable.commit(ord, table, bloomCols = Seq("o_orderkey"))
      def probe(tag: String, key: String) = {
        val kept = sources.TxTable.keptFiles(s, table, 1, col("o_orderkey").cast("string") === key)
        priceSummary(sources.TxTable.readWhereKey(s, table, "o_orderkey", key),
          "label" -> tag, "n_files_kept" -> kept.size.toLong)
      }
      probe("present", "1").unionByName(probe("absent", "-7"))
    },
      OracleGen.bloomSkipSql("/tmp/graft_txbloom___SFTAG__")),

    // §2#62z (r8) RESTORE — zero-copy rollback (Delta RESTORE TO
    // VERSION): the restored head REFERENCES version 2's files (no
    // data read or written — zero_copy audits file-list identity);
    // the bad v3 stays time-travelable; CDC reads the restore as a
    // full snapshot replace.
    Query("q321_tx_restore", (s, dir) => {
      val table = sidePath("graft_txres", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      def part(p: String) = ord.filter(col("o_orderpriority") === p)
        .select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(part("1-URGENT"), table)
      sources.TxTable.commit(part("2-HIGH"), table)
      sources.TxTable.commit(part("5-LOW"), table, op = "overwrite") // the bad write
      val rv = sources.TxTable.restore(s, table, 2)
      val now = priceSummary(sources.TxTable.read(s, table),
        "section" -> "table", "label" -> "restored")
      val v3 = priceSummary(sources.TxTable.readVersion(s, table, 3),
        "section" -> "table", "label" -> "pre_restore")
      val cdc = priceSummary(sources.TxTable.changes(s, table, 3, 4),
        "section" -> "cdc", "label" -> concat(col("_change"), lit("@"), col("_version")))
      val zeroCopy = sources.TxTable.filesOf(s, table, rv).toSet ==
        sources.TxTable.filesOf(s, table, 2).toSet
      val meta = s.createDataFrame(Seq(
          ("meta", "n_versions", sources.TxTable.currentVersion(s, table).toLong),
          ("meta", "restored_version", rv.toLong),
          ("meta", "zero_copy", if (zeroCopy) 1L else 0L)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      now.unionByName(v3).unionByName(cdc).unionByName(meta)
    },
      """WITH v12 AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txres___SFTAG__/data/v1_*.parquet')
           UNION ALL
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txres___SFTAG__/data/v2_*.parquet')),
         v3 AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txres___SFTAG__/data/v3_*.parquet'))
         SELECT 'table' AS section, 'restored' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v12
         UNION ALL SELECT 'table', 'pre_restore', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v3
         UNION ALL SELECT 'cdc', 'delete@4', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v3
         UNION ALL SELECT 'cdc', 'insert@4', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v12
         UNION ALL SELECT 'meta', 'n_versions', CAST(4 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'restored_version', CAST(4 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'zero_copy', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#30ac (r8) incremental-dedup LOOKUP: the query side of q312's
    // maintained band index — "which existing documents does this
    // batch duplicate", one (band, bandval) equi-join against the
    // committed index, never a corpus re-sign.
    Query("q322_dedup_index_lookup", (s, dir) => {
      val docs = t(s, dir, "documents").df
      val table = sidePath("graft_dedupidx2", dir)
      sources.TxTable.drop(s, table)
      sources.TxTable.commit(
        operators.Dedup.minhashBandIndex(docs.filter(col("doc_id") % 5 =!= 0)), table)
      operators.Dedup.indexLookupPairs(
          sources.TxTable.read(s, table), docs.filter(col("doc_id") % 5 === 0))
        .filter(col("est_sim") >= 0.25)
    },
      OracleGen.bandIndexLookupSql()),

    // §2#62m (r9) MERGE-ON-READ delete by KEY SET (`deleteKeysMor`, the
    // CDC-apply entry point; q331 checks the range one) — zero data
    // files rewritten at delete time (the manifest carries v1's files
    // verbatim; an auditor checks `files v2 == files v1`), reads
    // anti-join the (file, row ordinal) sidecar, and OPTIMIZE folds the
    // vectors into fresh files. The oracle reconstructs the MoR view
    // with the same anti-join over the raw sidecar parquet, through
    // DuckDB's file_row_number.
    Query("q324_tx_mor_delete", (s, dir) => {
      val table = sidePath("graft_txmor", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(ord.repartitionByRange(4, col("o_orderkey")), table,
        statsCols = Seq("o_orderkey"))
      val files1 = sources.TxTable.filesOf(s, table, 1)
      val (v2, nDel) = sources.TxTable.deleteKeysMor(s, table, "o_orderkey",
        ord.filter(col("o_orderkey").between(1, 500)).select("o_orderkey"))
      val nVecFiles = sources.TxTable.posDeletesOf(s, table, v2).size
      val zeroRewrite = sources.TxTable.filesOf(s, table, v2) == files1
      val v3 = sources.TxTable.compact(s, table)._1
      val vecsAfter = sources.TxTable.posDeletesOf(s, table, v3).size
      val meta = s.createDataFrame(Seq(
          ("meta", "zero_rewrite", if (zeroRewrite) 1L else 0L),
          ("meta", "n_deleted", nDel),
          ("meta", "n_tomb_files", nVecFiles.toLong),
          ("meta", "tombs_after_compact", vecsAfter.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.readVersion(s, table, 1),
        "section" -> "table", "label" -> "v1_full")
        .unionByName(priceSummary(sources.TxTable.readVersion(s, table, v2),
            "section" -> "table", "label" -> "v2_mor"))
        .unionByName(priceSummary(sources.TxTable.readVersion(s, table, v3),
            "section" -> "table", "label" -> "v3_compacted"))
        .unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice,
             regexp_extract(filename, '[^/]*$') AS fn, file_row_number AS ri
           FROM read_parquet('/tmp/graft_txmor___SFTAG__/data/v1_*.parquet',
                             filename=true, file_row_number=true)),
         vec AS (
           SELECT _gf, _gp
           FROM read_parquet('/tmp/graft_txmor___SFTAG__/data/v2_p*.parquet')),
         mor AS (
           SELECT d.o_orderkey, d.o_totalprice FROM v1 d
           ANTI JOIN vec t ON d.fn = t._gf AND d.ri = t._gp)
         SELECT 'table' AS section, 'v1_full' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v1
         UNION ALL SELECT 'table', 'v2_mor', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM mor
         UNION ALL SELECT 'table', 'v3_compacted', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txmor___SFTAG__/data/v3_*.parquet')
         UNION ALL SELECT 'meta', 'zero_rewrite', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_deleted',
           (SELECT COUNT(*) FROM vec), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_tomb_files',
           (SELECT COUNT(DISTINCT filename)
            FROM read_parquet('/tmp/graft_txmor___SFTAG__/data/v2_p*.parquet', filename=true)),
           CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'tombs_after_compact', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#65b (r9) metadata-only RENAME/DROP via column mapping: the
    // physical column name is frozen at first write (old AND
    // post-rename appends store `o_totalprice`), rename/drop rewrite
    // only the manifest's (logical→physical) map — zero data IO at any
    // table size — and every read path projects through the map. The
    // oracle reads the raw physical files and applies the same alias.
    Query("q325_tx_rename_evolve", (s, dir) => {
      val table = sidePath("graft_txmap", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "1-URGENT"),
        table, statsCols = Seq("o_orderkey"))
      sources.TxTable.renameColumn(s, table, "o_totalprice", "price") // v2, zero IO
      sources.TxTable.commit( // v3: the gate enforces the MAPPED shape
        ord.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
            col("o_orderpriority")),
        table, statsCols = Seq("o_orderkey"))
      sources.TxTable.dropColumn(s, table, "o_orderpriority") // v4, zero IO
      val zeroIo = sources.TxTable.filesOf(s, table, 2) ==
        sources.TxTable.filesOf(s, table, 1) &&
        sources.TxTable.filesOf(s, table, 4) == sources.TxTable.filesOf(s, table, 3)
      val cur = sources.TxTable.read(s, table)
      def agg(df: org.apache.spark.sql.DataFrame, label: String, c: String) =
        df.agg(count(lit(1)).as("n_rows"),
            sum(dec(col(c))).cast("double").as("sum_val"))
          .select(lit("table").as("section"), lit(label).as("label"),
            col("n_rows"), col("sum_val"))
      val meta = s.createDataFrame(Seq(
          ("meta", "zero_io", if (zeroIo) 1L else 0L),
          ("meta", "n_cols_now", cur.columns.length.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_val", lit(null).cast("double"))
      agg(cur, "current", "price")
        .unionByName(agg(sources.TxTable.readVersion(s, table, 1), "v1", "o_totalprice"))
        .unionByName(agg(sources.TxTable.scan(s, table, col("o_orderkey").between(100.0, 2000.0)),
          "pruned", "price"))
        .unionByName(meta)
    },
      """WITH phys AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet(['/tmp/graft_txmap___SFTAG__/data/v1_*.parquet',
                              '/tmp/graft_txmap___SFTAG__/data/v3_*.parquet'])),
         cur AS (SELECT o_orderkey, o_totalprice AS price FROM phys)
         SELECT 'table' AS section, 'current' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
         FROM cur
         UNION ALL SELECT 'table', 'v1', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txmap___SFTAG__/data/v1_*.parquet')
         UNION ALL SELECT 'table', 'pruned', COUNT(*),
           CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
         FROM cur WHERE o_orderkey BETWEEN 100 AND 2000
         UNION ALL SELECT 'meta', 'zero_io', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_cols_now', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#62ac (r9) value-set file skipping: per-file DISTINCT-value
    // sets recorded at commit — EXACT categorical pruning (the Hive
    // partition-pruning effect without physical partitioning): a
    // per-category read touches the category's files, not the
    // snapshot. The oracle recomputes the kept-file count from the
    // data itself (every file's cardinality is under the cap, so
    // manifest-kept == files-actually-containing).
    Query("q328_tx_value_skip", (s, dir) => {
      val table = sidePath("graft_txvs", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.commit(ord.repartition(5, col("o_orderpriority")), table,
        setCols = Seq("o_orderpriority"))
      val probe = "3-MEDIUM"
      val kept = sources.TxTable.keptFiles(s, table, 1, col("o_orderpriority") === probe)
      val total = sources.TxTable.filesOf(s, table, 1)
      val rows = priceSummary(sources.TxTable.scan(s, table, col("o_orderpriority") === probe),
        "section" -> "rows")
      val absent = sources.TxTable.scan(s, table, col("o_orderpriority") === "9-NONE")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("absent").as("section"), col("n_rows"),
          lit(null).cast("double").as("sum_price"))
      val meta = s.createDataFrame(Seq(
          ("kept_files", kept.size.toLong),
          ("total_files", total.size.toLong)))
        .toDF("section", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      rows.unionByName(absent).unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice, o_orderpriority, filename
           FROM read_parquet('/tmp/graft_txvs___SFTAG__/data/v1_*.parquet', filename=true))
         SELECT 'rows' AS section, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v1 WHERE o_orderpriority = '3-MEDIUM'
         UNION ALL SELECT 'absent', 0, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'kept_files',
           (SELECT COUNT(DISTINCT filename) FROM v1 WHERE o_orderpriority = '3-MEDIUM'),
           CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'total_files',
           (SELECT COUNT(DISTINCT filename) FROM v1), CAST(NULL AS DOUBLE)"""),

    // §2#62ae (r10) PARTITIONED TxTable layout: hive-style
    // data/<col>=<val>/ files with the partition column recorded in
    // the manifest — a per-partition read selects the partition's
    // files from the manifest alone (true partition pruning, the
    // physical complement of q328's value-set skipping), and the
    // partition column re-derives from the path on read. The oracle
    // recomputes both sections from the raw layout via DuckDB's
    // hive_partitioning.
    Query("q330_tx_partitioned", (s, dir) => {
      val table = sidePath("graft_txpt", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.commit(ord, table, statsCols = Seq("o_orderkey"),
        partitionBy = Some("o_orderpriority"))
      val probe = "3-MEDIUM"
      val total = sources.TxTable.filesOf(s, table, 1)
      val mine = sources.TxTable.keptFiles(s, table, 1, col("o_orderpriority") === probe)
      val rows = priceSummary(sources.TxTable.scan(s, table, col("o_orderpriority") === probe),
        "section" -> "rows")
      val absent = sources.TxTable.scan(s, table, col("o_orderpriority") === "9-NONE")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("absent").as("section"), col("n_rows"),
          lit(null).cast("double").as("sum_price"))
      val meta = s.createDataFrame(Seq(
          ("kept_files", mine.size.toLong),
          ("total_files", total.size.toLong)))
        .toDF("section", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      rows.unionByName(absent).unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice, o_orderpriority, filename
           FROM read_parquet('/tmp/graft_txpt___SFTAG__/data/*/v1_*.parquet',
                             filename=true, hive_partitioning=1))
         SELECT 'rows' AS section, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v1 WHERE o_orderpriority = '3-MEDIUM'
         UNION ALL SELECT 'absent', 0, CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'kept_files',
           (SELECT COUNT(DISTINCT filename) FROM v1 WHERE o_orderpriority = '3-MEDIUM'),
           CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'total_files',
           (SELECT COUNT(DISTINCT filename) FROM v1), CAST(NULL AS DOUBLE)"""),

    // §2#62af (r10) positional deletion vectors: the (file, row
    // ordinal) merge-on-read delete — schema-independent (no key
    // column) and ordinal-cheap on the read side; zero data files
    // rewritten; OPTIMIZE folds the vectors. The oracle recomputes the
    // anti-join from the raw files via DuckDB's file_row_number, so a
    // single mis-recorded ordinal hash-fails.
    Query("q331_tx_pos_delete", (s, dir) => {
      val table = sidePath("graft_txpd", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(ord.repartitionByRange(4, col("o_orderkey")), table,
        statsCols = Seq("o_orderkey"))
      val files1 = sources.TxTable.filesOf(s, table, 1)
      val (v2, nDel) = sources.TxTable.deleteWherePos(s, table, col("o_orderkey").between(1.0, 500.0))
      val nVecFiles = sources.TxTable.posDeletesOf(s, table, v2).size
      val zeroRewrite = sources.TxTable.filesOf(s, table, v2) == files1
      val v3 = sources.TxTable.compact(s, table)._1
      val vecsAfter = sources.TxTable.posDeletesOf(s, table, v3).size
      val meta = s.createDataFrame(Seq(
          ("meta", "zero_rewrite", if (zeroRewrite) 1L else 0L),
          ("meta", "n_deleted", nDel),
          ("meta", "n_vec_files", nVecFiles.toLong),
          ("meta", "vecs_after_compact", vecsAfter.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.readVersion(s, table, 1),
        "section" -> "table", "label" -> "v1_full")
        .unionByName(priceSummary(sources.TxTable.readVersion(s, table, v2),
            "section" -> "table", "label" -> "v2_pos"))
        .unionByName(priceSummary(sources.TxTable.readVersion(s, table, v3),
            "section" -> "table", "label" -> "v3_compacted"))
        .unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice,
             regexp_extract(filename, '[^/]*$') AS fn, file_row_number AS ri
           FROM read_parquet('/tmp/graft_txpd___SFTAG__/data/v1_*.parquet',
                             filename=true, file_row_number=true)),
         vec AS (
           SELECT _gf, _gp
           FROM read_parquet('/tmp/graft_txpd___SFTAG__/data/v2_p*.parquet')),
         mor AS (
           SELECT d.o_orderkey, d.o_totalprice FROM v1 d
           ANTI JOIN vec t ON d.fn = t._gf AND d.ri = t._gp)
         SELECT 'table' AS section, 'v1_full' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v1
         UNION ALL SELECT 'table', 'v2_pos', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM mor
         UNION ALL SELECT 'table', 'v3_compacted', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txpd___SFTAG__/data/v3_*.parquet')
         UNION ALL SELECT 'meta', 'zero_rewrite', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_deleted',
           (SELECT COUNT(*) FROM vec), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_vec_files',
           (SELECT COUNT(DISTINCT filename)
            FROM read_parquet('/tmp/graft_txpd___SFTAG__/data/v2_p*.parquet', filename=true)),
           CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'vecs_after_compact', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#62ah (r10) copy-on-write row-level UPDATE: rewrite ONLY the
    // stats-pruned candidate files with the assignment applied to
    // matching rows, carry the rest by reference; CDC surfaces the
    // churn as delete-of-candidates + insert-of-rewrites (the Iceberg
    // CoW-update rule). The oracle recomputes the candidate set from
    // per-file min/max over the raw v1 files — one mis-pruned file
    // hash-fails the cdc section; the updated values go through exact
    // DECIMAL multiplication on both engines.
    Query("q332_tx_update", (s, dir) => {
      val table = sidePath("graft_txup", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(ord.repartitionByRange(4, col("o_orderkey")), table,
        statsCols = Seq("o_orderkey"))
      val bump = (dec(col("o_totalprice")) *
        lit(new java.math.BigDecimal("1.1"))).cast("double")
      val (v2, nTouched, nCarried) = sources.TxTable.updateWhere(s, table,
        col("o_orderkey").between(1.0, 500.0), Map("o_totalprice" -> bump))
      val cdc = priceSummary(sources.TxTable.changes(s, table, 1, v2),
        "section" -> "cdc", "label" -> col("_change"))
      val meta = s.createDataFrame(Seq(
          ("meta", "n_touched", nTouched.toLong),
          ("meta", "n_carried", nCarried.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.readVersion(s, table, 1),
        "section" -> "table", "label" -> "v1_full")
        .unionByName(priceSummary(sources.TxTable.readVersion(s, table, v2),
            "section" -> "table", "label" -> "v2_updated"))
        .unionByName(cdc).unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice, filename
           FROM read_parquet('/tmp/graft_txup___SFTAG__/data/v1_*.parquet', filename=true)),
         upd AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey BETWEEN 1 AND 500
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
           FROM v1),
         touched AS (
           SELECT filename FROM v1 GROUP BY 1
           HAVING min(o_orderkey) <= 500 AND max(o_orderkey) >= 1),
         v2f AS (SELECT o_orderkey, o_totalprice
                 FROM read_parquet('/tmp/graft_txup___SFTAG__/data/v2_*.parquet'))
         SELECT 'table' AS section, 'v1_full' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price FROM v1
         UNION ALL SELECT 'table', 'v2_updated', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM upd
         UNION ALL SELECT 'cdc', 'insert', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v2f
         UNION ALL SELECT 'cdc', 'delete', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           FROM v1 WHERE filename IN (SELECT filename FROM touched)
         UNION ALL SELECT 'meta', 'n_touched',
           (SELECT COUNT(*) FROM touched), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_carried',
           (SELECT COUNT(DISTINCT filename) FROM v1) - (SELECT COUNT(*) FROM touched),
           CAST(NULL AS DOUBLE)"""),

    // §2#62ai (r10) HIDDEN bucket partitioning (Iceberg transform
    // partitioning): the layout column derives from md5(o_orderkey) —
    // never stored, never in the logical schema — and a point lookup
    // prunes to the ONE bucket the probe key's transform lands in,
    // from the manifest file list alone. The md5 transform is
    // engine-portable, so the oracle recomputes the probe's bucket and
    // the per-bucket file census from the raw hive layout.
    Query("q333_tx_bucket", (s, dir) => {
      val table = sidePath("graft_txbk", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(ord.repartition(2, col("o_orderkey")), table,
        partitionBy = Some("_gpt-bucket16-o_orderkey"))
      val probe = col("o_orderkey").cast("string") === "137"
      val rows = priceSummary(sources.TxTable.scan(s, table, probe), "section" -> "rows")
      val total = sources.TxTable.filesOf(s, table, 1)
      val mine = sources.TxTable.keptFiles(s, table, 1, probe)
      val meta = s.createDataFrame(Seq(
          ("kept_files", mine.size.toLong),
          ("total_files", total.size.toLong)))
        .toDF("section", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      rows.unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice,
             CAST("_gpt-bucket16-o_orderkey" AS VARCHAR) AS bkt, filename
           FROM read_parquet('/tmp/graft_txbk___SFTAG__/data/*/v1_*.parquet',
                             filename=true, hive_partitioning=1))
         SELECT 'rows' AS section, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM v1 WHERE o_orderkey = 137
         UNION ALL SELECT 'kept_files',
           (SELECT COUNT(DISTINCT filename) FROM v1 WHERE bkt = substr(md5('137'), 1, 1)),
           CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'total_files',
           (SELECT COUNT(DISTINCT filename) FROM v1), CAST(NULL AS DOUBLE)"""),

    // §2#62aj (r10) HIDDEN day(ts) partitioning + partition-range
    // read: the daily-ingest layout every event table wants — the
    // transform column (yyyy-MM-dd of ts) derives at commit, a
    // time-range read plans exactly the in-range partitions' files
    // from the manifest (dir values sort lexicographically), and the
    // logical schema never shows the layout. The oracle recomputes
    // both the range aggregate and the file census from the raw hive
    // layout via DuckDB's hive_partitioning.
    Query("q334_tx_day_partition", (s, dir) => {
      val table = sidePath("graft_txdy", dir)
      sources.TxTable.drop(s, table)
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      sources.TxTable.commit(ev.repartition(2), table,
        partitionBy = Some("_gpt-day-ts"))
      val rows = sources.TxTable.readPartitionRange(s, table, "2024-01-05", "2024-01-07")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(lit("rows").as("section"), col("event_type"),
          col("n_rows"), col("sum_value"))
      val total = sources.TxTable.filesOf(s, table, 1)
      val mine = total.filter { rel =>
        val seg = rel.stripPrefix("data/_gpt-day-ts=").takeWhile(_ != '/')
        rel.startsWith("data/_gpt-day-ts=") && seg >= "2024-01-05" && seg <= "2024-01-07"
      }
      val meta = s.createDataFrame(Seq(
          ("kept_files", mine.size.toLong),
          ("total_files", total.size.toLong)))
        .toDF("section", "n_rows")
        .withColumn("event_type", lit(null).cast("string"))
        .withColumn("sum_value", lit(null).cast("double"))
        .select("section", "event_type", "n_rows", "sum_value")
      rows.unionByName(meta)
    },
      """WITH v1 AS (
           SELECT event_type, value, CAST("_gpt-day-ts" AS VARCHAR) AS d, filename
           FROM read_parquet('/tmp/graft_txdy___SFTAG__/data/*/v1_*.parquet',
                             filename=true, hive_partitioning=1))
         SELECT 'rows' AS section, event_type, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM v1 WHERE d BETWEEN '2024-01-05' AND '2024-01-07' GROUP BY 1, 2
         UNION ALL SELECT 'kept_files', NULL,
           (SELECT COUNT(DISTINCT filename) FROM v1
            WHERE d BETWEEN '2024-01-05' AND '2024-01-07'), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'total_files', NULL,
           (SELECT COUNT(DISTINCT filename) FROM v1), CAST(NULL AS DOUBLE)"""),

    // §2#62ak (r10) write-audit-publish: the staged batch lands its
    // data files ONCE, stays invisible to every read, gets audited
    // over the WRITTEN files, and publishes as a metadata-only append
    // (zero data IO after the verdict); a failed audit abandons the
    // stage with the table head never having moved. The oracle
    // recomputes both snapshots from the raw v1 + staged-name globs.
    Query("q335_tx_wap", (s, dir) => {
      val table = sidePath("graft_txwa", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(ord.filter(col("o_orderkey") % 2 === 0), table,
        statsCols = Seq("o_orderkey"))
      sources.TxTable.stageWap(
        ord.filter(col("o_orderkey") % 2 === 1).repartition(2), table, "good")
      val preRows = sources.TxTable.read(s, table).count() // staged invisible
      // audit the WRITTEN files; clean → publish (metadata-only)
      val nBadKeys = sources.TxTable.readWap(s, table, "good")
        .filter(col("o_orderkey").isNull).count()
      val v2 = if (nBadKeys == 0L)
        sources.TxTable.publishWap(s, table, "good")
        else -1
      // a second stage whose audit FAILS is abandoned; head untouched
      sources.TxTable.stageWap(
        ord.limit(5).select(lit(null).cast("long").as("o_orderkey"),
          col("o_totalprice")).repartition(1), table, "bad")
      val badNulls = sources.TxTable.readWap(s, table, "bad")
        .filter(col("o_orderkey").isNull).count()
      val abandoned = if (badNulls > 0L)
        sources.TxTable.abandonWap(s, table, "bad").size else 0
      val meta = s.createDataFrame(Seq(
          ("meta", "pre_publish_rows", preRows),
          ("meta", "published_version", v2.toLong),
          ("meta", "bad_abandoned_files", abandoned.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.readVersion(s, table, 1),
        "section" -> "table", "label" -> "v1_base")
        .unionByName(priceSummary(sources.TxTable.readVersion(s, table, v2),
            "section" -> "table", "label" -> "v2_published"))
        .unionByName(meta)
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txwa___SFTAG__/data/v1_*.parquet')),
         wg AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txwa___SFTAG__/data/w_good_*.parquet')),
         v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM wg)
         SELECT 'table' AS section, 'v1_base' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price FROM v1
         UNION ALL SELECT 'table', 'v2_published', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v2
         UNION ALL SELECT 'meta', 'pre_publish_rows',
           (SELECT COUNT(*) FROM v1), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'published_version', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'bad_abandoned_files', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#62ap (r10) SHALLOW CLONE: a metadata-only table copy (dst's
    // v1 borrows src's files by absolute path — zero data IO at any
    // size), after which the two tables evolve independently: an
    // append to the clone is invisible to the source and vice versa,
    // and the clone pins the snapshot it was taken from. Carried
    // skipping stats keep pruning across the table boundary: the
    // range read's kept-file count is recomputed by the oracle from
    // per-file min/max over BOTH tables' raw files.
    Query("q344_tx_clone", (s, dir) => {
      val src = sidePath("graft_txcl_src", dir)
      val dst = sidePath("graft_txcl_dst", dir)
      sources.TxTable.drop(s, src)
      sources.TxTable.drop(s, dst)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 2 === 0).repartitionByRange(2, col("o_orderkey")),
        src, statsCols = Seq("o_orderkey"))
      sources.TxTable.cloneShallow(s, src, dst)
      val borrowed = sources.TxTable.filesOf(s, dst, 1).count(_.startsWith("/"))
      // the fork: clone gains the %4==1 slice, source the %4==3 slice
      val v2 = sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 4 === 1).coalesce(1), dst,
        statsCols = Seq("o_orderkey"))
      sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 4 === 3).coalesce(1), src,
        statsCols = Seq("o_orderkey"))
      val owned = sources.TxTable.filesOf(s, dst, v2).count(!_.startsWith("/"))
      val kept = sources.TxTable.keptFiles(s, dst, v2, col("o_orderkey").between(1.0, 300.0))
      val meta = s.createDataFrame(Seq(
          ("meta", "borrowed_files", borrowed.toLong),
          ("meta", "owned_files", owned.toLong),
          ("meta", "kept_files", kept.size.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.read(s, dst), "section" -> "table", "label" -> "clone")
        .unionByName(priceSummary(sources.TxTable.read(s, src),
            "section" -> "table", "label" -> "source"))
        .unionByName(priceSummary(
          sources.TxTable.scan(s, dst, col("o_orderkey").between(1.0, 300.0)),
          "section" -> "table", "label" -> "clone_range"))
        .unionByName(meta)
    },
      // clone/source content derives from orders (logical truth); the
      // file accounting and the carried-stats pruning recompute from the
      // raw files of BOTH table roots
      """WITH base AS (
           SELECT o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey % 2 = 0),
         cl AS (SELECT k, p FROM base
                UNION ALL SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 1),
         sr AS (SELECT k, p FROM base
                UNION ALL SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 3),
         fstats AS (
           SELECT filename, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
           FROM read_parquet(['/tmp/graft_txcl_src___SFTAG__/data/v1_*.parquet',
                              '/tmp/graft_txcl_dst___SFTAG__/data/v2_*.parquet'],
                             filename=true)
           GROUP BY 1)
         SELECT 'table' AS section, 'clone' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_price FROM cl
         UNION ALL SELECT 'table', 'source', COUNT(*),
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) FROM sr
         UNION ALL SELECT 'table', 'clone_range', COUNT(*),
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) FROM cl WHERE k BETWEEN 1 AND 300
         UNION ALL SELECT 'meta', 'borrowed_files',
           (SELECT COUNT(DISTINCT filename) FROM fstats
            WHERE filename LIKE '%graft_txcl_src%'), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'owned_files',
           (SELECT COUNT(DISTINCT filename) FROM fstats
            WHERE filename LIKE '%graft_txcl_dst%'), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'kept_files',
           (SELECT COUNT(*) FROM fstats WHERE NOT (mx < 1 OR mn > 300)),
           CAST(NULL AS DOUBLE)"""),

    // §2#62aq (r10) metadata-only COUNT(*): per-file row counts are
    // recorded in the manifest at commit (`countRows`, Delta's
    // numRecords) and each positional-deletion-vector pair decrements
    // exactly one row — so COUNT(*) GROUP BY partition answers from
    // the MANIFEST alone, zero data-file IO. The gate runs the
    // metadata count AND the full scan and both sections must
    // hash-equal the oracle's logical counts — a single mis-recorded
    // footer count or mis-attributed vector pair fails.
    Query("q345_tx_meta_count", (s, dir) => {
      val table = sidePath("graft_txmc", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.commit(ord, table, statsCols = Seq("o_orderkey"),
        partitionBy = Some("o_orderpriority"), countRows = true)
      sources.TxTable.deleteWherePos(s, table, col("o_orderkey").between(1.0, 400.0))
      val metaRows = sources.TxTable.metaCountByPartition(s, table)
      val total = sources.TxTable.metaCount(s, table)
      val meta = s.createDataFrame(
          metaRows.map { case (p, n) => ("meta", p, n) } :+
          (("meta", "*", total)))
        .toDF("section", "o_orderpriority", "n_rows")
      val scan = sources.TxTable.read(s, table)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_rows"))
        .select(lit("scan").as("section"), col("o_orderpriority"), col("n_rows"))
      meta.unionByName(scan)
    },
      // both sections — the manifest-answered count and the full scan —
      // must equal the logical truth from orders
      """WITH live AS (
           SELECT o_orderpriority AS p FROM orders
           WHERE NOT (o_orderkey BETWEEN 1 AND 400)),
         byp AS (SELECT p, COUNT(*) AS n FROM live GROUP BY 1)
         SELECT 'meta' AS section, p AS o_orderpriority, n AS n_rows FROM byp
         UNION ALL SELECT 'meta', '*', (SELECT COUNT(*) FROM live)
         UNION ALL SELECT 'scan', p, n FROM byp"""),

    // §2#62ar (r10) unique-key-enforced append (INSERT ... ON CONFLICT
    // DO NOTHING): only batch keys absent from the table land; the
    // existence probe is manifest-bloom-pruned and reads the KEY
    // COLUMN of candidate files only. A fully-duplicate batch is a
    // NO-OP — no version published (the inserted counts and the
    // version equality are gated alongside the content).
    Query("q346_tx_append_unique", (s, dir) => {
      val table = sidePath("graft_txau", dir)
      sources.TxTable.drop(s, table)
      val docs = t(s, dir, "documents").df
        .select(col("doc_id"), col("source"), col("n_chars"))
      sources.TxTable.commit(
        docs.filter(col("doc_id") % 3 === 0).repartition(2), table,
        bloomCols = Seq("doc_id"), countRows = true)
      val b1 = docs.filter(col("doc_id") % 3 === 1 || col("doc_id") % 6 === 0)
      val (v2, n1) = sources.TxTable.appendUnique(b1, table, "doc_id")
      val (v3, n2) = sources.TxTable.appendUnique(
        docs.filter(col("doc_id") % 6 === 0), table, "doc_id")
      val content = sources.TxTable.read(s, table)
        .groupBy(col("source")).agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).cast("double").as("sum_chars"))
        .select(lit("content").as("section"), col("source").as("label"),
          col("n_rows"), col("sum_chars"))
      val meta = s.createDataFrame(Seq(
          ("meta", "inserted_b1", n1),
          ("meta", "inserted_b2", n2),
          ("meta", "noop_kept_version", if (v3 == v2) 1L else 0L),
          ("meta", "meta_count", sources.TxTable.metaCount(s, table))))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_chars", lit(null).cast("double"))
      content.unionByName(meta)
    },
      """WITH d AS (
           SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 3 IN (0, 1))
         SELECT 'content' AS section, source AS label, COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS DOUBLE) AS sum_chars FROM d GROUP BY 2
         UNION ALL SELECT 'meta', 'inserted_b1',
           (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 1), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'inserted_b2', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'noop_kept_version', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'meta_count',
           (SELECT COUNT(*) FROM d), CAST(NULL AS DOUBLE)"""),

    // §2#62aj (r10) tags + branches + fast-forward (Iceberg refs):
    // a tag pins a version immutably, a branch forks an independent
    // commit line via shallow clone (zero data IO), and fast-forward
    // publishes the branch snapshot back onto an unmoved main as one
    // metadata commit with every stat/bloom/count carried.
    Query("q363_tx_refs", (s, dir) => {
      val table = sidePath("graft_txrf", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 3 === 0).coalesce(1), table,
        statsCols = Seq("o_orderkey"))
      sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 3 === 1).coalesce(1), table,
        statsCols = Seq("o_orderkey"))
      sources.TxTable.createTag(s, table, "release", 1)
      sources.TxTable.createBranch(s, table, "dev")
      sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 3 === 2).coalesce(1),
        sources.TxTable.branchPath(s, table, "dev"),
        statsCols = Seq("o_orderkey"))
      val ff = sources.TxTable.fastForward(s, table, "dev")
      val borrowed = sources.TxTable.filesOf(s, table, ff).count(_.startsWith("/"))
      val meta = s.createDataFrame(Seq(
          ("meta", "ff_version", ff.toLong),
          ("meta", "branch_base", sources.TxTable.refOf(s, table, "dev")._2.toLong),
          ("meta", "n_refs", sources.TxTable.refsOf(s, table).size.toLong),
          ("meta", "borrowed_files", borrowed.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.read(s, table), "section" -> "table", "label" -> "main")
        .unionByName(priceSummary(sources.TxTable.readRef(s, table, "release"),
            "section" -> "table", "label" -> "tag"))
        .unionByName(priceSummary(sources.TxTable.readRef(s, table, "dev"),
            "section" -> "table", "label" -> "branch"))
        .unionByName(meta)
    },
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders)
         SELECT 'table' AS section, 'main' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_price FROM o
         UNION ALL SELECT 'table', 'tag', COUNT(*),
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) FROM o WHERE k % 3 = 0
         UNION ALL SELECT 'table', 'branch', COUNT(*),
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) FROM o
         UNION ALL SELECT 'meta', 'ff_version', CAST(3 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'branch_base', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_refs', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'borrowed_files',
           (SELECT COUNT(DISTINCT filename) FROM read_parquet(
             '/tmp/graft_txrf___SFTAG__/_refs_branch/dev/data/v2_*.parquet',
             filename=true)), CAST(NULL AS DOUBLE)"""),

    // §2#62ak (r10) ref-protected version expiry: a tag deep in
    // history pins its manifest chain — expireVersions removes
    // nothing on the tagged table, everything below the cut on the
    // untagged twin, and the tag still reads bit-identically after.
    Query("q364_tx_ref_expire", (s, dir) => {
      val tagged = sidePath("graft_txre_t", dir)
      val plain = sidePath("graft_txre_p", dir)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      for (tb <- Seq(tagged, plain)) {
        sources.TxTable.drop(s, tb)
        // one distributed write for the 13-version history (was 13
        // sequential scan+write jobs per table — commitSlices keeps the
        // per-version files/stats identical)
        sources.TxTable.commitSlices(ord, tb, col("o_orderkey") % 13, 13,
          statsCols = Seq("o_orderkey"))
      }
      sources.TxTable.createTag(s, tagged, "r3", 3)
      val (expT, _) = sources.TxTable.expireVersions(s, tagged, keepLast = 2)
      val (expP, _) = sources.TxTable.expireVersions(s, plain, keepLast = 2)
      val meta = s.createDataFrame(Seq(
          ("meta", "n_expired_tagged", expT.size.toLong),
          ("meta", "n_expired_plain", expP.size.toLong),
          ("meta", "tag_version",
            sources.TxTable.refOf(s, tagged, "r3")._2.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      priceSummary(sources.TxTable.readRef(s, tagged, "r3"),
        "section" -> "table", "label" -> "tag_v3")
        .unionByName(priceSummary(sources.TxTable.read(s, tagged),
            "section" -> "table", "label" -> "tagged_head"))
        .unionByName(priceSummary(sources.TxTable.read(s, plain),
            "section" -> "table", "label" -> "plain_head"))
        .unionByName(meta)
    },
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders)
         SELECT 'table' AS section, 'tag_v3' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM o WHERE k % 13 IN (0, 1, 2)
         UNION ALL SELECT 'table', 'tagged_head', COUNT(*),
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) FROM o
         UNION ALL SELECT 'table', 'plain_head', COUNT(*),
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) FROM o
         UNION ALL SELECT 'meta', 'n_expired_tagged', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'n_expired_plain', CAST(9 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'tag_version', CAST(3 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#62al (r10) atomic partition overwrite (replaceWhere): the
    // URGENT partition's files are replaced by a filtered rewrite in
    // ONE commit while every other partition carries by reference —
    // per-partition content plus carry accounting must both match.
    Query("q369_tx_replace_where", (s, dir) => {
      val table = sidePath("graft_txrw", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.commit(ord, table, partitionBy = Some("o_orderpriority"))
      val filesBefore = sources.TxTable.filesOf(s, table, 1)
      val v2 = sources.TxTable.overwritePartition(s, table,
        ord.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 2 === 0).coalesce(1), "1-URGENT")
      val carried = sources.TxTable.filesOf(s, table, v2)
        .count(f => filesBefore.contains(f))
      val content = priceSummary(sources.TxTable.read(s, table),
        "section" -> "part", "label" -> col("o_orderpriority"))
      val meta = s.createDataFrame(Seq(
          ("meta", "version", v2.toLong),
          ("meta", "carried_files", carried.toLong),
          ("meta", "files_before", filesBefore.size.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      content.unionByName(meta)
    },
      """WITH after AS (
           SELECT o_orderkey AS k, o_totalprice AS p, o_orderpriority AS pr
           FROM orders
           WHERE o_orderpriority <> '1-URGENT'
              OR (o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0)),
         nf AS (
           SELECT COUNT(DISTINCT filename) AS files_before,
             COUNT(DISTINCT CASE WHEN filename NOT LIKE '%1-URGENT%'
               THEN filename END) AS carried
           FROM read_parquet(
             '/tmp/graft_txrw___SFTAG__/data/*/v1_*.parquet', filename=true))
         SELECT 'part' AS section, pr AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM after GROUP BY 2
         UNION ALL SELECT 'meta', 'version', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'carried_files',
           CAST(carried AS BIGINT), CAST(NULL AS DOUBLE) FROM nf
         UNION ALL SELECT 'meta', 'files_before',
           CAST(files_before AS BIGINT), CAST(NULL AS DOUBLE) FROM nf"""),

    // §2#62am (r10) null-count file skipping: per-file null counts
    // recorded at commit prune IS NULL reads to the null-bearing
    // files and IS NOT NULL reads past all-null files — the
    // completeness-audit read path.
    Query("q370_tx_null_skip", (s, dir) => {
      val table = sidePath("graft_txns", dir)
      sources.TxTable.drop(s, table)
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("price"))
      sources.TxTable.commit(ord.filter(col("o_orderkey") % 7 =!= 0).coalesce(1),
        table, nullCols = Seq("price"), countRows = true)
      sources.TxTable.commit(
        ord.filter(col("o_orderkey") % 7 === 0).coalesce(1),
        table, nullCols = Seq("price"), countRows = true)
      val v = sources.TxTable.currentVersion(s, table)
      val keptNull = sources.TxTable.keptFiles(s, table, v, col("price").isNull)
      val keptVal = sources.TxTable.keptFiles(s, table, v, col("price").isNotNull)
      val nulls = sources.TxTable.scan(s, table, col("price").isNull)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("read").as("section"), lit("is_null").as("label"),
          col("n_rows"), lit(null).cast("double").as("sum_price"))
      val vals = sources.TxTable.scan(s, table, col("price").isNotNull)
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("price"))).cast("double").as("sum_price"))
        .select(lit("read").as("section"), lit("not_null").as("label"),
          col("n_rows"), col("sum_price"))
      val meta = s.createDataFrame(Seq(
          ("meta", "files_total",
            sources.TxTable.filesOf(s, table, v).size.toLong),
          ("meta", "kept_is_null", keptNull.size.toLong),
          ("meta", "kept_not_null", keptVal.size.toLong)))
        .toDF("section", "label", "n_rows")
        .withColumn("sum_price", lit(null).cast("double"))
      nulls.unionByName(vals).unionByName(meta)
    },
      """WITH o AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
               ELSE o_totalprice END AS price
           FROM orders)
         SELECT 'read' AS section, 'is_null' AS label, COUNT(*) AS n_rows,
           CAST(NULL AS DOUBLE) AS sum_price FROM o WHERE price IS NULL
         UNION ALL SELECT 'read', 'not_null', COUNT(*),
           CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE)
         FROM o WHERE price IS NOT NULL
         UNION ALL SELECT 'meta', 'files_total', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'kept_is_null', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
         UNION ALL SELECT 'meta', 'kept_not_null', CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)"""),

    // §2#30aa (r8) incremental dedup-index maintenance over the
    // lakehouse: the MinHash band index persists as a TxTable; a new
    // batch contributes ONLY its own band rows (I) and takedowns
    // retract theirs (D) through mergeInto — the incrementally-
    // maintained index must hash-equal a from-scratch rebuild (both
    // sections against ONE oracle-expected table).
    Query("q312_dedup_index_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").df
      val table = sidePath("graft_dedupidx", dir)
      sources.TxTable.drop(s, table)
      val key = concat_ws("#", col("doc_id"), col("band"))
      // ONE signing pass: bandedMinhash is strictly per-doc (shingle →
      // hash → per-doc min → bands), so a doc_id filter commutes with
      // it — sign the corpus once and slice the base/batch/rebuild
      // views from the checkpointed band rows, instead of signing 80%
      // + 20% + 90% of the corpus separately (1.9× the per-byte
      // MD5/shingle work, this query's dominant cost). Row sets are
      // identical by the per-doc property; the checkpoint is index-
      // sized (docs × bands), the q348 localCheckpoint pattern.
      // The rebuild section therefore checks the TxTable commit/merge/
      // read path, not the signing: rebuild independence is guarded by
      // the OperatorsSpec test "minhashBandIndex commutes with a doc
      // filter", which pins the per-doc property this sharing rests on.
      val sig = operators.Dedup.minhashBandIndex(docs).withColumn("key", key)
        .select("key", "doc_id", "band", "bandval")
        .localCheckpoint()
      // v1: index of the base corpus
      val idx1 = sig.filter(col("doc_id") % 5 =!= 0)
      sources.TxTable.commit(idx1, table)
      // the CDC feed: new batch inserts + takedown deletes (the D rows
      // re-derive from the COMMITTED index — batch-sized, no re-sign)
      val ins = sig.filter(col("doc_id") % 5 === 0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      val dels = sources.TxTable.read(s, table)
        .filter(col("doc_id") % 10 === 1)
        .withColumn("seq", lit(1L)).withColumn("op", lit("D"))
      sources.TxTable.mergeInto(s, table, ins.unionByName(dels),
        "key", "seq", "op")
      val inc = sources.TxTable.read(s, table)
      val rebuild = sig.filter(col("doc_id") % 10 =!= 1)
      def summarize(df: org.apache.spark.sql.DataFrame, section: String) =
        df.groupBy(col("band").cast("int").as("band"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("bandval")).as("n_vals"),
            sum(((col("bandval") % 1000003L) + 1000003L) % 1000003L).as("checksum"))
          .select(lit(section).as("section"), col("band"), col("n_docs"),
            col("n_vals"), col("checksum"))
      summarize(inc, "incremental").unionByName(summarize(rebuild, "rebuild"))
    },
      OracleGen.bandIndexSummarySql()),

    // §2#62o (r7) the lakehouse write path composed end-to-end: MERGE
    // INTO a transactional table. v1 = the urgent-orders snapshot; a
    // CDC feed (U = key%3==0 price doubled, D = key%3==1, I = the
    // 2-HIGH orders) applies via Upsert.applyChanges and the result
    // commits through TxTable as an overwrite; then the commit is
    // audited three independent ways — the pre-commit merge frame
    // (oracle RECOMPUTES it from the v1 manifest glob + the same
    // SQL-derived feed: a wrong merge fails here), the committed
    // snapshot re-read (oracle re-reads the v2 glob: a wrong manifest
    // fails here), and the CDC replay + snapshot diff between the
    // manifests (delete-of-v1 + insert-of-v2; added/removed/changed/
    // same counts). Each stage stays its own scale shape: the merge
    // is one key-shuffled window+join, the commit data-plane one
    // distributed write, the audits manifest-glob-sized.
    Query("q256_tx_merge", (s, dir) => {
      val table = sidePath("graft_txm", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.drop(s, table)
      val urgent = ord.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.commit(urgent, table)
      // the CDC feed: ×2 keeps the update double-exact on both engines
      val feed = urgent.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            lit(1L).as("seq"), lit("U").as("op"))
        .unionByName(urgent.filter(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), lit(1L).as("seq"), lit("D").as("op")))
        .unionByName(ord.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_orderkey"), col("o_totalprice"), lit(1L).as("seq"), lit("I").as("op")))
      // the commit goes through the first-class MERGE API (r8 — its
      // conflict-retry loop recomputes on a lost CAS); the `expect`
      // row below recomputes applyChanges INDEPENDENTLY so the API's
      // internal merge is still audited against a second path
      val (v2, attempts) = sources.TxTable.mergeInto(
        s, table, feed, "o_orderkey", "seq", "op")
      require(v2 == 2 && attempts == 1,
        s"unexpected merge outcome: v=$v2 attempts=$attempts")
      val merged = operators.Upsert.applyChanges(
        sources.TxTable.readVersion(s, table, 1), feed, "o_orderkey", "seq", "op")
      val expect = priceSummary(merged, "section" -> "merge", "label" -> "expected")
      val snap = priceSummary(sources.TxTable.readVersion(s, table, 2),
        "section" -> "snapshot", "label" -> "v2")
      val cdc = priceSummary(sources.TxTable.changes(s, table, 1, 2),
        "section" -> "cdc", "label" -> concat(col("_change"), lit("@"), col("_version")))
      val diff = operators.Upsert.diffSnapshots(
          sources.TxTable.readVersion(s, table, 1),
          sources.TxTable.readVersion(s, table, 2), "o_orderkey")
        .groupBy(col("change").as("label"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("diff").as("section"), col("label"), col("n_rows"),
          lit(null).cast("double").as("sum_price"))
      expect.unionByName(snap).unionByName(cdc).unionByName(diff)
    },
      // the merge audit recomputes the EXPECTED post-MERGE snapshot from
      // the v1 manifest glob + the same deterministic feed rules — a
      // wrong applyChanges or a wrong manifest each fail a distinct row
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txm___SFTAG__/data/v1_*.parquet')),
         v2 AS (
           SELECT o_orderkey, o_totalprice
           FROM read_parquet('/tmp/graft_txm___SFTAG__/data/v2_*.parquet')),
         expected AS (
           SELECT o_orderkey, o_totalprice FROM v1 WHERE o_orderkey % 3 = 2
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2 FROM v1 WHERE o_orderkey % 3 = 0
           UNION ALL
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderpriority = '2-HIGH'),
         d AS (
           SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                       WHEN b.o_orderkey IS NULL THEN 'removed'
                       WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'changed'
                       ELSE 'same' END AS label
           FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
         SELECT 'merge' AS section, 'expected' AS label, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM expected
         UNION ALL
         SELECT 'snapshot', 'v2', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v2
         UNION ALL
         SELECT 'cdc', 'delete@2', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v1
         UNION ALL
         SELECT 'cdc', 'insert@2', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM v2
         UNION ALL
         SELECT 'diff', label, COUNT(*), CAST(NULL AS DOUBLE)
         FROM d GROUP BY 2"""),

    // §2#62n timestamp time travel: Delta's timestampAsOf over the
    // manifest layer — commit times strictly monotonic by protocol, so
    // "the table as of ts" resolves unambiguously; probes at v2's
    // commit, just before v3's, and at v3's.
    Query("q254_tx_timetravel", (s, dir) => {
      val table = sidePath("graft_txt", dir)
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.drop(s, table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "1-URGENT"), table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "2-HIGH"), table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "5-LOW"), table, "overwrite")
      def probe(tag: String, tsMs: Long) =
        priceSummary(sources.TxTable.readAsOf(s, table, tsMs), "probe" -> tag)
      val t2 = sources.TxTable.commitMsOf(s, table, 2)
      val t3 = sources.TxTable.commitMsOf(s, table, 3)
      probe("at_v2", t2)
        .unionByName(probe("before_v3", t3 - 1))
        .unionByName(probe("at_v3", t3))
    },
      """SELECT 'at_v2' AS probe, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM read_parquet(['/tmp/graft_txt___SFTAG__/data/v1_*.parquet',
                            '/tmp/graft_txt___SFTAG__/data/v2_*.parquet'])
         UNION ALL
         SELECT 'before_v3', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet(['/tmp/graft_txt___SFTAG__/data/v1_*.parquet',
                            '/tmp/graft_txt___SFTAG__/data/v2_*.parquet'])
         UNION ALL
         SELECT 'at_v3', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txt___SFTAG__/data/v3_*.parquet')"""),

    // §2#62m incremental join-view maintenance: the delta rule
    // Δ(A⋈B) = dA⋈(B∪dB) ∪ A⋈dB over insert-only batches — output
    // scales with the deltas' fan-out, never the view; AQE broadcasts
    // batch-sized deltas so neither base shuffles.
    Query("q251_delta_join", (s, dir) => {
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey").as("okey"), col("o_totalprice"))
      val li = t(s, dir, "lineitem").df
        .select(col("l_orderkey").as("okey"), col("l_quantity"), col("l_linenumber"))
      operators.Upsert.deltaJoin(
        ord.filter(col("okey") % 10 =!= 0), ord.filter(col("okey") % 10 === 0),
        li.filter(col("okey") % 7 =!= 0), li.filter(col("okey") % 7 === 0),
        Seq("okey"))
    },
      """WITH ao AS (SELECT o_orderkey AS okey, o_totalprice FROM orders
                     WHERE o_orderkey % 10 <> 0),
         ad AS (SELECT o_orderkey AS okey, o_totalprice FROM orders
                WHERE o_orderkey % 10 = 0),
         bo AS (SELECT l_orderkey AS okey, l_quantity, l_linenumber FROM lineitem
                WHERE l_orderkey % 7 <> 0),
         bd AS (SELECT l_orderkey AS okey, l_quantity, l_linenumber FROM lineitem
                WHERE l_orderkey % 7 = 0)
         SELECT ad.okey, ad.o_totalprice, b.l_quantity, b.l_linenumber
         FROM ad JOIN (SELECT * FROM bo UNION ALL SELECT * FROM bd) b USING (okey)
         UNION ALL
         SELECT ao.okey, ao.o_totalprice, bd.l_quantity, bd.l_linenumber
         FROM ao JOIN bd USING (okey)"""),

    // §2#62b snapshot diff: the q111 CDC apply audited against its own
    // base — every order key classified added/removed/changed/same via
    // one full-outer join on null-safe payload-struct equality.
    // assumeUnique: o_orderkey is the base PK and the q111 winner
    // window emits one row per key by construction; the guard
    // aggregations are for unknown feeds (spec-tested).
    Query("q120_snapshot_diff", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(Seq("o_orderkey", "o_orderstatus", "o_totalprice")).df
      val next = SparkEntry.queries("q111_cdc_upsert")(s, dir)
      operators.Upsert.diffSnapshots(base, next, "o_orderkey",
        keepSame = true, assumeUnique = true)
    },
      """WITH ch AS (
           SELECT l_orderkey AS o_orderkey, CAST(l_linenumber AS BIGINT) AS seq,
             CASE WHEN ('0x' || substr(md5('op' || l_orderkey || ':' || l_linenumber), 1, 8))::BIGINT % 7 = 0
                  THEN 'D' ELSE 'U' END AS op,
             'R' AS o_orderstatus, l_extendedprice AS o_totalprice
           FROM lineitem),
         w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC, o_totalprice DESC) AS rn FROM ch),
         win AS (SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM w WHERE rn = 1),
         newsnap AS (
           SELECT o_orderkey,
             CASE WHEN win.op IS NOT NULL THEN win.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
             CASE WHEN win.op IS NOT NULL THEN win.o_totalprice ELSE b.o_totalprice END AS o_totalprice
           FROM orders b FULL OUTER JOIN win USING (o_orderkey)
           WHERE win.op IS NULL OR win.op <> 'D'),
         o AS (SELECT o_orderkey, o_orderstatus AS os_o, o_totalprice AS tp_o, 1 AS in_o FROM orders),
         n AS (SELECT o_orderkey, o_orderstatus AS os_n, o_totalprice AS tp_n, 1 AS in_n FROM newsnap)
         SELECT o_orderkey,
           CASE WHEN in_o IS NULL THEN 'added'
                WHEN in_n IS NULL THEN 'removed'
                WHEN os_o IS NOT DISTINCT FROM os_n
                 AND tp_o IS NOT DISTINCT FROM tp_n THEN 'same'
                ELSE 'changed' END AS change
         FROM o FULL OUTER JOIN n USING (o_orderkey)"""),

    // §2#43c compaction plan: the q112 file listing grouped into
    // ≈4 KiB merge batches by exclusive byte prefix-sum — the
    // lakehouse OPTIMIZE planning half, engine-exact.
    Query("q148_compaction_plan", (s, dir) => {
      val out = sidePath("graft_binsrc", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      sources.BinaryDir.materializeText(
        t(s, dir, "documents").df.orderBy("doc_id").limit(64), out)
      functions.Layout.compactionPlan(
        sources.BinaryDir.ingest(s, out, "doc_*.txt"),
        "file_name", "n_bytes", targetBytes = 4096L)
    },
      """WITH f AS (
           SELECT parse_filename(filename) AS file_name,
             CAST(octet_length(content) AS BIGINT) AS n_bytes
           FROM read_blob('/tmp/graft_binsrc___SFTAG__/doc_*.txt')),
         p AS (
           SELECT file_name, n_bytes,
             COALESCE(SUM(n_bytes) OVER (ORDER BY file_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
           FROM f)
         SELECT CAST(pfx // 4096 AS BIGINT) AS group_id, COUNT(*) AS n_files,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MIN(file_name) AS first_file, MAX(file_name) AS last_file
         FROM p GROUP BY 1"""),

    // §2#62d mergeable aggregate states: per-batch partial aggregates
    // folded WITHOUT rescanning history — the merged state must be
    // bit-identical to a from-scratch aggregation (exact quantized
    // sums), which is exactly what the oracle checks (it aggregates
    // the full table directly).
    Query("q196_state_merge", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      val base = operators.Upsert.aggState(
        ev.filter(col("event_id") % 3 =!= 0), Seq("event_type"), "value")
      val delta = operators.Upsert.aggState(
        ev.filter(col("event_id") % 3 === 0), Seq("event_type"), "value")
      operators.Upsert.mergeAggStates(Seq(base, delta), Seq("event_type"))
        .select(col("event_type"), col("n"),
          (col("sum_q").cast("double") / 1e6).as("sum_v"),
          col("min_v"), col("max_v"))
    },
      """SELECT event_type, COUNT(value) AS n,
           CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sum_v,
           MIN(value) AS min_v, MAX(value) AS max_v
         FROM events GROUP BY 1"""),

    // §2#62e mergeable MOMENTS state: power sums in exact integer
    // arithmetic (the distributed Welford replacement) — two disjoint
    // batch states merged, then finalized to mean/var/std; the oracle
    // computes the same statistics from scratch over the full table,
    // so the merge path must be bit-identical to a one-pass agg.
    Query("q197_moments_merge", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      val base = operators.Upsert.momentsState(
        ev.filter(col("event_id") % 3 =!= 0), Seq("event_type"), "value")
      val delta = operators.Upsert.momentsState(
        ev.filter(col("event_id") % 3 === 0), Seq("event_type"), "value")
      operators.Upsert.momentsOf(
          operators.Upsert.mergeMomentsStates(Seq(base, delta), Seq("event_type")))
        .select("event_type", "n", "mean_v", "var_v", "std_v")
    },
      """WITH q AS (
           SELECT event_type, value,
             CAST(floor(value * 1e6 + 0.5) AS HUGEINT) AS q
           FROM events),
         s AS (
           SELECT event_type, COUNT(value) AS n, SUM(q) AS sq, SUM(q*q) AS sq2
           FROM q GROUP BY 1)
         SELECT event_type, n,
           round(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 9) AS mean_v,
           CASE WHEN n >= 2 THEN round(CAST(n*sq2 - sq*sq AS DOUBLE)
             / (CAST(n*(n-1) AS DOUBLE) * 1e12), 9) END AS var_v,
           CASE WHEN n >= 2 THEN round(sqrt(CAST(n*sq2 - sq*sq AS DOUBLE)
             / (CAST(n*(n-1) AS DOUBLE) * 1e12)), 9) END AS std_v
         FROM s"""),

    // §2#62g bitemporal as-of: the state known at tx time T about
    // validity time V — two-axis time travel over the change feed
    // (events as (key, valid=tus, tx=event_id, payload)).
    Query("q212_bitemporal", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts")).as("valid_from"),
          col("event_id").as("tx"), col("event_type").as("status"), col("value"))
      val b = ev.agg(expr("max(tx) div 2").as("_tmax"),
        (max(col("valid_from")) - lit(604800000000L)).as("_vmax"))
      operators.Upsert.bitemporalAsOf(
          ev.crossJoin(broadcast(b)), "user_id", "valid_from", "tx",
          txAt = col("_tmax"), validAt = col("_vmax"))
        .select("user_id", "valid_from", "tx", "status", "value")
    },
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS valid_from, event_id AS tx,
             event_type AS status, value
           FROM events),
         b AS (
           SELECT MAX(tx) // 2 AS tmax, MAX(valid_from) - 604800000000 AS vmax
           FROM e),
         f AS (SELECT e.* FROM e, b WHERE tx <= tmax AND valid_from <= vmax),
         r AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY valid_from DESC, tx DESC) AS rn
           FROM f)
         SELECT user_id, valid_from, tx, status, value FROM r WHERE rn = 1"""),

    // §2#62i transactional snapshot layer: three commits (append,
    // append, overwrite) then a time-travel read of EVERY version —
    // the oracle re-reads each version's deterministic file set
    // directly, proving manifest isolation (v2 = v1+v2 files, the
    // overwrite's v3 = only its own).
    Query("q224_tx_snapshot", (s, dir) => {
      val table = sidePath("graft_tx", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.drop(s, table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "1-URGENT"), table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "2-HIGH"), table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "5-LOW"), table, "overwrite")
      (1 to 3).map(v => priceSummary(sources.TxTable.readVersion(s, table, v), "version" -> v))
        .reduce(_.unionByName(_))
    },
      """SELECT CAST(1 AS INT) AS version, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM read_parquet('/tmp/graft_tx___SFTAG__/data/v1_*.parquet')
         UNION ALL
         SELECT CAST(2 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet(['/tmp/graft_tx___SFTAG__/data/v1_*.parquet',
                            '/tmp/graft_tx___SFTAG__/data/v2_*.parquet'])
         UNION ALL
         SELECT CAST(3 AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_tx___SFTAG__/data/v3_*.parquet')"""),

    // §2#62j change-data read off the snapshot layer: append → compact
    // → overwrite, then one CDC poll over the whole interval. The
    // manifest diff makes the append step's inserts exactly its new
    // files (consuming an hourly append reads hourly volume, never the
    // table), the compact step silent (dataChange=false), and the
    // overwrite a delete-of-prior + insert-of-new pair. Own side table
    // (graft_txc): q224 builds graft_tx and the oracle reads both
    // AFTER all queries ran — shared state would clobber.
    Query("q229_tx_changes", (s, dir) => {
      val table = sidePath("graft_txc", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      sources.TxTable.drop(s, table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "1-URGENT"), table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "2-HIGH"), table)
      sources.TxTable.compact(s, table)
      sources.TxTable.commit(ord.filter(col("o_orderpriority") === "5-LOW"), table, "overwrite")
      priceSummary(sources.TxTable.changes(s, table, 1, 4),
        "version" -> col("_version"), "change" -> col("_change"))
    },
      """SELECT CAST(2 AS INT) AS version, 'insert' AS change, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM read_parquet('/tmp/graft_txc___SFTAG__/data/v2_*.parquet')
         UNION ALL
         SELECT CAST(4 AS INT), 'delete', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txc___SFTAG__/data/v3_*.parquet')
         UNION ALL
         SELECT CAST(4 AS INT), 'insert', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txc___SFTAG__/data/v4_*.parquet')"""),

    // §2#62k OPTIMIZE commit: a fragmented append (8 files) compacted
    // into a fresh content-preserving version; the gate itself proves
    // preservation (identical n_rows/sum_price across versions) and
    // the oracle counts files via read_parquet(filename=true) over the
    // same manifest-named globs.
    Query("q230_tx_compact", (s, dir) => {
      val table = sidePath("graft_txo", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_totalprice"))
      sources.TxTable.drop(s, table)
      sources.TxTable.commit(ord.repartition(8), table)
      sources.TxTable.compact(s, table)
      (1 to 2).map(v => priceSummary(sources.TxTable.readVersion(s, table, v), "version" -> v,
          "op" -> sources.TxTable.opOf(s, table, v),
          "n_files" -> sources.TxTable.filesOf(s, table, v).size))
        .reduce(_.unionByName(_))
    },
      """SELECT CAST(1 AS INT) AS version, 'append' AS op,
           CAST(COUNT(DISTINCT filename) AS INT) AS n_files, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM read_parquet('/tmp/graft_txo___SFTAG__/data/v1_*.parquet', filename=true)
         UNION ALL
         SELECT CAST(2 AS INT), 'compact',
           CAST(COUNT(DISTINCT filename) AS INT), COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         FROM read_parquet('/tmp/graft_txo___SFTAG__/data/v2_*.parquet', filename=true)"""),

    // §2#62l incremental aggregate maintenance: a persisted per-key
    // state absorbs a CDC delta of inserts AND deletes without ever
    // rescanning the corpus — n/sum_q subtract exactly (abelian),
    // min/max fold over inserts only (sound bounds). The oracle mirrors
    // the signed algebra; the exact-recompute equivalence for n/sum_q
    // is spec-proven separately.
    Query("q231_agg_delta", (s, dir) => {
      val ord = t(s, dir, "orders").df
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val base = ord.filter(col("o_orderkey") % 10 =!= 0)
      val delta = ord.filter(col("o_orderkey") % 10 === 0).withColumn("op", lit("I"))
        .unionByName(base.filter(col("o_orderkey") % 10 === 3).withColumn("op", lit("D")))
        .select(col("o_orderpriority"), col("o_totalprice"), col("op"))
      val st = operators.Upsert.aggState(
        base.select("o_orderpriority", "o_totalprice"), Seq("o_orderpriority"), "o_totalprice")
      operators.Upsert.applyAggDelta(st, delta, Seq("o_orderpriority"), "o_totalprice", "op")
        // exact-integer exit (the q101 ulp rule): micro-unit sum as LONG
        .select(col("o_orderpriority"), col("n"), col("sum_q").cast("long").as("sum_q"),
          col("min_v"), col("max_v"))
    },
      """WITH ev AS (
           SELECT o_orderpriority AS k, o_totalprice AS v, 1 AS s
           FROM orders WHERE o_orderkey % 10 <> 0
           UNION ALL
           SELECT o_orderpriority, o_totalprice, 1 FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderpriority, o_totalprice, -1 FROM orders WHERE o_orderkey % 10 = 3),
         b AS (SELECT o_orderpriority AS k, MIN(o_totalprice) AS min_v,
                      MAX(o_totalprice) AS max_v
               FROM orders GROUP BY 1)
         SELECT ev.k AS o_orderpriority, CAST(SUM(s) AS BIGINT) AS n,
           CAST(SUM(CAST(s AS DECIMAL(20,0)) * CAST(FLOOR(v * 1000000 + 0.5) AS DECIMAL(20,0))) AS BIGINT) AS sum_q,
           MIN(b.min_v) AS min_v, MAX(b.max_v) AS max_v
         FROM ev JOIN b ON ev.k = b.k
         GROUP BY 1"""),

    // §2#63 binaryFile ingest: raw per-document files (materialized by
    // a distributed foreachPartition writer — test stand-in for an
    // object store) read back through Spark's binaryFile source and
    // normalized to (file_name, n_bytes, content_md5); the DuckDB
    // oracle re-reads the same files via read_blob.
    Query("q112_binary_source", (s, dir) => {
      val out = sidePath("graft_binsrc", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      sources.BinaryDir.materializeText(
        t(s, dir, "documents").df.orderBy("doc_id").limit(64), out)
      sources.BinaryDir.ingest(s, out, "doc_*.txt")
    },
      """SELECT parse_filename(filename) AS file_name,
           octet_length(content) AS n_bytes,
           md5(decode(content)) AS content_md5
         FROM read_blob('/tmp/graft_binsrc___SFTAG__/doc_*.txt')""")
  )
}
