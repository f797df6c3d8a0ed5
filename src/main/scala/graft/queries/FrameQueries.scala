package graft
package queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Agg, Tafra}
import graft.core.Sizing.rebalance
import graft.sources.CsvSource
import Helpers._

/** Frame-surface queries: `Tafra` verbs, plain DataFrame and SQL
  * operators, with no operator module of their own.
  */
object FrameQueries {

  val all: Seq[Query] = Seq(

    // §2#1 group_by (tafra/group.py:215) — TPC-H Q1-style pricing summary.
    Query("q01_groupby_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.update("l_quantity_d", dec(col("l_quantity")))
        .update("revenue_d", dec(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .groupBy(
          Seq("l_returnflag", "l_linestatus"),
          Seq(Agg("sum_qty_d", "sum", "l_quantity_d"),
              Agg("sum_revenue_d", "sum", "revenue_d"),
              Agg("n_rows", "count", "l_orderkey"),
              Agg("n_orders", "count_distinct", "l_orderkey")))
        .update("sum_qty", col("sum_qty_d").cast("double"))
        .update("sum_revenue", col("sum_revenue_d").cast("double"))
        .delete(Seq("sum_qty_d", "sum_revenue_d"))
        .sort(Seq(col("l_returnflag"), col("l_linestatus"))).df
    },
      """SELECT l_returnflag, l_linestatus,
         COUNT(l_orderkey) AS n_rows,
         COUNT(DISTINCT l_orderkey) AS n_orders,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_revenue
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),

    // §2#2 transform (group.py:277) — group agg broadcast back to rows via
    // Window.partitionBy: ONE shuffle, no join-back.
    Query("q02_transform", (s, dir) => {
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .update("l_quantity_d", dec(col("l_quantity")))
        .transform(Seq("l_orderkey"),
          Seq(Agg("order_qty_d", "sum", "l_quantity_d"),
              Agg("n_lines", "count", "l_linenumber")))
        .update("order_qty", col("order_qty_d").cast("double"))
        .update("qty_share", col("l_quantity") / col("order_qty"))
        .delete(Seq("l_quantity_d", "order_qty_d")).df
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
         COUNT(l_linenumber) OVER (PARTITION BY l_orderkey) AS n_lines,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_orderkey) AS DOUBLE) AS order_qty,
         l_quantity / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_orderkey) AS DOUBLE) AS qty_share
         FROM lineitem"""),

    // §2#3 iterate_by (group.py:342) — per-group iteration INSIDE the
    // executors (flatMapGroups), never a driver loop.
    Query("q03_iterate_by", (s, dir) => {
      val out = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("n_lines", LongType),
        StructField("max_qty", DoubleType)))
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_quantity"))
        .iterateBy(Seq("l_orderkey"))(out) { (key, rows) =>
          var n = 0L; var mx = Double.NegativeInfinity
          rows.foreach { r => n += 1; val q = r.getDouble(1); if (q > mx) mx = q }
          Iterator.single(Row(key.getLong(0), n, mx))
        }.df
    },
      """SELECT l_orderkey, COUNT(*) AS n_lines, MAX(l_quantity) AS max_qty
         FROM lineitem GROUP BY 1"""),

    // §2#4 inner_join (group.py:421) — equi join; small dim broadcast.
    Query("q04_inner_join", (s, dir) => {
      t(s, dir, "orders")
        .innerJoin(t(s, dir, "customer"), Seq(("o_custkey", "c_custkey", "==")),
          select = Seq("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"),
          broadcastRight = true).df
    },
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey"""),

    // §2#5 left_join (group.py:512).
    Query("q05_left_join", (s, dir) => {
      t(s, dir, "customer")
        .select(Seq("c_custkey", "c_name"))
        .leftJoin(t(s, dir, "orders"), Seq(("c_custkey", "o_custkey", "==")),
          select = Seq("c_custkey", "c_name", "o_orderkey", "o_totalprice")).df
    },
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey"""),

    // §2#4 theta ops — equi key extracted by Catalyst for the hash join,
    // the `>` residual stays in the join condition.
    Query("q06_theta_join", (s, dir) => {
      t(s, dir, "lineitem")
        .innerJoin(t(s, dir, "part"),
          Seq(("l_partkey", "p_partkey", "=="), ("l_extendedprice", "p_retailprice", ">")),
          select = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice",
                       "p_retailprice", "p_brand"),
          broadcastRight = true).df
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice, p_retailprice, p_brand
         FROM lineitem JOIN part ON l_partkey = p_partkey AND l_extendedprice > p_retailprice"""),

    // §2#6 cross_join (group.py:604) — broadcast nested loop on small side.
    Query("q07_cross_join", (s, dir) => {
      t(s, dir, "region")
        .crossJoin(t(s, dir, "nation"), select = Seq("r_name", "n_nationkey", "n_name")).df
    },
      """SELECT r_name, n_nationkey, n_name FROM region CROSS JOIN nation"""),

    // §2#7 union (group.py:56) — schema-validated UNION ALL.
    Query("q08_union", (s, dir) => {
      val o = t(s, dir, "orders").select(Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
      val f = o.filter(col("o_orderstatus") === "F").update("tag", lit("closed"))
      val open = o.filter(col("o_orderstatus") === "O").update("tag", lit("open"))
      f.union(open).df
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice, 'closed' AS tag
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice, 'open' AS tag
         FROM orders WHERE o_orderstatus = 'O'"""),

    // §2#8-10 select / rename / delete (base.py:1354,1560,1602).
    Query("q09_select_rename", (s, dir) => {
      t(s, dir, "customer")
        .select(Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
        .rename(Map("c_custkey" -> "cust_id", "c_name" -> "name"))
        .delete(Seq("c_mktsegment")).df
    },
      """SELECT c_custkey AS cust_id, c_name AS name, c_acctbal FROM customer"""),

    // §2#11-12 filter / sort / head (base.py:310-497,1380) — head takes a
    // total order (orderkey,linenumber unique) to be deterministic at scale.
    Query("q10_filter_sort_head", (s, dir) => {
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))
        .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
        .head(100, Seq(col("l_orderkey"), col("l_linenumber"))).df
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
         FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
         ORDER BY l_orderkey, l_linenumber LIMIT 100"""),

    // §2#13 coalesce (base.py:1675).
    Query("q11_coalesce", (s, dir) => {
      t(s, dir, "customer")
        .select(Seq("c_custkey", "c_acctbal"))
        .update("bal_pos", when(col("c_acctbal") > 0, col("c_acctbal")))
        .coalesceCol("bal_pos", Seq(lit(0.0)))
        .delete(Seq("c_acctbal")).df
    },
      """SELECT c_custkey,
         COALESCE(CASE WHEN c_acctbal > 0 THEN c_acctbal END, CAST(0.0 AS DOUBLE)) AS bal_pos
         FROM customer"""),

    // §2#14-15 update / update_dtypes (base.py:1449,1512) — FLOOR before the
    // int cast: Spark truncates double→int, DuckDB rounds, floor agrees.
    Query("q12_update_cast", (s, dir) => {
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
        .update("qty_int", floor(col("l_quantity")).cast("int"))
        .update("ship_year", year(col("l_shipdate")))
        .updateDtypes(Map("l_linenumber" -> "bigint"))
        .delete(Seq("l_quantity", "l_shipdate")).df
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(FLOOR(l_quantity) AS INT) AS qty_int,
         CAST(year(l_shipdate) AS INT) AS ship_year
         FROM lineitem"""),

    // §2#16 unique groups (group.py:154).
    Query("q13_distinct", (s, dir) => {
      t(s, dir, "customer").select(Seq("c_mktsegment", "c_nationkey")).distinct().df
    },
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"""),

    // §2#17 agg breadth (group.py:171) — mean/var/std derived from exact
    // DECIMAL sums with the identical double expression on both engines
    // (float aggs straight over doubles are shuffle-order-dependent).
    Query("q14_agg_breadth", (s, dir) => {
      t(s, dir, "lineitem")
        .update("qd", dec(col("l_quantity")))
        .update("qd2", dec(dec(col("l_quantity")) * dec(col("l_quantity"))))
        .groupBy(Seq("l_returnflag"),
          Seq(Agg("min_qty", "min", "l_quantity"),
              Agg("max_qty", "max", "l_quantity"),
              Agg("n", "count", "l_orderkey"),
              Agg("n_supp", "count_distinct", "l_suppkey"),
              Agg("sq", "sum", "qd"),
              Agg("sq2", "sum", "qd2")))
        .update("mean_qty", col("sq").cast("double") / col("n"))
        .update("var_qty",
          (col("sq2").cast("double") - col("sq").cast("double") * col("sq").cast("double") / col("n"))
            / (col("n") - 1))
        .update("std_qty", sqrt(col("var_qty")))
        .delete(Seq("sq", "sq2")).df
    },
      """SELECT l_returnflag, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         COUNT(l_orderkey) AS n, COUNT(DISTINCT l_suppkey) AS n_supp,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_orderkey) AS mean_qty,
         (CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,4))) AS DOUBLE)
          - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_orderkey))
          / (COUNT(l_orderkey) - 1) AS var_qty,
         SQRT((CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,4))) AS DOUBLE)
          - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_orderkey))
          / (COUNT(l_orderkey) - 1)) AS std_qty
         FROM lineitem GROUP BY 1"""),

    // §2#18 iter_fn group enumeration (group.py:208) → rank windows.
    // Order (o_totalprice DESC, o_orderkey) is tie-free → deterministic.
    Query("q15_rank_window", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(Seq("o_custkey", "o_orderkey", "o_totalprice"))
        .update("rn", row_number().over(w))
        .update("rk", rank().over(w))
        .update("drk", dense_rank().over(w))
        .filter(col("rn") <= 3).df
    },
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER w AS INT) AS rn,
             CAST(RANK() OVER w AS INT) AS rk,
             CAST(DENSE_RANK() OVER w AS INT) AS drk
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
         ) WHERE rn <= 3"""),

    // §2#19 row/tuple map (base.py:1229) — typed per-row map, codegen'd
    // Encoders; arithmetic mirrors the oracle's IEEE shape.
    Query("q16_typed_map", (s, dir) => {
      val out = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("gross", DoubleType),
        StructField("tax_band", StringType)))
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_extendedprice", "l_tax"))
        .rowMap(out) { r =>
          val price = r.getDouble(1); val tax = r.getDouble(2)
          Row(r.getLong(0), price * (1 + tax), if (tax > 0.05) "high" else "low")
        }.df
    },
      """SELECT l_orderkey, l_extendedprice * (1 + l_tax) AS gross,
         CASE WHEN l_tax > 0.05 THEN 'high' ELSE 'low' END AS tax_band
         FROM lineitem"""),

    // §2#20 expression surface — CASE WHEN / string / date functions, all
    // inside whole-stage codegen.
    Query("q17_expressions", (s, dir) => {
      t(s, dir, "orders")
        .select(Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey"))
        .update("status_desc",
          when(col("o_orderstatus") === "F", "fulfilled")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("pending"))
        .update("cust_tag", concat(upper(substring(col("o_orderpriority"), 1, 1)),
          lit("_"), col("o_custkey").cast("string")))
        .update("od_year", year(col("o_orderdate")))
        .update("od_month", month(col("o_orderdate")))
        .update("priority_num", substring(col("o_orderpriority"), 1, 1).cast("int"))
        .update("prio_len", length(col("o_orderpriority")))
        .delete(Seq("o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey")).df
    },
      """SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 'fulfilled'
              WHEN o_orderstatus = 'O' THEN 'open'
              ELSE 'pending' END AS status_desc,
         upper(substring(o_orderpriority, 1, 1)) || '_' || CAST(o_custkey AS VARCHAR) AS cust_tag,
         CAST(year(o_orderdate) AS INT) AS od_year,
         CAST(month(o_orderdate) AS INT) AS od_month,
         CAST(substring(o_orderpriority, 1, 1) AS INT) AS priority_num,
         CAST(length(o_orderpriority) AS INT) AS prio_len
         FROM orders"""),

    // §2#21 read_csv (csvreader.py) — parquet→csv→CsvSource round trip with
    // distributed schema inference.
    Query("q18_read_csv", (s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_csv_nation_${dir.hashCode.toHexString}"
      t(s, dir, "nation").toCsv(tmp)
      CsvSource.read(s, tmp).df
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation"""),

    // §2#23 read_sql (base.py:979) — spark.sql over registered temp views;
    // the SAME SQL string is the oracle.
    Query("q19_sql", (s, dir) => {
      Seq("customer", "nation", "region").foreach(n => t(s, dir, n).df.createOrReplaceTempView(n))
      s.sql(q19Sql)
    },
      q19Sql),

    // §2#1/#4 composed at TPC-H Q5 shape: fact → broadcast dims chain →
    // decimal-exact revenue per supplier nation (exercises `supplier`).
    Query("q37_supplier_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .update("rev_d", dec(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .innerJoin(t(s, dir, "supplier"), Seq(("l_suppkey", "s_suppkey", "==")),
          broadcastRight = true)
        .innerJoin(t(s, dir, "nation"), Seq(("s_nationkey", "n_nationkey", "==")),
          broadcastRight = true)
        .groupBy(Seq("n_name"),
          Seq(Agg("sum_rev_d", "sum", "rev_d"),
              Agg("n_supp", "count_distinct", "s_suppkey")))
        .update("sum_rev", col("sum_rev_d").cast("double"))
        .delete(Seq("sum_rev_d")).df
    },
      """SELECT n_name,
         COUNT(DISTINCT s_suppkey) AS n_supp,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_rev
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1"""),

    // §2#36 language ID (stopword-count heuristic, deterministic argmax).
    Query("q29_text_langid", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      val scored = T.langMarkers.foldLeft(
        t(s, dir, "documents").df.select(col("doc_id"), col("lang"), T.tokens(col("text")).as("w"))) {
        case (d, (lang, markers)) => d.withColumn(s"s_$lang", T.markerCount(col("w"), markers))
      }
      scored
        .withColumn("pred_lang", T.argmaxLang(T.langMarkers.map { case (l, _) => col(s"s_$l") }))
        .withColumn("is_match", col("pred_lang") === col("lang"))
        .drop("w")
    },
      """WITH t AS (
           SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sc AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(w, x -> list_contains(['the','a','big'], x))) AS INT) AS s_en,
             CAST(len(list_filter(w, x -> list_contains(['query','data','line'], x))) AS INT) AS s_fr,
             CAST(len(list_filter(w, x -> list_contains(['slow','agg','vector'], x))) AS INT) AS s_es,
             CAST(len(list_filter(w, x -> list_contains(['customer','hash','column'], x))) AS INT) AS s_de,
             CAST(len(list_filter(w, x -> list_contains(['join','small','scan'], x))) AS INT) AS s_zh
           FROM t)
         SELECT doc_id, lang, s_en, s_fr, s_es, s_de, s_zh, pred_lang,
           (pred_lang = lang) AS is_match
         FROM (
           SELECT *, CASE
             WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
             WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
             WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_zh THEN 'de'
             ELSE 'zh' END AS pred_lang
           FROM sc)"""),

    // §2#37 quality scoring: length/word/punct/stopword-ratio features.
    Query("q30_text_quality", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      t(s, dir, "documents").df
        .select(col("doc_id"), col("text"), T.tokens(col("text")).as("w"))
        .withColumn("n_chars_m", length(col("text")))
        .withColumn("n_words", size(col("w")))
        .withColumn("avg_word_len", length(col("text")).cast("double") / col("n_words"))
        .withColumn("n_punct", regexp_count(col("text"), lit("[.!?,;:]")))
        .withColumn("stop_cnt", T.markerCount(col("w"), Seq("the", "a")))
        .withColumn("stop_ratio", col("stop_cnt").cast("double") / col("n_words"))
        .withColumn("quality_score",
          when(col("n_words") >= 20 && col("stop_ratio") < 0.3, lit(1.0))
            .when(col("n_words") >= 5, lit(0.5)).otherwise(lit(0.0)))
        .drop("text", "w")
    },
      """WITH t AS (
           SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)
         SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_m,
           CAST(len(w) AS INT) AS n_words,
           CAST(length(text) AS DOUBLE) / len(w) AS avg_word_len,
           CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS INT) AS n_punct,
           CAST(len(list_filter(w, x -> list_contains(['the','a'], x))) AS INT) AS stop_cnt,
           CAST(len(list_filter(w, x -> list_contains(['the','a'], x))) AS DOUBLE) / len(w) AS stop_ratio,
           CASE WHEN len(w) >= 20
                 AND CAST(len(list_filter(w, x -> list_contains(['the','a'], x))) AS DOUBLE) / len(w) < 0.3
                THEN CAST(1.0 AS DOUBLE)
                WHEN len(w) >= 5 THEN CAST(0.5 AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS quality_score
         FROM t"""),

    // §2#38 token counting: whitespace + BPE-ish regex + bytes/4 estimate.
    Query("q31_text_tokens", (s, dir) => {
      t(s, dir, "documents").df
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
          regexp_count(lower(col("text")), lit("[a-z0-9]+|[^a-z0-9\\s]")).as("re_tokens"),
          ceil(length(col("text")) / lit(4.0)).cast("int").as("bpe_est"))
    },
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INT) AS re_tokens,
         CAST(ceil(length(text) / 4.0) AS INT) AS bpe_est
         FROM documents"""),

    // §2#39 document fingerprint: rolling polynomial hash over tokens.
    Query("q32_text_fingerprint", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      t(s, dir, "documents").df
        .select(col("doc_id"), T.tokens(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).as("n_tokens"), T.fingerprint(col("w")).as("fp"))
    },
      OracleGen.fingerprintSql),

    // §2#28c Spark-native session windows: the declarative counterpart
    // of q21's custom-state sessionization (same groupBy works on a
    // watermarked stream). Split boundary is >= gap (Spark's exclusive
    // window end), mirrored in the oracle.
    Query("q42_session_window", (s, dir) => {
      streaming.Events.readBatch(s, s"$dir/events.parquet")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
    },
      // split at >= gap (Spark session_window's exclusive end); window
      // end = last event + gap
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS tus FROM events),
         l AS (SELECT user_id, tus,
                 CASE WHEN LAG(tus) OVER w IS NULL OR tus - LAG(tus) OVER w >= 1800000000
                      THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
         s AS (SELECT user_id, tus,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
               FROM l)
         SELECT user_id, make_timestamp(MIN(tus)) AS session_start,
           make_timestamp(MAX(tus) + 1800000000) AS session_end,
           COUNT(*) AS n_events
         FROM s GROUP BY user_id, sid"""),

    // §2#26b parse_object_dtypes: all-string frame → one try_cast stats
    // pass → numeric columns recover their types; prose stays string.
    Query("q39_parse_dtypes", (s, dir) => {
      val n = t(s, dir, "nation")
      n.updateDtypes(n.columns.map(_ -> "string").toMap)
        .parseObjectDtypes().df
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation"""),

    // §2#43 bucketed co-located join: both fact slices bucketed on the
    // join key at write time → the join itself needs NO exchange (plan
    // asserted in PlanSpec); result identical to the plain join.
    Query("q40_bucketed_join", (s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir")
      t(s, dir, "lineitem").select(Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .writeBucketed("graft_li_bkt", Seq("l_orderkey"), 8, Seq("l_orderkey"),
          Some(s"$tmp/graft_bkt_li_${dir.hashCode.toHexString}"))
      t(s, dir, "orders").select(Seq("o_orderkey", "o_totalprice"))
        .writeBucketed("graft_ord_bkt", Seq("o_orderkey"), 8, Seq("o_orderkey"),
          Some(s"$tmp/graft_bkt_ord_${dir.hashCode.toHexString}"))
      Tafra.readTable(s, "graft_li_bkt")
        .innerJoin(Tafra.readTable(s, "graft_ord_bkt"),
          Seq(("l_orderkey", "o_orderkey", "=="))).df
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderkey, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""),

    // §2#47 PII scrubbing: URL/email/IPv4 redaction as a codegen'd
    // regexp_replace chain (map-only, no shuffle). The corpus is
    // synthetic word salad, so PII is planted deterministically from
    // doc_id on BOTH engines — the oracle genuinely checks the
    // redaction, not a no-op.
    Query("q43_pii_scrub", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      t(s, dir, "documents").df
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or 10.20."), pmod(col("doc_id"), lit(250L)).cast("string"),
            lit(".7 call +1 555-"),
            lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"),
            lit("-"), lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
            lit(" v6 fe80::"), lower(hex(pmod(col("doc_id"), lit(65536L)))),
            lit(" see https://ex.com/d/"), col("doc_id").cast("string"), lit(" end")).as("dirty"))
        .select(col("doc_id"), T.scrubPii(col("dirty")).as("clean"))
    },
      """WITH d AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 10.20.' || CAST(doc_id % 250 AS VARCHAR)
                  || '.7 call +1 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' v6 fe80::' || lower(hex(doc_id % 65536))
                  || ' see https://ex.com/d/' || CAST(doc_id AS VARCHAR) || ' end' AS dirty
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(dirty,
             'https?://\S+', '<URL>', 'g') AS c FROM d),
         s2 AS (SELECT doc_id, regexp_replace(c,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS c FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(c,
             '(\+\d{1,3}[ -]?)?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}\b', '<PHONE>', 'g') AS c FROM s2),
         s4 AS (SELECT doc_id, regexp_replace(c,
             '(([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:)+:([0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4})*)?|::([0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4})*))', '<IPV6>', 'g') AS c FROM s3)
         SELECT doc_id, regexp_replace(c,
             '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS clean
         FROM s4"""),

    // §2#48 repetition signals (Gopher-style quality filters): top-word
    // mass, distinct-token ratio, top-bigram mass per document. Postings
    // are rebalanced on doc_id once; both groupBys and the final join
    // cluster on doc_id so no further shuffle is required.
    Query("q44_text_repetition", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      // tokens pre-exchange: materialized through the pinned shuffle so
      // the bigram lambda reads an O(1) attribute, not a re-split per
      // element
      val toks = rebalance(
        t(s, dir, "documents").df.select(col("doc_id"), T.tokens(col("text")).as("w")), "doc_id")
      val uni = toks.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_word"), sum("c").as("n_tok"),
          count(lit(1)).as("n_distinct"))
      val bi = toks.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(T.wordNGrams(col("w"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_bigram"), sum("c").as("n_bi"))
      uni.join(bi, "doc_id")
        .select(col("doc_id"),
          (col("top_word").cast("double") / col("n_tok")).as("top_word_mass"),
          (col("n_distinct").cast("double") / col("n_tok")).as("distinct_ratio"),
          (col("top_bigram").cast("double") / col("n_bi")).as("top_bigram_mass"))
    },
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         uni AS (
           SELECT doc_id, MAX(c) AS top_word, SUM(c) AS n_tok, COUNT(*) AS n_distinct FROM (
             SELECT doc_id, tok, COUNT(*) AS c
             FROM (SELECT doc_id, unnest(w) AS tok FROM toks) GROUP BY 1, 2)
           GROUP BY 1),
         bi AS (
           SELECT doc_id, MAX(c) AS top_bigram, SUM(c) AS n_bi FROM (
             SELECT doc_id, bg, COUNT(*) AS c FROM (
               SELECT doc_id,
                 unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]) AS bg
               FROM toks WHERE len(w) >= 2) GROUP BY 1, 2)
           GROUP BY 1)
         SELECT uni.doc_id,
           CAST(top_word AS DOUBLE) / n_tok AS top_word_mass,
           CAST(n_distinct AS DOUBLE) / n_tok AS distinct_ratio,
           CAST(top_bigram AS DOUBLE) / n_bi AS top_bigram_mass
         FROM uni JOIN bi ON uni.doc_id = bi.doc_id"""),

    // §2#49 train/val/test split by content hash: md5-prefix ranges, so
    // the assignment is engine-portable and survives re-sharding (no
    // eval contamination on re-ingest). Map-only, no shuffle.
    Query("q46_split_hash", (s, dir) =>
      t(s, dir, "documents")
        .splitByHash(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seq("doc_id"))
        .df.select("doc_id", "split"),
      """SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
         FROM documents"""),

    // §2#51 deterministic domain mixing: per-source keep fractions
    // selected by content hash (not RNG) — stable across runs,
    // partitionings, and engines; sources outside the mixture drop.
    Query("q49_mix_sources", (s, dir) =>
      t(s, dir, "documents")
        .sampleHashBy("source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
          Seq("doc_id"))
        .df.select("doc_id", "source"),
      """SELECT doc_id, source FROM documents
         WHERE source = 'src0'
            OR (source = 'src1' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
            OR (source = 'src2' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
            OR (source = 'src3' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999')"""),

    // §2#45 reproducible sampling: md5-prefix membership (seed-prefixed,
    // NUL-separated keys) — same content-addressed contract as q46/q49,
    // auditable from SQL.
    Query("q51_sample_hash", (s, dir) =>
      t(s, dir, "documents").sampleHash(0.25, Seq("doc_id"))
        .df.select("doc_id", "source"),
      """SELECT doc_id, source FROM documents
         WHERE substr(md5('0' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'"""),

    // §2#37b HTML → text extraction (WET-extraction pass): script/style
    // blocks dropped, tags stripped, entities decoded, whitespace
    // collapsed — map-only regex chain run verbatim as the oracle. The
    // corpus is plain words, so the page wrapper is planted
    // deterministically from doc_id on BOTH engines (q43's pattern):
    // the oracle genuinely checks the extraction, not a no-op.
    Query("q59_text_extract", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      t(s, dir, "documents").df
        .select(col("doc_id"),
          concat(lit("<html><head><script>var x = "), col("doc_id").cast("string"),
            lit(";\nload();</script><style>p { color: red }</style></head><body><h1>Doc &amp; entry</h1><p>"),
            col("text"),
            lit("</p><a href=\"/d/"), col("doc_id").cast("string"),
            lit("\">1 &lt; 2&nbsp;link</a></body></html>")).as("page"))
        .select(col("doc_id"), T.extractHtmlText(col("page")).as("clean"))
    },
      // the identical regex chain as extractHtmlText, over the same
      // planted page wrapper
      """WITH page AS (
           SELECT doc_id,
             '<html><head><script>var x = ' || CAST(doc_id AS VARCHAR) ||
             ';
load();</script><style>p { color: red }</style></head><body><h1>Doc &amp; entry</h1><p>' ||
             text || '</p><a href="/d/' || CAST(doc_id AS VARCHAR) ||
             '">1 &lt; 2&nbsp;link</a></body></html>' AS page
           FROM documents),
         s1 AS (SELECT doc_id,
                  regexp_replace(page, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
                FROM page),
         s2 AS (SELECT doc_id,
                  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t
                FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s2),
         s4 AS (SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                    t, '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                    '&quot;', '"', 'g'), '&nbsp;', ' ', 'g') AS t
                FROM s3)
         SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s4"""),

    // §2#45b quality-weighted sampling: per-document keep probability =
    // the q30 quality score (1.0 always kept, 0.5 sampled in half, 0.0
    // dropped), selected by content hash — deterministic soft filtering.
    Query("q60_quality_sample", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      t(s, dir, "documents")
        .update("w", T.tokens(col("text")))
        .update("n_words", size(col("w")))
        .update("stop_ratio",
          T.markerCount(col("w"), Seq("the", "a")).cast("double") / col("n_words"))
        .update("quality_score",
          when(col("n_words") >= 20 && col("stop_ratio") < 0.3, lit(1.0))
            .when(col("n_words") >= 5, lit(0.5)).otherwise(lit(0.0)))
        .sampleHashWeighted("quality_score", Seq("doc_id"))
        .select(Seq("doc_id", "quality_score")).df
    },
      // the q30 quality score as the keep probability; membership is the
      // same seed-prefixed NUL-separated md5 contract as q51
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         q AS (
           SELECT doc_id,
             CASE WHEN len(w) >= 20
                   AND CAST(len(list_filter(w, x -> list_contains(['the','a'], x))) AS DOUBLE) / len(w) < 0.3
                  THEN CAST(1.0 AS DOUBLE)
                  WHEN len(w) >= 5 THEN CAST(0.5 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS quality_score
           FROM t)
         SELECT doc_id, quality_score FROM q
         WHERE ('0x' || substr(md5('0' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < floor(quality_score * 65536)"""),

    // §2#21b JSONL round trip: documents written as JSON-Lines (the
    // corpus interchange format) and read back with an EXPLICIT schema
    // (production form — inference would re-scan the data); the oracle
    // is the original table, so the round trip must be lossless.
    Query("q61_jsonl", (s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir")
      // pid + sanitized dir: stable within a process (re-runs overwrite
      // their own path) but never shared across concurrent harness
      // processes or aliased across different data dirs
      val path = s"$tmp/graft_jsonl_${ProcessHandle.current.pid}_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      t(s, dir, "documents").select(Seq("doc_id", "text", "lang", "source")).toJsonl(path)
      Tafra.readJsonl(s, path,
          Some(StructType.fromDDL("doc_id bigint, text string, lang string, source string")))
        .select(Seq("doc_id", "text", "lang", "source")).df
    },
      // round trip is lossless, so the oracle is the original table
      """SELECT doc_id, text, lang, source FROM documents"""),

    // §2#58 token-budget mixing: fractions DERIVED from per-source
    // token totals (min(1, budget/total)) — the "N tokens of web, M of
    // code" mixture spec; src0's oversized budget exercises the cap.
    Query("q78_token_budget_mix", (s, dir) =>
      t(s, dir, "documents")
        .update("n_tok", size(split(trim(col("text")), "\\s+")))
        .mixToBudget("source", "n_tok",
          Map("src0" -> 100000L, "src1" -> 1000L, "src2" -> 500L, "src3" -> 100L),
          Seq("doc_id"))
        .select(Seq("doc_id", "source", "n_tok", "keep_frac")).df,
      """WITH t AS (
           SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tok FROM documents
           WHERE source IN ('src0','src1','src2','src3')),
         tot AS (SELECT source, SUM(n_tok) AS tot FROM t GROUP BY 1),
         f AS (
           SELECT t.doc_id, t.source, CAST(t.n_tok AS INT) AS n_tok,
             least(1.0, CAST(CASE t.source
                 WHEN 'src0' THEN 100000 WHEN 'src1' THEN 1000
                 WHEN 'src2' THEN 500 ELSE 100 END AS DOUBLE)
               / CAST(tot AS DOUBLE)) AS keep_frac
           FROM t JOIN tot ON t.source = tot.source)
         SELECT doc_id, source, n_tok, keep_frac FROM f
         WHERE ('0x' || substr(md5('0' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < floor(keep_frac * 65536)"""),

    // §2#59 text normalization (pre-dedup canonicalizer): NFC unifies
    // byte-distinct spellings, controls strip, whitespace collapses.
    // The corpus is clean ASCII, so decomposed accents / a control
    // char / tab-space mess are planted (q43's pattern) — the oracle
    // genuinely checks the normalization, not a no-op.
    Query("q79_text_normalize", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      t(s, dir, "documents").df
        .select(col("doc_id"),
          concat(col("text"),
            lit(" cafe\u0301 nai\u0308ve\u0007  x \t y "),
            col("doc_id").cast("string")).as("dirty"))
        .select(col("doc_id"), T.normalizeText(col("dirty")).as("clean"))
    },
      // chr(769)/chr(776) = combining acute/diaeresis, chr(7) = BEL,
      // chr(9) = tab — the identical plant as the Spark escapes
      """WITH d AS (
           SELECT doc_id,
             text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' || chr(7)
                  || '  x ' || chr(9) || ' y ' || CAST(doc_id AS VARCHAR) AS dirty
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
             '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
         FROM d"""),

    // §2#60 wide pivot: per-priority totals by order status. Explicit
    // pivot values — the discovery variant hides a distinct+collect
    // pass over the pivot column. Catalyst rewrites to per-value
    // conditional aggs: ONE partial-agg shuffle, same shape as the
    // oracle's CASE WHEN form.
    Query("q83_pivot", (s, dir) => {
      val wide = t(s, dir, "orders")
        .update("price_d", dec(col("o_totalprice")))
        .pivot(Seq("o_orderpriority"), "o_orderstatus", Seq("F", "O", "P"),
          Agg("total", "sum", "price_d"))
        .df.toDF("o_orderpriority", "total_f", "total_o", "total_p")
      wide.select(col("o_orderpriority"),
        col("total_f").cast("double").as("total_f"),
        col("total_o").cast("double").as("total_o"),
        col("total_p").cast("double").as("total_p"))
    },
      """SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_f,
         CAST(SUM(CASE WHEN o_orderstatus = 'O'
                       THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_o,
         CAST(SUM(CASE WHEN o_orderstatus = 'P'
                       THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS total_p
         FROM orders GROUP BY 1"""),

    // §2#39b winnowing (MOSS) fingerprints: rightmost-min of each
    // 4-window over 4-gram hashes, selected map-side via packed-long
    // array_min. Tokens materialize ACROSS the pinned rebalance: the
    // exchange makes `w` a real array column, so the gram lambda's
    // element_at hits O(1) attribute data instead of re-splitting the
    // text per reference (HOFs are interpreted — no CSE), and the
    // CPU-heavy selection stage gets full parallelism off a
    // single-row-group scan.
    Query("q85_winnow", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      rebalance(t(s, dir, "documents").df.select(col("doc_id"), T.tokens(col("text")).as("w")),
          "doc_id")
        .select(col("doc_id"), explode(T.winnow(col("w"), 4, 4)).as("packed"))
        .select(col("doc_id"),
          shiftright(col("packed"), 20).as("fp"),
          (lit(1048575) - col("packed").bitwiseAND(lit(1048575L))).cast("int").as("pos"))
    },
      s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
           FROM documents),
         g AS (
           SELECT doc_id,
             [array_to_string(w[i : i+3], ' ')
              for i in generate_series(1, len(w) - 3)] AS grams
           FROM t WHERE len(w) >= 4),
         h AS (
           SELECT doc_id,
             list_transform(grams,
               x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % ${functions.Hashing.PortableP}) AS hs,
             len(grams) AS m
           FROM g),
         sel AS (
           SELECT doc_id, list_distinct([
             list_min([hs[p] * 1048576 + (1048575 - p)
                       for p in generate_series(j, least(j + 3, m))])
             for j in generate_series(1, greatest(m - 3, 1))]) AS sels
           FROM h)
         SELECT doc_id, x // 1048576 AS fp,
           CAST(1048575 - (x % 1048576) AS INT) AS pos
         FROM sel, unnest(sels) u(x)"""),

    // §2#4b semi/anti joins: per-segment counts of customers with no
    // orders (NOT EXISTS) and with >=1 finished order (EXISTS) — the
    // relational filter joins, no fan-out, no widening.
    Query("q90_semi_anti", (s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val none = cust.antiJoin(orders, Seq(("c_custkey", "o_custkey", "==")))
        .df.groupBy("c_mktsegment").agg(count(lit(1)).as("n_no_orders"))
      val withF = cust.semiJoin(orders.filter(col("o_orderstatus") === "F"),
          Seq(("c_custkey", "o_custkey", "==")))
        .df.groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_f"))
      none.join(withF, Seq("c_mktsegment"), "full")
        .select(col("c_mktsegment"),
          coalesce(col("n_no_orders"), lit(0L)).as("n_no_orders"),
          coalesce(col("n_with_f"), lit(0L)).as("n_with_f"))
    },
      """WITH no_o AS (
           SELECT c_mktsegment, COUNT(*) AS n_no_orders FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           GROUP BY 1),
         wf AS (
           SELECT c_mktsegment, COUNT(*) AS n_with_f FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           GROUP BY 1)
         SELECT COALESCE(n.c_mktsegment, w.c_mktsegment) AS c_mktsegment,
           COALESCE(n_no_orders, CAST(0 AS BIGINT)) AS n_no_orders,
           COALESCE(n_with_f, CAST(0 AS BIGINT)) AS n_with_f
         FROM no_o n FULL JOIN wf w ON n.c_mktsegment = w.c_mktsegment"""),

    // §2#45c fixed-count per-stratum hash sample: exactly 10 docs per
    // source, content-addressed, nested as k grows.
    Query("q95_stratified_topk", (s, dir) =>
      t(s, dir, "documents")
        .sampleTopKByHash(10, Seq("source"), Seq("doc_id"))
        .select(Seq("doc_id", "source")).df,
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5('0' || chr(0) || CAST(doc_id AS VARCHAR)),
                        CAST(doc_id AS VARCHAR)) AS rk
           FROM documents) WHERE rk <= 10"""),

    // §2#45d weighted sampling without replacement (A-ES exponential
    // keys from content-addressed uniforms): 5 per source, selection
    // probability scaling with n_chars.
    Query("q100_weighted_topk", (s, dir) =>
      t(s, dir, "documents")
        .sampleWeightedTopK(5, Seq("source"), "n_chars", Seq("doc_id"))
        .select(Seq("doc_id", "source", "n_chars")).df,
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY
               CAST(-ln(CAST(('0x' || substr(md5('0' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             + 1 AS DOUBLE)
                        / CAST(4294967297 AS DOUBLE))
                    / CAST(n_chars AS DOUBLE) AS DECIMAL(20,9)),
               CAST(doc_id AS VARCHAR)) AS rk
           FROM documents) WHERE rk <= 5"""),

    // §2#52c CUBE: all four grouping combinations in one pass,
    // grouping() flags disambiguating real NULLs from subtotal rows.
    Query("q104_cube", (s, dir) =>
      t(s, dir, "orders").df
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping(col("o_orderpriority")).cast("int").as("g_pri"),
             grouping(col("o_orderstatus")).cast("int").as("g_st"),
             count(lit(1)).as("n"),
             sum(dec(col("o_totalprice"))).cast("double").as("total")),
      """SELECT o_orderpriority, o_orderstatus,
         CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
         CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)"""),

    // §2#20b semi-structured extraction: JSON payload fields pulled
    // with get_json_object (codegen'd path expression — no UDF, no
    // full from_json schema materialization for one field), then a
    // plain relational aggregation over the extracted values.
    Query("q108_json_extract", (s, dir) =>
      streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("k").cast("long")).as("k_sum"),
             count(when(col("k") > 50, 1)).as("n_high")),
      """WITH e AS (
           SELECT event_type, CAST(props->>'k' AS INT) AS k FROM events)
         SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS k_sum,
           COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high
         FROM e GROUP BY 1"""),

    // §2#64 analytic window sweep: the remaining rank/offset/
    // distribution window functions over one shared (key, order) spec —
    // one sort, one pass, no joins.
    Query("q113_window_suite", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders").select(Seq("o_custkey", "o_orderkey", "o_totalprice")).df
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .withColumn("next_price", lead("o_totalprice", 1).over(w))
        .withColumn("first_price", first("o_totalprice").over(w))
        .withColumn("tile", ntile(4).over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("pr", percent_rank().over(w))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER w AS INT) AS rn,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           CAST(ntile(4) OVER w AS INT) AS tile,
           cume_dist() OVER w AS cd,
           percent_rank() OVER w AS pr
         FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)"""),

    // §2#45f (r7) class-balanced downsampling: every language keeps
    // exactly the minority language's count, lowest-content-hash rows
    // first — verified by per-class size AND an order-free md5
    // checksum of the kept ids (the exact selection, not just its
    // cardinality).
    Query("q286_balanced_sample", (s, dir) => {
      val bal = t(s, dir, "documents").balancedByClass(Seq("lang"), Seq("doc_id")).df
      bal.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long").cast("decimal(38,0)")).cast("string").as("id_digest"))
    },
      // the q95 hash-rank selection with the data-derived minority k;
      // kept-set digest = order-free md5 sum (the contentDigest shape)
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         k AS (SELECT MIN(n) AS kmin FROM cnt),
         r AS (
           SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5('0' || chr(0) || CAST(doc_id AS VARCHAR)),
                        CAST(doc_id AS VARCHAR)) AS rk
           FROM documents)
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             AS DECIMAL(38,0))) AS VARCHAR) AS id_digest
         FROM r, k WHERE rk <= kmin GROUP BY lang"""),

    // §2#1b (r7) ISO-Monday weekly rollup: date_trunc('week') is the
    // one calendar bucketing both engines define identically (Monday
    // start) — the time-dimension parity check every cross-engine
    // report depends on.
    Query("q305_weekly_rollup", (s, dir) =>
      t(s, dir, "orders").df
        .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week_start"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue")),
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1"""),

    // §2#37m (r10) Gopher quality rules (Rae et al. 2021, Appendix A):
    // the published heuristic battery — word-count bounds, mean word
    // length bounds, stop-word floor, max-repeated-word ceiling —
    // each surfaced as its own flag plus the conjunction, because a
    // data audit tunes rules individually before gating on `pass`.
    // Exact integer features; the two ratio rules divide exact ints in
    // a mirrored token order.
    Query("q336_gopher_rules", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      val d0 = t(s, dir, "documents").df
        .select(col("doc_id"), T.tokens(col("text")).as("w"))
      val base = d0
        .withColumn("n_words", size(col("w")))
        .withColumn("mean_word_len",
          aggregate(col("w"), lit(0L), (acc, x) => acc + length(x)).cast("double")
            / col("n_words").cast("double"))
        .withColumn("stop_cnt", T.markerCount(col("w"), Seq("the", "a", "of", "and", "to")))
      val top = d0.select(col("doc_id"), explode(col("w")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_cnt"))
      base.join(top, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"),
          (col("n_words") >= 30 && col("n_words") <= 500).as("ok_words"),
          (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).as("ok_word_len"),
          (col("stop_cnt") >= 2).as("ok_stop"),
          (col("top_cnt").cast("double") / col("n_words").cast("double") <= 0.2)
            .as("ok_repeat"))
        .withColumn("pass",
          col("ok_words") && col("ok_word_len") && col("ok_stop") && col("ok_repeat"))
    },
      """WITH tok AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         base AS (
           SELECT doc_id, len(w) AS n_words,
             CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS mwl,
             len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS stop_cnt
           FROM tok),
         top AS (
           SELECT doc_id, MAX(c) AS top_cnt FROM (
             SELECT doc_id, t, COUNT(*) AS c
             FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY 1, 2)
           GROUP BY 1)
         SELECT b.doc_id, CAST(n_words AS INT) AS n_words,
           n_words >= 30 AND n_words <= 500 AS ok_words,
           mwl >= 3.0 AND mwl <= 10.0 AS ok_word_len,
           stop_cnt >= 2 AS ok_stop,
           CAST(top_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2 AS ok_repeat,
           (n_words >= 30 AND n_words <= 500) AND (mwl >= 3.0 AND mwl <= 10.0)
             AND stop_cnt >= 2
             AND (CAST(top_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2) AS pass
         FROM base b JOIN top USING (doc_id)"""),

    // §2#52g GROUPING SETS: the arbitrary-combination form completing
    // cube (q104) / rollup (q71) — (pri, status), (pri), and the grand
    // total in ONE Expand + partial-agg pass.
    Query("q125_grouping_sets", (s, dir) =>
      t(s, dir, "orders").df
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
              Seq(col("o_orderpriority")), Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping(col("o_orderpriority")).cast("int").as("g_pri"),
             grouping(col("o_orderstatus")).cast("int").as("g_st"),
             count(lit(1)).as("n"),
             sum(dec(col("o_totalprice"))).cast("double").as("total")),
      """SELECT o_orderpriority, o_orderstatus,
         CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
         CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())"""),

    // §2#8b wide→long reshape (melt): lineitem's four money/quantity
    // metrics collapse to (metric, value) rows — one Expand node,
    // map-only, no shuffle (the inverse of q83's pivot).
    Query("q129_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax"))
        .unpivot(Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          "metric", "value").df,
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
         UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"""),

    // §2#7b SQL set operations: EXCEPT / INTERSECT (distinct) and
    // their ALL (multiplicity) forms between the order-custkey multiset
    // and its urgent-priority sub-multiset, each result rolled up per
    // key so the four ops share one output schema. Spark plans these as
    // hash aggregates / left-anti shapes — partial-agg shuffles on the
    // row value, never a sort.
    Query("q130_set_ops", (s, dir) => {
      val d1 = t(s, dir, "orders").df.select(col("o_custkey").as("custkey"))
      val d2 = t(s, dir, "orders").df
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      def roll(df: DataFrame, op: String): DataFrame =
        df.groupBy("custkey").agg(count(lit(1)).as("n")).withColumn("op", lit(op))
      roll(d1.intersect(d2), "intersect")
        .unionByName(roll(d1.except(d2), "except"))
        .unionByName(roll(d1.intersectAll(d2), "intersect_all"))
        .unionByName(roll(d1.exceptAll(d2), "except_all"))
        .select(col("op"), col("custkey"), col("n"))
    },
      // multiplicity arithmetic form of the four set ops: with d2 ⊆ d1
      // rowwise, INTERSECT/EXCEPT are distinct-key membership, the ALL
      // forms are least(n1,n2) / n1−n2 copies per key
      """WITH d1 AS (SELECT o_custkey AS custkey, COUNT(*) AS n1 FROM orders GROUP BY 1),
         d2 AS (SELECT o_custkey AS custkey, COUNT(*) AS n2 FROM orders
                WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
         SELECT 'intersect' AS op, custkey, 1::BIGINT AS n
           FROM d1 JOIN d2 USING (custkey)
         UNION ALL
         SELECT 'except', custkey, 1::BIGINT
           FROM d1 LEFT JOIN d2 USING (custkey) WHERE n2 IS NULL
         UNION ALL
         SELECT 'intersect_all', custkey, least(n1, n2)
           FROM d1 JOIN d2 USING (custkey)
         UNION ALL
         SELECT 'except_all', custkey, n1 - COALESCE(n2, 0)
           FROM d1 LEFT JOIN d2 USING (custkey)
           WHERE n1 - COALESCE(n2, 0) > 0"""),

    // §2#19b array/HOF sweep: per-order sorted quantity arrays pushed
    // through the higher-order-function surface (aggregate, filter,
    // zip_with+sequence, transform, slice, array_join) — one partial
    // agg builds the arrays, everything after is map-side; scalars and
    // strings out, so the oracle compares exactly.
    Query("q131_array_suite", (s, dir) => {
      val li = t(s, dir, "lineitem").df
        .select(col("l_orderkey"), col("l_quantity").cast("int").as("q"))
      li.groupBy("l_orderkey").agg(sort_array(collect_list(col("q"))).as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).as("n_items"),
          aggregate(col("qs"), lit(0L), (acc, x) => acc + x).as("total_qty"),
          size(filter(col("qs"), _ > 25)).as("n_big"),
          aggregate(zip_with(col("qs"), sequence(lit(1), size(col("qs"))),
            (x, i) => x.cast("long") * i), lit(0L), (acc, x) => acc + x).as("wsum"),
          array_join(transform(slice(col("qs"), 1, 3), _.cast("string")), ",").as("first3"))
    },
      """WITH g AS (
           SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INT))) AS qs
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey,
           CAST(len(qs) AS INT) AS n_items,
           CAST(list_sum(qs) AS BIGINT) AS total_qty,
           CAST(len(list_filter(qs, x -> x > 25)) AS INT) AS n_big,
           CAST(list_sum([qs[i] * i for i in generate_series(1, len(qs))]) AS BIGINT) AS wsum,
           array_to_string(list_transform(qs[1:3], x -> CAST(x AS VARCHAR)), ',') AS first3
         FROM g"""),

    // §2#58b distribution-matching resample: rebalance three sources to
    // a 50/30/20 marginal — the binding stratum keeps everything,
    // others downsample by the content-hash threshold; keep_frac
    // audits the realized fractions.
    Query("q140_distribution_match", (s, dir) =>
      t(s, dir, "documents")
        .matchDistribution("source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), Seq("doc_id"))
        .select(Seq("doc_id", "source", "keep_frac")).df,
      // counts → ratios → binding-stratum scale → md5-threshold
      // membership, all mirroring Tafra.matchDistribution token-for-token
      """WITH d AS (SELECT doc_id, source FROM documents
                    WHERE source IN ('src0', 'src1', 'src2')),
         t AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2))
               AS t(source, share)),
         c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
         sc AS (SELECT MIN(CAST(n AS DOUBLE) / share) AS scale
                FROM c JOIN t USING (source)),
         k AS (
           SELECT d.doc_id, d.source,
             least(1.0, sc.scale * t.share / CAST(c.n AS DOUBLE)) AS keep_frac
           FROM d JOIN c USING (source) JOIN t USING (source), sc)
         SELECT doc_id, source, keep_frac FROM k
         WHERE ('0x' || substr(md5('0' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < floor(keep_frac * 65536)"""),

    // §2#45e global ordinal assignment: contiguous ids in
    // (l_orderkey, l_linenumber) order WITHOUT a single-task global
    // window — order-aligned buckets + bucket-partitioned ranks + a
    // histogram-sized offset table.
    Query("q144_global_index", (s, dir) =>
      t(s, dir, "lineitem")
        .select(Seq("l_orderkey", "l_linenumber"))
        .globalIndex("l_orderkey", Seq("l_linenumber"), bucketWidth = 1000L).df,
      """SELECT l_orderkey, l_linenumber,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS global_idx
         FROM lineitem"""),

    // §2#37g URL domain census: extract every http(s) host from the
    // text (URLs planted deterministically from doc_id, like q43's PII)
    // and report per-domain URL + document counts — the source-quality
    // census behind domain allow/deny lists. RE2-compatible pattern
    // runs verbatim as the oracle.
    Query("q147_url_domains", (s, dir) => {
      val docs = t(s, dir, "documents").df.select(col("doc_id"),
        concat(col("text"),
          lit(" see http://site"), pmod(col("doc_id"), lit(20)),
          lit(".example.com/page and https://cdn"), pmod(col("doc_id"), lit(7)),
          lit(".example.org/x")).as("text"))
      docs
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, 'https?://([^/\\\\s]+)', 1)")).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"), countDistinct("doc_id").as("n_docs"))
    },
      """WITH d AS (
           SELECT doc_id,
             text || ' see http://site' || (doc_id % 20)
                  || '.example.com/page and https://cdn' || (doc_id % 7)
                  || '.example.org/x' AS text
           FROM documents),
         u AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text, 'https?://([^/\s]+)', 1)) AS domain
           FROM d)
         SELECT domain, COUNT(*) AS n_urls,
           COUNT(DISTINCT doc_id) AS n_docs
         FROM u GROUP BY 1"""),

    // §2#4b null-safe equi-join (<=>): the NULL key buckets MATCH each
    // other (IS NOT DISTINCT FROM), unlike `=` which drops them — the
    // semantics gap every dedup-on-nullable-key pipeline hits.
    Query("q149_nullsafe_join", (s, dir) => {
      val keyed = t(s, dir, "orders").df.select(
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("pri"),
        col("o_totalprice"))
      val a = keyed.groupBy("pri").agg(count(lit(1)).as("na"))
      val b = keyed.filter(col("o_totalprice") > 150000)
        .groupBy("pri").agg(count(lit(1)).as("nb"))
      a.join(b, a("pri") <=> b("pri"), "left")
        .select(a("pri").as("pri"), col("na"), col("nb"))
    },
      """WITH k AS (
           SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                       ELSE o_orderpriority END AS pri, o_totalprice
           FROM orders),
         a AS (SELECT pri, COUNT(*) AS na FROM k GROUP BY 1),
         b AS (SELECT pri, COUNT(*) AS nb FROM k
               WHERE o_totalprice > 150000 GROUP BY 1)
         SELECT a.pri, a.na, b.nb
         FROM a LEFT JOIN b ON a.pri IS NOT DISTINCT FROM b.pri"""),

    // §2#21c schema-evolution parquet read: an early-generation shard
    // (doc_id, source) and a later one with a NEW lang column load as
    // one frame via mergeSchema; early rows surface lang NULL.
    Query("q153_schema_merge", (s, dir) => {
      val out = sidePath("graft_merge", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      val d = t(s, dir, "documents").df
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
        .write.mode("overwrite").parquet(out)
      d.filter(col("doc_id") % 2 === 1).select("doc_id", "source", "lang")
        .write.mode("append").parquet(out)
      Tafra.readParquetMerged(s, out).df
    },
      """SELECT doc_id, source, lang
         FROM read_parquet('/tmp/graft_merge___SFTAG__/*.parquet', union_by_name=true)"""),

    // §2#25b order-insensitive corpus content digest: one mergeable
    // (n_rows, Σ md5-word1, Σ md5-word2) attestation row over the
    // audited columns — "did this snapshot change?" in one partial agg.
    Query("q166_table_digest", (s, dir) =>
      t(s, dir, "lineitem").contentDigest(
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")).df,
      """WITH k AS (
           SELECT md5(concat_ws(chr(1),
             coalesce(CAST(l_orderkey AS VARCHAR), chr(0)),
             coalesce(CAST(l_linenumber AS VARCHAR), chr(0)),
             coalesce(l_returnflag, chr(0)),
             coalesce(l_linestatus, chr(0)))) AS h
           FROM lineitem)
         SELECT COUNT(*) AS n_rows,
           CAST(SUM(('0x' || substr(h, 1, 8))::BIGINT) AS VARCHAR) AS digest_a,
           CAST(SUM(('0x' || substr(h, 9, 8))::BIGINT) AS VARCHAR) AS digest_b
         FROM k"""),

    // §2#36b canonical URL normalization: scheme/host lowercase, www +
    // default port + fragment + trailing slash stripped, tracking
    // params dropped, survivors sorted — the URL-dedup key. Three
    // planted mess-shapes per doc; map-only codegen'd chain; oracle
    // PREDICTS the canonical form (matches the spec, not just itself).
    Query("q177_canonical_url", (s, dir) => {
      import graft.functions.{TextFunctions => T}
      val urls = t(s, dir, "documents").df.select(col("doc_id"),
        explode(array(
          concat(lit("HTTP://WWW.Site"), pmod(col("doc_id"), lit(20)),
            lit(".Example.COM:80/Page"), pmod(col("doc_id"), lit(5)),
            lit("/?utm_source=x&b="), pmod(col("doc_id"), lit(3)), lit("&a=1#sec")),
          concat(lit("https://CDN"), pmod(col("doc_id"), lit(7)),
            lit(".example.org:443/x/y/")),
          concat(lit("http://shop.example.net/p?z=9&a="), pmod(col("doc_id"), lit(2)),
            lit("&fbclid=abc")))).as("url"))
      urls.select(col("doc_id"), col("url"), T.canonicalUrl(col("url")).as("canon"))
    },
      // The oracle PREDICTS each planted URL's canonical form from the
      // normalization spec — stronger than mirroring the chain.
      """SELECT doc_id, url, canon FROM (
           SELECT doc_id,
             'HTTP://WWW.Site' || (doc_id % 20) || '.Example.COM:80/Page' || (doc_id % 5)
               || '/?utm_source=x&b=' || (doc_id % 3) || '&a=1#sec' AS url,
             'http://site' || (doc_id % 20) || '.example.com/Page' || (doc_id % 5)
               || '?a=1&b=' || (doc_id % 3) AS canon
           FROM documents
           UNION ALL
           SELECT doc_id,
             'https://CDN' || (doc_id % 7) || '.example.org:443/x/y/' AS url,
             'https://cdn' || (doc_id % 7) || '.example.org/x/y' AS canon
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://shop.example.net/p?z=9&a=' || (doc_id % 2) || '&fbclid=abc' AS url,
             'http://shop.example.net/p?a=' || (doc_id % 2) || '&z=9' AS canon
           FROM documents)"""),

    // §2#45d temperature-smoothed mixing: √n source quotas (α=1/2,
    // IEEE-exact), integer quota arithmetic, md5-ranked membership.
    Query("q182_temperature_mix", (s, dir) =>
      t(s, dir, "documents").mixTemperature("source", 300L, Seq("doc_id"))
        .select(Seq("doc_id", "source", "quota")).df,
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT source,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS wq
               FROM c),
         t AS (SELECT SUM(wq) AS totw FROM w),
         q AS (SELECT source, CAST((300 * wq) // totw AS BIGINT) AS quota FROM w, t),
         r AS (SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5('0 ' || CAST(doc_id AS VARCHAR)),
                            CAST(doc_id AS VARCHAR)) AS rk
               FROM documents)
         SELECT r.doc_id, r.source, q.quota
         FROM r JOIN q USING (source) WHERE r.rk <= q.quota"""),

    // §2#49b leakage-safe grouped split: the SAME hash split as q46
    // keyed on user_id, so every event of a user lands in one split —
    // the contract that stops cross-split user leakage.
    Query("q191_grouped_split", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_id", "user_id")
      new core.Tafra(ev)
        .splitByHash(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seq("user_id"))
        .df.select("event_id", "user_id", "split")
    },
      """SELECT event_id, user_id,
           CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
         FROM events"""),

    // §2#21c ORC roundtrip: the Hive-ecosystem columnar format as a
    // first-class sink/source (toOrc/readOrc) — the written stripes
    // must read back to EXACTLY the parquet-derived oracle result.
    Query("q211_orc", (s, dir) => {
      val out = sidePath("graft_orc_rt", dir) // dir-derived: concurrent SFs each round-trip their own stripes
      new core.Tafra(t(s, dir, "lineitem").df
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")).toOrc(out)
      core.Tafra.readOrc(s, out).df
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          max(col("l_orderkey")).as("max_key"))
    },
      """SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           MAX(l_orderkey) AS max_key
         FROM lineitem GROUP BY 1"""),

    // §2#52t referential-integrity audit: orphans and childless
    // parents across the FK chain, each ONE anti-join partial count.
    Query("q218_fk_audit", (s, dir) => {
      val li = t(s, dir, "lineitem").df.select(col("l_orderkey"))
      val ord = t(s, dir, "orders").df.select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer").df.select(col("c_custkey"))
      def cnt(df: DataFrame, rel: String) =
        df.agg(count(lit(1)).as("n_violations")).select(lit(rel).as("relationship"), col("n_violations"))
      cnt(li.join(ord.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti"),
          "lineitem_orphans")
        .unionByName(cnt(ord.join(cust.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti"),
          "order_orphans"))
        .unionByName(cnt(ord.join(li.select(col("l_orderkey").as("o_orderkey")).distinct(), Seq("o_orderkey"), "left_anti"),
          "childless_orders"))
        .unionByName(cnt(cust.join(ord.select(col("o_custkey").as("c_custkey")).distinct(), Seq("c_custkey"), "left_anti"),
          "childless_customers"))
    },
      """SELECT 'lineitem_orphans' AS relationship,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
         UNION ALL
         SELECT 'order_orphans',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         UNION ALL
         SELECT 'childless_orders',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
         UNION ALL
         SELECT 'childless_customers',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))"""),

    // §2#64b running distinct: cumulative unique users per type over
    // time — first-occurrence flags (one window) summed by a second
    // running window; exact, no state explosion.
    Query("q219_running_distinct", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"),
          unix_micros(col("ts")).as("tus"))
      val first = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val run = Window.partitionBy(col("event_type"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("_f", when(row_number().over(first) === 1, 1L).otherwise(0L))
        .withColumn("cum_distinct", sum(col("_f")).over(run))
        .select("event_id", "event_type", "tus", "cum_distinct")
    },
      """WITH e AS (
           SELECT event_id, event_type, user_id, epoch_us(ts) AS tus FROM events),
         f AS (
           SELECT *, CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type, user_id
             ORDER BY tus, event_id) = 1 THEN 1 ELSE 0 END AS ff
           FROM e)
         SELECT event_id, event_type, tus,
           CAST(SUM(ff) OVER (PARTITION BY event_type ORDER BY tus, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_distinct
         FROM f"""),

    // §2#49c leakage-safe k-fold: fold = md5(user) mod k, every event
    // of a user in ONE fold — the cross-validation form of q191.
    Query("q195_kfold", (s, dir) => {
      val ev = streaming.Events.readBatch(s, s"$dir/events.parquet")
        .select("event_id", "user_id")
      new core.Tafra(ev).kfoldByHash(5, Seq("user_id"))
        .df.select("event_id", "user_id", "fold")
    },
      """SELECT event_id, user_id,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS INT) AS fold
         FROM events""")
  )
}
