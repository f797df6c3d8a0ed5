package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.Tafra

/** One registered query: its Spark build and the DuckDB SQL that
  * hash-checks it, side by side.
  *
  * Determinism rules for the DuckDB-oracle compare (the checker sorts
  * columns by name, then hashes values; row order is canonicalized):
  *  - money/quantity sums go through DECIMAL (order-independent), cast
  *    to double only at the end;
  *  - derived doubles (means, ratios) use the IDENTICAL expression shape
  *    on both sides so IEEE arithmetic agrees bit-for-bit;
  *  - window ranks cast to INT on the oracle side (DuckDB emits BIGINT);
  *  - timestamps only appear truncated (year/date_trunc) because the
  *    events table is ns-precision and Spark is µs.
  *
  * The oracle SQL is built on first use only: several oracles are
  * generated strings, and the bench touches the registry without them.
  */
final class Query private (val name: String,
                           val build: (SparkSession, String) => DataFrame,
                           sql: () => String) {
  lazy val oracle: String = sql()
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String): Query =
    new Query(name, build, () => oracle)

  /** Index queries by name. A duplicate name fails here, listing every
    * duplicate, instead of one entry silently replacing another.
    */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val m = qs.map(q => q.name -> q).toMap
    require(m.size == qs.size, "duplicate query names in the registry: " +
      qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.toSeq.sorted.mkString(", "))
    m
  }
}

/** Helpers shared by the family registries. */
private[queries] object Helpers {

  def t(spark: SparkSession, dir: String, name: String): Tafra =
    Tafra.readParquet(spark, s"$dir/$name.parquet")

  /** Side-channel /tmp path for `base`, tagged by [[SparkEntry.sfTag]]. */
  def sidePath(base: String, dir: String): String =
    s"/tmp/${base}_${SparkEntry.sfTag(dir)}"

  /** Exact money arithmetic: sums over DECIMAL are order-independent
    * and match the DuckDB oracle bit-for-bit (doubles would drift with
    * shuffle order).
    */
  def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** Shared ANSI SQL for q19 — the exact string runs on BOTH engines
    * (spark.sql over temp views; DuckDB over parquet views).
    */
  val q19Sql: String =
    """SELECT r_name, n_name, COUNT(c_custkey) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name"""

  /** q194's term list — one source of truth for the Spark census and
    * the SQL oracle's VALUES list (substring semantics, lowercase).
    */
  val BlocklistTerms: Seq[String] =
    Seq("spark", "vector", "window dup", "slow batch", "agg")
}
