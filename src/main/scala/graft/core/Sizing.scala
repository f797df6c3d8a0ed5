package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The one driver budget: whether a derived artifact is small enough to
  * hold on the driver, decided in ONE place for every kernel that
  * picks between a broadcast and a shuffled join, or between a
  * driver-local mirror and the distributed rounds.
  *
  * Budget: conf "graft.driverRows" (rows; default 2e6 ≈ 32 MB of id
  * pairs — the broadcast-side budget class, far under the 8 GB
  * broadcast cap; a value ≤ 0 closes every gate). The scale posture
  * stays: past the budget the distributed plan runs unchanged — a
  * shuffled join instead of a broadcast, the distributed rounds instead
  * of the local mirror — and every local path does strictly less work
  * than the distributed plan materializes as rows. Each caller gates on
  * the row count it actually broadcasts or collects, so the budget is
  * uniform per artifact. A kernel whose local arithmetic has a tighter
  * exactness bound lowers the budget further itself (the graph
  * kernels' `cap`, see `Graph.localRows`).
  */
private[graft] object Sizing {

  /** The budget in rows; ≤ 0 closes every gate. */
  private def driverRows(spark: SparkSession): Long =
    spark.conf.get("graft.driverRows", "2000000").toLong

  /** Whether `n` rows fit the driver budget. `n` is evaluated only while
    * the budget is open, so a closed budget issues no count.
    */
  def fits(spark: SparkSession, n: => Long): Boolean = {
    val budget = driverRows(spark)
    budget > 0 && n <= budget
  }

  /** The broadcast-or-not choice for an artifact of `n` rows: the
    * broadcast hint within the budget, the frame unchanged (a shuffled
    * join) past it. Callers persist the artifact, so the count that
    * sizes it is also its materialization.
    */
  def broadcastIfFits(spark: SparkSession, n: => Long): DataFrame => DataFrame =
    if (fits(spark, n)) broadcast(_) else identity

  /** CPU-heavy per-row stages (shingling, hashing, tokenizing, codecs)
    * must not inherit the scan's parallelism: a corpus that arrives as
    * few/small files (or few row groups) would run the dominant stage
    * on a handful of cores. One cheap shuffle of the raw rows,
    * hash-partitioned on `key`, spreads that work across the cluster
    * AND satisfies a downstream per-key groupBy's distribution, so that
    * aggregation needs no second shuffle.
    *
    * The partition count is pinned explicitly: a bare
    * `repartition(col)` is a coalescible shuffle, which AQE happily
    * merges back to one partition on small byte sizes — defeating the
    * point (the cost here is CPU per row, not bytes).
    */
  def rebalance(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(key))
}
