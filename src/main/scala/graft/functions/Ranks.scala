package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import scala.collection.immutable.ListMap

/** The one running-sum kernel behind the exact rank, quantile and
  * cumulative statistics. Each caller builds its own histogram (or
  * cell table) and keeps its own statistic arithmetic; this object owns
  * the three decisions they share:
  *
  *  - the running sum: one rows-frame window `PARTITION BY keys ORDER BY
  *    order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` for all
  *    requested sums, after dropping the rows whose ordering value is
  *    NULL (Spark sorts NULLs first, so a kept NULL would take the
  *    lowest rank and inflate every count after it);
  *  - the half-unit mid-rank: a tie block of `t` rows whose inclusive
  *    prefix is `cum` has twice-the-average-rank 2·cum − t + 1
  *    (= 2·cumBefore + t + 1), an exact integer, with tie term t³ − t;
  *  - the type-1 pick: the smallest value whose inclusive prefix reaches
  *    p·n, decided by integer cross-multiplication (no float boundary).
  *
  * Scale shape: keyed callers run one window per key partition;
  * unkeyed callers (`keys` empty) run it in one task, which is bounded
  * only because their input is a distinct-value histogram or a
  * calendar-scale series. A two-level prefix sum (range-partitioned
  * partial sums plus broadcast offsets, the `Tafra.globalIndex`
  * pattern) would go here.
  */
private[graft] object Ranks {

  /** `df` without the rows whose `order` value is NULL, plus the
    * inclusive running sum of each `sums` value (named by its key) and
    * the per-`keys` total of each `totals` value. `order` columns may
    * carry a direction (`col("v").desc`).
    */
  def running(df: DataFrame, keys: Seq[String], order: Seq[Column],
              sums: Seq[(String, Column)],
              totals: Seq[(String, Column)] = Nil): DataFrame = {
    val kept = df.filter(order.map(o => ColumnBridge.sortKey(o).isNotNull).reduce(_ && _))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(keys.map(col): _*)
    // one projection per window spec: a computed input projected
    // between two window operators would keep CollapseWindow from
    // fusing them into one
    def over(d: DataFrame, cols: Seq[(String, Column)], spec: WindowSpec) =
      if (cols.isEmpty) d
      else d.withColumns(ListMap(cols.map { case (name, v) => name -> sum(v).over(spec) }: _*))
    over(over(kept, sums, w), totals, all)
  }

  /** Twice the average rank of a tie block of `t` rows whose inclusive
    * prefix is `cum`.
    */
  def midRank2(cum: Column, t: Column): Column = lit(2L) * cum - t + 1L

  /** The tie-correction term t³ − t, exact in DECIMAL(38,0). */
  def tieTerm(t: Column): Column =
    (t.cast("decimal(38,0)") * t * t - t).cast("decimal(38,0)")

  /** Aggregate: the smallest `v` whose inclusive prefix `cum` reaches
    * num/den of `n` (cum·den ≥ n·num).
    */
  def pick(v: Column, cum: Column, n: Column, num: Long, den: Long): Column =
    min(when(cum * den >= n * num, v))
}
