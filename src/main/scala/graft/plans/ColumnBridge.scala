package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ⇄ Expression converters, the
  * standard pattern for libraries that ship custom Catalyst expressions
  * (Spark 4 made `Column` expression-agnostic; classic conversions live
  * in `org.apache.spark.sql.classic`). This is the only file outside
  * the `graft` namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The value a sort column orders by: `c.desc` → `c`; an undirected
    * column is returned as is.
    */
  def sortKey(c: Column): Column = c.node match {
    case s: org.apache.spark.sql.internal.SortOrder => new Column(s.child)
    case _ => c
  }

  /** Re-tag a (lazily planned) batch frame as a STREAMING frame — what
    * a DSv1 `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`). The same bridge FileStreamSource uses internally
    * (`isStreaming = true` relation); `internalCreateDataFrame` is the
    * public-on-classic entry for it. The RDD stays lazy — each
    * micro-batch plans and executes only when the sink pulls it.
    */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.toRdd,
      df.schema, isStreaming = true)
  }

  /** Release the storage blocks behind a `localCheckpoint()`ed frame.
    * `Dataset.localCheckpoint` pins its materialized RDD in executor
    * storage with no public release handle — an iterative operator
    * that checkpoints per round (to truncate lineage) would otherwise
    * accumulate one corpus-sized copy PER ROUND for the session's
    * lifetime. The checkpointed RDD sits in the plan's `LogicalRDD`
    * leaf; unpersisting it frees the blocks while the frame's lineage
    * stays truncated (the frame must no longer be read afterwards).
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    }
  }
}
