package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract (SURVEY.md §2/§7): every implemented operator is one
  * [[Query]] in a family registry under `graft.queries`, and the two
  * maps below are views of those registries.
  *
  * A query lives in the family of the operator module its build calls;
  * one that only uses `Tafra` and plain DataFrame/SQL operators is in
  * `FrameQueries` (`Events.readBatch` is a table read, not a streaming
  * call). When a build calls several modules, the first family
  * in this order wins: stream, tx, graph, dedup, similarity, eval,
  * stats, sketch, series, text, multimodal, joins.
  */
object SparkEntry {

  /** Side-channel /tmp paths are derived from the input dir so runs at
    * different scale factors (the sf0.1/sf1 bench vs the sf0.01
    * correctness gate) can never clobber each other's files — the exact
    * cross-process race that produced the only two red rows in
    * CORRECTNESS_r05 (bench overwrote /tmp/graft_merge between the
    * gate's Spark pass and its DuckDB pass). Verify substitutes the same
    * tag into the oracle SQL's __SFTAG__ token at dump time, so query
    * and oracle always read the same run's files.
    */
  def sfTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** Every query by name; fails on a duplicate name. */
  private lazy val registry: Map[String, Query] = Query.byName(
    FrameQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      GraphQueries.all ++ TxQueries.all ++ StreamQueries.all ++
      StatsQueries.all ++ SketchQueries.all ++ EvalQueries.all ++
      SeriesQueries.all ++ TextQueries.all ++ MultimodalQueries.all ++
      JoinQueries.all)

  /** Each query's Spark build, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  /** Each query's DuckDB oracle SQL, by name: ANSI SQL over the same
    * parquet tables, with `__SFTAG__` standing for [[sfTag]].
    */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracle }
}
