package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session; sbt forks a single test JVM).
  */
object SparkSpec {
  lazy val spark: SparkSession = LocalSession(4)
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Rows as a canonical sorted seq-of-seqs for order-free compare. */
  def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

  def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** `body` with the driver budget `graft.driverRows` set to `rows`
    * (0 closes every driver-size gate), then the conf unset so later
    * suites in the shared session see the default.
    */
  def withDriverRows[T](rows: Long)(body: => T): T = {
    spark.conf.set("graft.driverRows", rows.toString)
    try body finally spark.conf.unset("graft.driverRows")
  }
}
