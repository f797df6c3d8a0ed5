package graft

import org.apache.spark.sql.functions._

/** The driver-side footer fast path must be invisible: schemas identical
  * to Spark's own inference (nullability included), row counts identical
  * to a full-scan count, and the hive-layout guard must refuse so the
  * partition-discovery read keeps its inference path.
  */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_footer_$tag").toString

  test("footer schema matches inference exactly on a Spark-written table") {
    val dir = tmpDir("sch")
    Seq((1L, "a", 2.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, null, -1.0, null))
      .toDF("id", "s", "x", "ts")
      .write.mode("overwrite").parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    val fast = graft.core.ParquetFooters.dirSchema(spark, dir)
    assert(fast.contains(inferred))
    // and per-file, via the first data file directly
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    graft.core.ParquetFooters.schemaOf(spark, f.toString) shouldBe inferred
  }

  test("footer row count equals the full-scan count across files") {
    val dir = tmpDir("cnt")
    spark.range(0, 1234).repartition(5).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    graft.core.ParquetFooters.rowCount(spark, files) shouldBe 1234L
    graft.core.ParquetFooters.rowCount(spark, files) shouldBe
      spark.read.parquet(dir).count()
  }

  test("hive-partitioned layout refuses the fast path (inference keeps partition discovery)") {
    val dir = tmpDir("hive")
    Seq((1L, "x", "p1"), (2L, "y", "p2")).toDF("id", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    graft.core.ParquetFooters.dirSchema(spark, dir) shouldBe None
    // Tafra.readParquet falls back and still sees the partition column
    val t = graft.core.Tafra.readParquet(spark, dir)
    t.df.columns.toSet shouldBe Set("id", "v", "p")
  }

  test("readParquet fast path returns identical rows and schema to plain read") {
    val dir = tmpDir("rows")
    Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val fast = graft.core.Tafra.readParquet(spark, dir).df
    val plain = spark.read.parquet(dir)
    fast.schema shouldBe plain.schema
    canon(fast) shouldBe canon(plain)
  }

  test("TxTable snapshot reads stay byte-identical through the footer schema path (tombs + posd)") {
    val table = tmpDir("tx") + "/tbl"
    sources.TxTable.drop(spark, table)
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
                 (4L, "d", 40.0)).toDF("k", "v", "x")
    sources.TxTable.commit(df, table)
    sources.TxTable.deleteKeysMor(spark, table, "k",
      Seq(2L).toDF("k"))                           // key-set delete sidecar
    sources.TxTable.deleteWherePos(spark, table,
      col("x").between(35.0, 45.0))                // range delete sidecar
    val got = canon(sources.TxTable.read(spark, table))
    got shouldBe canon(Seq((1L, "a", 10.0), (3L, "c", 30.0)).toDF("k", "v", "x"))
    sources.TxTable.drop(spark, table)
  }
}
