package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (SURVEY.md §5): materialize an sf1-equivalent dataset by
  * replicating sf0.1 `copies`× with key offsets that preserve
  * referential integrity (FK columns shift together with their PK), so
  * every bench query runs unchanged at 10× the data. Dimension tables
  * (nation/region) stay single-copy, like a real scale-up. Documents /
  * embeddings replicate with new ids and UNCHANGED content — a
  * duplication-heavy corpus, exactly the hostile case for the dedup
  * family. events keeps its time range (10× density).
  *
  * Usage: runMain graft.ScaleUp [srcDir dstDir copies]
  */
object ScaleUp {

  /** Replicate `src` into `dst` `copies`× with FK-consistent key
    * offsets. Idempotent: a done-marker skips regeneration, so the
    * per-round bench can call this unconditionally.
    */
  def scale(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val marker = java.nio.file.Paths.get(dst, s"_SCALEUP_DONE_$copies")
    if (java.nio.file.Files.exists(marker)) {
      System.err.println(s"[scaleup] $dst already materialized, skipping")
      return
    }
    val off = 10000000000L // far above any sf0.1 key
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // events ns ts → long

    val keyCols: Map[String, Seq[String]] = Map(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq("user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "nation" -> Nil,
      "region" -> Nil)

    keyCols.foreach { case (table, keys) =>
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out =
        if (keys.isEmpty) base
        else (0 until copies).map { c =>
          keys.foldLeft(base)((d, k) => d.withColumn(k, col(k) + lit(c * off)))
        }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      System.err.println(s"[scaleup] $table -> ${if (keys.isEmpty) 1 else copies}x")
    }
    java.nio.file.Files.createFile(marker)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10

    val spark = LocalSession(LocalSession.envCpus)
    scale(spark, src, dst, copies)
    spark.stop()
  }
}
