package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Query `name`'s oracle SQL for inputs in `sfDir`. Side-channel
    * queries (q112/q148/q153/q164) write dir-derived /tmp paths; the
    * oracle SQL carries a __SFTAG__ token resolved here with the SAME
    * derivation, so a bench run at another SF can never clobber the
    * files between this dump and the oracle check's DuckDB pass.
    */
  def oracleFor(sfDir: String, name: String): String =
    SparkEntry.oracleSql(name).replace("__SFTAG__", SparkEntry.sfTag(sfDir))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.r)) // dev-only: regex over query names
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [queryRegex]")
        sys.exit(2)
    }
    val spark = LocalSession(LocalSession.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.keys
      .filter(k => only.forall(_.findFirstIn(k).isDefined))
      .map(k => s"${q(k)}: ${q(oracleFor(sfDir, k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
