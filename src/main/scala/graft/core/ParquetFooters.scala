package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet footer metadata: schema and exact row counts
  * WITHOUT a Spark job. `spark.read.parquet` with no user schema runs
  * footer inference as a 1-task job per frame construction (~25 ms plus
  * a 50-200 ms scheduler/planning gap on this host — measured with
  * `graft.Dev profile`); reading the footer on the driver costs single-digit ms
  * and yields the identical StructType, because Spark-written files
  * carry the exact schema JSON in the footer's key-value metadata and
  * Spark's own inference prefers that key too. Used wherever the
  * engine constructs a frame over files it already knows to be
  * schema-uniform (non-evolved snapshots, sidecars, just-written
  * batches); evolved (mergeSchema) reads keep Spark's distributed
  * footer union, which is the semantic there.
  */
private[graft] object ParquetFooters {
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def footer(conf: Configuration, p: Path) =
    ParquetFileReader.readFooter(conf, p, ParquetMetadataConverter.NO_FILTER)

  /** Schema of ONE footer — the same single-footer sample that plain
    * (mergeSchema=false) inference uses for a uniform file set.
    */
  def schemaOf(spark: SparkSession, absPath: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val md = footer(conf, new Path(absPath)).getFileMetaData
    val raw = Option(md.getKeyValueMetaData.get(SparkSchemaKey)) match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None =>
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(md.getSchema)
    }
    // file-source inference forces every field nullable (a file can
    // always be missing/short a value); the footer JSON records the
    // writer frame's nullability — mirror inference exactly
    forceNullable(raw).asInstanceOf[StructType]
  }

  private def forceNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = forceNullable(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = forceNullable(at.elementType), containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = forceNullable(mt.keyType),
        valueType = forceNullable(mt.valueType), valueContainsNull = true)
    case other => other
  }

  /** Footer schema for a FLAT parquet path (a single file, or a
    * directory whose first level holds only data files) — None when the
    * layout may carry hive partition directories or has no data file,
    * so the caller falls back to Spark's own inference (which handles
    * partition discovery).
    */
  def dirSchema(spark: SparkSession, path: String): Option[StructType] = {
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val st = fs.getFileStatus(p)
      if (st.isFile) return Some(schemaOf(spark, path))
      val entries = fs.listStatus(p)
      if (entries.exists(_.isDirectory)) return None
      entries.iterator
        .map(_.getPath)
        .find { q =>
          val n = q.getName
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(q => schemaOf(spark, q.toString))
    } catch { case _: Exception => None }
  }

  /** Exact row count from footer block metadata — the same number a
    * full-scan count() returns, zero jobs. Only valid for plain data
    * files (the caller must not have merge-on-read filters to apply).
    */
  def rowCount(spark: SparkSession, absPaths: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    import scala.jdk.CollectionConverters._
    absPaths.iterator.map { p =>
      footer(conf, new Path(p)).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }
}
