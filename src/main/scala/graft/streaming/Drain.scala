package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one place a synchronous streaming run starts, checkpoints,
  * drains and cleans up a query. Every runner in [[Events]] and
  * [[graft.sources.TxChangesStream]] hands its unstarted writer here,
  * so this is also the one place a run's per-trigger progress could be
  * read.
  *
  * Checkpoint ownership:
  *  - `Some(path)` is the caller's durable state (a restart resumes
  *    from its offsets); it is used as given and never deleted.
  *  - `None` is a throwaway: a fresh `graft_ckpt_*` directory on tmpfs
  *    when `/dev/shm` is writable (every micro-batch fsyncs offset and
  *    commit logs plus one state-store delta per partition — a
  *    throwaway run should not pay disk latency for them), else under
  *    `java.io.tmpdir`. It is deleted whether the run returns or throws.
  */
private[graft] object Drain {

  /** Start `writer`, process all available input, stop the query. */
  def apply(writer: DataStreamWriter[Row], checkpoint: Option[String]): Unit =
    checkpoint match {
      case Some(c) => drain(writer, c)
      case None =>
        val tmp = throwawayCheckpoint()
        try drain(writer, tmp.toString) finally deleteTree(tmp)
    }

  /** `f` on every micro-batch with its batch id (append mode). */
  def foreachBatch(df: DataFrame, checkpoint: Option[String] = None)(
      f: (DataFrame, Long) => Unit): Unit =
    apply(df.writeStream.foreachBatch(f), checkpoint)

  /** Drain into a uniquely named memory sink and return the
    * materialized table.
    */
  def toMemory(df: DataFrame, mode: String, prefix: String,
               checkpoint: Option[String] = None): DataFrame = {
    val name = prefix + UUID.randomUUID().toString.replace("-", "")
    apply(df.writeStream.outputMode(mode).format("memory").queryName(name), checkpoint)
    df.sparkSession.table(name)
  }

  private def drain(writer: DataStreamWriter[Row], checkpoint: String): Unit = {
    val q = writer.option("checkpointLocation", checkpoint).start()
    try q.processAllAvailable() finally q.stop()
  }

  private def throwawayCheckpoint(): Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) Files.createTempDirectory(shm, "graft_ckpt_")
    else Files.createTempDirectory("graft_ckpt_")
  }

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
