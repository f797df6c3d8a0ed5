package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.streaming.Drain

/** Streaming CDC SOURCE over a [[TxTable]] — the inverse of the
  * exactly-once sink (`Events.streamIntoTx`), closing the incremental
  * loop stream → table → stream. This is the Delta streaming-source
  * shape (Armbrust et al., VLDB'20 §4.3): STREAM OFFSETS ARE COMMITTED
  * VERSIONS — `getOffset` reads one manifest listing (no data IO),
  * and each micro-batch replays `TxTable.changes(fromV, toV)` tagged
  * with `_change` / `_version` / `_commit_ms`. Restart-resume is free:
  * the engine's checkpoint stores the last version offset, so a
  * restarted query replays exactly the unconsumed commits.
  *
  * Scale shape: a poll costs one directory listing of the (retention-
  * bounded) manifest dir; a batch reads ONLY the delta's files (an
  * append's new files; an overwrite/merge/delete reads the touched
  * snapshots — exactly where the semantics put the cost). The schema
  * is pinned at stream start from the head snapshot + the three CDC
  * columns; compact commits are dataChange=false and replay as
  * nothing.
  *
  * Spark-first plumbing: a DSv1 [[Source]] (the stable connector
  * surface whose `getBatch` returns a DataFrame — the natural fit
  * when the delta IS a composable frame), registered through
  * `StreamSourceProvider`, so the user-facing call is plain
  * `spark.readStream.format(...)`: see [[TxChangesStream.readChangesStream]].
  */
class TxChangesSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "tx-changes"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), TxChangesStream.schemaFor(ctx.sparkSession,
      TxChangesStream.tableOf(parameters)))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    // NOTE: Spark passes the USER-specified `.schema(...)` here, NOT
    // sourceSchema's computed result — honoring it would let a caller
    // silently pin a shape missing the _change/_version/_commit_ms
    // columns and diverge from the schema advertised at plan time. The
    // pinned stream schema is therefore always computed (one footer
    // read at stream start — metadata-scale).
    new TxChangesSource(ctx.sparkSession, TxChangesStream.tableOf(parameters),
      parameters.getOrElse("startingVersion", "0").toInt,
      parameters.get("maxVersionsPerTrigger").map(_.toInt), metadataPath,
      availableNow = parameters.get("availableNow").contains("true"))
}

/** Offset = the largest committed version this stream has consumed.
  * Equality/serialization ride the engine's json contract.
  */
case class TxVersionOffset(v: Int) extends Offset {
  override def json: String = v.toString
}

private[graft] class TxChangesSource(spark: SparkSession, table: String,
                                     startV: Int, maxVersionsPerTrigger: Option[Int],
                                     metadataPath: String,
                                     availableNow: Boolean = false) extends Source {
  override val schema: StructType = TxChangesStream.schemaFor(spark, table)

  /** `Trigger.AvailableNow` analog: the head is resolved ONCE at
    * source construction and the stream never offers past it — a
    * backfill of K committed versions drains in ⌈K/mx⌉ rate-limited
    * batches and then goes idle (commits landing DURING the run wait
    * for the next run); a restart on the same checkpoint consumes only
    * later commits. The stop itself is the caller's (the drain returns
    * once the source stops offering — see [[TxChangesStream.runAvailableNow]]).
    */
  private val endCap: Int =
    if (availableNow) TxTable.currentVersion(spark, table) else Int.MaxValue

  // Rate-limit bookkeeping (the FileStreamSource pattern): the last
  // OFFERED version persists in the source's own metadata dir, so a
  // restart resumes the throttle from ≥ the engine's committed offset
  // (we persist BEFORE offering — an offer can replay after a crash,
  // never rewind; the engine's offset log keeps delivery exactly-once).
  //
  // CRASH-SAFE BY REPRESENTATION (the r8 design kept the floor in ONE
  // mutable file written with create(overwrite=true) — a crash between
  // truncate and close left an empty file whose parse wedged every
  // later getOffset until hand-deleted): each offered version is its
  // own EMPTY record file `v<N>` whose existence IS the record — there
  // is no content to tear. The floor is the max record; a crash while
  // creating a record loses at most THAT record, regressing the floor
  // to the previous offered version, which is still ≥ everything the
  // engine could have committed — offsets never rewind below the
  // offset log. Stale records compact away best-effort after each
  // advance, so the listing stays O(1)-sized.
  private val offeredDir = new org.apache.hadoop.fs.Path(metadataPath, "graft_offered")
  private def fsys = offeredDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  // NonFatal throughout: an unreadable dir or a garbage record name
  // must degrade to the safe floor, never wedge the stream.
  private def readOffered(): Int =
    try {
      if (!fsys.exists(offeredDir)) startV
      else {
        val vs = fsys.listStatus(offeredDir).toSeq.map(_.getPath.getName)
          .flatMap(n => scala.util.Try(n.stripPrefix("v").toInt).toOption)
        (startV +: vs).max
      }
    } catch { case scala.util.control.NonFatal(_) => startV }
  private def writeOffered(v: Int, prev: Int): Unit = {
    fsys.mkdirs(offeredDir)
    fsys.create(new org.apache.hadoop.fs.Path(offeredDir, s"v$v"), true).close()
    // best-effort compaction — the floor is the MAX, a surviving stale
    // record is harmless
    try { fsys.delete(new org.apache.hadoop.fs.Path(offeredDir, s"v$prev"), false); () }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** One O(1) head resolution (the CAS-published head pointer); None
    * until a version past `startV` exists. With
    * `maxVersionsPerTrigger`, advance at most that many commits per
    * micro-batch (the Delta source's rate-limit knob — bounds
    * replay-batch size when a stream starts against a long history).
    */
  override def getOffset: Option[Offset] = {
    val cur = math.min(TxTable.currentVersion(spark, table), endCap)
    val floor = math.max(startV, maxVersionsPerTrigger.fold(startV)(_ => readOffered()))
    val next = maxVersionsPerTrigger.fold(cur)(mx => math.min(cur, floor + mx))
    if (next <= startV) None
    else {
      if (maxVersionsPerTrigger.isDefined && next > floor) writeOffered(next, floor)
      Some(TxVersionOffset(math.max(next, floor)))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(_.json.toInt).getOrElse(startV)
    val to = end.json.toInt
    // defensive: a pathological floor loss (e.g. the whole record dir
    // wiped by hand) can make the engine request a non-advancing batch;
    // serve it empty rather than crash — downstream exactly-once then
    // rests on the sink's idempotence (commitIdempotent), the same
    // story as any at-least-once replay
    if (to <= from)
      org.apache.spark.sql.graft.ColumnBridge.asStreaming(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    else TxChangesStream.batchFor(spark, table, from, to, schema)
  }

  override def stop(): Unit = ()
}

object TxChangesStream {

  private[graft] def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("table",
      sys.error("tx-changes source requires .option(\"table\", <path>)"))

  /** Stream schema, pinned at start: the head snapshot's data columns
    * + (_change, _version, _commit_ms). A table evolved mid-stream
    * keeps emitting the pinned shape (restart the stream to pick up
    * added columns — the Delta source rule).
    */
  def schemaFor(spark: SparkSession, table: String): StructType = {
    val v = TxTable.currentVersion(spark, table)
    require(v >= 1, s"tx-changes: no committed version at $table to stream from")
    StructType(TxTable.readVersion(spark, table, v).schema.fields ++ Seq(
      StructField("_change", StringType, nullable = false),
      StructField("_version", IntegerType, nullable = false),
      StructField("_commit_ms", LongType, nullable = true)))
  }

  /** One micro-batch: the exact `changes(from, to)` delta + per-version
    * commit time (a tiny driver-side manifest map, broadcast as a map
    * literal), re-tagged streaming for the engine.
    */
  private[graft] def batchFor(spark: SparkSession, table: String, from: Int,
                              to: Int, schema: StructType): DataFrame = {
    val ms = ((from + 1) to to).map(v => v -> TxTable.commitMsOf(spark, table, v)).toMap
    val delta = TxTable.changes(spark, table, from, to)
      .withColumn("_commit_ms", element_at(typedlit(ms), col("_version")))
    // align to the PINNED schema: a batch replayed across a schema
    // evolution (restart re-pins from the evolved head, then re-runs
    // an uncommitted pre-evolution batch) surfaces added columns as
    // typed NULLs — the ALTER TABLE ADD COLUMN semantics the evolved
    // table itself has
    val cols = schema.fields.map { f =>
      if (delta.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    org.apache.spark.sql.graft.ColumnBridge.asStreaming(
      delta.select(cols.toIndexedSeq: _*))
  }

  /** The user-facing entry — `readStream` over a TxTable's commit log:
    * {{{
    *   TxChangesStream.readChangesStream(spark, path)
    *     .writeStream.option("checkpointLocation", ckpt)...
    * }}}
    * `startingVersion` replays history from that version (exclusive);
    * 0 = from the beginning (Delta's startingVersion semantics).
    */
  def readChangesStream(spark: SparkSession, table: String,
                        startingVersion: Int = 0,
                        maxVersionsPerTrigger: Option[Int] = None,
                        availableNow: Boolean = false): DataFrame = {
    val rd = spark.readStream.format(classOf[TxChangesSourceProvider].getName)
      .option("table", table)
      .option("startingVersion", startingVersion.toString)
      .option("availableNow", availableNow.toString)
    maxVersionsPerTrigger.fold(rd)(mx =>
      rd.option("maxVersionsPerTrigger", mx.toString)).load()
  }

  /** `Trigger.AvailableNow` analog for the tx-changes source: drain
    * everything committed AT STREAM START (versions landing during the
    * run are NOT consumed — the end is pinned when the source is
    * created), honoring `maxVersionsPerTrigger` batching, then stop
    * cleanly. The scheduled-backfill shape: a cron-driven catch-up job
    * over a long commit history runs in bounded micro-batches and
    * exits; the next run (same checkpoint) consumes only later
    * commits. `onBatch` sees each micro-batch with its engine batchId.
    *
    * @return the number of micro-batches the engine delivered
    */
  def runAvailableNow(spark: SparkSession, table: String, checkpoint: String,
                      onBatch: (DataFrame, Long) => Unit,
                      startingVersion: Int = 0,
                      maxVersionsPerTrigger: Option[Int] = None): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    // the pinned end cap makes the drain finite: once the source stops
    // offering (offered == cap), the engine is idle and the drain
    // returns — then the query stops, the AvailableNow contract
    Drain.foreachBatch(readChangesStream(spark, table, startingVersion,
        maxVersionsPerTrigger, availableNow = true), Some(checkpoint)) { (batch, batchId) =>
      n.incrementAndGet(); onBatch(batch, batchId)
    }
    n.get()
  }

  /** The full incremental pipeline, composed end-to-end: stream the
    * CDC of `srcTable`, apply `transform` per micro-batch, land the
    * result in `dstTable` through `commitIdempotent` — CDC SOURCE
    * (this file) → exactly-once SINK (the q293 contract) in one call.
    * This is the continuous-materialization shape (a downstream table
    * that tracks an upstream one at batch cost): offsets ride the
    * engine checkpoint, dedup ledger IS dstTable's manifest log, so a
    * crash anywhere replays into a no-op. Insert-only consumption
    * (the appending-source case); a row-level merge consumer composes
    * `TxTable.mergeInto` in its own foreachBatch instead.
    *
    * @return the number of micro-batches that actually committed
    */
  def pipeTo(spark: SparkSession, srcTable: String, dstTable: String,
             appId: String, transform: DataFrame => DataFrame,
             checkpoint: String, startingVersion: Int = 0,
             maxVersionsPerTrigger: Option[Int] = None): Long = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    Drain.foreachBatch(readChangesStream(spark, srcTable, startingVersion,
        maxVersionsPerTrigger), Some(checkpoint)) { (batch, batchId) =>
      val out = transform(batch.filter(col("_change") === "insert"))
      if (!out.isEmpty) {
        val (_, didApply) = TxTable.commitIdempotent(out, dstTable, appId, batchId)
        if (didApply) { applied.incrementAndGet(); () }
      }
    }
    applied.get()
  }

  /** Txn-marker appId for one upstream version's mirror work. The
    * version and the work kind live in the STRING half of the
    * (appId, batchId) marker, so markers are collision-free at ANY
    * version count — the r9 numeric encoding packed the version into
    * 20 bits of a long and silently collided past 2²⁰ upstream
    * commits, after which exactly-once gating could skip un-applied
    * work. Insert-run markers use the run's END version.
    */
  private[graft] def mirrorMarker(appId: String, v: Int, del: Boolean): String =
    s"$appId:v$v:${if (del) "d" else "i"}"

  /** Full MIRROR pipeline — [[pipeTo]] plus DELETE PROPAGATION: the
    * downstream TxTable tracks the upstream one exactly, inserts AND
    * row deletions, at delta cost. Each micro-batch applies its
    * versions IN ORDER (a version is the atomic unit of the source, so
    * cross-version insert/delete sequencing — delete-then-reinsert,
    * overwrite replace — lands correctly): deletes tombstone the
    * mirror via the key-set merge-on-read path
    * ([[TxTable.deleteKeysMor]], bloom-accelerated when the mirror
    * indexes the key), inserts land via the idempotent committer.
    *
    * THROUGHPUT: consecutive DELETE-FREE versions within a batch
    * COALESCE into one idempotent commit (marker = the run's end
    * version) — a K-version insert-only backfill lands as ⌈K/mx⌉
    * commits, not K, while any delete stays strictly ordered against
    * the runs around it. The per-batch driver cost is ONE census
    * action (per-version insert/delete counts) plus one commit per
    * run or delete — not 3+ actions per version.
    *
    * Exactly-once under crash-anywhere replay: each unit of work is
    * gated on a ([[mirrorMarker]], batchId) txn marker — recorded by
    * BOTH the insert commit and the delete's mordelete manifest, so a
    * replayed batch (same batchId → same census → same runs) skips
    * every already-applied unit instead of re-tombstoning rows a
    * later version re-inserted; an un-marked (crashed-before-publish)
    * unit re-applies idempotently. Markers are strings — no version
    * magnitude limit.
    *
    * @return the number of upstream versions whose work applied
    */
  def pipeToMirror(spark: SparkSession, srcTable: String, dstTable: String,
                   keyCol: String, appId: String, checkpoint: String,
                   startingVersion: Int = 0,
                   maxVersionsPerTrigger: Option[Int] = None,
                   bloomCols: Seq[String] = Nil): Long = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    Drain.foreachBatch(readChangesStream(spark, srcTable, startingVersion,
        maxVersionsPerTrigger), Some(checkpoint)) { (batch, batchId) =>
      // ONE census action replaces the old per-version isEmpty
      // probes: (version, hasDeletes, hasInserts), version-ordered
      val info = batch.groupBy(col("_version"))
        .agg(sum(when(col("_change") === "delete", 1L).otherwise(0L)).as("nd"),
             sum(when(col("_change") === "insert", 1L).otherwise(0L)).as("ni"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1) > 0L, r.getLong(2) > 0L))
        .sortBy(_._1)
      var run = List.empty[Int] // pending delete-free versions (reversed)
      def flushRun(): Unit = if (run.nonEmpty) {
        val vs = run.reverse
        val ins = batch
          .filter(col("_version").isin(vs: _*) && col("_change") === "insert")
          .drop("_change", "_version", "_commit_ms")
        // bloomCols (typically the mirror key) keeps the index that
        // accelerates this pipeline's OWN delete batches maintained
        val (_, didIns) = TxTable.commitIdempotent(ins, dstTable,
          mirrorMarker(appId, vs.last, del = false), batchId,
          bloomCols = bloomCols)
        if (didIns) { applied.addAndGet(vs.size.toLong); () }
        run = Nil
      }
      info.foreach { case (sv, hasDel, hasIns) =>
        if (!hasDel) run = sv :: run
        else {
          flushRun() // strict ordering across any delete
          var did = false
          if (TxTable.currentVersion(spark, dstTable) >= 1 &&
              TxTable.txnVersionOf(spark, dstTable,
                mirrorMarker(appId, sv, del = true), batchId).isEmpty) {
            val dels = batch.filter(col("_version") === sv &&
              col("_change") === "delete").select(col(keyCol))
            TxTable.deleteKeysMor(spark, dstTable, keyCol, dels,
              txn = Some((mirrorMarker(appId, sv, del = true), batchId)))
            did = true
          }
          if (hasIns) {
            val ins = batch.filter(col("_version") === sv &&
              col("_change") === "insert")
              .drop("_change", "_version", "_commit_ms")
            val (_, didIns) = TxTable.commitIdempotent(ins, dstTable,
              mirrorMarker(appId, sv, del = false), batchId,
              bloomCols = bloomCols)
            did = did || didIns
          }
          if (did) { applied.incrementAndGet(); () }
        }
      }
      flushRun()
    }
    applied.get()
  }

  /** Synchronous replay harness: drive the change stream through all
    * currently-committed versions into a memory sink
    * ([[Drain.toMemory]], the memory-sink path `Events.runToMemory`
    * takes, without its harness session settings) and return the
    * materialized frame. `checkpoint`, when given, is the caller's
    * durable state and survives the run; without one a throwaway
    * checkpoint is made and deleted. Test/oracle-side by design —
    * production attaches `readChangesStream` to a real sink with a
    * durable checkpoint.
    */
  def replayAll(spark: SparkSession, table: String,
                startingVersion: Int = 0,
                checkpoint: Option[String] = None): DataFrame =
    Drain.toMemory(readChangesStream(spark, table, startingVersion), "append",
      "graft_txcdc_", checkpoint)
}
