package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming over the `events` table (SURVEY.md §2 #27-28).
  *
  * The reference has no streaming surface; these are the scale
  * additions. Each RUNNER builds its plan and hands the unstarted query
  * to [[Drain]], the one place a synchronous run starts, checkpoints,
  * drains and cleans up: aggregation, join and dedup plans drain into a
  * memory sink ([[runToMemory]], the test/oracle harness), the
  * foreachBatch folds and the exactly-once TxTable sink drain their own
  * writer. Production attaches the same plans to a durable sink:
  * [[runToFiles]] — append mode, watermark-bounded state, the caller's
  * checkpoint and query lifecycle.
  *
  * events.parquet has shipped two physical `ts` encodings across data
  * generations: ns-precision int96-style timestamps Spark's reader
  * rejects (read as raw longs via
  * `spark.sql.legacy.parquet.nanosAsLong`, truncated `ts div 1000`)
  * and plain timestamp[us] (arrives as TIMESTAMP_NTZ). Both normalize
  * here to a session-UTC TIMESTAMP so every consumer sees one type;
  * the DuckDB oracle's `epoch_ns(ts)//1000` yields the identical µs
  * count for either encoding.
  */
object Events {

  private def nanosConf(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize whatever physical `ts` the file carries to TIMESTAMP
    * (session tz, asserted UTC below).
    *
    * Invariants (fail loudly rather than corrupt silently):
    *  - A LongType `ts` is BY CONTRACT epoch-NANOSECONDS (the legacy
    *    generation written with ns annotations Spark's reader rejects;
    *    `nanosAsLong` surfaces them as raw longs). A writer shipping
    *    plain int64 epoch-µs must NOT rely on this path — it would be
    *    divided by 1000 again. The contract is pinned at every in-repo
    *    writer (StreamingSpec synthesizes `us * 1000`).
    *  - The TIMESTAMP_NTZ → TIMESTAMP cast reinterprets the wall-clock
    *    in the SESSION timezone; only UTC matches both the legacy ns
    *    path (timezone-independent) and the DuckDB oracle, so a
    *    non-UTC session fails fast here instead of silently shifting
    *    every instant by the tz offset.
    *  - One directory = one encoding: the batch schema probe cannot
    *    merge LongType with TimestampNTZ, so a dataset/stream dir
    *    mixing generations fails at probe time with Spark's merge
    *    error — split mixed dirs by generation before reading.
    */
  private def normTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events ts is timestamp_ntz; normalization requires spark.sql.session.timeZone=UTC (got '$tz') " +
          "— a non-UTC session would shift every instant by the tz offset vs the legacy ns encoding and the oracle")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Batch read with the ts normalization applied. */
  def readBatch(spark: SparkSession, path: String): DataFrame = {
    nanosConf(spark)
    normTs(graft.core.ParquetFooters.dirSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    })
  }

  /** Streaming read of the same files (schema taken from a batch probe,
    * as file-source streams require an explicit schema). File-source
    * streams need a DIRECTORY; a single-file path is exposed through a
    * temp dir holding a symlink (production streams read directories of
    * arriving files anyway). `maxFilesPerTrigger` caps files per
    * micro-batch — the test hook that makes MULTIPLE batches actually
    * happen, so cross-batch state is exercised.
    */
  def readStream(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    nanosConf(spark)
    val schema = graft.core.ParquetFooters.dirSchema(spark, path)
      .getOrElse(spark.read.parquet(path).schema)
    val p = java.nio.file.Paths.get(path)
    val streamDir =
      if (java.nio.file.Files.isDirectory(p)) path
      else {
        val dir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_stream_${Integer.toHexString(path.hashCode)}")
        java.nio.file.Files.createDirectories(dir)
        val link = dir.resolve(p.getFileName)
        if (!java.nio.file.Files.exists(link)) java.nio.file.Files.createSymbolicLink(link, p)
        dir.toString
      }
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n))
    normTs(reader.parquet(streamDir))
  }

  /** State-store partitions of the memory-sink harness. 8 measured best
    * (interleaved min-of-3 at sf0.1 on 32 cores: 3.4 s at 8, 5.6 s at
    * 16, 9.8 s at 32 — per-partition state-store commit files dominate
    * tiny-state batches).
    */
  private val StatePartitions = 8

  /** Drain an unstarted streaming frame into a memory sink
    * ([[Drain.toMemory]]) and hand back the materialized table. This is
    * the TEST/ORACLE harness — results land on the driver by design so
    * the batch-SQL compare can hash them. Production attaches the same
    * plan to a real sink via [[runToFiles]].
    */
  private def runToMemory(agg: DataFrame, mode: String, prefix: String,
                          noDataBatches: Boolean = false): DataFrame = {
    val spark = agg.sparkSession
    // Stateful operators keep one state store (and its per-batch commit
    // files) PER shuffle partition, so partition count should track
    // state size, not core count. The test corpus's state is tiny —
    // 8 partitions, not the session's CPU-sized default (measured
    // multi-second commit overhead otherwise). Production (runToFiles)
    // keeps the session setting: at real scale state is what's big.
    //
    // No trailing no-data micro-batches either (results verified
    // identical): every plan here emits its rows in the batch that
    // carries them (complete/update modes, in-watermark dedup, inner
    // join on match); the extra empty batch only advances state
    // cleanup, which stops mattering the moment the harness query stops.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    // OUTER stream joins are the exception to the no-data-batch cut:
    // an unmatched row's null-padded result is emitted by the WATERMARK
    // ADVANCE, which only a trailing no-data batch performs
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    try Drain.toMemory(agg, mode, prefix)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }

  /** The event stream, watermarked on `ts` when a lateness bound is given. */
  private def eventStream(spark: SparkSession, eventsPath: String,
                          watermark: Option[String],
                          maxFilesPerTrigger: Option[Int]): DataFrame = {
    val stream = readStream(spark, eventsPath, maxFilesPerTrigger)
    watermark.fold(stream)(w => stream.withWatermark("ts", w))
  }

  /** The window struct column `win` replaced, in place, by its start. */
  private def winStart(df: DataFrame, startAs: String = "hour_start"): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      if (c == "win") col("win.start").as(startAs) else col(c)): _*)

  /** The windowed-runner shape: `plan` (grouped by a window column
    * named `win`) over the event stream, drained to a memory sink and
    * unwrapped to the window start. With a watermark it runs APPEND
    * mode — sealed windows emit once, final, and state stays bounded by
    * the open windows within the lateness horizon, never by key
    * cardinality; without one (the test/oracle path) COMPLETE mode, so
    * every window lands in the batch-SQL compare (the q20 convention).
    */
  private def runWindowed(spark: SparkSession, eventsPath: String,
                          watermark: Option[String], maxFilesPerTrigger: Option[Int],
                          prefix: String, startAs: String = "hour_start")(
                           plan: DataFrame => DataFrame): DataFrame =
    winStart(runToMemory(plan(eventStream(spark, eventsPath, watermark, maxFilesPerTrigger)),
      if (watermark.isEmpty) "complete" else "append", prefix), startAs)

  /** #27c streaming count-min sketch build (SURVEY §2 #60): the CMS
    * cell aggregation run in complete mode over the event stream —
    * bit-identical to the batch [[graft.functions.Sketches.cmsBuild]]
    * because cells are commutative sums, which is exactly why the
    * sketch is the right continuous-ingest artifact: the operator
    * state IS the sketch (≤ depth·width rows regardless of stream
    * length or key cardinality — never keyed by user), and a snapshot
    * at any micro-batch is a valid sketch of everything ingested.
    */
  def streamCmsSketch(spark: SparkSession, eventsPath: String,
                      depth: Int = 4, width: Int = 1024,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val st = readStream(spark, eventsPath, maxFilesPerTrigger)
      .select(col("user_id").cast("string").as("user_id"))
    runToMemory(graft.functions.Sketches.cmsBuild(st, "user_id", depth, width),
      "complete", "graft_cms_")
  }

  /** Streaming AMS F₂ sketch build (SURVEY §2 #60i): the signed-
    * counter aggregation run in complete mode over the event stream —
    * the join-size/skew member completing the streaming sketch family
    * (CMS = frequency, HLL = distinct, KMV = similarity, dyadic =
    * quantiles, AMS = second moment). Counters are commutative ±1
    * sums, so the operator state is `reps` longs (~72 bytes at ANY
    * cardinality), any micro-batch snapshot is a valid sketch of
    * everything ingested, and the final snapshot equals the batch
    * [[graft.functions.Sketches.amsF2Sketch]] counter-for-counter —
    * verified by the SAME oracle machinery as q285.
    */
  def streamAmsSketch(spark: SparkSession, eventsPath: String, reps: Int = 9,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val st = readStream(spark, eventsPath, maxFilesPerTrigger)
      .select(col("user_id").cast("string").as("user_id"))
    runToMemory(graft.functions.Sketches.amsF2Sketch(st, "user_id", reps),
      "complete", "graft_ams_")
  }

  /** Streaming dyadic quantile-state build (SURVEY §2 #60d): the
    * per-(key, bin) count aggregation run in complete mode over the
    * event stream — the quantile member of the streaming-sketch trio
    * ([[streamCmsSketch]] = frequency, [[streamHllRegisters]] =
    * distinct). Bin counts are commutative sums, so the operator state
    * IS the state table (≤ 64·2^subBits bins per sign per key,
    * NEVER keyed by row value), any micro-batch snapshot is a valid
    * state of everything ingested, and the final snapshot equals the
    * batch [[graft.functions.Sketches.quantileState]] bin-for-bin —
    * feed it to `quantileOf` for the live p50/p99 dashboard read.
    */
  def streamQuantileState(spark: SparkSession, eventsPath: String,
                          keys: Seq[String] = Seq("event_type"),
                          valueCol: String = "value",
                          unitScale: Long = 1000000L, subBits: Int = 5,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val st = readStream(spark, eventsPath, maxFilesPerTrigger)
      .select(keys.map(col) :+ col(valueCol): _*)
    runToMemory(
      graft.functions.Sketches.quantileState(st, keys, valueCol, unitScale, subBits),
      "complete", "graft_qs_")
  }

  /** Streaming HyperLogLog register build (SURVEY §2 #61): the
    * register max-aggregation run in complete mode over the event
    * stream — the cardinality counterpart of [[streamCmsSketch]].
    * Register maxes are commutative and idempotent, so the operator
    * state is the ≤ 2^p register table (never keyed by user — a
    * distinct-COUNT stream would keep every key in the state store;
    * the sketch keeps 1024 rows at any cardinality), any micro-batch
    * snapshot is a valid sketch of everything ingested so far, and
    * the final snapshot equals the batch
    * [[graft.functions.Sketches.hllRegisters]] cell-for-cell —
    * verified by the SAME oracle SQL.
    */
  def streamHllRegisters(spark: SparkSession, eventsPath: String, p: Int = 10,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val st = readStream(spark, eventsPath, maxFilesPerTrigger)
      .select(col("user_id").cast("string").as("user_id"))
    runToMemory(graft.functions.Sketches.hllRegisters(st, "user_id", p),
      "complete", "graft_hll_")
  }

  /** Per-WINDOW HLL registers over the stream (SURVEY.md §2 #61e):
    * one ≤2^p register table per event-time hour — the
    * "distinct users per hour, forever, in constant memory per
    * window" report (q126's global sketch can never tell you WHEN).
    * Because the register value is a plain `max`, this is an ordinary
    * windowed aggregation ([[runWindowed]]: append with a watermark,
    * state bounded by open windows × 2^p; complete without one), the
    * batch [[graft.functions.Sketches.hllRegistersBy]] grouped by the
    * window. Emitted registers max-merge across shards/restarts like
    * any HLL table. Output: (hour_start, bucket, r).
    */
  def streamHllHourly(spark: SparkSession, eventsPath: String, p: Int = 10,
                      watermark: Option[String] = None,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runWindowed(spark, eventsPath, watermark, maxFilesPerTrigger, "graft_hllw_") { s =>
      graft.functions.Sketches.hllRegistersBy(
        s.select(window(col("ts"), "1 hour").as("win"), col("user_id")),
        Seq("win"), "user_id", p)
    }

  /** Per-WINDOW count-min sketches over the stream (SURVEY §2 #60h):
    * one ≤depth·width cell table per event-time hour — "who was hot
    * THIS hour, forever, in constant memory per window", the frequency
    * member of the per-window sealed-emission family beside the HLL
    * (#61e), quantile (#60g), and KMV (#61h) members. CMS cells are
    * commutative counts, so like the HLL this is an ORDINARY windowed
    * aggregation ([[runWindowed]]: sealed hours emit finalized sketches,
    * state bounded by open-windows × depth·width cells — never by key
    * cardinality). Per-hour sketches sum-merge across shards/restarts
    * like any CMS. Output: (hour_start, j, cell, cnt).
    */
  def streamCmsHourly(spark: SparkSession, eventsPath: String,
                      depth: Int = 4, width: Int = 1024,
                      watermark: Option[String] = None,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runWindowed(spark, eventsPath, watermark, maxFilesPerTrigger, "graft_cmsw_") { s =>
      s.select(window(col("ts"), "1 hour").as("win"), col("user_id").cast("string").as("k"))
        .select(col("win"), posexplode(array((0 until depth).map(j =>
          graft.functions.Sketches.cmsCell(col("k"), j, width)): _*)).as(Seq("j", "cell")))
        .groupBy(col("win"), col("j"), col("cell")).agg(count(lit(1)).as("cnt"))
    }

  /** Per-WINDOW dyadic quantile states over the stream (SURVEY §2
    * #60g): one bin table per event-time hour — "p99 per hour,
    * forever, in constant memory per window", the quantile member of
    * the per-window sealed-emission family [[streamHllHourly]]
    * founded. A bin count is a plain windowed `count`, so this is the
    * batch [[graft.functions.Sketches.quantileState]] keyed by the
    * window, run as an ordinary windowed aggregation ([[runWindowed]]:
    * state bounded by open windows × (≤ 64·2^subBits bins per sign),
    * never by row count or value cardinality). Emitted bin tables
    * sum-merge across shards/restarts like any quantile state, and
    * [[graft.functions.Sketches.quantileOf]] reads p50/p99 per hour off
    * them directly. Output: (hour_start, bin, cnt).
    */
  def streamQuantileHourly(spark: SparkSession, eventsPath: String,
                           valueCol: String = "value",
                           unitScale: Long = 1000000L, subBits: Int = 5,
                           watermark: Option[String] = None,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runWindowed(spark, eventsPath, watermark, maxFilesPerTrigger, "graft_qsw_") { s =>
      graft.functions.Sketches.quantileState(
        s.select(window(col("ts"), "1 hour").as("win"), col(valueCol)),
        Seq("win"), valueCol, unitScale, subBits)
    }

  /** Per-WINDOW KMV states over the stream (SURVEY §2 #61h): one ≤k
    * bottom-hash array per event-time hour — "distinct users per hour
    * WITH set-operation support downstream" (hour-over-hour Jaccard /
    * intersection via [[graft.functions.Sketches.kmvSetEstimates]],
    * which the per-hour HLL of #61e cannot give).
    *
    * Bottom-k is not expressible as a Spark streaming aggregate
    * without unbounded per-window distinct state (collect would keep
    * every value), so this uses the foreachBatch fold (the q217/q245
    * contract) with the WATERMARK LOGIC MADE EXPLICIT: per batch, new
    * per-(hour) KMV states fold into the standing OPEN-window state;
    * any window whose end falls at or below the high-water mark
    * (max event time seen − `latenessUs`) is SEALED — emitted once,
    * final, and dropped from the standing state. Standing state is
    * therefore (open windows within the lateness horizon) × k hashes,
    * never stream-length- or cardinality-scaled, exactly the bound a
    * watermarked append aggregation would give. Because bottom-k over
    * a set is order/split-invariant, every sealed window's state is
    * bit-identical to the batch build of that hour (the oracle
    * contract); `latenessUs = None` (test/oracle path) never seals, so
    * the final flush covers every window.
    *
    * Returns sealed emissions ∪ the final open tail — i.e. every
    * window, each exactly once, marked `sealed`.
    */
  def streamKmvHourly(spark: SparkSession, eventsPath: String,
                      valueCol: String = "user_id", k: Int = 64,
                      latenessUs: Option[Long] = None,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val HOUR_US = 3600000000L
    val stream = readStream(spark, eventsPath, maxFilesPerTrigger)
      .select(date_trunc("hour", col("ts")).as("hour_start"),
        col("ts"), col(valueCol))
    @volatile var open: Option[DataFrame] = None
    @volatile var sealedOut: Option[DataFrame] = None
    @volatile var highWaterUs: Long = Long.MinValue
    Drain.foreachBatch(stream) { (batch, _) =>
      // Spark's own rule, made explicit: the late-data predicate uses
      // the watermark SEALED AT THE END OF THE PREVIOUS BATCH. Rows
      // for a window already sealed are dropped — folding them into a
      // fresh state entry would re-emit that hour at the final flush.
      val hwPrev = highWaterUs
      val fresh = latenessUs.fold(batch)(_ => batch.filter(
        unix_micros(col("hour_start")) + lit(HOUR_US) > lit(hwPrev)))
      val bs = graft.functions.Sketches.kmvState(
        fresh.select(col("hour_start"), col(valueCol)), Seq("hour_start"), valueCol, k)
      val merged = open
        .map(s => graft.functions.Sketches.mergeKmvStates(Seq(s, bs), Seq("hour_start"), k))
        .getOrElse(bs)
      latenessUs match {
        case None => open = Some(merged.localCheckpoint())
        case Some(lu) =>
          // advance the high-water mark off the FULL batch (dropped
          // rows still advance event time — Spark's semantics), then
          // seal windows fully below it: window end ≤ hw
          val mx = batch.agg(max(unix_micros(col("ts")))).head
          if (!mx.isNullAt(0)) highWaterUs = math.max(highWaterUs, mx.getLong(0) - lu)
          val isSealed = unix_micros(col("hour_start")) + lit(HOUR_US) <= lit(highWaterUs)
          val sealedNow = merged.filter(isSealed)
          if (!sealedNow.isEmpty) {
            val emitted = sealedNow.localCheckpoint()
            sealedOut = Some(sealedOut.map(_.unionByName(emitted)).getOrElse(emitted))
          }
          open = Some(merged.filter(!isSealed).localCheckpoint())
      }
    }
    val tail = open.map(_.withColumn("sealed", lit(false)))
    val sealedPart = sealedOut.map(_.withColumn("sealed", lit(true)))
    (sealedPart, tail) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        graft.functions.Sketches.kmvState(
          readBatch(spark, eventsPath).limit(0)
            .select(date_trunc("hour", col("ts")).as("hour_start"), col(valueCol)),
          Seq("hour_start"), valueCol, k).withColumn("sealed", lit(false))
    }
  }

  /** Streaming drift monitor (SURVEY.md §2 #52t): per event-time hour,
    * the PSI of that hour's `value` distribution against the corpus
    * baseline — "alert when an hour's traffic stops looking like
    * history", the continuous form of
    * [[graft.functions.Profile.psi]].
    *
    * The genuinely streaming half is the (window, bin) count
    * aggregation: operator state is open-windows × occupied-bins cells
    * (never event- or key-scaled; with a watermark it runs append and
    * sealed hours emit finalized cell tables — complete mode here for
    * the oracle harness, the q20 convention). The PSI arithmetic is
    * the per-emission transform (the q103 foreachBatch pattern): hour
    * cells FULL-OUTER the broadcast baseline histogram (a config-sized
    * artifact from one batch pass), per-bin (p−q)·ln(p/q) terms
    * DECIMAL(20,9)-quantized pre-sum, bins empty on either side
    * excluded and counted (the q143 contract — a brand-new occupied
    * bin IS drift), psi rounds at 1e-6.
    */
  def streamPsiHourly(spark: SparkSession, eventsPath: String,
                      binWidth: Double = 20.0,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val cells = winStart(runToMemory(
      readStream(spark, eventsPath, maxFilesPerTrigger)
        .groupBy(window(col("ts"), "1 hour").as("win"),
          floor(col("value") / binWidth).cast("long").as("bin"))
        .agg(count(lit(1)).as("n")),
      "complete", "graft_psi_"))
    // per-emission transform: PSI of each hour vs the corpus baseline
    val baseline = readBatch(spark, eventsPath)
      .groupBy(floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("bn"))
    val bTot = baseline.agg(sum("bn").as("btot"))
    val hourTot = cells.groupBy("hour_start").agg(sum("n").as("tot"))
    val grid = cells.select("hour_start").distinct()
      .crossJoin(broadcast(baseline))
    val full = grid.join(cells, Seq("hour_start", "bin"), "full")
    val p = col("n").cast("double") / col("tot").cast("double")
    val q = col("bn").cast("double") / col("btot").cast("double")
    full
      .join(hourTot, Seq("hour_start"))
      .crossJoin(broadcast(bTot))
      .withColumn("_term",
        when(col("n") > 0 && col("bn") > 0, ((p - q) * log(p / q)).cast("decimal(20,9)")))
      .groupBy("hour_start")
      .agg(round(sum(col("_term")).cast("double"), 6).as("psi"),
           count(col("_term")).as("n_bins_used"),
           count(when(col("_term").isNull, 1)).as("n_bins_dropped"),
           max(col("tot")).as("n_events"))
  }

  /** The stream-state fold (the q217 foreachBatch contract): each
    * micro-batch of the projected event stream is built ONCE into a
    * state and folded into the standing one,
    * `state = merge(state, build(batch))`; history is never rescanned.
    * With no micro-batch at all, the state of an empty batch.
    *
    * Per batch the new state is `localCheckpoint`ed: materialized and
    * lineage-cut, so batch k's merge reads (state_{k−1}, batch_k)
    * only — without the cut, batch k would re-execute every prior
    * merge and the incremental pipeline silently degrades to
    * quadratic recomputation.
    */
  private def foldState(spark: SparkSession, eventsPath: String, cols: Seq[String],
                        maxFilesPerTrigger: Option[Int])(build: DataFrame => DataFrame)(
                         merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    @volatile var state: Option[DataFrame] = None
    Drain.foreachBatch(
        readStream(spark, eventsPath, maxFilesPerTrigger).select(cols.map(col): _*)) {
      (batch, _) =>
        val bs = build(batch)
        state = Some(state.map(merge(_, bs)).getOrElse(bs).localCheckpoint())
    }
    state.getOrElse(build(readBatch(spark, eventsPath).limit(0).select(cols.map(col): _*)))
  }

  /** Streaming incremental aggregate-state maintenance — the streaming
    * half of the mergeable-state family (Upsert.aggState /
    * mergeAggStates), run through [[foldState]]. This is the
    * medallion-silver incremental rollup pattern — the state table is
    * |keys|-sized however much history the stream has absorbed, and
    * because every component is commutative/associative the result is
    * bit-identical to a from-scratch aggregation of everything ever
    * seen (exactly what the oracle checks; the multi-batch spec checks
    * it across real micro-batch boundaries).
    */
  def streamAggState(spark: SparkSession, eventsPath: String,
                     keys: Seq[String] = Seq("event_type"),
                     valueCol: String = "value",
                     maxFilesPerTrigger: Option[Int] = None): DataFrame =
    foldState(spark, eventsPath, keys :+ valueCol, maxFilesPerTrigger)(
      graft.operators.Upsert.aggState(_, keys, valueCol))(
      (s, b) => graft.operators.Upsert.mergeAggStates(Seq(s, b), keys))

  /** Streaming KMV bottom-k distinct sketch (SURVEY §2 #61f): each
    * micro-batch builds its own KMV state and folds it into the
    * standing state via [[graft.functions.Sketches.mergeKmvStates]]
    * ([[foldState]]) — the standing state is ≤k hashes per key however
    * long the stream runs (never keyed by value), and because bottom-k
    * over a set is ORDER-INVARIANT the final state is bit-identical to
    * a from-scratch batch build (the oracle computes directly over
    * everything ingested — equality across arbitrary micro-batch
    * boundaries IS the split-invariance proof). Completes the streaming
    * sketch family: CMS = frequency, HLL = distinct, dyadic bins =
    * quantiles, KMV = distinct WITH set-operation support downstream.
    */
  def streamKmv(spark: SparkSession, eventsPath: String,
                keys: Seq[String] = Seq("event_type"),
                valueCol: String = "user_id", k: Int = 64,
                maxFilesPerTrigger: Option[Int] = None): DataFrame =
    foldState(spark, eventsPath, keys :+ valueCol, maxFilesPerTrigger)(
      graft.functions.Sketches.kmvState(_, keys, valueCol, k))(
      (s, b) => graft.functions.Sketches.mergeKmvStates(Seq(s, b), keys, k))

  /** Production sink: append-mode parquet with a checkpoint. State
    * stays bounded by the plan's watermark; output is distributed
    * (never driver-materialized). Caller owns the query lifecycle.
    */
  def runToFiles(agg: DataFrame, outPath: String, checkpointPath: String): StreamingQuery =
    filesWriter(agg, outPath).option("checkpointLocation", checkpointPath).start()

  private def filesWriter(agg: DataFrame, outPath: String): DataStreamWriter[Row] =
    agg.writeStream.outputMode(OutputMode.Append).format("parquet").option("path", outPath)

  /** Per-window event count and exact (decimal) value sum per event_type. */
  private def byType(win: Column)(stream: DataFrame): DataFrame =
    stream.groupBy(win.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,4)")).as("sum_value_d"))

  /** The decimal sum reported as the double `sum_value`, in place. */
  private def sumValue(df: DataFrame): DataFrame =
    df.withColumn("sum_value_d", col("sum_value_d").cast("double"))
      .withColumnRenamed("sum_value_d", "sum_value")

  /** #27 plan: tumbling 1-hour windowed counts/sums per event_type,
    * grouped by the window column `win`. With a watermark the
    * aggregation emits finalized windows in append mode and its state
    * is bounded by the lateness horizon; without one (test/oracle path)
    * it runs complete mode so every window is emitted for the batch-SQL
    * compare.
    */
  def hourlyByTypeStream(spark: SparkSession, eventsPath: String,
                         watermark: Option[String] = None,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame =
    byType(window(col("ts"), "1 hour"))(
      eventStream(spark, eventsPath, watermark, maxFilesPerTrigger))

  /** #27 test harness: [[hourlyByTypeStream]]'s plan to a memory sink. */
  def hourlyByType(spark: SparkSession, eventsPath: String,
                   watermark: Option[String] = None): DataFrame =
    sumValue(runWindowed(spark, eventsPath, watermark, None, "graft_hourly_")(
      byType(window(col("ts"), "1 hour"))))

  /** #27 production harness: watermarked append into parquet files.
    * Only windows sealed by the watermark are written — the correct
    * production semantics (finalized results, bounded state).
    */
  def hourlyByTypeToFiles(spark: SparkSession, eventsPath: String,
                          outPath: String, checkpointPath: String,
                          watermark: String = "2 hours",
                          maxFilesPerTrigger: Option[Int] = None): Unit = {
    val agg = hourlyByTypeStream(spark, eventsPath, Some(watermark), maxFilesPerTrigger)
    Drain(filesWriter(sumValue(winStart(agg)), outPath), Some(checkpointPath))
  }

  /** #27b sliding (hopping) windows: 1-hour windows advancing every 15
    * minutes — each event contributes to window/slide = 4 overlapping
    * windows (trend smoothing / rate monitoring, where tumbling edges
    * hide bursts). Spark expands the covering window set MAP-SIDE and
    * runs the same partial-agg shuffle as tumbling; with a watermark,
    * per-window state stays bounded by the lateness horizon (just 4×
    * the window count of tumbling, never event-scaled). Memory-sink
    * harness, unwrapped to (window_start, event_type, n_events,
    * sum_value).
    */
  def slidingByType(spark: SparkSession, eventsPath: String,
                    watermark: Option[String] = None): DataFrame =
    sumValue(runWindowed(spark, eventsPath, watermark, None, "graft_sliding_", "window_start")(
      byType(window(col("ts"), "1 hour", "15 minutes"))))

  /** #29-streaming: exact dedup as a STREAM, state bounded by the
    * watermark: `dropDuplicatesWithinWatermark` keyed on (user_id, ts)
    * keeps a key's state only until the watermark passes it, so dedup
    * state is bounded by the lateness horizon instead of growing
    * forever — the production form. The test path doubles the input
    * (self-union: every row arrives twice, within the horizon by
    * construction) and must emit the exact distinct set.
    */
  def streamDedup(spark: SparkSession, eventsPath: String,
                  watermark: String = "1 hour"): DataFrame = {
    val s = readStream(spark, eventsPath).withWatermark("ts", watermark)
    val doubled = s.unionByName(s)
    val dd = doubled.dropDuplicatesWithinWatermark("user_id", "ts")
    runToMemory(dd, "append", "graft_dedup_")
      .select("user_id", "ts", "event_type", "value")
  }

  /** #28d stream-stream inner join: each click paired with the same
    * user's purchases in [click_ts, click_ts + `within`]. Both sides
    * carry watermarks and the join condition time-bounds both
    * directions, so Spark's state store retains each side only for the
    * watermark + band horizon — bounded state, the production
    * stream-stream join shape. Emits in append mode once the watermark
    * seals a pair's eligibility window.
    */
  def streamClickPurchaseJoin(spark: SparkSession, eventsPath: String,
                              within: String = "30 minutes",
                              watermark: String = "1 hour",
                              how: String = "inner",
                              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(how == "inner" || how == "leftOuter",
      s"stream-stream join supports inner/leftOuter here, got $how")
    val clicks = readStream(spark, eventsPath, maxFilesPerTrigger)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", watermark)
    val buys = readStream(spark, eventsPath, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"),
        col("value").as("buy_value"))
      .withWatermark("buy_ts", watermark)
    // leftOuter is the semantically loaded variant: an unmatched click
    // emits its null-padded row only when the watermark CLOSES its
    // match window (before that, a matching purchase could still
    // arrive) — exactly the abandoned-cart shape, and the reason outer
    // stream joins require both the watermark and a two-sided time
    // bound on the condition.
    val joined = clicks.join(buys,
      col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr(s"INTERVAL $within"),
      how)
      .select(col("c_user").as("user_id"), col("click_ts"), col("click_value"),
        col("buy_ts"), col("buy_value"))
    runToMemory(joined, "append", "graft_ssjoin_", noDataBatches = how != "inner")
  }

  /** #28e stream-static enrich plan: the live stream joined to a
    * precomputed per-user profile (historical mean value — the
    * lookup/feature-table shape every production stream carries), each
    * event flagged against 2× its user's mean, then a daily windowed
    * anomaly count per event type.
    *
    * The static side is explicitly `broadcast()`: a stream-static join
    * re-evaluates the static plan EVERY micro-batch, so the broadcast
    * hash join keeps per-batch cost constant and the stream side
    * shuffle-free — no join state store at all (only the downstream
    * agg holds state; an unbroadcast static side would re-shuffle both
    * sides each batch). The mean is decimal-sum / count in double —
    * the engine-exact form, so the `> 2×mean` boundary decision is
    * bit-identical in the oracle.
    */
  def streamEnrichPlan(spark: SparkSession, eventsPath: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val hist = readBatch(spark, eventsPath)
      .groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,4)")).cast("double") / count(lit(1)))
        .as("avg_value"))
    readStream(spark, eventsPath, maxFilesPerTrigger)
      .join(broadcast(hist), Seq("user_id"))
      .withColumn("anomalous", col("value") > col("avg_value") * 2)
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("anomalous"), 1L).otherwise(0L)).as("n_anomalous"))
  }

  /** #28e test harness: run [[streamEnrichPlan]] to a memory sink. */
  def streamEnrichAnomalies(spark: SparkSession, eventsPath: String): DataFrame =
    winStart(runToMemory(streamEnrichPlan(spark, eventsPath), "complete", "graft_enrich_"),
      "day_start")

  /** #27c streaming trending: hourly counts maintained INCREMENTALLY
    * by the stream ([[hourlyByTypeStream]] — the partial-agg state the
    * engine keeps per window), ranked top-`topN` per hour on each
    * emission. Ranking is a window function, which Structured
    * Streaming cannot run inside the stream — so it runs as the
    * per-emission transform (the `foreachBatch` pattern: the stream
    * maintains the aggregate, the sink-side batch ranks it; here the
    * memory-sink table IS that emission). Ties break by event type.
    */
  def trendingByHour(spark: SparkSession, eventsPath: String, topN: Int = 3): DataFrame = {
    winStart(runToMemory(hourlyByTypeStream(spark, eventsPath), "complete", "graft_trend_"))
      .select(col("hour_start"), col("event_type"), col("n_events"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("hour_start")
          .orderBy(col("n_events").desc, col("event_type"))))
      .filter(col("rnk") <= topN)
  }

  /** `ts` duplicates `tus` as a Timestamp only because the watermarked
    * event-time COLUMN must be present in the flatMapGroupsWithState
    * input for event-time timeouts (Spark's UnsupportedOperationChecker
    * rejects the plan if it is projected away).
    */
  case class UserEvent(user_id: Long, tus: Long, ts: java.sql.Timestamp)
  /** A session version, identified by its CONTENT-ADDRESSED anchor: the
    * first event time that OPENED it. The anchor is immutable for the
    * session's lifetime (late in-watermark events can move `start_us`
    * backwards via the min-merge, never the anchor), so every emitted
    * version of one session carries the same (user_id, anchor_us) key —
    * the key a downstream upsert/MERGE deduplicates on.
    */
  case class Session(user_id: Long, anchor_us: Long, n_events: Long,
                     start_us: Long, end_us: Long)
  /** Cross-batch sessionization state: just the open session, if any.
    * No closed-session counter and no tombstones — identity is the
    * anchor, not an ordinal, so state for a quiet user can be REMOVED
    * outright on timeout: a returning user's new session anchors at an
    * event time strictly past the old end + gap (the watermark sealed
    * it) and can never collide with an evicted session's key.
    */
  case class OpenSession(anchor_us: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Pure sessionization of one user's event times: sort, split on
    * gaps > gapUs; each session is anchored at its first event time.
    */
  private[streaming] def splitSessions(uid: Long, times: Array[Long], gapUs: Long): Seq[Session] = {
    if (times.isEmpty) return Nil
    val sorted = times.sorted
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var start = sorted(0); var prev = sorted(0); var n = 1L
    for (t <- sorted.iterator.drop(1)) {
      if (t - prev > gapUs) {
        out += Session(uid, start, n, start, prev)
        start = t; n = 0L
      }
      n += 1; prev = t
    }
    out += Session(uid, start, n, start, prev)
    out.toSeq
  }

  /** One micro-batch of one user's (sorted) event times folded into the
    * carried state: returns the updated open session plus every session
    * whose version changed this batch (closed sessions final, the open
    * session's latest version). Pure — unit-testable without a stream.
    */
  private[streaming] def advanceSessions(uid: Long, st: Option[OpenSession], times: Array[Long],
                                         gapUs: Long): (Option[OpenSession], Seq[Session]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var open = st
    for (t <- times.sorted) {
      open match {
        case Some(o) if t - o.end_us > gapUs =>
          out += Session(uid, o.anchor_us, o.n_events, o.start_us, o.end_us)
          open = Some(OpenSession(t, t, t, 1))
        case Some(o) =>
          open = Some(OpenSession(o.anchor_us,
            math.min(o.start_us, t), math.max(o.end_us, t), o.n_events + 1))
        case None =>
          open = Some(OpenSession(t, t, t, 1))
      }
    }
    open.foreach(o => out += Session(uid, o.anchor_us, o.n_events, o.start_us, o.end_us))
    (open, out.toSeq)
  }

  /** #28: per-user session assembly with custom state
    * (`flatMapGroupsWithState`). Sessions close after `gap` of
    * inactivity.
    *
    * State is REAL, incremental, and EVICTABLE: the open session is
    * carried in `GroupState` across micro-batches (a session spanning
    * batches is extended, not renumbered), with an event-time timeout
    * at open.end + gap. When the watermark passes that point the
    * state is REMOVED outright — session identity is the
    * content-addressed anchor (first event time), not an ordinal, so a
    * user who returns after eviction opens a session with a strictly
    * later anchor and no key collision is possible. State is therefore
    * bounded by the set of users ACTIVE inside the watermark horizon,
    * not by every user ever seen (the tombstone-per-user alternative is
    * monotone state growth on a year-long stream). Update-mode emission
    * re-emits the open session's latest version each batch; the
    * memory-table upsert on (user_id, anchor_us) is what a production
    * KV/Delta sink's MERGE would do.
    *
    * Cross-batch ordering contract: a user's events must not arrive in
    * an earlier batch than events that precede them by more than the
    * watermark delay — the standard event-time contract; the
    * multi-batch test feeds time-split files.
    */
  def sessionizeStream(spark: SparkSession, eventsPath: String,
                       gapUs: Long = 30L * 60 * 1000 * 1000,
                       maxFilesPerTrigger: Option[Int] = None,
                       watermark: String = "10 minutes"): Dataset[Session] = {
    import spark.implicits._
    val ev: Dataset[UserEvent] = readStream(spark, eventsPath, maxFilesPerTrigger)
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("ts"))
      .as[UserEvent]
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, events: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // The open session was already emitted in its final version
            // on the batch that last touched it, and its identity is the
            // anchor — removal is safe, nothing to emit.
            state.remove()
            Iterator.empty
          } else {
            val (next, out) = advanceSessions(uid, state.getOption, events.map(_.tus).toArray, gapUs)
            next match {
              case Some(o) =>
                state.update(o)
                // timeout must sit above the current watermark or Spark
                // rejects it (an old user's end+gap can trail the stream)
                state.setTimeoutTimestamp(
                  math.max(o.end_us / 1000 + gapUs / 1000, state.getCurrentWatermarkMs() + 1))
              case None => if (state.exists) state.remove()
            }
            out.iterator
          }
      }
  }

  case class CusumEvent(event_id: Long, key: String, tus: Long, value: Double)
  case class CusumState(cum: Long, runMin: Long, runMax: Long)
  case class CusumOut(event_id: Long, event_type: String, tus: Long,
                      cusum_hi: Long, cusum_lo: Long, is_shift: Boolean)

  /** Streaming CUSUM change-point monitor — the online form of
    * Rolling.cusum: per key, the running (cum, prefix-min, prefix-max)
    * triple lives in GroupState (three longs per key, O(|keys|) state
    * FOREVER — no growth with stream length), each event emits its
    * two-sided score exactly once in the batch that carries it.
    * Within a batch the group's events process in (time, id) order;
    * ACROSS batches the operator trusts arrival order (the append-log
    * contract: a source replaying history out of order would corrupt
    * any sequential detector). Exact integer micro-unit arithmetic —
    * identical to the batch closed form, so the q176 SQL is the oracle
    * for the full stream.
    */
  def streamCusum(spark: SparkSession, eventsPath: String,
                  target: Double = 50.0, h: Double = 2000.0,
                  unitScale: Long = 1000000L,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    require(h > 0, s"h must be positive, got $h")
    val tq = math.floor(target * unitScale + 0.5).toLong
    val hq = math.floor(h * unitScale + 0.5).toLong
    val ev = readStream(spark, eventsPath, maxFilesPerTrigger)
      .select(col("event_id"), col("event_type").as("key"),
        unix_micros(col("ts")).as("tus"), col("value"))
      .as[CusumEvent]
    val scored = ev.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, events: Iterator[CusumEvent], state: GroupState[CusumState]) =>
          val st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
          var cum = st.cum; var runMin = st.runMin; var runMax = st.runMax
          val out = events.toArray.sortBy(e => (e.tus, e.event_id)).map { e =>
            val vq = math.floor(e.value * unitScale + 0.5).toLong
            cum += vq - tq
            runMin = math.min(runMin, cum)
            runMax = math.max(runMax, cum)
            val hi = cum - runMin
            val lo = runMax - cum
            CusumOut(e.event_id, key, e.tus, hi, lo, hi > hq || lo > hq)
          }
          state.update(CusumState(cum, runMin, runMax))
          out.iterator
      }
    runToMemory(scored.toDF(), "update", "graft_cusum_")
  }

  /** #28 test/oracle harness over [[sessionizeStream]]: memory-sink
    * upsert keyed on the content address, then per-user ordinal ids
    * (row_number by session start) projected for the batch-SQL oracle —
    * a presentation concern computed over the (small) session RESULT,
    * never carried in state. Production consumers key on
    * (user_id, session_start) directly.
    */
  def sessionize(spark: SparkSession, eventsPath: String,
                 gapUs: Long = 30L * 60 * 1000 * 1000,
                 maxFilesPerTrigger: Option[Int] = None,
                 watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sessions = sessionizeStream(spark, eventsPath, gapUs, maxFilesPerTrigger, watermark)
    runToMemory(sessions.toDF(), "update", "graft_sessions_")
      // upsert: keep each session's latest emitted version
      .groupBy("user_id", "anchor_us")
      .agg(max("n_events").as("n_events"),
           min("start_us").as("start_us"),
           max("end_us").as("end_us"))
      .withColumn("session_id",
        row_number().over(Window.partitionBy("user_id").orderBy("start_us")))
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"))
  }

  /** Exactly-once streaming sink into a [[graft.sources.TxTable]]:
    * each micro-batch commits through `commitIdempotent(appId,
    * batchId)`, so a batch RE-DELIVERED after a crash — including the
    * worst case simulated here, the checkpoint lost entirely and the
    * whole stream replayed from scratch (`runs` > 1 with a fresh
    * checkpoint per run) — lands in the table exactly once. This is
    * the Delta `txnAppId`/`txnVersion` pattern end to end: the sink's
    * dedup ledger IS the table's manifest log, no side state.
    *
    * Contract (same as Delta's): idempotence assumes the SOURCE
    * replays batch N with the same content — true for file sources
    * over immutable input (deterministic listing order) and for any
    * checkpointed replay; a non-deterministic source needs the
    * checkpoint retained. Returns the final table frame.
    *
    * Scale shape: the data plane is one distributed parquet write per
    * batch (commitIdempotent's replay scan reads live MANIFESTS only,
    * bounded by retention — no data IO, no listing).
    */
  def streamIntoTx(spark: SparkSession, eventsPath: String, table: String,
                   appId: String, runs: Int = 2,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    for (_ <- 0 until runs) {
      val src = readStream(spark, eventsPath, maxFilesPerTrigger)
        .select(col("event_id"), col("user_id"), col("value"))
      // a FRESH throwaway checkpoint per run models the crash that lost
      // it: the engine restarts batch numbering and re-delivers everything
      Drain.foreachBatch(src) { (batch, batchId) =>
        // no-data micro-batches (watermark bookkeeping) must not
        // burn a version — the standard Delta-sink foreachBatch guard
        if (!batch.isEmpty) {
          graft.sources.TxTable.commitIdempotent(batch, table, appId, batchId)
        }
        ()
      }
    }
    graft.sources.TxTable.read(spark, table)
  }
}
