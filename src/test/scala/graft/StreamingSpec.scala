package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming surface (SURVEY.md §2 #27-28): pure sessionization logic
  * unit-tested exhaustively; the full streaming pipelines run against the
  * sf0.001 events table and are cross-checked with the equivalent batch
  * aggregation (the same oracle shape the driver uses).
  */
class StreamingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val MIN30 = 30L * 60 * 1000 * 1000

  test("splitSessions: empty, single, gap-split, and content-addressed anchors") {
    Events.splitSessions(1L, Array.empty, MIN30) shouldBe Nil

    val one = Events.splitSessions(1L, Array(100L), MIN30)
    one.map(s => (s.anchor_us, s.n_events, s.start_us, s.end_us)) shouldBe Seq((100L, 1L, 100L, 100L))

    // two events exactly at the gap stay together; one past it splits
    val atGap = Events.splitSessions(1L, Array(0L, MIN30), MIN30)
    atGap.size shouldBe 1
    val past = Events.splitSessions(1L, Array(0L, MIN30 + 1), MIN30)
    past.size shouldBe 2
    past.map(_.anchor_us) shouldBe Seq(0L, MIN30 + 1)

    // unsorted input is sorted before splitting
    val unsorted = Events.splitSessions(7L, Array(MIN30 * 4, 0L, 10L), MIN30)
    unsorted.map(s => (s.anchor_us, s.n_events)) shouldBe Seq((0L, 2L), (MIN30 * 4, 1L))
    unsorted.head.start_us shouldBe 0L
  }

  test("streaming hourly window agg equals the batch aggregation") {
    val streamed = Events.hourlyByType(spark, s"$sfDir/events.parquet")
    val batch = Events.readBatch(spark, s"$sfDir/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    canon(streamed) shouldBe canon(batch)
  }

  test("sliding windows cover every event exactly window/slide times") {
    val out = Events.slidingByType(spark, s"$sfDir/events.parquet")
    val nEvents = Events.readBatch(spark, s"$sfDir/events.parquet").count()
    // 1h windows on a 15min slide: each event in exactly 4 windows
    out.agg(sum("n_events")).head().getLong(0) shouldBe nEvents * 4
    // window starts sit on the slide grid, 4 windows apart at most
    val starts = out.select(unix_micros(col("window_start"))).collect().map(_.getLong(0))
    all(starts.map(_ % (15L * 60 * 1000000))) shouldBe 0L
  }

  test("streaming dedup collapses a doubled stream to the distinct set") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.streaming.Events.streamDedup(spark, s"$dir/events.parquet")
    val batch = graft.streaming.Events.readBatch(spark, s"$dir/events.parquet")
    out.count() shouldBe batch.count()
    out.select("user_id", "ts").distinct().count() shouldBe batch.count()
  }

  private def batchSessions(path: String) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("tus")
    Events.readBatch(spark, path)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("new_s",
        when(lag("tus", 1).over(w).isNull || col("tus") - lag("tus", 1).over(w) > MIN30, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_s").over(w.rowsBetween(Long.MinValue, 0)).cast("int"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           timestamp_micros(min("tus")).as("session_start"),
           timestamp_micros(max("tus")).as("session_end"))
  }

  test("streaming sessionization matches the batch lag/cumsum computation") {
    val streamed = Events.sessionize(spark, s"$sfDir/events.parquet")
    canon(streamed) shouldBe canon(batchSessions(s"$sfDir/events.parquet"))
  }

  test("advanceSessions carries an open session across batches, anchored at its first event") {
    import Events.{advanceSessions, OpenSession}
    val gap = 100L
    // batch 1: two events 50 apart → one open session, emitted once
    val (s1, out1) = advanceSessions(7L, None, Array(1000L, 1050L), gap)
    s1 shouldBe Some(OpenSession(1000L, 1000L, 1050L, 2))
    out1.map(s => (s.anchor_us, s.n_events, s.start_us, s.end_us)) shouldBe
      Seq((1000L, 2L, 1000L, 1050L))
    // batch 2: one event within gap EXTENDS the session (same anchor —
    // the upsert key never changes), then a far event closes it and
    // opens a new session anchored at its own first event
    val (s2, out2) = advanceSessions(7L, s1, Array(1100L, 5000L), gap)
    s2 shouldBe Some(OpenSession(5000L, 5000L, 5000L, 1))
    out2.map(s => (s.anchor_us, s.n_events, s.start_us, s.end_us)) shouldBe
      Seq((1000L, 3L, 1000L, 1100L), (5000L, 1L, 5000L, 5000L))
    // after state EVICTION (None carried in) a returning user opens a
    // fresh, strictly later anchor — nothing to collide with
    val (s3, out3) = advanceSessions(7L, None, Array(9000L), gap)
    s3 shouldBe Some(OpenSession(9000L, 9000L, 9000L, 1))
    out3.map(_.anchor_us) shouldBe Seq(9000L)
    // a late in-watermark event can move start_us backwards, never the anchor
    val (s4, _) = advanceSessions(7L, s3, Array(8950L), gap)
    s4 shouldBe Some(OpenSession(9000L, 8950L, 9000L, 2))
  }

  /** Split the events parquet into `n` time-ordered files in a fresh
    * dir, mtimes increasing, so maxFilesPerTrigger=1 yields one
    * micro-batch per time range. Encoding-agnostic: quantile cuts and
    * range filters run on a derived epoch-µs long whether `ts` arrives
    * as a legacy raw ns int64 or as timestamp[us] (TIMESTAMP_NTZ); the
    * split files are written in the SOURCE encoding so the stream under
    * test reads exactly what production would.
    */
  private def timeSplitDir(src: String, n: Int): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev0 = spark.read.parquet(src) // ts stays in its source encoding
    val tnum = ev0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val ev = ev0.withColumn("__tnum", tnum)
    val cuts = ev.stat.approxQuantile("__tnum", (1 until n).map(_.toDouble / n).toArray, 0.001)
    val bounds = (Array(Long.MinValue) ++ cuts.map(_.toLong) :+ Long.MaxValue).sliding(2).toSeq
    val dir = Files.createTempDirectory("graft_multibatch_")
    bounds.zipWithIndex.foreach { case (Array(lo, hi), i) =>
      val stage = dir.resolve(s"stage$i")
      ev.filter(col("__tnum") > lo && col("__tnum") <= hi).drop("__tnum")
        .coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      val target = dir.resolve(f"f$i%02d.parquet")
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target, FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 10000))
    }
    dir.toString
  }

  test("sessionization is exact across multiple micro-batches (state carried, not renumbered)") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.sessionize(spark, dir, maxFilesPerTrigger = Some(1))
    canon(streamed) shouldBe canon(batchSessions(dir))
  }

  test("streamAggState folds micro-batch states to the exact from-scratch aggregate") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamAggState(spark, dir, maxFilesPerTrigger = Some(1))
      .select(col("event_type"), col("n"),
        (col("sum_q").cast("double") / 1e6).as("sum_v"), col("min_v"), col("max_v"))
    val batch = Events.readBatch(spark, dir)
      .groupBy("event_type")
      .agg(count(col("value")).as("n"),
        (sum(floor(col("value") * 1e6 + lit(0.5)).cast("long")).cast("double") / 1e6).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    canon(streamed) shouldBe canon(batch)
  }

  test("streaming CUSUM carries (cum, min, max) state exactly across micro-batches") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamCusum(spark, dir, maxFilesPerTrigger = Some(1))
      .select("event_id", "event_type", "tus", "cusum_hi", "cusum_lo", "is_shift")
    val batch = {
      val ev = Events.readBatch(spark, dir)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("value"))
      graft.operators.Rolling.cusum(ev, "event_type", "tus", "value",
        target = 50.0, h = 2000.0, tieCols = Seq("event_id"))
        .select("event_id", "event_type", "tus", "cusum_hi", "cusum_lo", "is_shift")
    }
    canon(streamed) shouldBe canon(batch)
  }

  /** Three micro-batches (ns-long ts, one file each, mtimes ascending;
    * times start at 1h — an epoch-0 event would be dropped by the
    * initial watermark's <= 0 late-data predicate):
    *  f0: user 1 @ [1h, 1h+5min]    → session opens (anchor 1h)
    *  f1: user 2 @ 4h               → watermark ≈ 4h-10min ≫ session
    *                                   end + 30min gap → user 1's state
    *                                   TIMES OUT and is REMOVED
    *  f2: user 1 returns @ 5h       → fresh session, anchor 5h — the
    *                                   content-addressed key can never
    *                                   collide with the evicted one
    */
  private def timeoutDir(extra: Seq[Seq[(Long, Long)]] = Nil): String = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val HOUR = 3600L * 1000 * 1000
    val batches = Seq(
      Seq((1L, 1L * HOUR), (1L, 1L * HOUR + 5L * 60 * 1000 * 1000)),
      Seq((2L, 4L * HOUR)),
      Seq((1L, 5L * HOUR), (2L, 5L * HOUR + 1))) ++ extra
    val dir = Files.createTempDirectory("graft_timeout_")
    batches.zipWithIndex.foreach { case (evs, i) =>
      val stage = dir.resolve(s"stage$i")
      evs.map { case (u, us) => (u, us * 1000, "click", 1.0) }
        .toDF("user_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      val target = dir.resolve(f"f$i%02d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 10000))
    }
    dir.toString
  }

  test("sessionize survives a state timeout: a returning user gets a new session, never a collision") {
    val HOUR = 3600L * 1000 * 1000
    val got = Events.sessionize(spark, timeoutDir(), maxFilesPerTrigger = Some(1))
      .filter(col("user_id") === 1L)
      .select(col("session_id"), col("n_events"), unix_micros(col("session_start")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    got shouldBe Seq((1, 2L, 1L * HOUR), (2, 1L, 5L * HOUR))
  }

  test("sessionize state is EVICTED on timeout: rows removed from the store, none corrupted") {
    val HOUR = 3600L * 1000 * 1000
    // Two trailing batches from OTHER users: a group with data in a
    // batch is advanced (never timed out), and the timeout check uses
    // the watermark sealed at the END of the PREVIOUS batch — so f3
    // (user 3 @ 9h) advances the watermark to ~8h50m and f4 (user 4 @
    // 20h) is the batch in which users 1 and 2 (open ends ≈ 5h,
    // timeouts ≈ 5h30m) actually hit the hasTimedOut branch.
    val extra = Seq(
      Seq((3L, 9L * HOUR)),
      Seq((4L, 20L * HOUR)))
    val stream = Events.sessionizeStream(spark, timeoutDir(extra), maxFilesPerTrigger = Some(1))
    val q = stream.toDF().writeStream.outputMode("update").format("memory")
      .queryName("graft_sess_evict").start()
    q.processAllAvailable()
    val progresses = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
    q.stop()
    // the tombstone design kept one row per ever-seen user forever —
    // numRowsRemoved stayed 0; true eviction must remove both users
    progresses.map(_.numRowsRemoved).sum should be >= 2L
    // and the upserted sessions are exactly the uncorrupted set
    val sess = spark.table("graft_sess_evict")
      .groupBy("user_id", "anchor_us")
      .agg(max("n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    sess shouldBe Set(
      (1L, 1L * HOUR, 2L),           // evicted...
      (1L, 5L * HOUR, 1L),           // ...returning user → fresh anchor
      (2L, 4L * HOUR, 1L),           // user 2's two events are > gap apart:
      (2L, 5L * HOUR + 1L, 1L),      // two single-event sessions
      (3L, 9L * HOUR, 1L),           // watermark-advancing tail batches
      (4L, 20L * HOUR, 1L))
  }

  test("stream dedup state is bounded by the watermark horizon, not the total key count") {
    // 8 time-ordered micro-batches over the full event range: with a
    // 1-hour watermark the store must EVICT keys as the watermark
    // passes them, so peak state stays a fraction of the distinct-key
    // total — the property that makes streaming dedup viable on an
    // unbounded stream (an unbounded store would OOM; this pins the
    // eviction behavior, not just result correctness).
    val dir = timeSplitDir(s"$sfDir/events.parquet", 8)
    val s = Events.readStream(spark, dir, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "ts")
    val q = s.writeStream.outputMode("append").format("memory")
      .queryName("graft_statebound").start()
    q.processAllAvailable()
    val peakState = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal).max
    q.stop()
    val totalKeys = spark.table("graft_statebound").count()
    peakState should be > 0L
    // cleanup lags one batch, so allow up to ~half; without eviction
    // peak state would equal totalKeys
    peakState should be < (totalKeys / 2)
  }

  test("left-outer stream join: null row only after the watermark seals a click's window") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val HOUR = 3600L * 1000 * 1000
    // The join watermark is the MIN across both inputs, so every
    // advance carries an event on EACH side:
    // f0: user 1 click (never matched), user 2 click + purchase (match)
    // f1: click + purchase @10h → end-of-batch join watermark 9h seals
    //     user 1's [1h, 1h30m] window
    // f2: click + purchase @20h → during THIS batch the 9h watermark
    //     evicts user 1 and emits its null-padded row; the trailing
    //     NO-DATA batch (production default, which the harness runs
    //     for outer joins — the watermark advance IS the emitter)
    //     carries the watermark to 19h, sealing the @10h click too;
    //     the @20h click's window (20h30m) is never sealed, so its
    //     null row must NOT appear — that asymmetry IS the outer-join
    //     watermark semantics
    val batches = Seq(
      Seq((1L, 1L * HOUR, "click", 1.0), (2L, 1L * HOUR, "click", 2.0),
        (2L, 1L * HOUR + 10L * 60 * 1000 * 1000, "purchase", 20.0)),
      Seq((3L, 10L * HOUR, "click", 3.0), (9L, 10L * HOUR, "purchase", 90.0)),
      Seq((4L, 20L * HOUR, "click", 4.0), (8L, 20L * HOUR, "purchase", 80.0)))
    val dir = Files.createTempDirectory("graft_leftjoin_")
    batches.zipWithIndex.foreach { case (evs, i) =>
      val stage = dir.resolve(s"stage$i")
      evs.map { case (u, us, t, v) => (u, us * 1000, t, v) }
        .toDF("user_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      val target = dir.resolve(f"f$i%02d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 10000))
    }
    // one micro-batch per file, in mtime order
    val got = Events.streamClickPurchaseJoin(spark, dir.toString,
      how = "leftOuter", maxFilesPerTrigger = Some(1))
    val rows = got.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toSet
    rows should contain((2L, Some(20.0)))  // matched pair
    rows should contain((1L, None))        // sealed + evicted → null row
    rows should contain((3L, None))        // sealed by the final no-data batch
    (rows.map(_._1) should not).contain(4L) // unsealed at stream end
  }

  test("production hourly path: watermarked append to parquet emits only sealed, exact windows") {
    import java.nio.file.Files
    val dir = timeSplitDir(s"$sfDir/events.parquet", 2)
    val out = Files.createTempDirectory("graft_hourly_out_").toString
    val ckpt = Files.createTempDirectory("graft_hourly_ckpt_").toString
    Events.hourlyByTypeToFiles(spark, dir, out, ckpt,
      watermark = "1 hour", maxFilesPerTrigger = Some(1))
    val emitted = spark.read.parquet(out)
    emitted.count() should be > 0L
    // every sealed window the production sink wrote is bit-identical to
    // the batch aggregation over the full input
    val batch = Events.readBatch(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    val joined = emitted.alias("e").join(batch.alias("b"), Seq("hour_start", "event_type"), "left")
    joined.count() shouldBe emitted.count()
    joined.filter(col("e.n_events") =!= col("b.n_events") ||
                  col("e.sum_value") =!= col("b.sum_value")).count() shouldBe 0L
  }

  test("streaming CMS sketch across micro-batches equals the batch build cell-for-cell") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamCmsSketch(spark, dir, maxFilesPerTrigger = Some(1))
    val batch = graft.functions.Sketches.cmsBuild(
      Events.readBatch(spark, dir).select(col("user_id").cast("string").as("user_id")),
      "user_id")
    canon(streamed) shouldBe canon(batch)
  }

  test("streaming quantile state across micro-batches equals the batch build bin-for-bin") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamQuantileState(spark, dir, maxFilesPerTrigger = Some(1))
    val batch = graft.functions.Sketches.quantileState(
      Events.readBatch(spark, dir).select(col("event_type"), col("value")),
      Seq("event_type"), "value")
    canon(streamed) shouldBe canon(batch)
    // sketch-shaped state: bins, not values — bounded per key
    streamed.count() should be <= streamed.select("event_type").distinct().count() * 64 * 32 * 2
  }

  test("streaming HLL registers across micro-batches equal the batch registers") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamHllRegisters(spark, dir, maxFilesPerTrigger = Some(1))
    val batch = graft.functions.Sketches.hllRegisters(
      Events.readBatch(spark, dir).select(col("user_id").cast("string").as("user_id")),
      "user_id", 10)
    canon(streamed) shouldBe canon(batch)
    // fixed-size state: registers never exceed 2^p rows
    streamed.count() should be <= 1024L
  }

  test("per-hour streaming HLL equals batch registers; watermarked append emits only sealed windows") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamHllHourly(spark, dir, maxFilesPerTrigger = Some(1))
    val ev = Events.readBatch(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour_start"),
        col("user_id").cast("string").as("k"))
    val batch = graft.functions.Sketches.hllRegistersBy(ev, Seq("hour_start"), "k")
    canon(streamed) shouldBe canon(batch)

    val sealedRegs = Events.streamHllHourly(spark, dir,
      watermark = Some("1 hour"), maxFilesPerTrigger = Some(1))
    sealedRegs.count() should be > 0L
    // every sealed register row is exactly the batch value...
    val j = sealedRegs.alias("s").join(batch.alias("b"), Seq("hour_start", "bucket"), "left")
    j.filter(col("b.r").isNull || col("s.r") =!= col("b.r")).count() shouldBe 0L
    // ...and the unsealed tail inside the lateness horizon did NOT emit
    sealedRegs.select("hour_start").distinct().count() should be <
      batch.select("hour_start").distinct().count()
  }

  test("per-hour streaming CMS equals batch cells; watermarked append emits only sealed windows") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamCmsHourly(spark, dir, maxFilesPerTrigger = Some(1))
    val ev = Events.readBatch(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour_start"),
        col("user_id").cast("string").as("k"))
    val batch = ev.select(col("hour_start"), posexplode(array((0 until 4).map(j =>
        graft.functions.Sketches.cmsCell(col("k"), j, 1024)): _*)).as(Seq("j", "cell")))
      .groupBy("hour_start", "j", "cell").agg(count(lit(1)).as("cnt"))
    canon(streamed) shouldBe canon(batch)

    val sealedCells = Events.streamCmsHourly(spark, dir,
      watermark = Some("1 hour"), maxFilesPerTrigger = Some(1))
    sealedCells.count() should be > 0L
    // every sealed cell is exactly the batch count...
    val j = sealedCells.alias("s").join(batch.alias("b"), Seq("hour_start", "j", "cell"), "left")
    j.filter(col("b.cnt").isNull || col("s.cnt") =!= col("b.cnt")).count() shouldBe 0L
    // ...and the unsealed tail inside the lateness horizon did NOT emit
    sealedCells.select("hour_start").distinct().count() should be <
      batch.select("hour_start").distinct().count()
  }

  test("per-hour streaming quantile state equals batch bins; watermarked append emits only sealed windows") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    val streamed = Events.streamQuantileHourly(spark, dir, maxFilesPerTrigger = Some(1))
    val ev = Events.readBatch(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour_start"), col("value"))
    val batch = graft.functions.Sketches.quantileState(ev, Seq("hour_start"), "value")
    canon(streamed) shouldBe canon(batch)

    val sealedBins = Events.streamQuantileHourly(spark, dir,
      watermark = Some("1 hour"), maxFilesPerTrigger = Some(1))
    sealedBins.count() should be > 0L
    // every sealed bin row is exactly the batch value...
    val j = sealedBins.alias("s").join(batch.alias("b"), Seq("hour_start", "bin"), "left")
    j.filter(col("b.cnt").isNull || col("s.cnt") =!= col("b.cnt")).count() shouldBe 0L
    // ...and the unsealed tail inside the lateness horizon did NOT emit
    sealedBins.select("hour_start").distinct().count() should be <
      batch.select("hour_start").distinct().count()
  }

  test("per-hour streaming KMV: sealed windows bit-equal the batch build and the open tail stays unsealed") {
    val dir = timeSplitDir(s"$sfDir/events.parquet", 3)
    // oracle path (no lateness): every hour flushes, equals batch
    val all = Events.streamKmvHourly(spark, dir, maxFilesPerTrigger = Some(1))
    val ev = Events.readBatch(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour_start"), col("user_id"))
    val batch = graft.functions.Sketches.kmvState(ev, Seq("hour_start"), "user_id", 64)
    canon(all.drop("sealed")) shouldBe canon(batch)

    // sealing path: 1h lateness over 3 time-ordered batches
    val out = Events.streamKmvHourly(spark, dir,
      latenessUs = Some(3600000000L), maxFilesPerTrigger = Some(1))
    // every hour appears exactly once (sealed ∪ open tail, no dupes)
    out.groupBy("hour_start").count().filter(col("count") > 1).count() shouldBe 0L
    val sealedHours = out.filter(col("sealed")).select("hour_start")
    sealedHours.count() should be > 0L
    // sealed states are bit-identical to the batch build of that hour
    canon(out.filter(col("sealed")).drop("sealed")
      .join(sealedHours, Seq("hour_start"))) shouldBe
      canon(batch.join(sealedHours, Seq("hour_start")))
    // the newest hours (inside the lateness horizon) are the open tail
    val maxSealed = out.filter(col("sealed")).agg(max("hour_start")).head.getTimestamp(0)
    val maxOpen = out.filter(!col("sealed")).agg(max("hour_start")).head.getTimestamp(0)
    assert(maxOpen.after(maxSealed))
  }

  test("stream-static enrich: static side broadcast (no per-batch shuffle), counts exact") {
    // the un-started plan must carry the broadcast hint on the static side
    val plan = Events.streamEnrichPlan(spark, s"$sfDir/events.parquet")
      .queryExecution.analyzed.toString()
    plan.toLowerCase should include("broadcast")
    val out = Events.streamEnrichAnomalies(spark, s"$sfDir/events.parquet")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.length should be > 0
    // cross-check against the batch formulation
    val e = Events.readBatch(spark, s"$sfDir/events.parquet")
    val prof = e.groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,4)")).cast("double") / count(lit(1)))
        .as("avg_value"))
    val batch = e.join(prof, Seq("user_id"))
      .groupBy(date_trunc("day", col("ts")).as("day_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("value") > col("avg_value") * 2, 1L).otherwise(0L)).as("n_anomalous"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.sortBy(t => (t._1.getTime, t._2)) shouldBe batch.sortBy(t => (t._1.getTime, t._2))
  }

  test("tx-changes streaming source replays committed versions as micro-batches ≡ batch changes() (r8)") {
    import spark.implicits._
    import graft.sources.{TxChangesStream, TxTable}
    val table = java.nio.file.Files.createTempDirectory("graft_txcdc_spec_").toString + "/t"
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 2
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table, op = "overwrite") shouldBe 3
    val streamed = TxChangesStream.replayAll(spark, table)
      .select("id", "_change", "_version", "_commit_ms").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    val batch = TxTable.changes(spark, table, 0, 3)
      .select("id", "_change", "_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    streamed.map(t => (t._1, t._2, t._3)) shouldBe batch
    // commit times ride along and match the manifests exactly
    streamed.map(t => t._3 -> t._4).distinct.toMap shouldBe
      (1 to 3).map(v => v -> TxTable.commitMsOf(spark, table, v)).toMap
  }

  test("tx-changes source restart-resumes from its checkpoint: only versions committed after the stop replay (r8)") {
    import spark.implicits._
    import graft.sources.{TxChangesStream, TxTable}
    val table = java.nio.file.Files.createTempDirectory("graft_txcdc_spec2_").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_txcdc_ckpt_").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table) shouldBe 2
    // a recoverable sink (foreachBatch — memory sinks can't resume)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    def runOnce(): Unit = {
      val q = TxChangesStream.readChangesStream(spark, table)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("id", "_version").collect()
            .foreach(r => buf.add((r.getLong(0), r.getInt(1)))); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq.sorted shouldBe Seq((1L, 1), (2L, 2))
    // new commits land while the stream is down
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 3
    TxTable.commit(Seq((4L, "d")).toDF("id", "s"), table) shouldBe 4
    // restart against the SAME checkpoint: the stored version offset
    // resumes the replay at v3 — nothing from v1/v2 re-emits
    buf.clear()
    runOnce()
    buf.asScala.toSeq.sorted shouldBe Seq((3L, 3), (4L, 4))
  }

  test("streaming runners delete the throwaway checkpoints they create") {
    import spark.implicits._
    import graft.sources.{TxChangesStream, TxTable}
    def ckptDirs(): Set[String] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir")).flatMap { d =>
        Option(new java.io.File(d).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("graft_ckpt_")).map(_.getPath)
      }.toSet
    val dir = timeSplitDir(s"$sfDir/events.parquet", 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_leak_spec_").toString
    val table = s"$tmp/t"
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    val runs: Seq[(String, () => Any)] = Seq(
      "streamAggState" -> (() => Events.streamAggState(spark, dir, maxFilesPerTrigger = Some(1))),
      "streamKmv" -> (() => Events.streamKmv(spark, dir, maxFilesPerTrigger = Some(1))),
      "streamKmvHourly" -> (() => Events.streamKmvHourly(spark, dir,
        latenessUs = Some(3600000000L), maxFilesPerTrigger = Some(1))),
      "streamIntoTx" -> (() => Events.streamIntoTx(spark, dir, s"$tmp/sink", "spec", runs = 2)),
      "replayAll" -> (() => TxChangesStream.replayAll(spark, table)),
      "hourlyByType" -> (() => Events.hourlyByType(spark, dir)))
    runs.foreach { case (name, run) =>
      val before = ckptDirs()
      run()
      withClue(s"$name left a checkpoint behind: ") {
        (ckptDirs() -- before) shouldBe empty
      }
    }
  }
}
