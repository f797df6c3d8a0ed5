package graft

import org.apache.spark.sql.functions._

import graft.sources.TxTable

/** Round-10 lakehouse-substrate hardening: bloom probe/build parity,
  * value-set escaping, manifest delta-log, partitioned layout,
  * mirror marker widening.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_r10_spec_").toString + "/t"

  // --- ADVICE r9 (medium): deleteKeysMor's driver-side bloom probe
  // must render keys exactly as the executor-built blooms did (Spark's
  // cast-to-string). java.sql.Timestamp.toString gives '... 00:00:00.0'
  // while Spark casts to '... 00:00:00' — with the old String.valueOf
  // probe, every candidate file was wrongly bloom-pruned and the
  // delete silently missed all rows.
  test("deleteKeysMor bloom probe uses Spark's string rendering (timestamp keys)") {
    val table = freshTable()
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L),
      (java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 3L)
    ).toDF("ts", "v")
    TxTable.commit(df, table, bloomCols = Seq("ts"))
    val keys = Seq(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")).toDF("ts")
    val (v2, nDel) = TxTable.deleteKeysMor(spark, table, "ts", keys)
    nDel shouldBe 1L
    TxTable.readVersion(spark, table, v2).collect().map(_.getLong(1)).sorted shouldBe
      Seq(1L, 3L)
  }

  // --- directive r9#3: the per-commit bloom index aggregates its
  // bitsets executor-side (collect_set per file) — the driver receives
  // one row per new file. Byte-identity vs an independent driver-side
  // recompute of every file's bloom from the raw data.
  test("executor-built bloom sidecar is byte-identical to a driver recompute") {
    val table = freshTable()
    val df = (1L to 400L).map(i => (i, s"k$i")).toDF("id", "k")
      .repartition(4, col("id"))
    TxTable.commit(df, table, bloomCols = Seq("k"))
    val entries = TxTable.bloomEntries(spark, table, 1)
    entries.size shouldBe TxTable.filesOf(spark, table, 1).size
    entries.foreach { case (fl, c, m, k, b64) =>
      c shouldBe "k"
      val expected = new Array[Byte](m / 8)
      spark.read.parquet(s"$table/$fl").select(col("k").cast("string"))
        .collect().map(_.getString(0)).foreach { v =>
          TxTable.bloomBitsOf(v, m, k).foreach { b =>
            expected(b >> 3) = (expected(b >> 3) | (1 << (b & 7))).toByte
          }
        }
      b64 shouldBe java.util.Base64.getEncoder.encodeToString(expected)
    }
  }

  // --- ADVICE r9 (low): a data value containing the U+001F join
  // separator, a ']', or a backslash must round-trip through the
  // manifest value-set encoding and still prune exactly.
  test("value-set entries round-trip separator, bracket, and backslash in values") {
    val table = freshTable()
    val nasty = Seq("ab", "c]d", "e\\f", "plain", "\\s", "\\q")
    val df = nasty.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "cat")
      .coalesce(1)
    TxTable.commit(df, table, setCols = Seq("cat"))
    val vsets = TxTable.valueSetsOf(spark, table, 1)
    vsets.size shouldBe 1
    vsets.head._3.sorted shouldBe nasty.sorted
    // exact pruning: present values keep the file, absent values prune
    nasty.foreach { v =>
      TxTable.keptFiles(spark, table, 1, col("cat") === v).size shouldBe 1
      TxTable.scan(spark, table, col("cat") === v).count() shouldBe 1L
    }
    TxTable.keptFiles(spark, table, 1, col("cat") === "a") shouldBe empty
    TxTable.keptFiles(spark, table, 1, col("cat") === "b") shouldBe empty
  }

  // --- directive r9#2: the mirror txn marker is a STRING carrying the
  // upstream version — collision-free at any version count. The r9
  // numeric encoding gave the version 20 bits; at v = 2^20 the version
  // bled into the batchId bits and colliding markers made exactly-once
  // gating skip un-applied work.
  test("mirror txn markers stay distinct and exactly-once past 2^20 versions") {
    val vBig = 1 << 20
    val markers = Seq(vBig - 1, vBig, vBig + 1).flatMap(v =>
      Seq(graft.sources.TxChangesStream.mirrorMarker("app", v, del = false),
        graft.sources.TxChangesStream.mirrorMarker("app", v, del = true)))
    markers.distinct.size shouldBe markers.size
    // exactly-once through commitIdempotent at the huge version
    val table = freshTable()
    val df = Seq((1L, "a")).toDF("id", "s")
    val m = graft.sources.TxChangesStream.mirrorMarker("app", vBig, del = false)
    TxTable.commitIdempotent(df, table, m, 0L)._2 shouldBe true
    TxTable.commitIdempotent(df, table, m, 0L)._2 shouldBe false // replay skips
    val m1 = graft.sources.TxChangesStream.mirrorMarker("app", vBig + 1, del = false)
    TxTable.commitIdempotent(df, table, m1, 0L)._2 shouldBe true // distinct version applies
    TxTable.read(spark, table).count() shouldBe 2L
  }

  // --- directive r9#6: consecutive delete-free versions coalesce into
  // ONE idempotent commit per micro-batch — a K-version insert-only
  // backfill lands as ceil(K/mx) mirror commits, not K — while the
  // mirror still equals the source and a re-run is a no-op.
  test("pipeToMirror coalesces insert-only version runs into one commit per batch") {
    val src = freshTable()
    val dst = freshTable()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r10_mir_ckpt_").toString
    val K = 6
    (1 to K).foreach(i =>
      TxTable.commit(Seq((i.toLong, s"a$i")).toDF("id", "s"), src))
    graft.sources.TxChangesStream.pipeToMirror(spark, src, dst, "id",
      "r10_runs", ckpt, maxVersionsPerTrigger = Some(2)) shouldBe K.toLong
    canon(TxTable.read(spark, dst)) shouldBe canon(TxTable.read(spark, src))
    TxTable.currentVersion(spark, dst) shouldBe 3 // ceil(6/2) commits, not 6
    // deletes still apply strictly ordered against the runs around them
    TxTable.deleteKeysMor(spark, src, "id", Seq(2L, 4L).toDF("id"))._2 shouldBe 2L
    TxTable.commit(Seq((7L, "a7")).toDF("id", "s"), src)
    graft.sources.TxChangesStream.pipeToMirror(spark, src, dst, "id",
      "r10_runs", ckpt)
    canon(TxTable.read(spark, dst)) shouldBe canon(TxTable.read(spark, src))
    // a re-run with nothing new is a full no-op
    graft.sources.TxChangesStream.pipeToMirror(spark, src, dst, "id",
      "r10_runs", ckpt) shouldBe 0L
    canon(TxTable.read(spark, dst)) shouldBe canon(TxTable.read(spark, src))
  }

  // --- directive r9#1: manifest delta-log + checkpointing. A commit
  // that carries its parent's files writes an O(delta) manifest; the
  // proof of independence is EQUALITY of the append-manifest bytes
  // across tables whose file counts differ 2x (plus a fixed absolute
  // bound) — the pre-delta design rendered the full file list, so
  // bytes grew linearly with the table.
  test("delta-log: a 1-file append's manifest bytes are independent of table file count") {
    def appendManifestBytes(nFiles: Int): Long = {
      val table = freshTable()
      val big = spark.range(1000L).toDF("id").withColumn("v", col("id") * 2)
        .repartition(nFiles)
      TxTable.commit(big, table, statsCols = Seq("id")) // v1 checkpoint
      TxTable.commit(spark.range(1L).toDF("id").withColumn("v", lit(0L)).coalesce(1),
        table, statsCols = Seq("id")) // v2 delta: ONE added file
      TxTable.filesOf(spark, table, 2).size shouldBe nFiles + 1
      new java.io.File(s"$table/_manifests/v2.json").length()
    }
    val m120 = appendManifestBytes(120)
    val m240 = appendManifestBytes(240)
    m240 shouldBe m120 // byte-for-byte size parity at 2x the file count
    assert(m120 < 4096L, s"delta manifest unexpectedly large: $m120 bytes")
  }

  // The checkpoint cadence bounds every reconstruction walk: v10 is a
  // full (self-contained) manifest, v2..v9 and v11 are deltas, and
  // resolved state through the chain equals per-version expectations.
  test("delta-log reconstruction: checkpoint at the cadence, deltas between, state exact") {
    val table = freshTable()
    (1 to 11).foreach(i =>
      TxTable.commit(Seq((i.toLong, s"s$i")).toDF("id", "s"), table,
        statsCols = Seq("id"), bloomCols = Seq("id")))
    def txt(v: Int) = {
      val src = scala.io.Source.fromFile(s"$table/_manifests/v$v.json", "UTF-8")
      try src.mkString finally src.close()
    }
    txt(1) should include ("\"files\":[")   // first commit: checkpoint
    (2 to 9).foreach { v => txt(v) should include (s"\"base\":${v - 1}") }
    txt(10) should include ("\"files\":[")  // cadence checkpoint
    txt(10) should not include ("\"base\":")
    txt(11) should include ("\"base\":10") // delta over the checkpoint
    // resolved state: files accumulate, stats/blooms cover every file
    (1 to 11).foreach { v =>
      TxTable.filesOf(spark, table, v).size shouldBe v
      TxTable.statsOf(spark, table, v).size shouldBe v
      TxTable.readVersion(spark, table, v).count() shouldBe v.toLong
    }
    // skipping still exact through the chain: the id=7 probe keeps
    // only files whose bloom admits it, and the read returns the row
    val kept = TxTable.keptFiles(spark, table, 11, col("id").cast("string") === "7")
    kept should contain (TxTable.filesOf(spark, table, 7).diff(
      TxTable.filesOf(spark, table, 6)).head)
    TxTable.readWhereKey(spark, table, "id", "7").count() shouldBe 1L
    // restore over a delta version is a full manifest and reads whole
    val rv = TxTable.restore(spark, table, 6)
    TxTable.readVersion(spark, table, rv).count() shouldBe 6L
  }

  // Retention honors the checkpoint boundary: expiring must never
  // strand a kept version's delta chain, so the floor is the oldest
  // kept version's base checkpoint — at most one checkpoint interval
  // of extra (kilobyte) manifests.
  test("expireVersions keeps every link of a kept delta chain") {
    val table = freshTable()
    (1 to 12).foreach(i =>
      TxTable.commit(Seq((i.toLong, s"s$i")).toDF("id", "s"), table))
    val (expired, _) = TxTable.expireVersions(spark, table, keepLast = 1)
    expired shouldBe (1 to 9)
    TxTable.liveVersions(spark, table) shouldBe Seq(10, 11, 12)
    // the kept delta chain (12 -> 11 -> 10) resolves fully
    TxTable.read(spark, table).count() shouldBe 12L
    TxTable.readVersion(spark, table, 11).count() shouldBe 11L
    TxTable.readVersion(spark, table, 10).count() shouldBe 10L
    // expired versions fail loudly
    intercept[IllegalArgumentException] { TxTable.readVersion(spark, table, 9) }
    // expiring again with the same policy is a no-op
    TxTable.expireVersions(spark, table, keepLast = 1) shouldBe
      ((Seq.empty, Seq.empty))
  }

  // --- directive r9#4: partitioned TxTable layout — hive-style
  // data/<col>=<val>/ files, the partition column recorded in the
  // manifest, reads re-deriving the column from the path.
  test("partitioned commit: layout on disk, schema round-trip, partition-pruned read") {
    val table = freshTable()
    val df = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "C", 40.0))
      .toDF("id", "cat", "price")
    TxTable.commit(df, table, statsCols = Seq("id"), partitionBy = Some("cat"))
    TxTable.partColOf(spark, table, 1) shouldBe Some("cat")
    // every data file nests under its partition directory
    val files = TxTable.filesOf(spark, table, 1)
    files.foreach(_ should startWith regex "data/cat=[ABC]/")
    // full read: content AND schema (order + type) round-trip
    val rd = TxTable.read(spark, table)
    rd.columns.toSeq shouldBe Seq("id", "cat", "price")
    rd.schema("cat").dataType.typeName shouldBe "string"
    canon(rd) shouldBe canon(df)
    // partition-pruned read: exactly the partition's files, manifest-only
    val a = TxTable.scan(spark, table, col("cat") === "A")
    canon(a) shouldBe canon(df.filter(col("cat") === "A"))
    TxTable.scan(spark, table, col("cat") === "nope").count() shouldBe 0L
    // appends INHERIT the layout without re-declaring it
    TxTable.commit(Seq((5L, "B", 50.0)).toDF("id", "cat", "price"), table,
      statsCols = Seq("id"))
    TxTable.filesOf(spark, table, 2).diff(files)
      .foreach(_ should startWith ("data/cat=B/"))
    TxTable.scan(spark, table, col("cat") === "B").count() shouldBe 2L
    // a layout change on a carrying commit refuses loudly
    val ex = intercept[IllegalArgumentException] {
      TxTable.commit(Seq((6L, "D", 60.0)).toDF("id", "cat", "price"), table,
        partitionBy = Some("id"))
    }
    ex.getMessage should include ("layout")
  }

  // Disjoint-partition appends auto-rebase: the loser of the version
  // CAS renames its staged partition files to the next version (the
  // AddFile-only conflict-freedom rule) — both writers land.
  test("concurrent appends to different partitions both land via rebase") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "A", 1.0)).toDF("id", "cat", "price"), table,
      partitionBy = Some("cat"))
    // writer B targets v2... but writer A publishes v2 first
    TxTable.commit(Seq((2L, "A", 2.0)).toDF("id", "cat", "price"), table)
    // B's staged commit to the stale target rebases to v3 and lands
    graft.sources.TxTable.commitAs(
      Seq((3L, "B", 3.0)).toDF("id", "cat", "price"), table, 2, "append",
      rebaseAppend = true) shouldBe 3
    TxTable.currentVersion(spark, table) shouldBe 3
    canon(TxTable.read(spark, table)) shouldBe
      canon(Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0))
        .toDF("id", "cat", "price"))
    // the rebased file kept its partition directory
    TxTable.filesOf(spark, table, 3)
      .filter(_.contains("cat=B")).foreach(_ should include ("data/cat=B/v3_"))
    TxTable.scan(spark, table, col("cat") === "B").count() shouldBe 1L
  }

  // Per-partition OPTIMIZE: one partition's files rewrite, the rest
  // carry by reference; MoR deletes fold into the rewrite; changes()
  // stays silent (dataChange=false).
  test("compactPartition rewrites one partition and carries the others verbatim") {
    val table = freshTable()
    (1 to 3).foreach(i =>
      TxTable.commit(Seq((i.toLong, "A", i * 1.0)).toDF("id", "cat", "price"),
        table, partitionBy = if (i == 1) Some("cat") else None))
    TxTable.commit(Seq((9L, "B", 9.0)).toDF("id", "cat", "price"), table)
    val bFiles = TxTable.filesOf(spark, table, 4).filter(_.contains("cat=B"))
    TxTable.deleteKeysMor(spark, table, "id", Seq(2L).toDF("id"))._2 shouldBe 1L
    val (nv, nRw, nCarry) = TxTable.compact(spark, table, col("cat") === "A")
    nRw shouldBe 3
    nCarry shouldBe bFiles.size
    // carried B files are byte-identical references; A re-binned
    TxTable.filesOf(spark, table, nv).filter(_.contains("cat=B")) shouldBe bFiles
    canon(TxTable.read(spark, table)) shouldBe
      canon(Seq((1L, "A", 1.0), (3L, "A", 3.0), (9L, "B", 9.0))
        .toDF("id", "cat", "price"))
    // the folded deletion vector is gone from the compacted partition's read
    TxTable.scan(spark, table, col("cat") === "A").count() shouldBe 2L
    // CDC: the compact replays as nothing
    TxTable.changes(spark, table, nv - 1, nv).count() shouldBe 0L
  }

  // --- r10: copy-on-write row-level UPDATE ---
  test("updateWhere rewrites only candidate files, applies SQL UPDATE semantics, and CDC shows the churn") {
    val table = freshTable()
    val df = Seq[(java.lang.Long, Double)]((1L, 10.0), (2L, 20.0), (null, 99.0),
        (50L, 500.0), (60L, 600.0))
      .toDF("id", "x").repartitionByRange(2, col("id"))
    TxTable.commit(df, table, statsCols = Seq("id"))
    val files1 = TxTable.filesOf(spark, table, 1)
    val (v2, nTouched, nCarried) = TxTable.updateWhere(spark, table, col("id").between(1.0, 2.0),
      Map("x" -> (col("x") * 10)))
    v2 shouldBe 2
    nTouched + nCarried shouldBe files1.size
    nTouched should be >= 1
    // matching rows updated; non-matching AND null-predicate rows keep values
    val got = TxTable.read(spark, table).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getDouble(1))).toSet
    got shouldBe Set((Some(1L), 100.0), (Some(2L), 200.0), (None, 99.0),
      (Some(50L), 500.0), (Some(60L), 600.0))
    // carried files are bit-identical (same manifest entries)
    TxTable.filesOf(spark, table, 2).intersect(files1).size shouldBe nCarried
    // CDC: delete-of-candidates + insert-of-rewrites, nothing from carried files
    val cdc = TxTable.changes(spark, table, 1, 2)
    val dels = cdc.filter(col("_change") === "delete").count()
    val ins = cdc.filter(col("_change") === "insert").count()
    dels shouldBe ins // CoW update preserves row count
    // a predicate pruning to zero candidates is a version-less no-op
    TxTable.updateWhere(spark, table, col("id").between(1000.0, 2000.0),
      Map("x" -> lit(0.0)))._1 shouldBe 2
  }

  // --- r10: hidden transform partitioning ---
  test("hidden bucket16 layout: derived at commit, absent from the logical schema, point reads prune to one bucket, appends auto-derive, compact preserves") {
    val table = freshTable()
    val df = (1L to 200L).map(i => (i, i * 1.0)).toDF("id", "x")
    TxTable.commit(df, table, partitionBy = Some("_gpt-bucket16-id"))
    // the layout column is invisible logically
    TxTable.read(spark, table).columns.toSeq shouldBe Seq("id", "x")
    TxTable.read(spark, table).count() shouldBe 200L
    // every file lives under a single-hex-nibble bucket dir
    val files1 = TxTable.filesOf(spark, table, 1)
    all(files1.map(_.stripPrefix("data/_gpt-bucket16-id=").take(1))) should
      fullyMatch regex "[0-9a-f]"
    // point read: only the probe's bucket files are planned; result
    // equals the full-scan filter
    val probe = TxTable.scan(spark, table, col("id").cast("string") === "137")
    probe.filter(col("id") === 137L).count() shouldBe 1L
    val bucket = TxTable.hiddenValueOf("_gpt-bucket16-id", "137")
    probe.inputFiles.foreach(f => f should include(s"_gpt-bucket16-id=$bucket"))
    probe.inputFiles.length should be < files1.size
    // an append WITHOUT the layout column derives it transparently
    TxTable.commit(Seq((9999L, 1.0)).toDF("id", "x"), table)
    val b9999 = TxTable.hiddenValueOf("_gpt-bucket16-id", "9999")
    TxTable.filesOf(spark, table, 2).diff(files1).foreach(
      _ should startWith(s"data/_gpt-bucket16-id=$b9999/"))
    TxTable.scan(spark, table, col("id").cast("string") === "9999")
      .filter(col("id") === 9999L).count() shouldBe 1L
    // OPTIMIZE re-derives and preserves the hidden layout
    val cv = TxTable.compact(spark, table)._1
    TxTable.partColOf(spark, table, cv) shouldBe Some("_gpt-bucket16-id")
    TxTable.read(spark, table).count() shouldBe 201L
    TxTable.scan(spark, table, col("id").cast("string") === "137")
      .filter(col("id") === 137L).count() shouldBe 1L
    // the transform SOURCE column is rename/drop-protected
    an[IllegalArgumentException] should be thrownBy
      TxTable.renameColumn(spark, table, "id", "id2")
    an[IllegalArgumentException] should be thrownBy
      TxTable.dropColumn(spark, table, "id")
    // CDC never leaks the layout column
    TxTable.changes(spark, table, 0, 2).columns should not contain "_gpt-bucket16-id"
  }

  test("hidden day(ts) layout: partition-range read equals the ts-range filter and plans only in-range dirs") {
    val table = freshTable()
    val rows = (0 until 96).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-03-${1 + i / 24}%02d ${i % 24}%02d:30:00"), i.toLong)
    }
    TxTable.commit(rows.toDF("ts", "v"), table, partitionBy = Some("_gpt-day-ts"))
    TxTable.filesOf(spark, table, 1)
      .map(_.stripPrefix("data/_gpt-day-ts=").takeWhile(_ != '/'))
      .distinct.sorted shouldBe Seq("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04")
    val ranged = TxTable.readPartitionRange(spark, table, "2024-03-02", "2024-03-03")
    ranged.count() shouldBe 48L
    ranged.columns.toSeq shouldBe Seq("ts", "v")
    ranged.inputFiles.foreach { f =>
      (f should not).include("2024-03-01"); (f should not).include("2024-03-04")
    }
    canon(ranged) shouldBe canon(TxTable.read(spark, table)
      .filter(col("ts") >= "2024-03-02 00:00:00" && col("ts") < "2024-03-04 00:00:00"))
  }

  // --- r10: Ljung–Box vs brute force ---
  test("ljungBox equals the textbook statistic on random series") {
    val rnd = new scala.util.Random(7)
    val rows = for (k <- 0 until 4; t <- 0 until (20 + k * 7)) yield
      (s"k$k", t.toLong, math.floor(rnd.nextDouble() * 2000000 + 0.5) / 1e6, t.toLong)
    val got = operators.Rolling.ljungBox(
        rows.toDF("key", "tus", "value", "id"), "key", "tus", "value", "id", maxLag = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    rows.groupBy(_._1).foreach { case (key, rs) =>
      val x = rs.sortBy(_._2).map(r => math.floor(r._3 * 1000000 + 0.5)).toArray
      val n = x.length; val mean = x.sum / n
      val den = x.map(v => (v - mean) * (v - mean)).sum
      val q = (1 to 3).map { k =>
        val num = (k until n).map(t => (x(t) - mean) * (x(t - k) - mean)).sum
        val rho = num / den
        rho * rho / (n - k)
      }.sum * n * (n + 2.0)
      got(key) shouldBe (q +- 1e-5)
    }
  }

  // --- r10: Cronbach's alpha vs direct computation ---
  test("cronbachAlpha equals the direct two-pass formula (zero-filled grid)") {
    val rows = Seq(
      ("d1", "a", 3.0), ("d1", "b", 4.0), ("d1", "c", 3.5),
      ("d2", "a", 5.0), ("d2", "b", 6.0), ("d2", "c", 5.5),
      ("d3", "a", 1.0), ("d3", "b", 2.0), // c missing on d3 → zero fill
      ("d4", "a", 4.0), ("d4", "b", 5.0), ("d4", "c", 4.5))
    val got = functions.Eval.cronbachAlpha(rows.toDF("s", "i", "v"), "s", "i", "v")
      .collect().head
    got.getInt(0) shouldBe 3
    got.getLong(1) shouldBe 4
    // direct: population variances over the zero-filled 4×3 grid
    val grid = Map(("d1","a")->3.0,("d1","b")->4.0,("d1","c")->3.5,
      ("d2","a")->5.0,("d2","b")->6.0,("d2","c")->5.5,
      ("d3","a")->1.0,("d3","b")->2.0,("d3","c")->0.0,
      ("d4","a")->4.0,("d4","b")->5.0,("d4","c")->4.5)
    val subs = Seq("d1","d2","d3","d4"); val its = Seq("a","b","c")
    def varP(xs: Seq[Double]) = { val m = xs.sum / xs.size
      xs.map(v => (v - m) * (v - m)).sum / xs.size }
    val sumVarI = its.map(i => varP(subs.map(s => grid(s -> i)))).sum
    val varT = varP(subs.map(s => its.map(i => grid(s -> i)).sum))
    val expected = 3.0 / 2.0 * (1.0 - sumVarI / varT)
    got.getDouble(2) shouldBe (expected +- 1e-6)
  }

  // --- r10: information gain boundary properties ---
  test("infoGain: a label-identical feature recovers H(label); an independent constant gains zero") {
    val rows = (0 until 300).map(i => (s"c${i % 3}", s"c${i % 3}", "const"))
    val got = functions.Eval.infoGain(
        rows.toDF("y", "copy", "k"), "y", Seq("copy", "k"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    val hLabel = math.log(3.0) // uniform 3 classes
    got("copy")._1 shouldBe (hLabel +- 1e-6)
    got("copy")._2 shouldBe (hLabel +- 1e-6) // perfect feature: IG = H(label)
    got("k")._2 shouldBe (0.0 +- 1e-9)       // constant feature: IG = 0
  }

  // --- r10: Fleiss' kappa vs brute force ---
  test("fleissKappa equals the textbook formula; off-design subjects drop") {
    val rnd = new scala.util.Random(11)
    val cats = Array("a", "b", "c")
    val ratings = for (s <- 0 until 12; _ <- 0 until 10) yield
      (s.toLong, cats(rnd.nextInt(3)))
    val withBad = ratings ++ Seq((99L, "a"), (99L, "b")) // 2 ratings only: drops
    val got = functions.Eval.fleissKappa(withBad.toDF("s", "c"), "s", "c", 10)
      .collect().head
    got.getLong(0) shouldBe 12
    // brute force over the kept subjects
    val bySubj = ratings.groupBy(_._1).map { case (_, rs) =>
      cats.map(c => rs.count(_._2 == c).toDouble) }
    val nS = bySubj.size.toDouble; val n = 10.0
    val pbar = bySubj.map(cs => (cs.map(c => c * c).sum - n) / (n * (n - 1))).sum / nS
    val pe = cats.indices.map { j =>
      val p = bySubj.map(_(j)).sum / (nS * n); p * p }.sum
    val kappa = (pbar - pe) / (1 - pe)
    got.getDouble(2) shouldBe (pbar +- 1e-6)
    got.getDouble(3) shouldBe (pe +- 1e-6)
    got.getDouble(4) shouldBe (kappa +- 1e-6)
  }

  // --- r10: interpolated Kneser–Ney is a proper distribution ---
  test("kneserNey: P(·|w1) sums to 1 over the seed vocabulary for every seen context") {
    import org.apache.spark.sql.functions.{explode, substring_index}
    val seedDocs = Seq("a b a c a b b c d a", "b c a a d b c a b d")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // score every (context, word) pair of the vocab as a one-bigram doc
    val vocab = Seq("a", "b", "c", "d")
    val probes = (for (w1 <- vocab; w2 <- vocab) yield
      (s"$w1|$w2", s"$w1 $w2")).zipWithIndex
      .map { case ((k, t), i) => (i.toLong + 1000L, t) }.toDF("doc_id", "text")
    val scored = functions.NgramLm.kneserNey(probes, seedDocs)
      .filter(col("n_scored") === 1L)
      .withColumn("p", exp(-col("kn_nll")))
    val withCtx = probes.join(scored, Seq("doc_id"))
      .withColumn("w1", substring_index(col("text"), " ", 1))
    val sums = withCtx.groupBy("w1").agg(sum("p").as("total"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    vocab.foreach { w1 => sums(w1) shouldBe (1.0 +- 1e-3) } // 4dp rounding slack
  }

  // --- r10: write-audit-publish ---
  test("WAP: staged batches are invisible, publish is metadata-only and exactly-once, abandon leaves no trace") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table, statsCols = Seq("id"))
    val staged = TxTable.stageWap(Seq((3L, "c"), (4L, "d")).toDF("id", "s"), table, "g1")
    staged should not be empty
    all(staged) should startWith("data/w_g1_")
    // invisible everywhere until published
    TxTable.read(spark, table).count() shouldBe 2L
    TxTable.currentVersion(spark, table) shouldBe 1
    TxTable.changes(spark, table, 0, 1).count() shouldBe 2L
    // the audit surface is the WRITTEN files
    TxTable.readWap(spark, table, "g1").count() shouldBe 2L
    // vacuum never reaps a live staged batch
    TxTable.vacuum(spark, table, minAgeMs = 0).intersect(staged) shouldBe empty
    // publish: metadata-only adoption (same file names), stats recomputed
    val v2 = TxTable.publishWap(spark, table, "g1")
    v2 shouldBe 2
    TxTable.filesOf(spark, table, 2).intersect(staged) shouldBe staged
    TxTable.read(spark, table).count() shouldBe 4L
    TxTable.statsOf(spark, table, 2).filter(s => staged.contains(s._1)) should not be empty
    // CDC: the publish replays as exactly the staged inserts
    val cdc = TxTable.changes(spark, table, 1, 2)
    cdc.count() shouldBe 2L
    cdc.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(3L, 4L)
    // exactly-once: re-publish (crash-retry) is a no-op returning v2
    TxTable.publishWap(spark, table, "g1") shouldBe 2
    TxTable.currentVersion(spark, table) shouldBe 2
    // a schema-mismatched stage refuses LOUDLY at stage time
    an[IllegalArgumentException] should be thrownBy
      TxTable.stageWap(Seq((5L, 6L)).toDF("id", "n"), table, "g2")
    // abandon: files + record gone, head untouched
    val bad = TxTable.stageWap(Seq((9L, "x")).toDF("id", "s"), table, "b1")
    TxTable.abandonWap(spark, table, "b1") shouldBe bad
    TxTable.currentVersion(spark, table) shouldBe 2
    TxTable.orphans(spark, table) shouldBe empty
    an[IllegalArgumentException] should be thrownBy TxTable.readWap(spark, table, "b1")
  }

  test("WAP publish lands after a concurrent commit moved the head: the schema gate re-runs against the new head and both batches survive") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 1.0)).toDF("id", "x"), table)
    TxTable.stageWap(Seq((2L, 2.0)).toDF("id", "x"), table, "r1")
    // another writer lands v2 between stage and publish
    TxTable.commit(Seq((3L, 3.0)).toDF("id", "x"), table) shouldBe 2
    val v = TxTable.publishWap(spark, table, "r1")
    v shouldBe 3
    TxTable.read(spark, table).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
  }

  test("WAP read and publish of a staged record with no files fail with a named error") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table)
    val staged = java.nio.file.Paths.get(table, "_staged", "e1.json")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.writeString(staged, """{"wap":"e1","files":[]}""")
    val read = the[IllegalArgumentException] thrownBy TxTable.readWap(spark, table, "e1")
    read.getMessage should include("staged batch 'e1' records no files")
    val publish = the[IllegalArgumentException] thrownBy TxTable.publishWap(spark, table, "e1")
    publish.getMessage should include("staged batch 'e1' records no files")
    TxTable.currentVersion(spark, table) shouldBe 1
  }

  // --- r10: isotropy identity vs brute-force pairwise cosine ---
  test("isotropyByGroup equals brute-force mean pairwise cosine of quantized unit vectors") {
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 30).map { i =>
      (i.toLong, s"g${i % 2}", Array.fill(8)(rnd.nextFloat() * 2 - 1)) }
    val got = functions.VectorFunctions.isotropyByGroup(
        vecs.toDF("vec_id", "label", "embedding"), "label", "embedding", "vec_id")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    vecs.groupBy(_._2).foreach { case (g, vs) =>
      val uq = vs.map { case (_, _, v) =>
        val ssq = v.map(x => math.floor(x.toDouble * x.toDouble * 1e12 + 0.5)).sum
        val nrm = math.sqrt(ssq / 1e12)
        v.map(x => math.floor(x.toDouble / nrm * 1e9 + 0.5)) }
      val pairs = for (i <- uq.indices; j <- uq.indices if i != j) yield
        uq(i).zip(uq(j)).map { case (a, b) => a * b }.sum / 1e18
      got(g) shouldBe (pairs.sum / pairs.size +- 1e-6)
    }
  }

  // --- r10: SHALLOW CLONE — metadata-only copy, independent evolution ---
  test("cloneShallow is metadata-only and the tables evolve independently") {
    val src = freshTable()
    val dst = freshTable()
    TxTable.commit((1L to 100L).map(i => (i, i * 2.0)).toDF("id", "x")
      .repartitionByRange(2, col("id")), src, statsCols = Seq("id"))
    TxTable.cloneShallow(spark, src, dst) shouldBe 1
    // zero data copied: every clone entry borrows by absolute path,
    // and dst has no data directory at all
    TxTable.filesOf(spark, dst, 1).foreach(f => assert(f.startsWith("/")))
    assert(!new java.io.File(s"$dst/data").exists())
    TxTable.read(spark, dst).collect().map(_.getLong(0)).sorted shouldBe
      (1L to 100L).toArray
    // fork: append to each side; neither sees the other's rows
    TxTable.commit(Seq((101L, 0.0)).toDF("id", "x"), dst)
    TxTable.commit(Seq((201L, 0.0)).toDF("id", "x"), src)
    TxTable.read(spark, dst).agg(max("id")).head.getLong(0) shouldBe 101L
    TxTable.read(spark, src).agg(max("id")).head.getLong(0) shouldBe 201L
    // carried stats prune across the table boundary: a range read of
    // the clone keeps only the files that can hold [1, 10]
    val kept = TxTable.keptFiles(spark, dst, 2, col("id").between(1.0, 10.0))
    assert(kept.size < TxTable.filesOf(spark, dst, 2).size)
    TxTable.scan(spark, dst, col("id").between(1.0, 10.0)).count() shouldBe 10L
  }

  test("cloneShallow carries merge-on-read deletes and refuses bad targets") {
    val src = freshTable()
    val dst = freshTable()
    TxTable.commit((1L to 20L).map(i => (i, s"r$i")).toDF("id", "s"), src)
    TxTable.deleteKeysMor(spark, src, "id", Seq(7L, 9L).toDF("id"))
    TxTable.cloneShallow(spark, src, dst)
    // deletion vectors rode the clone: deleted rows stay deleted in dst
    TxTable.read(spark, dst).collect().map(_.getLong(0)).sorted shouldBe
      (1L to 20L).filterNot(Set(7L, 9L)).toArray
    // a compact MATERIALIZES the clone: borrowed files rewrite into
    // dst's own directory and the content is unchanged
    val v = TxTable.compact(spark, dst)._1
    TxTable.filesOf(spark, dst, v).foreach(f => assert(!f.startsWith("/")))
    TxTable.read(spark, dst).count() shouldBe 18L
    // refusals: existing target, partitioned source
    intercept[IllegalArgumentException] {
      TxTable.cloneShallow(spark, src, dst)
    }
    val part = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), part,
      partitionBy = Some("p"))
    intercept[IllegalArgumentException] {
      TxTable.cloneShallow(spark, part, freshTable())
    }
  }

  test("metaCountByPartition matches the scan per partition value") {
    val table = freshTable()
    TxTable.commit((1L to 300L).map(i => (i, if (i <= 2) "a:b" else s"p${i % 3}")).toDF("id", "p"),
      table, partitionBy = Some("p"), countRows = true)
    TxTable.metaCountByPartition(spark, table).toMap shouldBe
      Map("p0" -> 100L, "p1" -> 99L, "p2" -> 99L, "a:b" -> 2L)
    // counts survive a metadata-only rename and a restore
    TxTable.renameColumn(spark, table, "id", "key")
    TxTable.metaCount(spark, table) shouldBe 300L
    TxTable.commit((301L to 310L).map(i => (i, s"p${i % 3}")).toDF("key", "p"),
      table, countRows = true)
    TxTable.restore(spark, table, 2)
    TxTable.metaCount(spark, table) shouldBe 300L
  }

  // --- r10: unique-key-enforced append ---
  test("appendUnique inserts only fresh keys and no-ops on a duplicate batch") {
    val table = freshTable()
    val (v1, n1) = TxTable.appendUnique(
      Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "s"), table, "id",
      bloomCols = Seq("id"), countRows = true)
    v1 shouldBe 1
    n1 shouldBe 2L // in-batch duplicate collapsed
    val (v2, n2) = TxTable.appendUnique(
      Seq((2L, "dup"), (3L, "c")).toDF("id", "s"), table, "id",
      bloomCols = Seq("id"), countRows = true)
    v2 shouldBe 2
    n2 shouldBe 1L // only the fresh key landed
    TxTable.read(spark, table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "a"), (2L, "b"), (3L, "c"))
    // fully-duplicate batch: no version published (Delta's no-op rule)
    val (v3, n3) = TxTable.appendUnique(
      Seq((1L, "x"), (3L, "y")).toDF("id", "s"), table, "id")
    v3 shouldBe v2
    n3 shouldBe 0L
    TxTable.currentVersion(spark, table) shouldBe v2
    TxTable.metaCount(spark, table) shouldBe 3L
  }
}
