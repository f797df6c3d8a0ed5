package graft

import org.apache.spark.sql.functions._

import graft.functions.{Eval, Profile, Sketches}
import graft.operators.{Behavior, Graph, Rolling}
import graft.sources.TxTable

/** Round-7 batch 2: log-rank, grouped MCC, CER, forecast accuracy,
  * concentration (HHI), AMS F₂, balanced sampling, RFM segments, HITS,
  * Hill tail index, and the TxTable copy-on-write delete + idempotent
  * commit — each checked against first-principles references computed
  * by hand on planted data.
  */
class Round7bOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- log-rank ----

  test("logRank matches the hand-computed 2-group statistic") {
    val df = Seq(("a", 1L, 1), ("a", 2L, 1), ("b", 1L, 1), ("b", 3L, 1))
      .toDF("g", "t", "e")
    val rows = Behavior.logRank(df, "g", "t", "e").collect()
    val byLabel = rows.map(r => r.getAs[String]("label") -> r).toMap
    // t=1: d=2, n_a=2, n_b=2, n=4; t=2: d=1, n_a=1, n_b=1, n=2;
    // t=3: d=1, n_a=0, n_b=1, n=1
    // E_a = 1 + 0.5 + 0 = 1.5; E_b = 1 + 0.5 + 1 = 2.5; O = 2, 2
    // V_a = 2*(.5)(.5)(2/3) + 1*(.5)(.5)(1/1) + 0 = 1/3 + 1/4
    byLabel("a").getAs[Long]("observed") shouldBe 2L
    byLabel("a").getAs[Double]("expected") shouldBe 1.5 +- 1e-6
    byLabel("a").getAs[Double]("variance") shouldBe (1.0 / 3 + 0.25) +- 1e-6
    byLabel("b").getAs[Long]("observed") shouldBe 2L
    byLabel("b").getAs[Double]("expected") shouldBe 2.5 +- 1e-6
    // chi2 = .25/1.5 + .25/2.5; df = 1
    val ov = byLabel("all")
    ov.getAs[String]("section") shouldBe "overall"
    ov.getAs[Double]("chi2") shouldBe (0.25 / 1.5 + 0.25 / 2.5) +- 1e-6
    ov.getAs[Long]("df") shouldBe 1L
  }

  test("logRank: censoring reduces expected deaths, single group has df 0") {
    val cens = Seq(("a", 1L, 1), ("a", 5L, 0), ("b", 1L, 1), ("b", 5L, 0))
      .toDF("g", "t", "e")
    // only t=1 is an event time: d=2, E_g = 2*2/4 = 1 each, O = 1 each
    val rows = Behavior.logRank(cens, "g", "t", "e").collect()
    rows.filter(_.getAs[String]("section") == "group").foreach { r =>
      r.getAs[Long]("observed") shouldBe 1L
      r.getAs[Double]("expected") shouldBe 1.0 +- 1e-6
    }
    val one = Seq(("a", 1L, 1), ("a", 2L, 1)).toDF("g", "t", "e")
    val ov = Behavior.logRank(one, "g", "t", "e").collect()
      .find(_.getAs[String]("section") == "overall").get
    ov.getAs[Long]("df") shouldBe 0L
  }

  // ---- grouped multiclass MCC ----

  test("mccByGroup matches the closed-form binary MCC") {
    // TP=4, TN=3, FP=2, FN=1 → MCC = (4*3-2*1)/sqrt(6*5*5*4)
    val rows =
      Seq.fill(4)(("g1", "a", "a")) ++ Seq.fill(3)(("g1", "b", "b")) ++
        Seq.fill(2)(("g1", "b", "a")) ++ Seq.fill(1)(("g1", "a", "b"))
    val r = Eval.mccByGroup(rows.toDF("g", "act", "prd"), "g", "act", "prd")
      .collect().head
    r.getAs[Long]("n") shouldBe 10L
    r.getAs[Double]("accuracy") shouldBe 0.7 +- 1e-9
    r.getAs[Double]("mcc") shouldBe (10.0 / math.sqrt(600.0)) +- 1e-6
  }

  test("mccByGroup: degenerate single-predicted-class group emits NULL mcc") {
    val df = Seq(("g", "a", "a"), ("g", "b", "a"), ("g", "a", "a"))
      .toDF("g", "act", "prd")
    val r = Eval.mccByGroup(df, "g", "act", "prd").collect().head
    r.isNullAt(r.fieldIndex("mcc")) shouldBe true
    r.getAs[Double]("accuracy") shouldBe (2.0 / 3) +- 1e-9
  }

  // ---- character error rate ----

  test("charErrorRate: micro vs macro on planted edits, empty refs excluded") {
    val df = Seq(("x", "abc", "abc"), ("x", "abcd", "abXd"), ("x", "", "a"))
      .toDF("g", "ref", "hyp")
    val r = Eval.charErrorRate(df, "g", "ref", "hyp").collect().head
    r.getAs[Long]("n_docs") shouldBe 3L
    r.getAs[Long]("n_empty_ref") shouldBe 1L
    r.getAs[Long]("edit_total") shouldBe 1L
    r.getAs[Long]("ref_chars") shouldBe 7L
    r.getAs[Double]("cer_micro") shouldBe (1.0 / 7) +- 1e-6
    r.getAs[Double]("cer_macro") shouldBe 0.125 +- 1e-6
  }

  // ---- forecast accuracy ----

  test("forecastAccuracy matches hand-computed MAPE/sMAPE/RMSE/MASE") {
    val df = Seq(1L -> 10.0, 2L -> 12.0, 3L -> 11.0, 4L -> 14.0, 5L -> 13.0)
      .map { case (d, v) => ("s", d * 86400000000L, v) }
      .toDF("g", "us", "v")
      .select(col("g"), timestamp_micros(col("us")).as("ts"), col("v"))
    val r = Rolling.forecastAccuracy(df, "g", "ts", "v", season = 2)
      .collect().head
    r.getAs[Long]("n_days") shouldBe 5L
    r.getAs[Long]("n_scored") shouldBe 4L
    val mape = (2.0 / 12 + 1.0 / 11 + 3.0 / 14 + 1.0 / 13) / 4
    val smape = (4.0 / 22 + 2.0 / 23 + 6.0 / 25 + 2.0 / 27) / 4
    r.getAs[Double]("mape") shouldBe mape +- 1e-6
    r.getAs[Double]("smape") shouldBe smape +- 1e-6
    r.getAs[Double]("rmse") shouldBe math.sqrt(15.0 / 4) +- 1e-6
    // seasonal naive (lag 2): |11-10|, |14-12|, |13-11| → MAE 5/3
    r.getAs[Double]("mase") shouldBe ((7.0 / 4) / (5.0 / 3)) +- 1e-6
  }

  test("forecastAccuracy: series shorter than season+1 emits NULL mase") {
    val df = Seq(("s", 1L), ("s", 2L))
      .map { case (g, d) => (g, d * 86400000000L, 5.0) }
      .toDF("g", "us", "v")
      .select(col("g"), timestamp_micros(col("us")).as("ts"), col("v"))
    val r = Rolling.forecastAccuracy(df, "g", "ts", "v", season = 7).collect().head
    r.isNullAt(r.fieldIndex("mase")) shouldBe true
  }

  // ---- concentration (HHI) ----

  test("concentration matches hand-computed HHI / effective N / top share") {
    val df = Seq(("g", "e1", 60.0), ("g", "e2", 20.0), ("g", "e3", 20.0))
      .toDF("g", "e", "v")
    val r = Profile.concentration(df, "g", "e", "v").collect().head
    r.getAs[Long]("n_entities") shouldBe 3L
    r.getAs[Double]("hhi") shouldBe 0.44 +- 1e-9
    r.getAs[Double]("effective_n") shouldBe (1.0 / 0.44) +- 1e-6
    r.getAs[Double]("top_share") shouldBe 0.6 +- 1e-9
  }

  // ---- AMS F2 ----

  test("amsF2Sketch is mergeable: shard counters sum to the full build") {
    val df = Seq("aa", "aa", "aa", "bb", "bb", "cc", "dd", "dd").toDF("k")
    val full = Sketches.amsF2Sketch(df, "k", reps = 9)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val a = Seq("aa", "aa", "aa", "bb").toDF("k")
    val b = Seq("bb", "cc", "dd", "dd").toDF("k")
    val za = Sketches.amsF2Sketch(a, "k", reps = 9)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val zb = Sketches.amsF2Sketch(b, "k", reps = 9)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    full.size shouldBe 9
    (0 until 9).foreach { r => za(r) + zb(r) shouldBe full(r) }
  }

  test("amsF2Estimate picks the exact median-of-z² and is sane vs exact F2") {
    val keys = (1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(s"k$i"))
    val df = keys.toDF("k")
    val exact = keys.groupBy(identity).map { case (_, v) =>
      v.size.toLong * v.size }.sum
    val est = Sketches.amsF2Estimate(Sketches.amsF2Sketch(df, "k", reps = 9))
      .collect().head
    est.getAs[Int]("reps") shouldBe 9
    // an AMS estimate with 9 reps should land within a small constant
    // factor of the truth (variance 2F2²/reps for each z²)
    val ratio = est.getAs[Double]("f2_est") / exact.toDouble
    assert(ratio > 0.1 && ratio < 10.0, s"estimate off: ratio $ratio")
  }

  // ---- balanced sampling ----

  test("balancedByClass keeps exactly the minority count per class, nested") {
    val df = ((1 to 10).map(i => ("big", s"id$i")) ++
      Seq(("small", "s1"), ("small", "s2"), ("small", "s3")))
      .toDF("cls", "id")
    val kept = graft.core.Tafra(df).balancedByClass(Seq("cls"), Seq("id")).df
    val counts = kept.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts("big") shouldBe 3L
    counts("small") shouldBe 3L
    // minority class keeps ALL its rows
    kept.filter(col("cls") === "small").select("id").collect()
      .map(_.getString(0)).sorted shouldBe Array("s1", "s2", "s3")
    // nesting: the kept set is the 3 lowest-hash big rows — a k=3
    // sampleTopKByHash yields the identical set
    val top3 = graft.core.Tafra(df.filter(col("cls") === "big"))
      .sampleTopKByHash(3, Seq("cls"), Seq("id")).df
      .select("id").collect().map(_.getString(0)).sorted
    kept.filter(col("cls") === "big").select("id").collect()
      .map(_.getString(0)).sorted shouldBe top3
  }

  // ---- RFM ----

  test("rfmSegments scores exact quintiles on a planted customer base") {
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val orders = (1 to 5).map(i => (i.toLong, day0, i * 10.0))
      .toDF("cust", "odate", "amount")
    val segs = Behavior.rfmSegments(orders, "cust", "odate", "amount").collect()
    // same day + one order each → r_score = f_score = 5 for everyone;
    // monetary 10..50 → m_scores 1..5, one customer per segment
    segs.length shouldBe 5
    segs.foreach { r =>
      r.getAs[Int]("r_score") shouldBe 5
      r.getAs[Int]("f_score") shouldBe 5
      r.getAs[Long]("n_customers") shouldBe 1L
    }
    segs.map(_.getAs[Int]("m_score")).sorted shouldBe Array(1, 2, 3, 4, 5)
    segs.map(_.getAs[Double]("total_spend")).sorted shouldBe
      Array(10.0, 20.0, 30.0, 40.0, 50.0)
  }

  // ---- HITS ----

  test("hits matches the hand-iterated L1-normalized scores") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("c", "p")
    val out = Graph.hits(edges, "c", "p", iters = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Double]("score")).toMap
    // h0 = (.5, .5); a1 = (2/3, 1/3); h1 = (.6, .4);
    // a2 = (.625, .375); h2 = (8/13, 5/13)
    out(("authority", 10L)) shouldBe 0.625 +- 1e-6
    out(("authority", 11L)) shouldBe 0.375 +- 1e-6
    out(("hub", 1L)) shouldBe (8.0 / 13) +- 1e-6
    out(("hub", 2L)) shouldBe (5.0 / 13) +- 1e-6
  }

  // ---- Hill tail index ----

  test("degreeTailAlpha matches the hand-computed Hill estimate on a star") {
    // star: node 1 — spokes 2..12 → degrees 11, 1×11
    val pairs = (2L to 12L).map(i => (1L, i)).toDF("a", "b")
    val r = Graph.degreeTailAlpha(pairs, "a", "b", k = 2).collect().head
    r.getAs[Int]("k") shouldBe 2
    // top-3 degrees: 11, 1, 1 → dref = 1; terms ln(11), ln(1) = 0
    r.getAs[Double]("alpha") shouldBe (2.0 / math.log(11.0)) +- 1e-6
  }

  test("degreeTailAlpha: fewer than k+1 nodes emits the empty-fold row") {
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val r = Graph.degreeTailAlpha(pairs, "a", "b", k = 5).collect().head
    r.getAs[Int]("k") shouldBe 0
    r.isNullAt(r.fieldIndex("alpha")) shouldBe true
  }

  // ---- TxTable copy-on-write delete ----

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_tx7b_").toString + "/t"

  test("deleteWhere rewrites only stats-overlapping files; carried files are byte-identical") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
      table, statsCols = Seq("id"))
    TxTable.commit(Seq((10L, "x"), (11L, "y")).toDF("id", "s").coalesce(1),
      table, statsCols = Seq("id"))
    val beforeFiles = TxTable.filesOf(spark, table, 2)
    val (v, nRw, nCar) = TxTable.deleteWhere(spark, table, col("id").between(1.0, 1.0))
    v shouldBe 3
    nRw shouldBe 1
    nCar shouldBe 1
    // the carried file is the SAME relative path (no rewrite)
    val afterFiles = TxTable.filesOf(spark, table, 3)
    val carried = beforeFiles.toSet.intersect(afterFiles.toSet)
    carried.size shouldBe 1
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe
      Seq(2L, 10L, 11L)
    // CDC of the delete version: remove-of-candidates + insert-of-survivors
    val cdc = TxTable.changes(spark, table, 2, 3)
      .groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cdc("delete") shouldBe 2L // the old [1,2] file's rows
    cdc("insert") shouldBe 1L // the surviving row rewritten
    // time travel: v2 still reads the pre-delete snapshot
    TxTable.readVersion(spark, table, 2).count() shouldBe 4L
  }

  test("deleteWhere: a range pruning to zero candidates is a version no-op; NULL keys survive") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
      table, statsCols = Seq("id"))
    val (v, nRw, _) = TxTable.deleteWhere(spark, table, col("id").between(100.0, 200.0))
    v shouldBe 1
    nRw shouldBe 0
    TxTable.currentVersion(spark, table) shouldBe 1
    // null keys: SQL DELETE semantics keep NULL-predicate rows
    val t2 = freshTable()
    TxTable.commit(
      Seq((Some(1L), "a"), (None, "n"), (Some(2L), "b")).toDF("id", "s").coalesce(1),
      table = t2, statsCols = Seq("id"))
    TxTable.deleteWhere(spark, t2, col("id").between(1.0, 1.0))
    TxTable.read(spark, t2).collect().map(_.getString(1)).sorted shouldBe
      Array("b", "n")
  }

  // ---- TxTable idempotent commits ----

  test("commitIdempotent applies a batch once and replays as a no-op") {
    val table = freshTable()
    val b0 = Seq((1L, "a")).toDF("id", "s")
    val b1 = Seq((2L, "b")).toDF("id", "s")
    val (v1, a1) = TxTable.commitIdempotent(b0, table, "app", 0L)
    v1 shouldBe 1; a1 shouldBe true
    val (vr, ar) = TxTable.commitIdempotent(b0, table, "app", 0L)
    vr shouldBe 1; ar shouldBe false
    val (v2, a2) = TxTable.commitIdempotent(b1, table, "app", 1L)
    v2 shouldBe 2; a2 shouldBe true
    // a DIFFERENT app replaying batch 0 is its own transaction
    val (v3, a3) = TxTable.commitIdempotent(b0, table, "other", 0L)
    v3 shouldBe 3; a3 shouldBe true
    TxTable.read(spark, table).count() shouldBe 3L
    TxTable.currentVersion(spark, table) shouldBe 3
  }

  // ---- schema evolution ----

  test("commitEvolve adds a column; old rows read NULL; v1 keeps the old shape; plain append works post-evolve") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"), table)
    TxTable.commitEvolve(Seq((3L, 30.0, "x")).toDF("id", "price", "tag"), table) shouldBe 2
    // post-evolve plain append compares against the UNION schema
    TxTable.commit(Seq((4L, 40.0, "y")).toDF("id", "price", "tag"), table) shouldBe 3
    val v3 = TxTable.read(spark, table)
    v3.columns.sorted shouldBe Array("id", "price", "tag")
    v3.count() shouldBe 4L
    v3.filter(col("tag").isNull).count() shouldBe 2L // pre-evolution rows
    // time travel: v1 still reads the ORIGINAL 2-column shape
    TxTable.readVersion(spark, table, 1).columns.sorted shouldBe Array("id", "price")
    // CDC across the evolution: old-step rows surface tag as NULL
    val cdc = TxTable.changes(spark, table, 0, 3)
    cdc.columns should contain("tag")
    cdc.count() shouldBe 4L
  }

  test("commitEvolve refuses drops and retypes; plain append of a changed schema still refuses") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 10.0)).toDF("id", "price"), table)
    val dropped = intercept[IllegalArgumentException] {
      TxTable.commitEvolve(Seq(Tuple1(2L)).toDF("id"), table)
    }
    dropped.getMessage should include("not additive")
    val retyped = intercept[IllegalArgumentException] {
      TxTable.commitEvolve(Seq((2L, "oops")).toDF("id", "price"), table)
    }
    retyped.getMessage should include("not additive")
    val plain = intercept[IllegalArgumentException] {
      TxTable.commit(Seq((2L, 20.0, "t")).toDF("id", "price", "tag"), table)
    }
    plain.getMessage should include("schema mismatch")
  }

  test("deleteWhere on an evolved table keeps the late-added column through the rewrite") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price").coalesce(1),
      table, statsCols = Seq("id"))
    TxTable.commitEvolve(Seq((3L, 30.0, "x")).toDF("id", "price", "tag"), table)
    TxTable.deleteWhere(spark, table, col("id").between(2.0, 2.0))
    val out = TxTable.read(spark, table)
    out.columns.sorted shouldBe Array("id", "price", "tag")
    out.collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 3L)
  }

  // ---- streaming exactly-once TxTable sink ----

  test("streamIntoTx: full replay after checkpoint loss lands every batch exactly once") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_txsink_src_").toString
    val day = 86400000000L
    def writeFile(i: Int): Unit = {
      val rows = (0 until 4).map(j =>
        (i * 10L + j, i * day + j * 1000000L, j.toLong, i * 1.0 + j))
      val df = rows.toDF("event_id", "us", "user_id", "value")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("value"))
      val tmp = Files.createTempDirectory("graft_txsink_part_").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = Paths.get(dir, f"f$i%02d.parquet")
      Files.move(part.toPath, dst)
      // deterministic listing order across the two runs
      dst.toFile.setLastModified(1000000L * (i + 1))
      ()
    }
    (0 until 3).foreach(writeFile)
    val table = freshTable()
    // maxFilesPerTrigger=1 → 3 real batches per run; runs=2 replays all
    val out = graft.streaming.Events.streamIntoTx(
      spark, dir, table, "sink-spec", runs = 2, maxFilesPerTrigger = Some(1))
    out.count() shouldBe 12L
    TxTable.currentVersion(spark, table) shouldBe 3
    out.select("event_id").collect().map(_.getLong(0)).sorted shouldBe
      (0 until 3).flatMap(i => (0 until 4).map(j => i * 10L + j)).sorted
  }

  // ---- BFS distances ----

  test("bfsDistances: min-hop on a path graph with depth cap and multi-seed min") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds1 = Seq(Tuple1(1L)).toDF("node")
    val d1 = Graph.bfsDistances(pairs, "a", "b", seeds1, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    d1 shouldBe Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3) // 5 beyond depth
    val seeds2 = Seq(Tuple1(1L), Tuple1(5L)).toDF("node")
    val d2 = Graph.bfsDistances(pairs, "a", "b", seeds2, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    d2 shouldBe Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0)
    // a seed absent from the graph contributes nothing
    val d3 = Graph.bfsDistances(pairs, "a", "b",
      Seq(Tuple1(99L)).toDF("node"), maxDepth = 2).collect()
    d3 shouldBe empty
  }

  // ---- effect sizes ----

  test("effectSizes matches hand-computed Cohen's d and Cliff's delta") {
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(2, 4, 6).map(("b", _)))
      .toDF("g", "v")
    val r = Eval.effectSizes(df, "g", "v", unitScale = 1L).collect().head
    r.getAs[String]("group_a") shouldBe "a"
    r.getAs[String]("group_b") shouldBe "b"
    r.getAs[Long]("n_a") shouldBe 3L
    // means 2 vs 4; vars 1, 4; pooled = sqrt(10/4); d = -2/sqrt(2.5)
    r.getAs[Double]("cohens_d") shouldBe (-2.0 / math.sqrt(2.5)) +- 1e-6
    // R_a = 1 + 2.5 + 4 = 7.5; U = 1.5; delta = 2*1.5/9 - 1 = -2/3
    r.getAs[Double]("cliffs_delta") shouldBe (-2.0 / 3) +- 1e-9
  }

  test("effectSizes: identical distributions give zero d and delta") {
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(1, 2, 3).map(("b", _)))
      .toDF("g", "v")
    val r = Eval.effectSizes(df, "g", "v", unitScale = 1L).collect().head
    r.getAs[Double]("cohens_d") shouldBe 0.0 +- 1e-9
    r.getAs[Double]("cliffs_delta") shouldBe 0.0 +- 1e-9
  }

  // ---- readability ----

  test("readability matches hand counts: words, [.!?] sentences, vowel-group syllables") {
    val df = Seq(
      ("en", "The cat sat. The dog ran!"),
      ("en", "tv hmm."), // vowel-less words floor at 1 syllable each
      ("en", "")).toDF("lang", "text")
    val r = graft.functions.TextFunctions.readability(df, "lang", "text")
      .collect().head
    r.getAs[Long]("n_docs") shouldBe 3L
    r.getAs[Long]("n_words") shouldBe 8L
    r.getAs[Long]("n_sentences") shouldBe 3L // 2 + 1 + 0 (empty doc)
    r.getAs[Long]("n_syllables") shouldBe 8L
    val ws = 8.0 / 3; val sw = 1.0
    r.getAs[Double]("flesch") shouldBe (206.835 - 1.015 * ws - 84.6 * sw) +- 1e-6
    r.getAs[Double]("fk_grade") shouldBe (0.39 * ws + 11.8 * sw - 15.59) +- 1e-6
  }

  // ---- character entropy ----

  test("charEntropy matches the closed form on planted distributions") {
    val df = Seq(("x", "aab"), ("y", "ab")).toDF("g", "t")
    val out = graft.functions.TextFunctions.charEntropy(df, "g", "t")
      .collect().map(r => r.getString(0) -> r).toMap
    out("x").getAs[Long]("n_chars") shouldBe 3L
    out("x").getAs[Long]("n_distinct") shouldBe 2L
    val hx = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    out("x").getAs[Double]("entropy_nats") shouldBe hx +- 1e-6
    out("y").getAs[Double]("entropy_nats") shouldBe math.log(2.0) +- 1e-6
  }

  // ---- Matryoshka truncated recall ----

  test("truncatedRecall: prefix-dim search loses exactly the planted neighbor") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.8f, -0.6f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // full cosine: c1=1.0, c3=0.8, c2=0.6 → top2 {1, 3}
    // first-dim-only cosine: all = 1.0 → tie-break by id → top2 {1, 2}
    val r = graft.operators.Similarity.truncatedRecall(
      corpus, queries, dims = 1, k = 2).collect().head
    r.getAs[Int]("n_hits") shouldBe 1
    r.getAs[Double]("recall_at_k") shouldBe 0.5 +- 1e-9
    // full-width truncation is the identity: recall 1
    val full = graft.operators.Similarity.truncatedRecall(
      corpus, queries, dims = 2, k = 2).collect().head
    full.getAs[Double]("recall_at_k") shouldBe 1.0 +- 1e-9
  }

  // ---- windowed funnel ----

  test("funnelWindowed converts only within the hop window (greedy earliest entry)") {
    val ev = Seq(
      (1L, 0L, "view"), (1L, 100L, "click"), (1L, 150L, "purchase"),
      (2L, 0L, "view"), (2L, 500L, "click"), // click outside 200µs window
      (3L, 0L, "view"), (3L, 100L, "click"), (3L, 400L, "purchase") // purchase late
    ).toDF("user_id", "tus", "event_type")
    val out = Behavior.funnelWindowed(ev, Seq("view", "click", "purchase"),
      withinUs = 200L).collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    out("view") shouldBe 3L
    out("click") shouldBe 2L
    out("purchase") shouldBe 1L
  }

  // ---- Mann–Kendall ----

  test("mannKendall: monotone series, all-tied series, and the quadratic refusal") {
    import graft.functions.Profile
    val mono = (1 to 5).map(i => (i.toLong, i.toDouble)).toDF("o", "v")
    val r = Profile.mannKendall(mono, "o", "v").collect().head
    r.getAs[Long]("n") shouldBe 5L
    r.getAs[Long]("s_stat") shouldBe 10L
    r.getAs[Double]("var_s") shouldBe (5.0 * 4 * 15 / 18) +- 1e-6
    r.getAs[Double]("z") shouldBe (9.0 / math.sqrt(5.0 * 4 * 15 / 18)) +- 1e-6
    val flat = (1 to 5).map(i => (i.toLong, 7.0)).toDF("o", "v")
    val rf = Profile.mannKendall(flat, "o", "v").collect().head
    rf.getAs[Long]("s_stat") shouldBe 0L
    rf.isNullAt(rf.fieldIndex("z")) shouldBe true // zero variance
    val big = (1 to 20).map(i => (i.toLong, i.toDouble)).toDF("o", "v")
    val ex = intercept[Exception] {
      Profile.mannKendall(big, "o", "v", maxRows = 10).collect()
    }
    ex.getMessage should include("quadratic")
  }

  // ---- Durbin–Watson ----

  test("durbinWatson matches the hand-computed statistic; perfect fit emits NULL") {
    import graft.functions.Profile
    val df = Seq(("g", 1L, 0.0), ("g", 2L, 1.0), ("g", 3L, 0.0), ("g", 4L, 1.0))
      .toDF("g", "x", "y")
    val r = Profile.durbinWatson(df, "g", "x", "y").collect().head
    // fit: b=0.2, a=0 → e = [-.2, .6, -.6, .2]; num=2.72, den=0.8
    r.getAs[Double]("dw") shouldBe 3.4 +- 1e-6
    val perfect = Seq(("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 3.0))
      .toDF("g", "x", "y")
    val rp = Profile.durbinWatson(perfect, "g", "x", "y").collect().head
    rp.isNullAt(rp.fieldIndex("dw")) shouldBe true // zero residual energy
  }

  // ---- incremental OPTIMIZE ----

  test("compactSmall rewrites only sub-threshold files; the big file carries by reference") {
    val table = freshTable()
    val big = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    TxTable.commit(big.coalesce(1), table, statsCols = Seq("id"))
    for (i <- 1 to 3) {
      TxTable.commit(Seq((10000L + i, s"w$i")).toDF("id", "s").coalesce(1),
        table, statsCols = Seq("id"))
    }
    val beforeFiles = TxTable.filesOf(spark, table, 4)
    val (v, nRw, nCar) = TxTable.compact(spark, table, minBytes = 4096)
    v shouldBe 5; nRw shouldBe 3; nCar shouldBe 1
    val after = TxTable.filesOf(spark, table, 5)
    // the big file is the SAME relative path (carried, not rewritten)
    beforeFiles.toSet.intersect(after.toSet).size shouldBe 1
    TxTable.read(spark, table).count() shouldBe 1003L
    // content-preserving: CDC skips the compact version entirely
    TxTable.changes(spark, table, 4, 5).count() shouldBe 0L
    // carried skipping stats survive for the big file
    val carried = beforeFiles.toSet.intersect(after.toSet).head
    TxTable.statsOf(spark, table, 5).exists(_._1 == carried) shouldBe true
    // no-op rule: a single small file gains nothing
    val t2 = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1), t2)
    val (v2, n2, _) = TxTable.compact(spark, t2, minBytes = 4096)
    v2 shouldBe 1; n2 shouldBe 0
  }

  // ---- cross-operator invariants ----

  test("logRank invariant: observed and expected deaths both sum to the pooled total") {
    // deterministic pseudo-random cohort data from a hash of the index
    val obs = (1 to 60).map { i =>
      val h = i * 2654435761L % 97
      (s"c${i % 3}", (h % 11) + 1, if (h % 4 == 0) 0 else 1)
    }.toDF("g", "t", "e")
    val rows = Behavior.logRank(obs, "g", "t", "e").collect()
    val groups = rows.filter(_.getAs[String]("section") == "group")
    val overall = rows.find(_.getAs[String]("section") == "overall").get
    groups.map(_.getAs[Long]("observed")).sum shouldBe overall.getAs[Long]("observed")
    // sum of E_g = total deaths (each event time contributes d_t * sum_g n_g/n_t = d_t)
    val sumE = groups.map(_.getAs[Double]("expected")).sum
    sumE shouldBe overall.getAs[Double]("expected") +- 1e-5
    sumE shouldBe overall.getAs[Long]("observed").toDouble +- 1e-5
  }

  test("hits invariant: hub and authority scores each L1-normalize to 1") {
    val edges = (1 to 40).map { i =>
      (i % 7 + 1L, 100L + (i * 13) % 11)
    }.toDF("c", "p")
    val out = Graph.hits(edges, "c", "p", iters = 2).collect()
    val hubs = out.filter(_.getString(0) == "hub").map(_.getAs[Double]("score")).sum
    val auths = out.filter(_.getString(0) == "authority").map(_.getAs[Double]("score")).sum
    hubs shouldBe 1.0 +- 1e-6
    auths shouldBe 1.0 +- 1e-6
  }

  test("bfsDistances invariant: adding a seed never increases any node's distance") {
    val pairs = (1 to 30).map(i => (i.toLong, (i * 7 % 30 + 1).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val s1 = Seq(Tuple1(1L)).toDF("node")
    val s2 = Seq(Tuple1(1L), Tuple1(15L)).toDF("node")
    val d1 = Graph.bfsDistances(pairs, "a", "b", s1, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val d2 = Graph.bfsDistances(pairs, "a", "b", s2, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    d1.foreach { case (n, d) => assert(d2.getOrElse(n, Int.MaxValue) <= d,
      s"node $n grew from $d to ${d2.get(n)}") }
  }

  test("mannKendall equals the driver-side brute-force S on a planted series") {
    import graft.functions.Profile
    val vals = (1 to 40).map(i => (i * 2654435761L % 17).toDouble)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("o", "v")
    val sRef = (for {
      i <- vals.indices; j <- vals.indices if i < j
    } yield math.signum(vals(j) - vals(i)).toLong).sum
    val r = Profile.mannKendall(df, "o", "v", unitScale = 1L).collect().head
    r.getAs[Long]("s_stat") shouldBe sRef
    r.getAs[Long]("n") shouldBe 40L
  }

  test("rfmSegments invariant: segment sizes partition the customer base") {
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val orders = (1 to 200).map { i =>
      (i % 37 + 1L, day0, (i * 2654435761L % 500).toDouble)
    }.toDF("cust", "odate", "amount")
    val segs = Behavior.rfmSegments(orders, "cust", "odate", "amount")
    segs.agg(sum("n_customers")).head.getLong(0) shouldBe 37L
    segs.collect().foreach { r =>
      r.getAs[Int]("r_score") should (be >= 1 and be <= 5)
      r.getAs[Int]("f_score") should (be >= 1 and be <= 5)
      r.getAs[Int]("m_score") should (be >= 1 and be <= 5)
    }
  }

  test("compactSmall on an evolved table keeps late-added columns through the re-bin") {
    val table = freshTable()
    TxTable.commit((1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .coalesce(1), table)
    TxTable.commitEvolve(Seq((9001L, "x", "t1")).toDF("id", "s", "tag"), table)
    TxTable.commit(Seq((9002L, "y", "t2")).toDF("id", "s", "tag"), table)
    val (v, nRw, nCar) = TxTable.compact(spark, table, minBytes = 4096)
    nRw shouldBe 2 // the two 1-row files
    nCar shouldBe 1
    val out = TxTable.readVersion(spark, table, v)
    out.columns.sorted shouldBe Array("id", "s", "tag")
    out.filter(col("tag").isNotNull).count() shouldBe 2L
    out.count() shouldBe 502L
  }

  // ---- JSON key profile ----

  test("jsonKeyProfile: fill rates, numeric shares, and distinct counts per key") {
    val df = Seq("""{"a": 1, "b": "x"}""", """{"a": 2.5}""",
      """{"b": "y", "c": true}""").toDF("j")
    val out = graft.functions.Quality.jsonKeyProfile(df, "j")
      .collect().map(r => r.getString(0) -> r).toMap
    out("a").getAs[Long]("n_present") shouldBe 2L
    out("a").getAs[Double]("present_rate") shouldBe (2.0 / 3) +- 1e-9
    out("a").getAs[Long]("n_numeric") shouldBe 2L
    out("a").getAs[Double]("numeric_rate") shouldBe 1.0 +- 1e-9
    out("a").getAs[Long]("n_distinct") shouldBe 2L
    out("b").getAs[Long]("n_numeric") shouldBe 0L
    out("c").getAs[Long]("n_present") shouldBe 1L
    out("c").getAs[Long]("n_numeric") shouldBe 0L // "true" is not numeric
  }

  test("commitIdempotent: losing the version race to the SAME batch reports already-applied") {
    val table = freshTable()
    val b0 = Seq((1L, "a")).toDF("id", "s")
    TxTable.commitIdempotent(b0, table, "app", 0L)
    // competitor published v2 carrying OUR (app, batch=1) marker while
    // we were between scan and publish: simulate by pre-writing v2
    val fw = new java.io.FileWriter(s"$table/_manifests/v2.json")
    fw.write("""{"version":2,"op":"append","commit_ms":9,"txn":{"app":"app","batch":1},"n_files":0,"files":[]}""")
    fw.close()
    val (v, applied) = TxTable.commitIdempotent(
      Seq((9L, "z")).toDF("id", "s"), table, "app", 1L)
    v shouldBe 2
    applied shouldBe false
  }
}
