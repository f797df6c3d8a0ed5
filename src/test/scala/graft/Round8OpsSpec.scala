package graft

import org.apache.spark.sql.functions._

import graft.functions.{Profile, Quality}
import graft.sources.TxTable

/** Round-8 fixes and additions: empty-snapshot reads, skipping-stat
  * widening for >2^53 longs, the pettitt size guard, definite quality
  * verdicts on all-NULL columns.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_tx_r8_").toString + "/t"

  test("delete-all commits a readable EMPTY snapshot with the recorded schema; appends resume against it") {
    val table = freshTable()
    val a = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    TxTable.commit(a, table, statsCols = Seq("id")) shouldBe 1
    // range covers every row of every candidate file → zero survivors
    val (v, rewritten, carried) = TxTable.deleteWhere(spark, table, col("id").between(0.0, 100.0))
    v shouldBe 2
    carried shouldBe 0
    val empty = TxTable.read(spark, table)
    empty.count() shouldBe 0L
    empty.schema.fieldNames.toSeq shouldBe Seq("id", "s")
    // history / changes still resolve across the empty state
    TxTable.changes(spark, table, 1, 2).filter(col("_change") === "delete")
      .count() shouldBe 3L
    // the append schema gate holds against the EMPTY parent's recorded schema
    val bad = Seq((9, 1.0)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] { TxTable.commit(bad, table) }
    e.getMessage should include("append schema mismatch")
    // a compatible append resumes the table from empty
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table) shouldBe 3
    TxTable.read(spark, table).collect().map(_.getLong(0)) shouldBe Seq(9L)
  }

  test("skipping stats on BIGINT beyond 2^53 widen OUTWARD — pruning never skips a file with in-range rows") {
    val table = freshTable()
    val big = (1L << 53) + 3L // not exactly representable as double
    val df = Seq(big, big + 10L).toDF("id")
    TxTable.commit(df, table, statsCols = Seq("id"))
    val st = TxTable.statsOf(spark, table, 1)
    st should not be empty
    val lo = st.map(_._3).min
    val hi = st.map(_._4).max
    // recorded bounds must bracket the true values as doubles
    assert(lo <= big.toDouble && lo < big.toDouble + 1,
      s"lo=$lo must sit at/under the true min $big")
    assert(hi >= (big + 10L).toDouble)
    // a point query at the true min must keep its file and return the
    // row — with inward-rounded stats the file was silently skipped
    TxTable.keptFiles(spark, table, 1,
      col("id").between(big.toDouble, big.toDouble)) should not be empty
    TxTable.scan(spark, table, col("id").between(big.toDouble, big.toDouble))
      .collect().map(_.getLong(0)) shouldBe Array(big)
  }

  test("pettitt refuses a series above maxRows in-plan and passes unchanged under budget") {
    val series = (1 to 30).map(i => (i, if (i <= 15) 1.0 else 5.0)).toDF("day", "m")
    // under budget: normal result
    val ok = Profile.pettitt(series, "day", "m", maxRows = 100L).collect().head
    ok.getAs[Long]("n") shouldBe 30L
    // over budget: the in-plan raise_error fires at materialization
    val e = intercept[Exception] {
      Profile.pettitt(series, "day", "m", maxRows = 10L).collect()
    }
    e.getMessage should include("collapse to calendar cells")
  }

  test("sessionizeBatchBucketed ≡ sessionizeBatch at ANY bucket width, including widths below the gap") {
    val rnd = new scala.util.Random(11)
    // a planted hot key (0) with dense events + sparse keys, repeated
    // timestamps to exercise the tie order
    val rows = (1 to 400).map { i =>
      val key = if (i % 3 == 0) 0L else (i % 7).toLong
      (key, (rnd.nextInt(500) * 10).toLong, i.toLong)
    }
    val ev = rows.toDF("k", "t", "eid")
    val plain = canon(operators.Behavior.sessionizeBatch(ev, "k", "t",
      gapUs = 50L, tieCols = Seq("eid")))
    for (width <- Seq(1L, 7L, 60L, 1000L, 1000000L)) {
      val bucketed = canon(operators.Behavior.sessionizeBatchBucketed(ev, "k", "t",
        gapUs = 50L, bucketWidth = width, tieCols = Seq("eid")))
      withClue(s"bucketWidth=$width: ") { bucketed shouldBe plain }
    }
    // hot-key spread measurement: at a sub-range bucket width the hot
    // key's rows land in MANY window partitions, so no task ever sorts
    // its full history
    val t = col("t").cast("long")
    val spread = ev.filter(col("k") === 0L)
      .select(((t - pmod(t, lit(60L))) / 60L).cast("long").as("b"))
      .agg(countDistinct(col("b"))).collect().head.getLong(0)
    spread should be > 10L
  }

  test("pageRankWeighted on unit weights matches pageRank within one quantization ulp per edge") {
    val rnd = new scala.util.Random(5)
    val pairs0 = (1 to 60).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(p => p._1 != p._2).distinct
    val pairs = pairs0.map(p => (p._1, p._2, 1.0)).toDF("a", "b", "w")
    val plain = operators.Graph.pageRank(pairs, "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val weighted = operators.Graph.pageRankWeighted(pairs, "a", "b", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    weighted.keySet shouldBe plain.keySet
    for ((n, pr) <- plain)
      withClue(s"node $n: ") { weighted(n) shouldBe pr +- 1e-9 }
    // and weights actually matter: skewing one edge's weight moves rank
    // toward its endpoint
    val skewed = pairs0.map(p => (p._1, p._2,
      if (p == pairs0.head) 100.0 else 0.01)).toDF("a", "b", "w")
    val sk = operators.Graph.pageRankWeighted(skewed, "a", "b", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val favored = pairs0.head._2
    sk(favored) should be > plain(favored)
  }

  test("personalizedPageRankWeighted on unit weights matches personalizedPageRank") {
    val rnd = new scala.util.Random(9)
    val pairs0 = (1 to 60).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(p => p._1 != p._2).distinct
    val pairs = pairs0.map(p => (p._1, p._2, 1.0)).toDF("a", "b", "w")
    val seeds = Seq(1L, 2L, 3L).toDF("node")
    val plain = operators.Graph.personalizedPageRank(pairs, "a", "b", seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val weighted = operators.Graph.personalizedPageRankWeighted(
        pairs, "a", "b", "w", seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    weighted.keySet shouldBe plain.keySet
    for ((n, pr) <- plain)
      withClue(s"node $n: ") { weighted(n) shouldBe pr +- 1e-9 }
  }

  test("ivfPqTopK at nprobe = ncells degenerates to exactly pqTopK (full ADC scan)") {
    val rnd = new scala.util.Random(3)
    val vecs = (1L to 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") <= 3)
    val full = canon(operators.Similarity.pqTopK(vecs, queries, k = 5, m = 4, ksub = 8))
    val ivfpq = canon(operators.Similarity.ivfPqTopK(vecs, queries, k = 5,
      ncells = 4, nprobe = 4, m = 4, ksub = 8))
    ivfpq shouldBe full
  }

  test("commitChecked publishes a clean frame and REFUSES a violating one with the head untouched") {
    val table = freshTable()
    val clean = Seq((1L, 5.0), (2L, 7.0)).toDF("id", "v")
    val checks = Seq[Quality.Check](
      Quality.Completeness("id"), Quality.Uniqueness("id"), Quality.NonNegative("v"))
    TxTable.commitChecked(clean, table, checks) shouldBe 1
    // a duplicate key + a negative value: the commit must refuse and
    // leave version 1 as the head (nothing written, nothing published)
    val dirty = Seq((2L, -1.0), (2L, 3.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      TxTable.commitChecked(dirty, table, checks)
    }
    e.getMessage should include("constraint(s) failed")
    e.getMessage should include("uniqueness")
    e.getMessage should include("non_negative")
    TxTable.currentVersion(spark, table) shouldBe 1
    TxTable.read(spark, table).count() shouldBe 2L
  }

  test("tx-changes maxVersionsPerTrigger throttles replay to one version per micro-batch") {
    import graft.sources.{TxChangesStream, TxTable}
    val table = java.nio.file.Files.createTempDirectory("graft_txthr_").toString + "/t"
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table) shouldBe 2
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 3
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
    val q = TxChangesStream.readChangesStream(spark, table, maxVersionsPerTrigger = Some(1))
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_txthr_ckpt_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_version").collect().map(_.getInt(0)).toSet
        if (vs.nonEmpty) batches.add(vs); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    // three commits → three micro-batches of exactly one version each
    batches.asScala.toSeq shouldBe Seq(Set(1), Set(2), Set(3))
  }

  test("louvainMove matches a driver-simulated synchronous local-move with the exact integer gain rule") {
    val cliqueA = for (a <- 1 to 5; b <- (a + 1) to 5) yield (a.toLong, b.toLong)
    val cliqueB = for (a <- 11 to 15; b <- (a + 1) to 15) yield (a.toLong, b.toLong)
    val pairsSeq = cliqueA ++ cliqueB ++ Seq((5L, 11L))
    val pairs = pairsSeq.toDF("a", "b")
    for (rounds <- 1 to 3) {
      val got = operators.Graph.louvainMove(pairs, "a", "b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver reference: identical sync rule — score = 2m·e_ic − k_i·d'_c,
      // argmax ties to the smallest community id, own community always a candidate
      val es = (pairsSeq ++ pairsSeq.map(p => (p._2, p._1))).distinct
      val deg = es.groupBy(_._1).map { case (n, l) => n -> l.size.toLong }
      val m2 = es.size.toLong
      var lab: Map[Long, Long] = deg.keys.map(n => n -> n).toMap
      for (_ <- 0 until rounds) {
        val dtot = lab.groupBy(_._2).map { case (c, ns) => c -> ns.keys.map(deg).sum }
        lab = lab.keys.map { i =>
          val links = es.filter(_._1 == i).groupBy(e => lab(e._2))
            .map { case (c, l) => c -> l.size.toLong }
          val cands = (links.keySet + lab(i)).toSeq.sorted
          val best = cands.map { c =>
            val e = links.getOrElse(c, 0L)
            val dp = dtot(c) - (if (lab(i) == c) deg(i) else 0L)
            (BigInt(m2) * e - BigInt(deg(i)) * dp, c)
          }.maxBy { case (s, c) => (s, -c) }
          i -> best._2
        }.toMap
      }
      withClue(s"rounds=$rounds: ") { got shouldBe lab }
    }
  }

  test("kCenterCoreset matches a driver-simulated farthest-first traversal") {
    val rnd = new scala.util.Random(17)
    val vecs = (1L to 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = operators.Similarity.kCenterCoreset(df, k = 5, idCol = "vec_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // driver reference: same md5 seed rule, same sequential-accumulation
    // cosine, same (mind desc, id) argmax
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    var centers = List(vecs.map { case (i, _) => (md5hex(i.toString), i) }.min._2)
    var mind = vecs.map { case (i, v) => i -> (1.0 - cos(v, byId(centers.head))) }.toMap
    for (_ <- 2 to 5) {
      val next = mind.toSeq.maxBy { case (i, d) => (d, -i) }._1
      centers = next :: centers
      mind = mind.map { case (i, d) => i -> math.min(d, 1.0 - cos(byId(i), byId(next))) }
    }
    got.map(_._2) shouldBe centers.reverse
  }

  test("bloom file skipping: no false negatives for present keys; absent keys prune without losing rows") {
    val table = freshTable()
    val rows = (1L to 200L).map(i => (i, s"p$i"))
    // hash-scattered across 8 files: every file's [min,max] spans the
    // domain, so only MEMBERSHIP can prune
    TxTable.commit(rows.toDF("id", "payload").repartition(8, col("id")),
      table, bloomCols = Seq("id"))
    val nFiles = TxTable.filesOf(spark, table, 1).size
    nFiles shouldBe 8
    for (key <- Seq(1L, 77L, 200L)) {
      val kept = TxTable.keptFiles(spark, table, 1, col("id").cast("string") === key.toString)
      kept.size should be >= 1
      val got = TxTable.readWhereKey(spark, table, "id", key.toString).collect()
      got.map(_.getLong(0)).toSeq shouldBe Seq(key)
    }
    // absent keys: never any rows; pruning strictly beats reading all
    // files across a probe set (some probes may false-positive a file,
    // but the total kept must be far below 8 per probe on average)
    val probes = (1001L to 1020L).map(_.toString)
    val keptTotal =
      probes.map(k => TxTable.keptFiles(spark, table, 1, col("id").cast("string") === k).size).sum
    probes.foreach(k => TxTable.readWhereKey(spark, table, "id", k).count() shouldBe 0L)
    assert(keptTotal < probes.size * nFiles / 2,
      s"bloom pruned almost nothing: kept $keptTotal of ${probes.size * nFiles}")
  }

  test("friedman matches a hand-computed reference, with a tie and an incomplete block dropped") {
    // 3 treatments × 3 complete blocks (+1 incomplete block that must drop)
    // block 1: a=1.0 b=2.0 c=3.0       -> ranks 1,2,3
    // block 2: a=1.0 b=3.0 c=2.0       -> ranks 1,3,2
    // block 3: a=2.0 b=2.0 c=5.0       -> a,b tie at 1.5; c=3
    // block 4: a only (incomplete)     -> dropped
    val df = Seq(
      (1L, "a", 1.0), (1L, "b", 2.0), (1L, "c", 3.0),
      (2L, "a", 1.0), (2L, "b", 3.0), (2L, "c", 2.0),
      (3L, "a", 2.0), (3L, "b", 2.0), (3L, "c", 5.0),
      (4L, "a", 9.0)).toDF("blk", "treat", "v")
    val out = Profile.friedman(df, "blk", "treat", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    out("a").getAs[Long]("n_blocks") shouldBe 3L
    // R_a = 1+1+1.5 = 3.5 ; R_b = 2+3+1.5 = 6.5 ; R_c = 3+2+3 = 8
    out("a").getAs[Double]("mean_rank") shouldBe (3.5 / 3) +- 1e-9
    out("b").getAs[Double]("mean_rank") shouldBe (6.5 / 3) +- 1e-9
    out("c").getAs[Double]("mean_rank") shouldBe (8.0 / 3) +- 1e-9
    // chi2 = 12/(3*3*4) * (3.5^2 + 6.5^2 + 8^2) - 3*3*4 = 118.5/3 - 36
    val expect = 12.0 / 36.0 * (3.5 * 3.5 + 6.5 * 6.5 + 8.0 * 8.0) - 36.0
    out("a").getAs[Double]("chi2_f") shouldBe expect +- 1e-6
    out("a").getAs[Int]("df") shouldBe 2
    // duplicate cells refuse in-plan
    // the dup sits inside a COMPLETE block (distinct treatments = k)
    val dup = Seq((1L, "a", 1.0), (1L, "a", 2.0), (1L, "b", 3.0),
      (2L, "a", 1.0), (2L, "b", 2.0)).toDF("blk", "treat", "v")
    val e = intercept[Exception] { Profile.friedman(dup, "blk", "treat", "v").collect() }
    e.getMessage should include("collapse to one row per cell")
  }

  test("cochranArmitage matches a hand-computed trend test") {
    // s=0: 1/4 successes; s=1: 2/4; s=2: 3/4 — a clean monotone trend
    val rows = Seq.fill(3)((0L, 0L)) ++ Seq((0L, 1L)) ++
      Seq.fill(2)((1L, 0L)) ++ Seq.fill(2)((1L, 1L)) ++
      Seq((2L, 0L)) ++ Seq.fill(3)((2L, 1L))
    val out = graft.functions.Eval.cochranArmitage(
      rows.toDF("s", "y"), "s", "y").collect().head
    out.getAs[Long]("n") shouldBe 12L
    out.getAs[Long]("r") shouldBe 6L
    // T = 8 − (6/12)·12 = 2 ; Var = ¼·(20 − 12²/12) = 2 ; z = √2
    out.getAs[Double]("t_stat") shouldBe 2.0 +- 1e-9
    out.getAs[Double]("var_t") shouldBe 2.0 +- 1e-9
    out.getAs[Double]("z") shouldBe math.sqrt(2.0) +- 1e-6
    // degenerate: all successes → NULL z
    val degen = graft.functions.Eval.cochranArmitage(
      Seq((0L, 1L), (1L, 1L)).toDF("s", "y"), "s", "y").collect().head
    degen.isNullAt(degen.fieldIndex("z")) shouldBe true
  }

  test("bartlett matches a hand-computed variance-equality test; zero-variance cells refuse to NULL") {
    // g1 = {1,2,3}: S² = 1 ; g2 = {2,4,6,8}: S² = 20/3
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0)).toDF("g", "v")
    val out = graft.functions.Eval.bartlett(df, "g", "v").collect().head
    out.getAs[Int]("k") shouldBe 2
    out.getAs[Long]("n") shouldBe 7L
    val sp2 = 22.0 / 5.0
    val numRef = 5.0 * math.log(sp2) - 3.0 * math.log(20.0 / 3.0)
    val c = 1.0 + ((1.0 / 2.0 + 1.0 / 3.0) - 1.0 / 5.0) / 3.0
    out.getAs[Double]("chi2_bartlett") shouldBe (numRef / c) +- 1e-5
    out.getAs[Int]("df") shouldBe 1
    // a constant group (zero variance): ln undefined → NULL verdict
    val degen = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val d2 = graft.functions.Eval.bartlett(degen, "g", "v").collect().head
    d2.isNullAt(d2.fieldIndex("chi2_bartlett")) shouldBe true
  }

  test("Quality.audit min/max bounds on an all-NULL column verdict a DEFINITE fail, not NULL") {
    val df = Seq((1L, None: Option[Double]), (2L, None))
      .toDF("id", "v")
    val out = Quality.audit(df, Seq(
        Quality.MinBound("v", 0.0), Quality.MaxBound("v", 10.0)))
      .collect()
    out.length shouldBe 2
    for (r <- out) {
      r.isNullAt(r.fieldIndex("metric")) shouldBe true // surfaced, not invented
      r.getAs[Boolean]("passed") shouldBe false        // but the verdict is definite
    }
  }
}
