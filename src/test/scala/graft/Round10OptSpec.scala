package graft

import org.apache.spark.sql.functions._

import graft.operators.{BloomJoin, Graph}

/** Optimization-round specs: the adaptive local small-graph path must
  * be row-for-row identical to the distributed peel/wedge rounds it
  * replaces (the Dedup.components property-equality contract), and
  * BloomJoin's auto-sizing must not change join results.
  */
class Round10OptSpec extends SparkSpec {
  import spark.implicits._

  private def randomPairs(seed: Int, nNodes: Int, nEdges: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to nEdges).map { _ =>
      (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
    }.toDF("a", "b")
  }

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "∅" else v.toString)
      .mkString("|")).sorted.toSeq

  private def bothPaths(op: => org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[String]) =
    (canonRows(op), withDriverRows(0)(canonRows(op)))

  test("local triangleCounts equals the distributed wedge plan (schema + rows)") {
    for (seed <- 1 to 3) {
      val pairs = randomPairs(seed, 40, 160)
      val (local, dist) = bothPaths(Graph.triangleCounts(pairs, "a", "b"))
      local shouldBe dist
    }
    // schema identity (names + types) on one instance of each path
    val pairs = randomPairs(9, 20, 60)
    val sLocal = Graph.triangleCounts(pairs, "a", "b").schema
    val sDist = withDriverRows(0)(Graph.triangleCounts(pairs, "a", "b").schema)
    sLocal.map(f => (f.name, f.dataType)) shouldBe sDist.map(f => (f.name, f.dataType))
  }

  test("local clusteringCoefficient equals the distributed plan incl. NULL cc and rounding") {
    for (seed <- 4 to 6) {
      val pairs = randomPairs(seed, 30, 120)
      val (local, dist) = bothPaths(Graph.clusteringCoefficient(pairs, "a", "b"))
      local shouldBe dist
    }
  }

  test("local kTruss equals the distributed peel (support values, empty truss)") {
    for ((seed, k) <- Seq((7, 3), (8, 4), (9, 5))) {
      val pairs = randomPairs(seed, 25, 140)
      val (local, dist) = bothPaths(Graph.kTruss(pairs, "a", "b", k))
      local shouldBe dist
    }
    // triangle-free graph: both paths empty with the same schema
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val (local, dist) = bothPaths(Graph.kTruss(path, "a", "b", k = 3))
    local shouldBe empty
    dist shouldBe empty
  }

  test("local kCore equals the distributed peel") {
    for ((seed, k) <- Seq((10, 2), (11, 3), (12, 4))) {
      val pairs = randomPairs(seed, 30, 150)
      val (local, dist) = bothPaths(Graph.kCore(pairs, "a", "b", k))
      local shouldBe dist
    }
  }

  test("local pageRank / weighted / personalized variants are bit-identical to distributed") {
    for (seed <- 13 to 14) {
      val pairs = randomPairs(seed, 30, 120)
        .withColumn("w", (col("a") * 7 + col("b") * 3) % 100 / lit(100.0) + 0.01)
      val seeds = (1L to 5L).toDF("vec")
      val (l1, d1) = bothPaths(Graph.pageRank(pairs, "a", "b", iters = 3))
      l1 shouldBe d1
      val (l2, d2) = bothPaths(Graph.pageRankWeighted(pairs, "a", "b", "w", iters = 3))
      l2 shouldBe d2
      val (l3, d3) = bothPaths(Graph.personalizedPageRank(pairs, "a", "b", seeds, iters = 3))
      l3 shouldBe d3
      val (l4, d4) = bothPaths(
        Graph.personalizedPageRankWeighted(pairs, "a", "b", "w", seeds, iters = 3))
      l4 shouldBe d4
    }
  }

  test("local hits is bit-identical to distributed incl. the 1e-9 rounding") {
    for (seed <- 15 to 16) {
      val edges = randomPairs(seed, 25, 100).toDF("s", "d")
      val (l, di) = bothPaths(Graph.hits(edges, "s", "d", iters = 2))
      l shouldBe di
    }
  }

  test("local labelPropagation / bfsDistances equal the distributed rounds") {
    for (seed <- 17 to 18) {
      val pairs = randomPairs(seed, 30, 100)
      val seeds = Seq(1L, 4L, 9L).toDF("n")
      val (l1, d1) = bothPaths(Graph.labelPropagation(pairs, "a", "b", iters = 2))
      l1 shouldBe d1
      val (l2, d2) = bothPaths(Graph.bfsDistances(pairs, "a", "b", seeds, maxDepth = 3))
      l2 shouldBe d2
    }
  }

  test("local modularity equals the distributed community aggs incl. unlabeled fallback") {
    for (seed <- 31 to 33) {
      val pairs = randomPairs(seed, 30, 120)
      // labels cover only part of the graph (unlabeled → N: singleton
      // fallback) and community ids overlap node ids (the L:/N: tag case)
      val labels = (0 until 20).map(n => (n.toLong, (n % 5).toLong))
        .toDF("node", "community")
      val (l, d) = bothPaths(Graph.modularity(pairs, "a", "b", labels))
      l shouldBe d
    }
  }

  test("local assortativity equals the distributed moment sums incl. NULL on degenerate") {
    for (seed <- 41 to 43) {
      val pairs = randomPairs(seed, 30, 110)
      val (l, d) = bothPaths(Graph.assortativity(pairs, "a", "b"))
      l shouldBe d
    }
    // degenerate: a single edge — both denominators 0 → NULL both paths
    val one = Seq((1L, 2L)).toDF("a", "b")
    val (l1, d1) = bothPaths(Graph.assortativity(one, "a", "b"))
    l1 shouldBe d1
  }

  test("modularity with duplicate label rows falls back to the distributed fan-out") {
    // a node with two label rows fans the distributed joins out (degree
    // counted once per label row) — the local map cannot mirror that,
    // so the gate must NOT take the local path; both settings must
    // agree because both run the distributed aggs
    val pairs = randomPairs(51, 20, 60)
    val labels = ((0 until 15).map(n => (n.toLong, (n % 4).toLong)) :+ ((3L, 9L)))
      .toDF("node", "community")
    val (l, d) = bothPaths(Graph.modularity(pairs, "a", "b", labels))
    l shouldBe d
  }

  test("assortativity with NULL endpoints falls back to the distributed join semantics") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (null, 4L), (4L, 5L))
      .toDF("a", "b")
    val (l, d) = bothPaths(Graph.assortativity(pairs, "a", "b"))
    l shouldBe d
  }

  test("local louvainMove equals the distributed gain argmax") {
    for (seed <- 21 to 23) {
      val pairs = randomPairs(seed, 25, 110)
      val (l, d) = bothPaths(Graph.louvainMove(pairs, "a", "b", rounds = 2))
      l shouldBe d
    }
  }

  test("local jaccard/RA link prediction equal the distributed wedge joins") {
    for (seed <- 19 to 20) {
      val pairs = randomPairs(seed, 25, 90)
      val (l1, d1) = bothPaths(Graph.jaccardLinkPrediction(pairs, "a", "b"))
      l1 shouldBe d1
      val (l2, d2) = bothPaths(Graph.raLinkPrediction(pairs, "a", "b"))
      l2 shouldBe d2
      // maxDeg gate must match too (hubs excluded as common neighbors)
      val (l3, d3) = bothPaths(Graph.jaccardLinkPrediction(pairs, "a", "b", maxDeg = 4))
      l3 shouldBe d3
      val (l4, d4) = bothPaths(Graph.raLinkPrediction(pairs, "a", "b", maxDeg = 4))
      l4 shouldBe d4
    }
  }

  test("every gated kernel answers NULL-endpoint pairs identically at both gates") {
    // NULL endpoints (an upstream outer join) are defined by the
    // distributed joins; the local mirror cannot key a NULL, so the
    // switch falls back instead of failing on the collected rows
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L), (2L, 4L),
      (null, 4L), (2L, null), (null, null))
      .toDF("a", "b").withColumn("w", (coalesce(col("a"), lit(7L)) % 3 + 1) / lit(4.0))
    val seeds = Seq(1L, 4L).toDF("n")
    val labels = (1L to 5L).map(n => (n, n % 2)).toDF("node", "community")
    val kernels: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(pairs, "a", "b")),
      "pageRankWeighted" -> (() => Graph.pageRankWeighted(pairs, "a", "b", "w")),
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(pairs, "a", "b", seeds)),
      "personalizedPageRankWeighted" ->
        (() => Graph.personalizedPageRankWeighted(pairs, "a", "b", "w", seeds)),
      "kCore" -> (() => Graph.kCore(pairs, "a", "b", 2)),
      "triangleCounts" -> (() => Graph.triangleCounts(pairs, "a", "b")),
      "clusteringCoefficient" -> (() => Graph.clusteringCoefficient(pairs, "a", "b")),
      "raLinkPrediction" -> (() => Graph.raLinkPrediction(pairs, "a", "b")),
      "labelPropagation" -> (() => Graph.labelPropagation(pairs, "a", "b")),
      "louvainMove" -> (() => Graph.louvainMove(pairs, "a", "b")),
      "modularity" -> (() => Graph.modularity(pairs, "a", "b", labels)),
      "jaccardLinkPrediction" -> (() => Graph.jaccardLinkPrediction(pairs, "a", "b")),
      "assortativity" -> (() => Graph.assortativity(pairs, "a", "b")),
      "hits" -> (() => Graph.hits(pairs, "a", "b")),
      "bfsDistances" -> (() => Graph.bfsDistances(pairs, "a", "b", seeds)),
      "kTruss" -> (() => Graph.kTruss(pairs, "a", "b", 3)))
    for ((name, op) <- kernels) withClue(s"$name: ") {
      val (l, d) = bothPaths(op())
      l shouldBe d
    }
    // a NULL seed id over NULL-free pairs: the local path runs and drops
    // the seed, as the distributed left-semi join does
    val clean = pairs.na.drop(Seq("a", "b"))
    val nullSeed = Seq[java.lang.Long](1L, null).toDF("n")
    val (l, d) = bothPaths(Graph.bfsDistances(clean, "a", "b", nullSeed))
    l shouldBe d
    l should not be empty
  }

  test("commitSlices equals N sequential coalesce(1) commits (versions, rows, stats, files)") {
    import graft.sources.TxTable
    val df = (1L to 400L).map(i => (i, i * 1.5)).toDF("k", "v")
    val seqT = "/tmp/graft_r10opt_seq"
    val slcT = "/tmp/graft_r10opt_slc"
    TxTable.drop(spark, seqT); TxTable.drop(spark, slcT)
    for (i <- 0 until 5)
      TxTable.commit(df.filter(col("k") % 5 === i).coalesce(1), seqT,
        statsCols = Seq("k"))
    val vs = TxTable.commitSlices(df, slcT, col("k") % 5, 5, statsCols = Seq("k"))
    vs shouldBe Seq(1, 2, 3, 4, 5)
    TxTable.currentVersion(spark, seqT) shouldBe TxTable.currentVersion(spark, slcT)
    for (v <- 1 to 5) {
      canonRows(TxTable.readVersion(spark, seqT, v)) shouldBe
        canonRows(TxTable.readVersion(spark, slcT, v))
      // same per-version file count (one per slice) and identical stats
      TxTable.filesOf(spark, slcT, v).size shouldBe TxTable.filesOf(spark, seqT, v).size
      TxTable.statsOf(spark, seqT, v).map { case (_, c, lo, hi) => (c, lo, hi) }.sorted shouldBe
        TxTable.statsOf(spark, slcT, v).map { case (_, c, lo, hi) => (c, lo, hi) }.sorted
    }
    // payloadCols: slice by a column excluded from the committed payload
    val slcP = "/tmp/graft_r10opt_slcp"
    TxTable.drop(spark, slcP)
    val df3 = df.withColumn("p", (col("k") % 3).cast("int"))
    TxTable.commitSlices(df3, slcP, col("p"), 3, payloadCols = Seq("k", "v"))
    TxTable.read(spark, slcP).columns.toSeq shouldBe Seq("k", "v")
    // append snapshots are cumulative: v2 = slices 0 and 1
    canonRows(TxTable.readVersion(spark, slcP, 2)) shouldBe
      canonRows(df3.filter(col("p") <= 1).select("k", "v"))
  }

  test("bloomFilteredJoin auto-sizing (default) equals an explicitly sized filter") {
    val fact = (1L to 2000L).map(i => (i % 97, i)).toDF("k", "x")
    val dim = (0L to 11L).map(k => (k, s"d$k")).toDF("k", "name")
    val auto = canonRows(BloomJoin.bloomFilteredJoin(fact, dim, Seq("k")))
    val sized = canonRows(BloomJoin.bloomFilteredJoin(fact, dim, Seq("k"),
      expectedDimKeys = 12L))
    val plain = canonRows(fact.join(dim, Seq("k")))
    auto shouldBe plain
    sized shouldBe plain
  }
}
