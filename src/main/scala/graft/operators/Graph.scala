package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.core.Sizing

/** Iterative graph computation done Spark-relational: PageRank as
  * repeated join + partial-agg rounds over an edge list — the
  * importance/centrality pass over a similarity graph (which documents
  * anchor a near-dup neighborhood; which get sampled as cluster
  * exemplars). Complements [[Dedup.components]] (reachability): same
  * pair-list-sized shuffles, no GraphX dependency. Every gated kernel
  * keeps its distributed plan as the path that scales; a derived graph
  * small enough for the driver takes an exact driver-local mirror
  * instead, chosen in ONE place (`localRows`).
  */
object Graph {

  // -----------------------------------------------------------------
  // Exact local small-graph fast path (the Dedup.components adaptive
  // union-find precedent, generalized to the integer graph kernels).
  //
  // Every operator below consumes a DERIVED pair list (bucket-capped
  // candidate pairs) that is orders of magnitude smaller than the
  // corpus. When that list fits the driver budget ([[graft.core.Sizing]]),
  // the distributed peel/wedge rounds are pure scheduling overhead: at
  // sf0.1, kTruss ran 108 jobs (~30 peel rounds × 3-4 actions) and
  // triangleCounts 57 jobs/1205 tasks for an 11k-edge graph a single
  // core closes in milliseconds. The kernels are integer fixpoints
  // (counts, supports, peels) with at most one mirrored double
  // expression at the very end, so the local form reproduces the
  // distributed outputs EXACTLY (property-tested both ways). For
  // non-LONG ids or a NULL endpoint the distributed rounds run
  // unchanged. Each kernel gates on the row count it actually collects
  // (symmetrized for the wedge kernels, canonical undirected for
  // modularity and kTruss). Integer arithmetic stays exact at the
  // default budget — louvain's largest products (m2·e_ic ≤ budget²)
  // are long-exact up to a ~3e9 budget; assortativity's cubic moment
  // sums bind FIRST and that kernel caps its own local path at 3e6
  // whatever the budget.
  // -----------------------------------------------------------------

  /** The one driver-or-cluster switch of the pair-list kernels (here
    * and [[Dedup.components]]): the collected rows of `edges` when the
    * exact local mirror may run, None to run the distributed plan.
    * Local needs LONG `aCol`/`bCol` in `ids`, the row count `n` within
    * the driver budget and within `cap` (lowered by a kernel whose
    * local arithmetic has a tighter exactness bound; `n` is evaluated
    * only after the type check passes and while the budget is open, so
    * a closed budget issues no count), and no NULL in any collected
    * row: the distributed joins define what a NULL endpoint means, and
    * a map keyed on Long cannot mirror it.
    */
  private[operators] def localRows(ids: DataFrame, aCol: String, bCol: String,
                                   edges: DataFrame, n: => Long,
                                   cap: Long = Long.MaxValue): Option[Array[Row]] = {
    lazy val rows = n
    if (!longCols(ids, aCol, bCol) || !Sizing.fits(ids.sparkSession, rows) || rows > cap) None
    else Some(edges.collect()).filterNot(_.exists(_.anyNull))
  }

  /** [[localRows]] of a (src, dst) edge list, as id pairs. */
  private def localPairs(ids: DataFrame, aCol: String, bCol: String, edges: DataFrame,
                         n: => Long, cap: Long = Long.MaxValue): Option[Array[(Long, Long)]] =
    localRows(ids, aCol, bCol, edges, n, cap).map(_.map(r => (r.getLong(0), r.getLong(1))))

  private def longCols(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType == LongType)

  /** Both orientations of every pair as (src, dst), duplicates kept. */
  private def bothWays(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))

  /** The symmetrized edge list: distinct (src, dst) in both
    * orientations. Persisted like components' pair list — it is the
    * small derived artifact, read by degrees, joins, rounds and the
    * gate count; without the persist each reference re-runs the full
    * upstream candidate pipeline. Callers unpersist.
    */
  private def symEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    bothWays(pairs, aCol, bCol).distinct().persist(StorageLevel.MEMORY_AND_DISK)

  /** (src, deg): the out-degree of every source of a (src, dst) list. */
  private def degreeFrame(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("deg"))

  /** Local out-degree of every source of an edge array. */
  private def degrees(es: Array[(Long, Long)]): java.util.HashMap[Long, Long] = {
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (s, _) => deg.merge(s, 1L, _ + _) }
    deg
  }

  /** Local adjacency lists of the edges `keep` accepts, in edge order. */
  private def adjacency(es: Array[(Long, Long)])(keep: (Long, Long) => Boolean)
      : java.util.HashMap[Long, ArrayBuffer[Long]] = {
    val adj = new java.util.HashMap[Long, ArrayBuffer[Long]]()
    es.foreach { case (s, d) =>
      if (keep(s, d)) adj.computeIfAbsent(s, _ => ArrayBuffer.empty[Long]) += d
    }
    adj
  }

  /** A driver-side result as a frame with the given column names. */
  private def localFrame[T <: Product : TypeTag](spark: SparkSession, rows: Seq[T],
                                                 names: String*): DataFrame = {
    import spark.implicits._
    rows.toDF(names: _*)
  }

  /** Spark's own round(x, 9) on a double: shortest-repr BigDecimal,
    * HALF_UP at scale 9.
    */
  private def round9(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(9, RoundingMode.HALF_UP).doubleValue()

  /** A rank kernel's per-edge quantisation, one definition per path:
    * `edge` is the contribution column over the round's (pr, deg) or
    * (pr, wq, wtot) and `local(pr, wq, total)` its exact driver-side
    * twin (wq = 1 on unweighted edges); `mass` / `localMass` turn a
    * node's quantum sum back into double rank mass.
    */
  private final case class Quantum(edge: Column, local: (Double, Long, Long) => JBigDecimal,
                                   mass: Column => Column, localMass: JBigDecimal => Double)

  /** floor(pr·wq/Wq·10¹⁵ + ½) integer quanta: the weighted kernels'. */
  private def weightQuantum: Quantum = Quantum(
    floor(col("pr") * col("wq") / col("wtot") * lit(1e15) + lit(0.5)).cast("decimal(38,0)"),
    (pr, wq, wt) => JBigDecimal.valueOf(math.floor(pr * wq.toDouble / wt.toDouble * 1e15 + 0.5)),
    _ / lit(1e15), _.doubleValue() / 1e15)

  /** The rank loop of the four PageRank kernels, on both paths.
    * `edges` is (src, dst) or (src, dst, wq) and `totals` the
    * per-source (src, deg) or (src, wtot), both persisted; `seeds` is
    * the persisted personalized seed set — teleport only on seed rows,
    * the rank frame holds exactly the reached nodes ∪ seeds — or None
    * for the uniform teleport over every vertex; `n` is the size of
    * the teleport set. Per round, each edge carries the quantum `q` of
    * its source's rank, quanta sum exactly per dst (decimal sums are
    * order-insensitive at any parallelism) and the teleport is added in
    * one IEEE expression. The local loop mirrors that operation for
    * operation, so the two paths are bit-identical (property-tested in
    * Round10OptSpec). Every cache is released before return.
    */
  private def rank(pairs: DataFrame, aCol: String, bCol: String,
                   edges: DataFrame, totals: DataFrame, seeds: Option[DataFrame], n: Long,
                   iters: Int, dampNum: Int, dampDen: Int, q: Quantum): DataFrame = {
    val d = dampNum.toDouble / dampDen.toDouble
    val caches = Seq(edges, totals) ++ seeds
    val weighted = edges.columns.contains("wq")
    localRows(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(rows) =>
        val es = rows.map(r => (r.getLong(0), r.getLong(1), if (weighted) r.getLong(2) else 1L))
        val tot =
          if (!weighted) degrees(rows.map(r => (r.getLong(0), r.getLong(1))))
          else {
            val m = new java.util.HashMap[Long, Long]()
            totals.collect().foreach(r => m.put(r.getLong(0), r.getLong(1)))
            m
          }
        val seedL = seeds.map { s =>
          val set = new java.util.HashSet[Long]()
          s.collect().foreach(r => set.add(r.getLong(0)))
          set
        }
        caches.foreach(_.unpersist())
        val baseL = (dampDen - dampNum).toDouble / (dampDen.toDouble * n.toDouble)
        var prL = new java.util.HashMap[Long, Double]()
        seedL.getOrElse(tot.keySet()).forEach(v => prL.put(v, 1.0 / n.toDouble))
        for (_ <- 0 until iters) {
          val csum = new java.util.HashMap[Long, JBigDecimal]()
          es.foreach { case (s, dst, wq) =>
            if (prL.containsKey(s)) csum.merge(dst, q.local(prL.get(s), wq, tot.get(s)), _.add(_))
          }
          val next = new java.util.HashMap[Long, Double]()
          csum.forEach { (v, c) =>
            val b = if (seedL.forall(_.contains(v))) baseL else 0.0
            next.put(v, b + d * q.localMass(c))
          }
          seedL.foreach(_.forEach(sd => if (!next.containsKey(sd)) next.put(sd, baseL + d * 0.0)))
          prL = next
        }
        localFrame(pairs.sparkSession, prL.asScala.toSeq, "node", "pr")
      case None =>
        val base = lit((dampDen - dampNum).toDouble) / (lit(dampDen.toDouble) * lit(n.toDouble))
        val init = (lit(1.0) / lit(n.toDouble)).as("pr")
        var pr = seeds.fold(totals.select(col("src").as("node"), init))(_.select(col("node"), init))
        for (_ <- 0 until iters) {
          val spread = edges
            .join(pr.withColumnRenamed("node", "src"), Seq("src"))
            .join(totals, Seq("src"))
            .select(col("dst").as("node"), q.edge.as("c"))
            .groupBy("node")
            .agg(sum("c").as("csum"))
          pr = seeds match {
            case None =>
              spread.select(col("node"), (base + lit(d) * q.mass(col("csum").cast("double"))).as("pr"))
            case Some(s) =>
              spread
                .join(s.withColumn("_s", lit(1)), Seq("node"), "full")
                .select(col("node"),
                  (when(col("_s").isNotNull, base).otherwise(lit(0.0))
                    + lit(d) * q.mass(coalesce(col("csum").cast("double"), lit(0.0))))
                    .as("pr"))
          }
        }
        // eager node-sized result checkpoint, then release the caches
        // (the modularity pattern): a long-lived session calling graph
        // ops repeatedly must not accumulate MEMORY_AND_DISK blocks
        val out = pr.localCheckpoint()
        caches.foreach(_.unpersist())
        out
    }
  }

  /** Fixed-iteration PageRank over an UNDIRECTED pair list (edges are
    * symmetrized, so every vertex has out-degree ≥ 1 — no dangling-
    * mass redistribution needed). `iters` is fixed (the oracle unrolls
    * it); damping is the RATIONAL dampNum/dampDen so the teleport
    * constants derive from exact integer division in both engines — a
    * 0.85 decimal literal and the double 0.85 disagree in the last
    * bit.
    *
    * Scale shape: per round, contributions are one edge⋈rank join
    * (both hash-partitioned on src) and one partial-agg sum keyed on
    * dst — shuffles sized by the edge list, like components. Per-edge
    * contributions quantize to DECIMAL(30,15) before the sum so the
    * per-vertex accumulation is order-insensitive at any parallelism
    * (float sums would drift between engines and between runs); the
    * rank update returns to double through the same op sequence the
    * oracle uses. The vertex count is one count() action (a scalar
    * model artifact, like the IVF centroid pull).
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String, iters: Int = 3,
               dampNum: Int = 17, dampDen: Int = 20): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum,
      s"need iters >= 1 and 0 < dampNum/dampDen < 1")
    // the edge list is joined EVERY iteration (the components pattern)
    val edges = symEdges(pairs, aCol, bCol)
    val deg = degreeFrame(edges).persist()
    val nV = deg.count()
    require(nV > 0, "pageRank: empty edge list — no vertices to rank")
    rank(pairs, aCol, bCol, edges, deg, None, nV, iters, dampNum, dampDen, Quantum(
      (col("pr") / col("deg")).cast("decimal(30,15)"),
      // mirror cast(double as decimal(30,15)): shortest-repr
      // BigDecimal + HALF_UP at scale 15
      (pr, _, dg) => JBigDecimal.valueOf(pr / dg.toDouble).setScale(15, RoundingMode.HALF_UP),
      c => c, _.doubleValue()))
  }

  /** Shared weighted-edge construction for the weighted rank family —
    * ONE definition so the engine can never desync from the single
    * OracleGen.weightedEdgesPrelude that mirrors it: quantize
    * (floor(w·scale + ½)), symmetrize, canonicalize duplicate pairs to
    * max, drop zero-quantum edges; returns (edges, per-src totals),
    * both persisted (callers release).
    */
  private def weightedEdges(pairs: DataFrame, aCol: String, bCol: String,
                            wCol: String, weightScale: Long): (DataFrame, DataFrame) = {
    val wq0 = floor(col(wCol).cast("double") * weightScale + lit(0.5)).cast("long")
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"), wq0.as("wq"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst"), wq0.as("wq")))
      .groupBy("src", "dst").agg(max("wq").as("wq"))
      .filter(col("wq") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wsum = edges.groupBy("src").agg(sum("wq").as("wtot")).persist()
    (edges, wsum)
  }

  /** Weighted-edge PageRank: [[pageRank]] with mass spread
    * PROPORTIONAL TO EDGE WEIGHT — the right form over a similarity
    * graph, whose edges HAVE weights (cosine / Jaccard scores): a
    * vertex's rank should flow toward its strongest near-neighbors,
    * not uniformly across a 0.41-cosine and a 0.97-cosine edge alike.
    * The standard exemplar-selection ranker over near-dup
    * neighborhoods.
    *
    * Determinism contract (the personalizedPageRank one): weights
    * quantize ONCE to integer units (wq = floor(w·scale + ½), exact
    * longs; zero-quantum edges carry no mass and drop); per-src weight
    * totals are exact long sums; each per-edge contribution is ONE
    * mirrored double expression floor(pr·wq/Wq·10¹⁵ + ½) quantized
    * pre-sum (order-insensitive at any parallelism); rational damping.
    * On unit weights wq/Wq = 1/deg exactly, so ranks agree with
    * [[pageRank]] to within one 10⁻¹⁵ quantum per edge (spec-pinned).
    *
    * Scale shape: identical to pageRank — per round one edge⋈rank hash
    * join + one dst-keyed partial-agg sum, everything edge-list-sized;
    * caches released via the modularity pattern.
    */
  def pageRankWeighted(pairs: DataFrame, aCol: String, bCol: String,
                       wCol: String, iters: Int = 3,
                       dampNum: Int = 17, dampDen: Int = 20,
                       weightScale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && weightScale > 0,
      s"need iters >= 1, 0 < dampNum/dampDen < 1, weightScale > 0")
    val (edges, wsum) = weightedEdges(pairs, aCol, bCol, wCol, weightScale)
    val nV = wsum.count()
    require(nV > 0, "pageRankWeighted: no positive-weight edges — nothing to rank")
    rank(pairs, aCol, bCol, edges, wsum, None, nV, iters, dampNum, dampDen, weightQuantum)
  }

  /** Weighted-edge personalized PageRank — [[personalizedPageRank]]'s
    * seed-relative relevance with [[pageRankWeighted]]'s
    * weight-proportional spread: "which documents are most STRONGLY
    * related to these exemplars", the exemplar-neighborhood expansion
    * that respects similarity scores instead of flattening them.
    * Same sparse-frontier shape (rank frame = reached nodes only,
    * teleport only on seed rows) and the same integer-quantization
    * contract as both parents; caches released before return.
    */
  def personalizedPageRankWeighted(pairs: DataFrame, aCol: String, bCol: String,
                                   wCol: String, seeds: DataFrame, iters: Int = 3,
                                   dampNum: Int = 17, dampDen: Int = 20,
                                   weightScale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum && weightScale > 0,
      s"need iters >= 1, 0 < dampNum/dampDen < 1, weightScale > 0")
    val (edges, wsum) = weightedEdges(pairs, aCol, bCol, wCol, weightScale)
    val seedSet = seeds.toDF("node").distinct()
      .join(wsum.withColumnRenamed("src", "node"), Seq("node"), "left_semi")
      .persist()
    val nS = seedSet.count()
    require(nS > 0, "personalizedPageRankWeighted: no seed appears in the edge list")
    rank(pairs, aCol, bCol, edges, wsum, Some(seedSet), nS, iters, dampNum, dampDen,
      weightQuantum)
  }

  /** k-core decomposition membership (SURVEY.md §2 #30l): the maximal
    * subgraph where every vertex keeps degree ≥ k — the standard
    * "dense cluster vs stringy chain" separator over a similarity
    * graph (a boilerplate/template cluster is a high-k core; a chain
    * of borderline near-dup pairs dissolves). Returns each surviving
    * vertex with its degree INSIDE the core.
    *
    * The classic iterative peel, Spark-relational: each round is one
    * partial-agg degree count plus two left-semi joins pruning edges
    * whose endpoint fell under k — shuffles sized by the (shrinking)
    * edge list, `localCheckpoint` truncating lineage per round (the
    * components pattern: without it round r replans r copies of the
    * upstream candidate-pair pipeline). Rounds are bounded by the peel
    * depth of the graph, NOT its size (a vertex only peels when a
    * neighbor's loss drops it below k); the one count() per round is
    * the convergence probe. Fails loudly if maxIter rounds don't
    * converge — a silent partial peel would overstate the core.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
            maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var edges = bothWays(pairs, aCol, bCol).distinct().localCheckpoint()
    var n = edges.count()
    // local: integer peel, rounds and outputs mirror the distributed
    // loop exactly
    localPairs(pairs, aCol, bCol, edges, n) match {
      case Some(es0) =>
        var es = es0
        var itL = 0
        var conv = es.isEmpty
        while (!conv && itL < maxIter) {
          val deg = degrees(es)
          val pruned = es.filter { case (s, d) =>
            deg.getOrDefault(s, 0L) >= k && deg.getOrDefault(d, 0L) >= k }
          conv = pruned.length == es.length
          es = pruned; itL += 1
        }
        require(conv, s"kCore($k) did not converge within $maxIter peel rounds")
        localFrame(pairs.sparkSession, degrees(es).asScala.toSeq, "node", "core_degree")
      case None =>
        var it = 0
        var converged = n == 0
        while (!converged && it < maxIter) {
          val keep = degreeFrame(edges).filter(col("deg") >= k).select("src")
          val pruned = edges
            .join(keep, Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
            .select("src", "dst")
            .localCheckpoint()
          val n2 = pruned.count()
          converged = n2 == n
          edges = pruned; n = n2; it += 1
        }
        require(converged, s"kCore($k) did not converge within $maxIter peel rounds")
        edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
    }
  }

  /** Enumerate every triangle of the undirected graph given by
    * `edges` (SYMMETRIZED distinct directed pairs) exactly once via
    * the same Schank–Wagner (degree, id) orientation the distributed
    * plan ([[orientedTriangles]]) uses, calling `emit(a, b, c)` with a
    * the orientation-smallest vertex and (b, c) in orientation order.
    * Degrees count self-loops (they are in the symmetric edge set) but
    * self-loops never orient, exactly like the distributed filter.
    */
  private def localTriangles(edges: Array[(Long, Long)])
                            (emit: (Long, Long, Long) => Unit): Unit = {
    val deg = degrees(edges)
    @inline def less(x: Long, y: Long): Boolean = {
      val dx = deg.get(x); val dy = deg.get(y)
      dx < dy || (dx == dy && x < y)
    }
    val adj = adjacency(edges)((s, d) => s != d && less(s, d))
    // closure probes need a set keyed on the PAIR; ids are arbitrary
    // longs, so probe a set of (b, c) tuples
    val orientedPairs = new java.util.HashSet[(Long, Long)]()
    adj.forEach((a, out) => out.foreach(b => orientedPairs.add((a, b))))
    adj.forEach { (a, out) =>
      val nbrs = out.sortWith(less)
      var i = 0
      while (i < nbrs.length) {
        var j = i + 1
        val b = nbrs(i)
        while (j < nbrs.length) {
          val c = nbrs(j)
          if (orientedPairs.contains((b, c))) emit(a, b, c)
          j += 1
        }
        i += 1
      }
    }
  }

  /** Local triangle count per vertex on at least one triangle. */
  private def localTrianglesPerNode(es: Array[(Long, Long)]): java.util.HashMap[Long, Long] = {
    val tri = new java.util.HashMap[Long, Long]()
    localTriangles(es) { (a, b, c) =>
      tri.merge(a, 1L, _ + _); tri.merge(b, 1L, _ + _); tri.merge(c, 1L, _ + _)
      ()
    }
    tri
  }

  /** Every triangle of a symmetrized (src, dst) edge list exactly once,
    * as (b, c, a) rows with a the (deg, id)-smallest corner — the
    * distributed plan [[localTriangles]] mirrors (rationale at
    * [[triangleCounts]]).
    */
  private def orientedTriangles(edges: DataFrame): DataFrame = {
    val deg = degreeFrame(edges)
    // orient by (deg, id): strict total order → acyclic
    val oriented = edges
      .join(deg.withColumnRenamed("src", "src_").withColumnRenamed("deg", "ds"),
        col("src") === col("src_")).drop("src_")
      .join(deg.withColumnRenamed("src", "dst_").withColumnRenamed("deg", "dd"),
        col("dst") === col("dst_")).drop("dst_")
      .filter(col("ds") < col("dd") || (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("dd").as("dg"))
    // wedge pair ordered by the SAME (deg, id) orientation key, so the
    // closing edge — if it exists — is oriented exactly b→c
    val wedges = oriented.select(col("src").as("a"), col("dst").as("b"), col("dg").as("bg"))
      .join(oriented.select(col("src").as("a"), col("dst").as("c"), col("dg").as("cg")), Seq("a"))
      .filter(col("bg") < col("cg") || (col("bg") === col("cg") && col("b") < col("c")))
      .select("a", "b", "c")
    wedges.join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
  }

  /** (node, n_triangles) over [[orientedTriangles]]: each triangle
    * counts once at each of its three corners.
    */
  private def trianglesPerNode(edges: DataFrame): DataFrame =
    orientedTriangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** Exact triangle count per vertex over an undirected pair list —
    * the local clustering signal (a near-dup pair embedded in many
    * triangles sits in a dense template/boilerplate cluster; an
    * isolated pair is a one-off). Returns (node, n_triangles) for
    * every vertex on at least one triangle, plus the global count as
    * a column (same value every row — keeps the output one frame).
    *
    * The naive edge³ self-join is quadratic in the max degree. The
    * standard fix (Schank/Wagner degree orientation): orient every
    * edge from the endpoint with (degree, id)-smaller to the larger —
    * an acyclic tournament where each triangle appears EXACTLY ONCE as
    * a wedge a→b, a→c (a the smallest) closed by b→c. Out-degrees in
    * the oriented graph are bounded by √(2·|E|) for ANY degree
    * distribution — a Zipf-hot hub's edges point INTO it, so the
    * wedge fan-out per vertex stays sub-quadratic; wedge generation
    * is a self-join on the oriented source and the close check is a
    * plain hash semi-join against the oriented edge set.
    */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = symEdges(pairs, aCol, bCol)
    // the budget count materializes the persist either way (the
    // distributed branch reuses it for free)
    localPairs(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(es) =>
        edges.unpersist()
        val tri = localTrianglesPerNode(es)
        val total = tri.values().asScala.sum / 3
        localFrame(pairs.sparkSession, tri.asScala.toSeq.map { case (v, t) => (v, t, total) },
          "node", "n_triangles", "total_triangles")
      case None =>
        // node-sized checkpoint FIRST: the per-node frame feeds both the
        // output and the global count, which is the exact integer
        // sum(n_triangles) DIV 3 over it (each triangle contributes once
        // to each of its 3 corners) — the oriented-wedge subtree
        // evaluates once per query (plan pins in plans/r10/)
        val perNode = trianglesPerNode(edges).localCheckpoint()
        val out = perNode.crossJoin(broadcast(perNode.agg(
          expr("CAST(SUM(n_triangles) DIV 3 AS BIGINT)").as("total_triangles"))))
        edges.unpersist()
        out
    }
  }

  /** Local clustering coefficient per node: cc(v) = 2·T(v)/(deg(v)·
    * (deg(v)−1)) — the closed-wedge share, the standard "how clique-
    * like is this node's neighborhood" signal (Watts–Strogatz): near 1
    * inside near-duplicate clusters, near 0 on hub/bridge nodes —
    * which is exactly how it separates genuine dup clusters from
    * LSH-bucket hubs in the similarity graph that [[triangleCounts]]
    * only scores globally.
    *
    * Same plan as triangleCounts (one persisted symmetrized edge
    * artifact, (deg,id) orientation, √(2E)-bounded wedge fan-out,
    * hash-join closure) plus ONE left join of the degree table onto
    * per-node triangle counts — everything edge-list-sized. Triangle
    * counts are exact longs; cc is one mirrored double expression
    * rounded 1e-9; deg < 2 emits NULL (undefined, not zero — a leaf
    * is not "perfectly unclustered").
    * Output: (node, deg, n_triangles, cc).
    */
  def clusteringCoefficient(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = symEdges(pairs, aCol, bCol)
    // local cc mirrors the distributed double expression exactly:
    // (2.0·T)/(d·(d−1.0)) then Round's own double path
    localPairs(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(es) =>
        edges.unpersist()
        val tri = localTrianglesPerNode(es)
        localFrame(pairs.sparkSession, degrees(es).asScala.toSeq.map { case (v, dg) =>
          val t = tri.getOrDefault(v, 0L)
          val cc = if (dg >= 2) Some(round9((2.0 * t.toDouble) / (dg.toDouble * (dg.toDouble - 1.0))))
            else None
          (v, dg, t, cc)
        }, "node", "deg", "n_triangles", "cc")
      case None =>
        val out = clusteringCoefficient(trianglesPerNode(edges),
            degreeFrame(edges).withColumnRenamed("src", "node"))
          .localCheckpoint() // node-sized; then release the edge cache
        edges.unpersist()
        out
    }
  }

  /** [[clusteringCoefficient]] over a PRECOMPUTED per-node triangle
    * frame + degree table — a pipeline that already ran
    * [[triangleCounts]] must not pay the oriented-wedge join twice
    * (it dominates both operators' cost). `triangles` is (node,
    * n_triangles) — exactly [[triangleCounts]]' output columns; nodes
    * absent from it count zero. `degrees` is (node, deg) over the SAME
    * symmetrized-distinct edge set. Property-equal to the
    * self-computing form; two node-sized frames in, one node-sized
    * join — no edge-sized work at all.
    */
  def clusteringCoefficient(triangles: DataFrame, degrees: DataFrame): DataFrame = {
    val dd = col("deg").cast("double")
    degrees.select(col("node"), col("deg"))
      .join(triangles.select(col("node"), col("n_triangles")), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc", when(col("deg") >= 2,
        round(lit(2.0) * col("n_triangles").cast("double") / (dd * (dd - lit(1.0))), 9)))
      .select("node", "deg", "n_triangles", "cc")
  }

  /** Common-neighbour enumeration shared by the link predictors:
    * (node_a, node_b, cn, ra_q) for every NON-ADJACENT pair node_a <
    * node_b with cn ≥ 1 common neighbours w of deg(w) ≤ maxDeg, ra_q
    * the RA sum of 10⁹ div deg(w). Candidates enumerate through the
    * common neighbour — a self-join of the adjacency list keyed on w,
    * cost Σ_w deg(w)², never all-pairs; known edges drop via one
    * left-anti join onto the symmetrized edge list. A caller that
    * reads only cn has ra_q and its share column pruned away.
    */
  private def commonNeighbours(edges: DataFrame, deg: DataFrame, maxDeg: Long): DataFrame = {
    // adjacency keyed by the COMMON neighbor w: (w, u, 1e9 div deg(w))
    val nbr = edges.join(deg, Seq("src"))
      .filter(col("deg") <= maxDeg)
      .select(col("src").as("w"), col("dst").as("u"),
        // `div`, not `/`: integer division (Spark `/` is double even on longs)
        expr("1000000000L div deg").as("share"))
    nbr.join(nbr.select(col("w"), col("u").as("v"), col("share").as("_s2")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u").as("node_a"), col("v").as("node_b"))
      .agg(count(lit(1)).as("cn"), sum(col("share")).as("ra_q"))
      .join(edges.select(col("src").as("node_a"), col("dst").as("node_b")),
        Seq("node_a", "node_b"), "left_anti")
  }

  /** [[commonNeighbours]] on the driver: (u, v, cn, ra_q) rows. */
  private def localCommonNeighbours(es: Array[(Long, Long)], deg: java.util.HashMap[Long, Long],
                                    maxDeg: Long): Seq[(Long, Long, Long, Long)] = {
    val edgeSet = new java.util.HashSet[(Long, Long)]()
    es.foreach(edgeSet.add)
    val cn = new java.util.HashMap[(Long, Long), (Long, Long)]()
    adjacency(es)((w, _) => deg.get(w) <= maxDeg).forEach { (w, nbrs) =>
      val share = 1000000000L / deg.get(w)
      var i = 0
      while (i < nbrs.length) {
        var j = 0
        val u = nbrs(i)
        while (j < nbrs.length) {
          val v = nbrs(j)
          if (u < v) cn.merge((u, v), (1L, share), (x, y) => (x._1 + y._1, x._2 + y._2))
          j += 1
        }
        i += 1
      }
    }
    cn.asScala.iterator.collect {
      case ((u, v), (c, ra)) if !edgeSet.contains((u, v)) => (u, v, c, ra)
    }.toSeq
  }

  /** Resource-allocation link prediction (Zhou–Lü–Zhang): for every
    * non-adjacent pair (u,v) sharing at least one neighbor, the RA
    * index Σ_{w ∈ N(u)∩N(v)} 1/deg(w) — the "which links are missing"
    * ranker over a similarity graph (candidate duplicate pairs the
    * bucketing step missed; suggested merges in an entity graph). RA
    * over Adamic–Adar deliberately: 1/deg keeps the statistic in
    * EXACT integer arithmetic (each term quantizes as 10⁹ div deg, so
    * the score is an order-insensitive integer sum), while 1/ln(deg)
    * would hang the result on last-ulp libm agreement across engines.
    *
    * Scale shape: candidate pairs enumerate through the COMMON
    * NEIGHBOR — a self-join of the adjacency list keyed on w, cost
    * Σ_w deg(w)², never all-pairs. A Zipf hub is exactly the w whose
    * deg² explodes AND whose 1/deg contribution is negligible, so
    * common neighbors above `maxDeg` are excluded (documented model
    * parameter, mirrored in the oracle — each excluded hub changes a
    * pair's score by < 10⁹/maxDeg). Known edges drop via one
    * left-anti join onto the symmetrized edge list; degrees and
    * adjacency come from the one persisted edge artifact.
    *
    * Output: (node_a, node_b, cn, ra_q) with node_a < node_b, cn the
    * common-neighbor count (capped set), ra_q the integer-quantized
    * RA score.
    */
  def raLinkPrediction(pairs: DataFrame, aCol: String, bCol: String,
                       maxDeg: Long = 1000L): DataFrame = {
    val edges = symEdges(pairs, aCol, bCol)
    // local: counts and the 1e9 div deg shares are pure integers
    localPairs(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(es) =>
        edges.unpersist()
        localFrame(pairs.sparkSession, localCommonNeighbours(es, degrees(es), maxDeg),
          "node_a", "node_b", "cn", "ra_q")
      case None =>
        // output-sized checkpoint (what the caller materializes anyway),
        // then edge-cache release (modularity pattern)
        val out = commonNeighbours(edges, degreeFrame(edges), maxDeg).localCheckpoint()
        edges.unpersist()
        out
    }
  }

  /** Synchronous label propagation (fixed rounds, deterministic): each
    * node adopts the most frequent label among its neighbors, ties to
    * the SMALLEST label — community detection over the similarity
    * graph, the density-free companion to [[kCore]] (which thresholds)
    * and Dedup.components (which merges ANY connectivity): LPA splits a
    * barbell the bridge edge would glue into one component. Fixed
    * iteration count (like [[pageRank]]) rather than
    * convergence-probing: sync LPA can oscillate on bipartite-ish
    * structures, and a fixed unrollable round count is what an oracle
    * can replay.
    *
    * Scale shape per round: one edge⨝label hash join + one
    * (node, label) partial agg + one per-node argmax window — the
    * window sees DISTINCT NEIGHBOR LABELS per node (bounded by degree,
    * collapsing as communities form), with WindowGroupLimit pushdown
    * on the rn = 1 filter. `localCheckpoint` truncates lineage per
    * round (the components pattern). Labels init to the node id, so
    * output labels are canonical member ids.
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = symEdges(pairs, aCol, bCol)
    // local: frequency votes and the (count desc, label asc) argmax are
    // pure integers
    localPairs(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(es) =>
        edges.unpersist()
        var lab = new java.util.HashMap[Long, Long]()
        es.foreach { case (s, _) => lab.put(s, s) }
        for (_ <- 0 until iters) {
          val cnt = new java.util.HashMap[(Long, Long), Long]()
          es.foreach { case (s, d) => cnt.merge((s, lab.get(d)), 1L, _ + _) }
          val best = new java.util.HashMap[Long, (Long, Long)]() // node → (c, label)
          val itC = cnt.entrySet().iterator()
          while (itC.hasNext) {
            val e = itC.next()
            val (node, l) = e.getKey; val c = e.getValue
            val cur = best.get(node)
            if (cur == null || c > cur._1 || (c == cur._1 && l < cur._2))
              best.put(node, (c, l))
          }
          val next = new java.util.HashMap[Long, Long]()
          best.forEach((node, cl) => next.put(node, cl._2))
          lab = next
        }
        localFrame(pairs.sparkSession, lab.asScala.toSeq, "node", "label")
      case None =>
        var labels = edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        for (_ <- 0 until iters) {
          val counts = edges
            .join(labels.select(col("node").as("dst"), col("label").as("nl")), Seq("dst"))
            .groupBy(col("src").as("node"), col("nl").as("label"))
            .agg(count(lit(1)).as("c"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("node").orderBy(col("c").desc, col("label"))
          labels = counts.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).select("node", "label")
            .localCheckpoint()
        }
        edges.unpersist() // labels are already checkpointed — no edge ref left
        labels
    }
  }

  /** Synchronous Louvain local-move rounds (Blondel et al. 2008, the
    * one-level move phase): each node adopts the neighbor community
    * with the best modularity gain — the QUALITY-DRIVEN community
    * refiner between [[labelPropagation]] (frequency votes, no
    * objective) and [[modularity]] (grades a labeling but doesn't
    * produce one). Labels init to node ids; `rounds` synchronous
    * sweeps; feed the result to [[modularity]] to read the score.
    *
    * Exactness: the gain comparison is EXACT INTEGER arithmetic — for
    * node i and candidate community c, ΔQ·2m² ∝ score(c) = 2m·e_{i→c}
    * − k_i·d'_c (d'_c excludes i's own degree when c is its current
    * community), all from exact long partial aggs, products in
    * DECIMAL(38,0); argmax ties break to the SMALLEST community id
    * (pure (score desc, id) — deterministic and engine-portable, no
    * incumbency bias). The node's own community is always a candidate
    * (e_{i→own} ≥ 0), so an isolated-in-community node may stay.
    *
    * Scale shape per round: one community-degree partial agg, one
    * edge⋈label join + (node, community) partial agg (rows ≤ edge
    * list), three hash joins onto the candidate table, one per-node
    * argmax window bounded by the node's DISTINCT NEIGHBOR COMMUNITY
    * count (collapsing as communities form); localCheckpoint cuts
    * lineage per round (labels feed three consumers); the 2m total is
    * one scalar. Caches released before return.
    */
  def louvainMove(pairs: DataFrame, aCol: String, bCol: String,
                  rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = bothWays(pairs, aCol, bCol)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = degreeFrame(edges).persist()
    val m2 = edges.count() // Σk_i = 2m — scalar model artifact
    require(m2 > 0, "louvainMove: empty edge list")
    // local: the gain argmax is exact integer arithmetic — every
    // product m2·e_ic and k_i·d'_c is ≤ m2², i.e. ≤ 4e12 at the default
    // 2e6 driver budget (long-exact up to a ~3e9 budget), so the local scores
    // equal the DECIMAL(38,0) plan's values identically
    localPairs(pairs, aCol, bCol, edges, m2) match {
      case Some(es) =>
        edges.unpersist(); deg.unpersist()
        val degL = degrees(es)
        var labL = new java.util.HashMap[Long, Long]()
        degL.keySet().forEach(v => labL.put(v, v))
        for (_ <- 0 until rounds) {
          val dtot = new java.util.HashMap[Long, Long]() // community → Σ deg
          degL.forEach((v, dg) => dtot.merge(labL.get(v), dg, _ + _))
          // candidate links e_{i→c}; own community always a candidate at ≥0
          val eic = new java.util.HashMap[(Long, Long), Long]()
          es.foreach { case (s, d) => eic.merge((s, labL.get(d)), 1L, _ + _) }
          labL.forEach((v, c) => eic.merge((v, c), 0L, math.max))
          val best = new java.util.HashMap[Long, (Long, Long)]() // node → (score, c)
          val itC = eic.entrySet().iterator()
          while (itC.hasNext) {
            val e = itC.next()
            val (node, c) = e.getKey
            val own = labL.get(node)
            val dAdj = dtot.get(c) - (if (own == c) degL.get(node) else 0L)
            val score = m2 * e.getValue - degL.get(node) * dAdj
            val cur = best.get(node)
            if (cur == null || score > cur._1 || (score == cur._1 && c < cur._2))
              best.put(node, (score, c))
          }
          val next = new java.util.HashMap[Long, Long]()
          best.forEach((node, sc) => next.put(node, sc._2))
          labL = next
        }
        localFrame(pairs.sparkSession, labL.asScala.toSeq, "node", "community")
      case None =>
        var lab = deg.select(col("src").as("node"), col("src").as("community"))
        for (_ <- 0 until rounds) {
          val dc = lab.join(deg.withColumnRenamed("src", "node"), Seq("node"))
            .groupBy("community").agg(sum("deg").as("dtot"))
          val links = edges
            .join(lab.select(col("node").as("dst"), col("community").as("c")), Seq("dst"))
            .groupBy(col("src").as("node"), col("c"))
            .agg(count(lit(1)).as("e_ic"))
          // own community is always a candidate (e defaults 0; max-merges
          // with the real link count when internal neighbors exist)
          val own = lab.select(col("node"), col("community").as("c"), lit(0L).as("e_ic"))
          val cand = links.unionByName(own)
            .groupBy("node", "c").agg(max("e_ic").as("e_ic"))
            .join(deg.withColumnRenamed("src", "node"), Seq("node"))
            .join(dc.withColumnRenamed("community", "c"), Seq("c"))
            .join(lab, Seq("node"))
            .withColumn("score",
              lit(m2).cast("decimal(38,0)") * col("e_ic")
                - col("deg").cast("decimal(38,0)")
                  * (col("dtot") - when(col("community") === col("c"), col("deg"))
                      .otherwise(lit(0L))))
          lab = cand.withColumn("_rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("node").orderBy(col("score").desc, col("c"))))
            .filter(col("_rn") === 1)
            .select(col("node"), col("c").as("community"))
            .localCheckpoint()
        }
        edges.unpersist(); deg.unpersist()
        lab
    }
  }

  /** Newman modularity of a community labeling over an undirected
    * graph: Q = Σ_c (e_c/m − (d_c/(2m))²) — the standard "is this
    * partition better than chance" score that closes the community
    * loop ([[labelPropagation]] / Dedup.components propose labels;
    * modularity grades them). Q ∈ [−½, 1); ≳0.3 is conventionally
    * "real community structure".
    *
    * Input edges are canonicalized (min,max), self-loops dropped,
    * duplicates collapsed; nodes absent from `labels` fall back to
    * their own singleton community (they contribute degree but no
    * internal edges — the conservative read).
    *
    * Exactness: m, e_c, d_c are exact longs from partial aggs; each
    * community's term evaluates in doubles from those integers in one
    * oracle-mirrored op order and quantizes to DECIMAL(20,9) before
    * the final sum (the entropy rule); modularity rounds at 1e-6.
    *
    * Scale shape: everything is edge-list-sized — one distinct, one
    * explode+partial-agg for degrees, two label hash joins, two
    * community-sized aggs. No windows, no per-row state.
    */
  def modularity(pairs: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String = "node",
                 communityCol: String = "community"): DataFrame = {
    val spark = pairs.sparkSession
    val e = pairs
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col(nodeCol).as("_ln"), col(communityCol).as("_lc"))
    // Singleton fallback keys are TYPE-TAGGED ("L:" label vs "N:" node)
    // so an unlabeled node whose id happens to equal an existing
    // community label (common: labelPropagation/components emit
    // communities that ARE node ids) stays a genuine singleton instead
    // of silently merging into that community and skewing d_tot/e_in.
    // The tag is internal — the output carries counts, never keys.
    def ckey(labC: Column, nodeC: Column): Column =
      coalesce(concat(lit("L:"), labC), concat(lit("N:"), nodeC))
    // degree sum per community: explode endpoints, count, label
    val dC = e.select(col("a").as("_nd")).unionByName(e.select(col("b").as("_nd")))
      .groupBy(col("_nd")).agg(count(lit(1)).as("_deg"))
      .join(lab.withColumnRenamed("_ln", "_nd"), Seq("_nd"), "left")
      .groupBy(ckey(col("_lc"), col("_nd")).as("_c"))
      .agg(sum("_deg").as("d_tot"), count(lit(1)).as("n_nodes"))
    // internal edges per community: both endpoints in the same label
    val eC = e
      .join(lab.select(col("_ln").as("a"), col("_lc").as("_ca")), Seq("a"), "left")
      .join(lab.select(col("_ln").as("b"), col("_lc").as("_cb")), Seq("b"), "left")
      .filter(ckey(col("_ca"), col("a")) === ckey(col("_cb"), col("b")))
      .groupBy(ckey(col("_ca"), col("a")).as("_c"))
      .agg(count(lit(1)).as("e_in"))
    val m = e.count() // materializes the persisted edge list
    // local: every community aggregate is an exact integer count and
    // the per-community term is ONE mirrored double expression
    // quantized through Spark's own double→DECIMAL(20,9) path
    // (BigDecimal.valueOf = Double.toString), so the local fold is
    // bit-identical to the distributed plan. Labels must be LONG too.
    val labelsLong = labels.columns.contains(nodeCol) &&
      labels.columns.contains(communityCol) && longCols(labels, nodeCol, communityCol)
    // the label collect (and the duplicate check below) happens BEFORE
    // the edge cache is released, so a fallback to the distributed
    // branch re-reads the cache, not the upstream pipeline
    val local = (if (labelsLong) localPairs(pairs, aCol, bCol, e, m) else None).flatMap { es =>
      // only graph nodes' labels are needed: the node set is already in
      // memory, so it semi-joins the label table as a broadcast local
      // relation — the collect stays inside the driver budget even when
      // the label table itself is corpus-sized
      val nodeSet = new java.util.HashSet[java.lang.Long]()
      es.foreach { case (a, b) => nodeSet.add(a); nodeSet.add(b); () }
      import spark.implicits._
      val nodesDf = nodeSet.asScala.toSeq.map(_.longValue).toDF("_n")
      // a node with MORE THAN ONE label row fans the distributed joins
      // out (degree counted once per label row) — a map cannot mirror
      // that, so duplicate labels fall back to the distributed branch
      // instead of silently diverging. The duplicate census runs
      // CLUSTER-SIDE (one aggregated row per graph node), so the
      // driver collect is bounded by the driver budget even when the label
      // table itself is pathologically duplicated (one row per event).
      val labRows = lab.join(broadcast(nodesDf), col("_ln") === col("_n"))
        .groupBy(col("_ln"))
        .agg(count(lit(1)).as("_cnt"), max(col("_lc")).as("_lcv"))
        .collect()
      val labMap = new java.util.HashMap[Long, java.lang.Long]()
      var dupLabel = false
      labRows.foreach { r =>
        if (!r.isNullAt(0)) {
          val n = r.getLong(0)
          if (r.getLong(1) > 1L) dupLabel = true
          labMap.put(n,
            if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))
        }
      }
      Option.when(!dupLabel) { // duplicate labels run the distributed aggs
        e.unpersist()
        val names = Seq("m", "n_communities", "modularity")
        if (es.isEmpty) // the empty agg row of the distributed plan
          localFrame(spark, Seq((0L, 0L, None: Option[Double])), names: _*)
        else {
          // community key: ("L", label) when labeled, ("N", node)
          // singleton fallback — the tuple form of the type-tagged ckey
          def key(n: Long): (Boolean, Long) = {
            val c = labMap.get(n)
            if (c != null) (true, c.longValue) else (false, n)
          }
          val degL = new java.util.HashMap[Long, Long]()
          es.foreach { case (a, b) =>
            degL.merge(a, 1L, _ + _); degL.merge(b, 1L, _ + _)
          }
          val dTot = new java.util.HashMap[(Boolean, Long), Long]()
          degL.forEach((v, dg) => dTot.merge(key(v), dg, _ + _))
          val eIn = new java.util.HashMap[(Boolean, Long), Long]()
          es.foreach { case (a, b) =>
            val ka = key(a); if (ka == key(b)) eIn.merge(ka, 1L, _ + _)
          }
          val dmL = m.toDouble
          var acc = JBigDecimal.ZERO
          dTot.forEach { (c, dt) =>
            val ein = eIn.getOrDefault(c, 0L)
            val half = dt.toDouble / (2.0 * dmL)
            val term = ein.toDouble / dmL - half * half
            acc = acc.add(JBigDecimal.valueOf(term).setScale(9, RoundingMode.HALF_UP))
          }
          val mod = JBigDecimal.valueOf(acc.doubleValue).setScale(6, RoundingMode.HALF_UP).doubleValue
          localFrame(spark, Seq((m, dTot.size.toLong, Some(mod): Option[Double])), names: _*)
        }
      }
    }
    local.getOrElse {
      val dm = lit(m).cast("double")
      val term = (col("e_in").cast("double") / dm
        - (col("d_tot").cast("double") / (lit(2.0) * dm)) * (col("d_tot").cast("double") / (lit(2.0) * dm)))
        .cast("decimal(20,9)")
      // single-row result checkpointed EAGERLY so the edge cache can be
      // released before return (a lazy result would recompute e cold)
      val out = dC.join(eC, Seq("_c"), "left")
        .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
        .withColumn("_term", term)
        .agg(lit(m).as("m"), count(lit(1)).as("n_communities"),
             round(sum(col("_term")).cast("double"), 6).as("modularity"))
        .localCheckpoint()
      e.unpersist()
      out
    }
  }

  /** Jaccard-coefficient link prediction: for non-adjacent vertex
    * pairs sharing ≥1 common neighbor, |N(a)∩N(b)| / |N(a)∪N(b)| —
    * the NORMALIZED companion to [[raLinkPrediction]] (RA weights
    * common neighbors by rarity and favors hub-adjacent pairs; the
    * Jaccard score is degree-penalized, so two low-degree documents
    * sharing most of their neighborhoods outrank two hubs sharing a
    * few). Candidate generation is the same common-neighbor wedge
    * enumeration, HUB-CAPPED at `maxDeg` (a corpus-scaled hub would
    * otherwise emit deg² wedges; its common-neighbor evidence is
    * near-zero Jaccard anyway — the documented RA contract). Union
    * sizes use FULL degrees: |N(a)∪N(b)| = deg(a) + deg(b) − cn.
    *
    * Exactness: cn and degrees are exact longs; jaccard is ONE double
    * division, rounded 1e-9. Scale shape: the RA shape exactly —
    * degree partial agg, wedge self-join keyed by the common
    * neighbor, pair partial agg, two degree hash joins, one anti-join
    * against the edge set.
    */
  def jaccardLinkPrediction(pairs: DataFrame, aCol: String, bCol: String,
                            maxDeg: Long = 1000L): DataFrame = {
    val edges = symEdges(pairs, aCol, bCol)
    // local: common-neighbor counts are integers; jaccard is the same
    // mirrored round-9 ratio
    localPairs(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(es) =>
        edges.unpersist()
        val deg = degrees(es)
        localFrame(pairs.sparkSession, localCommonNeighbours(es, deg, maxDeg).map {
          case (u, v, c, _) =>
            val un = deg.get(u) + deg.get(v) - c
            (u, v, c, un, round9(c.toDouble / un.toDouble))
        }, "node_a", "node_b", "cn", "n_union", "jaccard")
      case None =>
        val deg = degreeFrame(edges)
        // output-sized checkpoint then edge-cache release (modularity
        // pattern)
        val out = commonNeighbours(edges, deg, maxDeg)
          .join(deg.select(col("src").as("node_a"), col("deg").as("_da")), Seq("node_a"))
          .join(deg.select(col("src").as("node_b"), col("deg").as("_db")), Seq("node_b"))
          .select(col("node_a"), col("node_b"), col("cn"),
            (col("_da") + col("_db") - col("cn")).as("n_union"),
            round(col("cn").cast("double")
              / (col("_da") + col("_db") - col("cn")).cast("double"), 9).as("jaccard"))
          .localCheckpoint()
        edges.unpersist()
        out
    }
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * restricted to a SEED SET — "which documents are most related to
    * THESE exemplars through the similarity graph?", the standard
    * seed-based corpus-expansion primitive (grow a curated domain
    * from a hand-picked nucleus; rank candidates for a target mix).
    * Uniform PageRank answers global importance; PPR answers
    * importance RELATIVE to the seeds.
    *
    * Same arithmetic contract as pageRank: rational damping, per-edge
    * contributions quantized pre-sum, fixed `iters` the oracle
    * unrolls. The rank frame stays SPARSE — only nodes with mass
    * appear (mass reaches exactly the ≤iters-hop neighborhood of the
    * seeds), so each round's join is sized by the reached frontier,
    * not the graph; teleport adds base only on seed rows (left join
    * against the broadcast seed set). Nodes never reached simply don't
    * appear (ppr = 0 implicitly).
    *
    * @param seeds one-column frame of seed node ids (deduplicated
    *              here; must be nonempty)
    */
  def personalizedPageRank(pairs: DataFrame, aCol: String, bCol: String,
                           seeds: DataFrame, iters: Int = 3,
                           dampNum: Int = 17, dampDen: Int = 20): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum,
      s"need iters >= 1 and 0 < dampNum/dampDen < 1")
    val edges = symEdges(pairs, aCol, bCol)
    val deg = degreeFrame(edges).persist()
    val seedSet = seeds.toDF("node").distinct()
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_semi")
      .persist()
    val nS = seedSet.count() // scalar model artifact, the pageRank nV pattern
    require(nS > 0, "personalizedPageRank: no seed appears in the edge list")
    // contributions quantize by INTEGER floor(x·10¹⁵ + ½), not a
    // double→DECIMAL cast: Spark's cast routes through the shortest
    // string representation (Decimal(double) = BigDecimal.valueOf),
    // which can round a quantum differently than an engine reading the
    // full binary expansion — measured 1-ulp-of-quantum drift on ~3% of
    // nodes vs the oracle. floor on the same IEEE product is
    // engine-exact.
    rank(pairs, aCol, bCol, edges, deg, Some(seedSet), nS, iters, dampNum, dampDen, Quantum(
      floor(col("pr") / col("deg") * lit(1e15) + lit(0.5)).cast("decimal(38,0)"),
      (pr, _, dg) => JBigDecimal.valueOf(math.floor(pr / dg.toDouble * 1e15 + 0.5)),
      _ / lit(1e15), _.doubleValue() / 1e15))
  }

  /** Degree assortativity: the Pearson correlation of endpoint
    * degrees over the (directed-both-ways) edge list — "do hubs link
    * to hubs?" (Newman 2002). Positive on social/citation graphs;
    * near-dup similarity graphs are typically strongly positive (a
    * template cluster is a clique of equal-degree nodes), so a NEGATIVE
    * value flags hub-and-spoke boilerplate (one page quoted by many
    * one-off pages) that near-dup clustering treats differently.
    *
    * Exactness: degrees are exact longs; the five correlation sums
    * run as DECIMAL(38,0) over the directed edge list (each
    * undirected edge contributes both orientations — the standard
    * symmetrization making r orientation-free); r is one mirrored
    * double expression, rounded 1e-9. Degenerate graphs (all degrees
    * equal) emit NULL.
    *
    * Scale shape: one degree partial agg + two edge⋈degree hash joins
    * + one scalar agg — everything edge-list-sized, no windows.
    */
  def assortativity(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = symEdges(pairs, aCol, bCol)
    // local: the five moment sums are exact integers — the largest,
    // Σ deg(src)² over directed edges, is ≤ m·(m/2)², so plain long
    // sums equal the distributed DECIMAL(38,0) sums exactly only while
    // m³/4 < 2⁶³, i.e. m ≤ ~3.3e6. The local path therefore caps at
    // 3e6 INDEPENDENTLY of the driver budget: a larger conf value
    // must widen the other kernels without ever letting these longs
    // wrap.
    localPairs(pairs, aCol, bCol, edges, edges.count(), cap = 3000000L) match {
      case Some(es) =>
        edges.unpersist()
        val degL = degrees(es)
        var sx = 0L; var sy = 0L; var sxy = 0L; var sxx = 0L; var syy = 0L
        es.foreach { case (s, d) =>
          val dx = degL.get(s); val dy = degL.get(d)
          sx += dx; sy += dy; sxy += dx * dy; sxx += dx * dx; syy += dy * dy
        }
        val mD = es.length.toDouble
        val num = mD * sxy.toDouble - sx.toDouble * sy.toDouble
        val denX = mD * sxx.toDouble - sx.toDouble * sx.toDouble
        val denY = mD * syy.toDouble - sy.toDouble * sy.toDouble
        val assort = if (denX > 0 && denY > 0) Some(round9(num / math.sqrt(denX * denY))) else None
        localFrame(pairs.sparkSession, Seq((es.length.toLong, degL.size.toLong, assort)),
          "n_directed_edges", "n_nodes", "assortativity")
      case None =>
        val deg = degreeFrame(edges)
        val joined = edges
          .join(deg.select(col("src"), col("deg").as("_dx")), Seq("src"))
          .join(deg.select(col("src").as("dst"), col("deg").as("_dy")), Seq("dst"))
        def dz(c: Column) = c.cast("decimal(19,0)")
        val sums = joined.agg(
          count(lit(1)).as("m"),
          sum(dz(col("_dx")).cast("decimal(38,0)")).as("_sx"),
          sum(dz(col("_dy")).cast("decimal(38,0)")).as("_sy"),
          sum((dz(col("_dx")) * col("_dy")).cast("decimal(38,0)")).as("_sxy"),
          sum((dz(col("_dx")) * col("_dx")).cast("decimal(38,0)")).as("_sxx"),
          sum((dz(col("_dy")) * col("_dy")).cast("decimal(38,0)")).as("_syy"))
        val nNodes = deg.count()
        def d(c: String) = col(c).cast("double")
        val m = d("m")
        val num = m * d("_sxy") - d("_sx") * d("_sy")
        val denX = m * d("_sxx") - d("_sx") * d("_sx")
        val denY = m * d("_syy") - d("_sy") * d("_sy")
        val out = sums.select(col("m").as("n_directed_edges"),
            lit(nNodes).as("n_nodes"),
            when(denX > 0 && denY > 0, round(num / sqrt(denX * denY), 9))
              .as("assortativity"))
          .localCheckpoint()
        edges.unpersist()
        out
    }
  }

  /** HITS hubs & authorities (Kleinberg '99) over a DIRECTED edge
    * list — on the bipartite customer→product graph this reads as
    * "good buyers" (hubs: customers whose purchases concentrate on
    * authoritative products) vs "anchor products" (authorities:
    * products bought by the good buyers), the mutually-recursive
    * centrality PageRank's single score can't express. `iters`
    * alternating rounds of a ← Σ_in h, h ← Σ_out a, each
    * L1-NORMALIZED (scores sum to 1 — the eigenvector is defined up
    * to scale; L1 keeps every step a ratio of sums, no √ per round).
    *
    * Determinism (the personalizedPageRank contract): per-edge
    * contributions quantize by INTEGER floor(score·10¹⁵ + ½) before
    * the partial-agg sum (order-insensitive at any parallelism; a
    * double→DECIMAL cast rounds via different paths on the two
    * engines — Spark shortest-string vs DuckDB binary expansion);
    * each round's L1 total is the sum of the SAME integers, and the
    * normalizing division is one mirrored double op over two exact
    * integers. Output rounds 1e-9. Rounds are unrolled in the oracle.
    *
    * Scale shape: per round, one edge⋈score hash join + one
    * partial-agg sum keyed by the other endpoint — shuffles sized by
    * the edge list; the L1 total is a 1-row agg crossed back
    * (broadcast). The edge list is persisted across rounds (joined
    * 2·iters times). No windows, no collect.
    */
  def hits(edges0: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hubs0 = edges.select(col("src").as("node")).distinct()
    val nH = hubs0.count()
    require(nH > 0, "hits: empty edge list — no hubs to score")
    // local (pageRank rationale): contributions are the long quantum
    // floor(score·1e15 + ½), per-node sums exact, the L1 normalization
    // the same two-double division — bit-identical
    localPairs(edges0, srcCol, dstCol, edges, edges.count()) match {
      case Some(es) =>
        edges.unpersist()
        var hubL = new java.util.HashMap[Long, Double]()
        es.foreach { case (s, _) => hubL.put(s, 1.0 / nH.toDouble) }
        var authL: java.util.HashMap[Long, Double] = null
        def l1norm(sums: java.util.HashMap[Long, JBigDecimal]): java.util.HashMap[Long, Double] = {
          var tot = JBigDecimal.ZERO
          sums.values().forEach(v => tot = tot.add(v))
          val out = new java.util.HashMap[Long, Double]()
          sums.forEach((v, s) => out.put(v, s.doubleValue() / tot.doubleValue()))
          out
        }
        for (_ <- 0 until iters) {
          val aSums = new java.util.HashMap[Long, JBigDecimal]()
          es.foreach { case (s, dst) =>
            val c = math.floor(hubL.get(s) * 1000000000000000.0 + 0.5).toLong
            aSums.merge(dst, JBigDecimal.valueOf(c), _.add(_))
          }
          authL = l1norm(aSums)
          val hSums = new java.util.HashMap[Long, JBigDecimal]()
          es.foreach { case (s, dst) =>
            val c = math.floor(authL.get(dst) * 1000000000000000.0 + 0.5).toLong
            hSums.merge(s, JBigDecimal.valueOf(c), _.add(_))
          }
          hubL = l1norm(hSums)
        }
        def side(name: String, scores: java.util.HashMap[Long, Double]) =
          scores.asScala.toSeq.map { case (v, s) => (name, v, round9(s)) }
        localFrame(edges0.sparkSession, side("hub", hubL) ++ side("authority", authL),
          "side", "node", "score")
      case None =>
        var hub = hubs0.select(col("node"), (lit(1.0) / lit(nH.toDouble)).as("score"))
        var auth: DataFrame = null
        val unit = lit(1000000000000000.0) // 1e15 integer quantization units
        def l1Normalize(contrib: DataFrame): DataFrame = {
          // contrib: (node, _c LONG = floor(score·1e15 + ½)) per edge.
          // summed is referenced TWICE (the total + the select): without a
          // lineage cut the plan DOUBLES per half-round — 2^(2·iters)
          // recomputations of the whole chain (measured 18s → ~1s at
          // sf0.1). localCheckpoint materializes the node-sized artifact
          // once per half-round (the kCore per-round pattern).
          val summed = contrib.groupBy("node")
            .agg(sum(col("_c").cast("decimal(38,0)")).as("_s"))
            .localCheckpoint()
          val tot = summed.agg(sum("_s").as("_t"))
          summed.crossJoin(broadcast(tot))
            .select(col("node"),
              (col("_s").cast("double") / col("_t").cast("double")).as("score"))
        }
        for (_ <- 0 until iters) {
          auth = l1Normalize(edges
            .join(hub.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"),
              floor(col("score") * unit + lit(0.5)).cast("long").as("_c")))
          hub = l1Normalize(edges
            .join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
            .select(col("src").as("node"),
              floor(col("score") * unit + lit(0.5)).cast("long").as("_c")))
        }
        val out = hub.select(lit("hub").as("side"), col("node"),
            round(col("score"), 9).as("score"))
          .unionByName(auth.select(lit("authority").as("side"), col("node"),
            round(col("score"), 9).as("score")))
        // hub/auth stem from the per-half-round checkpointed `summed`
        // frames — no plan reference to `edges` survives, so the cache
        // releases immediately
        edges.unpersist()
        out
    }
  }

  /** Multi-source BFS distances over an undirected edge list: per
    * reached node, the hop distance to the NEAREST seed (0 for seeds
    * themselves), up to `maxDepth` — the neighborhood-expansion
    * primitive behind "how far does this cluster's influence reach",
    * seed-set coverage audits, and graph-radius probes, the hop-count
    * complement to [[personalizedPageRank]]'s weighted relevance.
    * Nodes beyond maxDepth (or unreachable) are absent — the caller
    * reads absence as "farther than maxDepth".
    *
    * Pure integer arithmetic — no determinism machinery needed: the
    * min-hop distance per node is unique regardless of expansion
    * order, so the oracle's simple full-relaxation unroll matches the
    * frontier-optimized plan exactly.
    *
    * Scale shape: per round, ONE edge⋈frontier hash join (frontier =
    * nodes discovered last round only, never the full dist table) +
    * a min partial agg folding new candidates into the dist table;
    * shuffles are edge-list-bounded, rounds are maxDepth-bounded,
    * `localCheckpoint` cuts lineage per round (the kCore pattern).
    * Seeds are restricted to graph nodes (a seed absent from the
    * edge list — a NULL seed included — contributes nothing, mirroring
    * the PPR rule).
    */
  def bfsDistances(pairs: DataFrame, aCol: String, bCol: String,
                   seeds: DataFrame, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val edges = symEdges(pairs, aCol, bCol)
    // local: min-hop is a pure integer fixpoint, order-independent by
    // construction
    localPairs(pairs, aCol, bCol, edges, edges.count()) match {
      case Some(es) =>
        val nodeSet = new java.util.HashSet[Long]()
        es.foreach { case (s, _) => nodeSet.add(s); () }
        // a NULL seed is no graph node: the distributed left-semi join
        // drops it, so the local seed set drops it too
        val seedRows = seeds.select(col(seeds.columns.head).cast("long")).distinct()
          .collect().filterNot(_.isNullAt(0)).map(_.getLong(0)).filter(nodeSet.contains)
        edges.unpersist()
        val adj = adjacency(es)((_, _) => true)
        val distL = new java.util.HashMap[Long, Int]()
        var frontier = ArrayBuffer.empty[Long]
        seedRows.foreach { s => distL.put(s, 0); frontier += s }
        var r = 1
        while (r <= maxDepth && frontier.nonEmpty) {
          val next = ArrayBuffer.empty[Long]
          frontier.foreach { s =>
            val nbrs = adj.get(s)
            if (nbrs != null) nbrs.foreach { d =>
              if (!distL.containsKey(d)) { distL.put(d, r); next += d }
            }
          }
          frontier = next; r += 1
        }
        localFrame(pairs.sparkSession, distL.asScala.toSeq, "node", "dist")
      case None =>
        val nodes = edges.select(col("src").as("node")).distinct()
        var dist = seeds.select(col(seeds.columns.head).as("node")).distinct()
          .join(nodes, Seq("node"), "left_semi")
          .select(col("node"), lit(0).as("dist"))
          .localCheckpoint()
        var frontier = dist
        for (r <- 1 to maxDepth) {
          val reached = edges
            .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), lit(r).as("dist"))
          val merged = dist.unionByName(reached)
            .groupBy("node").agg(min("dist").as("dist"))
            .localCheckpoint()
          frontier = merged.filter(col("dist") === r).localCheckpoint()
          dist = merged
        }
        edges.unpersist()
        dist
    }
  }

  /** Hill tail-index estimate of the degree distribution: α̂ = k /
    * Σ_{i=1..k} ln(d_(i) / d_(k+1)) over the k largest degrees — the
    * standard "is this graph scale-free, and how heavy is the tail?"
    * scalar (power-law exponent ≈ 1 + α̂). Read it before choosing
    * skew strategy: α̂ ≲ 2 means hub degrees grow superlinearly with
    * corpus size and every per-key operator downstream needs its
    * bucketed form (SURVEY §5) — this is the measurement behind that
    * call, beside [[graft.operators.Behavior.hotKeyProbe]]'s absolute
    * row counts.
    *
    * Determinism: degrees are exact longs; the top-(k+1) selection is
    * an integer-rank TakeOrdered with ties broken by node id; each
    * ln(dᵢ/d_{k+1}) term is one double of two exact longs quantized
    * DECIMAL(20,9) pre-sum; α̂ rounds 1e-9.
    *
    * Scale shape: one explode+partial-agg for degrees (edge-list
    * sized), then a LIMIT k+1 TakeOrdered over the degree table —
    * never a global sort; the k+1 rows are a fixed model artifact.
    */
  def degreeTailAlpha(pairs: DataFrame, aCol: String, bCol: String,
                      k: Int = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val deg = pairs
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val top = deg.orderBy(col("deg").desc, col("node")).limit(k + 1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("deg").desc, col("node"))
    // d_(k+1) = the smallest of the k+1 pulled rows (exact rank);
    // windows run over the k+1-row artifact, never the degree table
    val withRef = top
      .withColumn("_rk", row_number().over(wRank))
      .withColumn("_dref", min(when(col("_rk") === k + 1, col("deg"))).over(wAll))
    withRef.filter(col("_rk") <= k && col("_dref").isNotNull && col("_dref") > 0)
      .select((log(col("deg").cast("double")) - log(col("_dref").cast("double")))
        .cast("decimal(20,9)").as("_t"))
      .agg(count(lit(1)).cast("int").as("k"),
        round(lit(k.toDouble) / sum(col("_t")).cast("double"), 9).as("alpha"))
  }

  /** (u, v, support) for every canonical edge of `canon` (u < v,
    * distinct): the number of triangles it is on, via
    * [[orientedTriangles]] — each triangle explodes to its THREE
    * canonical edges for the support partial agg. LEFT join: an edge on
    * ZERO triangles is absent from the support agg but must still
    * compare against k−2 (at k = 2 it survives — truss-2 is the whole
    * graph).
    */
  private def trussSupport(canon: DataFrame): DataFrame = {
    def edge(x: String, y: String) =
      struct(least(col(x), col(y)).as("u"), greatest(col(x), col(y)).as("v"))
    val support = orientedTriangles(bothWays(canon, "u", "v"))
      .select(explode(array(edge("a", "b"), edge("a", "c"), edge("b", "c"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
    canon.join(support, Seq("u", "v"), "left").na.fill(0L, Seq("support"))
  }

  /** k-truss decomposition (Cohen '08): the maximal subgraph where
    * every EDGE sits on ≥ k−2 triangles — the edge-level cohesion
    * companion to [[kCore]]'s node-level peel (a k-core can be held
    * together by one promiscuous hub; a k-truss cannot — every
    * surviving similarity edge is corroborated by k−2 common
    * neighbors, which is exactly the evidence bar for calling a dup
    * CLUSTER rather than a dup chain). Classic support peel: count
    * per-edge triangle support, drop edges under k−2, repeat to a
    * fixpoint.
    *
    * Scale shape per round: the [[triangleCounts]] machinery — one
    * (deg, id)-oriented wedge self-join bounded by √(2E) fan-out,
    * closure a hash join — then each triangle explodes to its THREE
    * canonical edges for the support partial agg; shuffles are sized
    * by the SHRINKING edge list, lineage truncated per round
    * (localCheckpoint), convergence asserted loudly (a silent partial
    * peel overstates cohesion). Returns the surviving canonical
    * edges with their final support.
    */
  def kTruss(pairs: DataFrame, aCol: String, bCol: String, k: Int,
             maxIter: Int = 30): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val need = (k - 2).toLong
    var canon = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var n = canon.count()
    // local: the peel is a pure integer fixpoint whose distributed form
    // ran 108 jobs (~30 rounds × 3-4 actions) on an 11k-edge sf0.1
    // graph; rounds and outputs mirror exactly
    localPairs(canon, "u", "v", canon, n) match {
      case Some(es0) =>
        def supports(ce: Array[(Long, Long)]): java.util.HashMap[(Long, Long), Long] = {
          val sup = new java.util.HashMap[(Long, Long), Long]()
          localTriangles(ce ++ ce.map(_.swap)) { (a, b, c) =>
            sup.merge((math.min(a, b), math.max(a, b)), 1L, _ + _)
            sup.merge((math.min(a, c), math.max(a, c)), 1L, _ + _)
            sup.merge((math.min(b, c), math.max(b, c)), 1L, _ + _)
            ()
          }
          sup
        }
        var es = es0
        var itL = 0
        var conv = es.isEmpty
        while (!conv && itL < maxIter) {
          val sup = supports(es)
          val pruned = es.filter(e => sup.getOrDefault(e, 0L) >= need)
          conv = pruned.length == es.length
          es = pruned; itL += 1
        }
        require(conv, s"kTruss($k) did not converge within $maxIter peel rounds")
        val supF = supports(es)
        localFrame(pairs.sparkSession, es.toSeq.map(e => (e._1, e._2, supF.getOrDefault(e, 0L))),
          "u", "v", "support")
      case None =>
        var it = 0
        var converged = n == 0
        while (!converged && it < maxIter) {
          val pruned = trussSupport(canon)
            .filter(col("support") >= need).select("u", "v")
            .localCheckpoint()
          val n2 = pruned.count()
          converged = n2 == n
          canon = pruned; n = n2; it += 1
        }
        require(converged, s"kTruss($k) did not converge within $maxIter peel rounds")
        if (n == 0) canon.withColumn("support", lit(0L)).limit(0)
        // final support over the converged subgraph (one more count pass)
        else trussSupport(canon)
    }
  }
}
