package graft
package queries

import org.apache.spark.sql.functions._

import Helpers._

/** Graph analytics: `operators.Graph`. */
object GraphQueries {

  val all: Seq[Query] = Seq(

    // §2#30i PageRank (3 rounds, damping 17/20) over the cos>=0.4
    // embedding-similarity graph: exemplar/centrality scoring via
    // join + decimal-quantized partial-agg rounds.
    Query("q97_pagerank", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.4)
      operators.Graph.pageRank(pairs, "vec_a", "vec_b")
    },
      OracleGen.pageRankSql()),

    // §2#30j exact triangle counts over the cos>=0.4 similarity graph:
    // (degree, id) edge orientation — wedge fan-out bounded by
    // sqrt(2|E|) per vertex on ANY degree distribution, each triangle
    // closes exactly one oriented wedge.
    Query("q114_triangles", (s, dir) => {
      // 0.1 (vs pagerank's 0.4): this synthetic embedding space has no
      // cos>=0.4 triangles at any sf — 0.1 yields a real triangle set
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.triangleCounts(pairs, "vec_a", "vec_b")
    },
      OracleGen.triangleSql(minCos = 0.1)),

    // §2#30o modularity of a community labeling over the co-purchase
    // graph (parts sharing an order, a<b, distinct; community =
    // partkey mod 8) — grades what labelProp/components propose;
    // everything edge-list-sized, exact integer aggs, one mirrored
    // double evaluation per community.
    Query("q240_modularity", (s, dir) => {
      val li = t(s, dir, "lineitem").df.select(col("l_orderkey"), col("l_partkey"))
      // pair generation from per-order item ARRAYS, not a self-join:
      // one hash shuffle to (order, sorted item set), then the C(n,2)
      // combinations explode MAP-SIDE (bounded by the ≤13-line order
      // contract) — a sort-merge self-join pays two corpus sorts for
      // the same rows. a<b canonical by the sort.
      val pairs = li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("it"))
        .select(explode(flatten(transform(col("it"), (x, i) =>
          transform(slice(col("it"), i + 2, size(col("it"))),
            y => struct(x.as("pa"), y.as("pb")))))).as("pr"))
        .select(col("pr.pa"), col("pr.pb"))
      // no .distinct() here: modularity canonicalizes + distincts once
      val labels = li.select(col("l_partkey").as("node")).distinct()
        .withColumn("community", pmod(col("node"), lit(8)))
      operators.Graph.modularity(pairs, "pa", "pb", labels)
    },
      """WITH e AS (
           SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         deg AS (
           SELECT nd, COUNT(*) AS d FROM (
             SELECT a AS nd FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         dc AS (SELECT nd % 8 AS c, SUM(d) AS d_tot FROM deg GROUP BY 1),
         ec AS (SELECT a % 8 AS c, COUNT(*) AS e_in FROM e
                WHERE a % 8 = b % 8 GROUP BY 1),
         mm AS (SELECT COUNT(*) AS m FROM e),
         terms AS (
           SELECT CAST(CAST(COALESCE(ec.e_in, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
             - (CAST(dc.d_tot AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
               * (CAST(dc.d_tot AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
             AS DECIMAL(20,9)) AS term
           FROM dc LEFT JOIN ec ON dc.c = ec.c, mm)
         SELECT (SELECT m FROM mm) AS m, COUNT(*) AS n_communities,
           round(CAST(SUM(term) AS DOUBLE), 6) AS modularity
         FROM terms"""),

    // §2#30r (r7) personalized PageRank from a seed set over the
    // cos>=0.4 similarity graph (q97's edges): seed-relative relevance
    // for corpus expansion — sparse rank frame grows with the reached
    // frontier, teleport only to seeds.
    Query("q267_ppr", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      val pairs = operators.Dedup.embeddingPairs(emb).filter(col("cos") >= 0.1)
      operators.Graph.personalizedPageRank(pairs, "vec_a", "vec_b",
        emb.filter(col("vec_id") % 2 === 0).select(col("vec_id")))
    },
      OracleGen.pprSql(seedMod = 2, minCos = 0.1)),

    // §2#30s (r7) degree assortativity over the same similarity graph:
    // do hubs link to hubs? — one scalar from exact degree sums over
    // the directed edge list.
    Query("q268_assortativity", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.assortativity(pairs, "vec_a", "vec_b")
    },
      OracleGen.assortativitySql(minCos = 0.1)),

    // §2#30u (r7) Jaccard link prediction over the cos>=0.1 similarity
    // graph: the degree-penalized companion to q200's RA — cn from the
    // hub-capped wedge enumeration, union from full degrees, one
    // division.
    Query("q274_jaccard_links", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.jaccardLinkPrediction(pairs, "vec_a", "vec_b")
    },
      OracleGen.jaccardLinksSql()),

    // §2#30v (r7) HITS hubs & authorities over the bipartite
    // customer→part purchase graph (2 alternating L1-normalized
    // rounds, unrolled in the oracle): good buyers vs anchor products
    // — the mutually-recursive centrality PageRank can't express.
    Query("q288_hits", (s, dir) => {
      val edges = t(s, dir, "lineitem").df
        .join(t(s, dir, "orders").df, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      operators.Graph.hits(edges, "cust", "part", iters = 2)
    },
      OracleGen.hitsSql(iters = 2)),

    // §2#30w (r7) Hill tail-index of the similarity graph's degree
    // distribution (top-50 order statistics): the "how heavy is the
    // hub tail" scalar behind every bucketed-decomposition decision
    // (SURVEY §5), beside q259's absolute hot-key probe.
    Query("q291_degree_tail", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.degreeTailAlpha(pairs, "vec_a", "vec_b", k = 50)
    },
      OracleGen.degreeTailSql(k = 50, minCos = 0.1)),

    // §2#30x (r7) multi-source BFS over the cos>=0.1 similarity graph
    // (seeds = vec_id%50): hop-distance histogram to depth 3 — the
    // neighborhood-expansion read beside q267's weighted PPR relevance.
    Query("q295_bfs", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      val pairs = operators.Dedup.embeddingPairs(emb).filter(col("cos") >= 0.1)
      operators.Graph.bfsDistances(pairs, "vec_a", "vec_b",
          emb.filter(col("vec_id") % 50 === 0).select(col("vec_id")), maxDepth = 3)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
    },
      OracleGen.bfsSql(seedMod = 50, maxDepth = 3, minCos = 0.1)),

    // §2#30y (r8) weighted PageRank over the cos>=0.4 similarity graph
    // (q97's edges, now with their cosines as weights): rank flows
    // proportional to similarity — the exemplar ranker that doesn't
    // flatten a 0.97-cosine edge to a 0.41 one.
    Query("q309_weighted_pagerank", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.4)
      operators.Graph.pageRankWeighted(pairs, "vec_a", "vec_b", "cos")
    },
      OracleGen.pageRankWeightedSql()),

    // §2#30z (r8) weighted personalized PageRank (q267's seeds, q309's
    // weight-proportional spread): seed-relative relevance respecting
    // similarity scores — the corpus-expansion ranker.
    Query("q310_weighted_ppr", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      val pairs = operators.Dedup.embeddingPairs(emb).filter(col("cos") >= 0.1)
      operators.Graph.personalizedPageRankWeighted(pairs, "vec_a", "vec_b", "cos",
        emb.filter(col("vec_id") % 2 === 0).select(col("vec_id")))
    },
      OracleGen.pprWeightedSql(seedMod = 2, minCos = 0.1)),

    // §2#30ab (r8) Louvain local-move rounds over the cos>=0.4
    // similarity graph: the quality-driven community refiner between
    // q167's frequency votes and q240's modularity grade — gain argmax
    // in exact integer arithmetic, 2 synchronous sweeps.
    Query("q314_louvain", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.4)
      operators.Graph.louvainMove(pairs, "vec_a", "vec_b", rounds = 2)
    },
      OracleGen.louvainSql()),

    // §2#30ad (r10) k-truss of the similarity graph: every surviving
    // edge sits on >= k-2 triangles — edge-level cohesion where
    // q142's k-core is node-level; support peel to a fixpoint.
    Query("q372_ktruss", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.kTruss(pairs, "vec_a", "vec_b", k = 4)
    },
      OracleGen.kTrussSql()),

    // §2#30q local clustering coefficient: closed-wedge share per
    // node over the embedding-similarity graph — separates genuine
    // dup clusters (cc→1) from LSH-bucket hubs (cc→0); the q114
    // triangle plan plus one degree left-join.
    Query("q247_clustering_coeff", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.clusteringCoefficient(pairs, "vec_a", "vec_b")
    },
      OracleGen.clusteringSql(minCos = 0.1)),

    // §2#30l k-core membership: the dense-cluster vs stringy-chain
    // separator over the q114 similarity graph — iterative peel to an
    // asserted fixpoint, each round edge-list-sized.
    Query("q142_kcore", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.kCore(pairs, "vec_a", "vec_b", k = 2)
    },
      OracleGen.kCoreSql(minCos = 0.1, k = 2)),

    // §2#30n label-propagation communities over the similarity graph
    // (deterministic sync LPA, 2 rounds, ties to smallest label) — the
    // density-free community view components/kCore can't give.
    Query("q167_label_prop", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.4)
      operators.Graph.labelPropagation(pairs, "vec_a", "vec_b", iters = 2)
    },
      OracleGen.labelPropSql()),

    // §2#66b resource-allocation link prediction over the bucketed
    // embedding-similarity graph: which near-dup edges are MISSING —
    // common-neighbor enumeration with hub cap, exact integer shares.
    Query("q200_ra_links", (s, dir) => {
      val pairs = operators.Dedup.embeddingPairs(t(s, dir, "embeddings").df)
        .filter(col("cos") >= 0.1)
      operators.Graph.raLinkPrediction(pairs, "vec_a", "vec_b")
    },
      OracleGen.raLinksSql())
  )
}
