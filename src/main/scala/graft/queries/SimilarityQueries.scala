package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Tafra
import Helpers._

/** Vector and set similarity, ANN and retrieval:
  * `operators.Similarity` and `functions.VectorFunctions`.
  */
object SimilarityQueries {

  val all: Seq[Query] = Seq(

    // §2#34 ANN brute-force top-k (ranks only: cosine VALUES are engine-
    // internal float sums; RANKS are stable and oracle-checked).
    Query("q27_ann_bruteforce", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8))
        .select("query_id", "neighbor_id", "rank")
    },
      """SELECT query_id, neighbor_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS INT) AS rank
           FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 8)
         WHERE rank <= 10"""),

    // §2#35 ANN scale path: LSH-bucketed candidates + exact rerank,
    // with MULTI-PROBE (own bucket + single-bit flips) — the recall fix
    // for neighbors just across one hyperplane.
    Query("q28_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), probeHamming = 1)
    },
      OracleGen.lshAnnSql()),

    // §2#35b IVF ANN: md5-seeded coarse quantizer (lloydSteps=0 → the
    // centroids ARE the seed vectors: exactly reproducible from the
    // table, so DuckDB rebuilds the identical quantizer and the FULL
    // pipeline is hash-verified; Lloyd refinement stays a quality knob).
    Query("q36_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), lloydSteps = 0)
    },
      OracleGen.ivfAnnSql()),

    // §2#35b int8 scalar quantization of the embedding corpus: per-dim
    // min/max affine codes, rounded before the int cast so both
    // engines cast the same integral double. Exploded scalar rows.
    Query("q68_embed_quantize", (s, dir) =>
      operators.Similarity.scalarQuantize(
        Tafra.readParquet(s, s"$dir/embeddings.parquet").df),
      // per-dim min/max affine int8 codes; round() before the int cast on
      // both engines (casting an integral double can't drift)
      """WITH x AS (
           SELECT vec_id, CAST(i AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, unnest(generate_series(1, 64)) t(i)),
         mm AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY 1)
         SELECT x.vec_id, x.dim,
           CASE WHEN hi = lo THEN 0
                ELSE CAST(round((v - lo) / (hi - lo) * 255) AS INT) - 128 END AS q
         FROM x JOIN mm ON x.dim = mm.dim"""),

    // §2#35c product quantization: m=8 subspaces × 16 sub-centroids
    // (md5-seeded, oracle-reproducible), nearest-L2 codes.
    Query("q69_embed_pq", (s, dir) =>
      operators.Similarity.pqEncode(
        Tafra.readParquet(s, s"$dir/embeddings.parquet").df),
      OracleGen.pqSql()),

    // §2#35d PQ-ADC search: compressed-domain top-k over the q69 codes
    // (corpus floats never read at query time); LUT decimal-quantized.
    Query("q70_pq_adc", (s, dir) => {
      val vecs = Tafra.readParquet(s, s"$dir/embeddings.parquet").df
      operators.Similarity.pqTopK(vecs, vecs.filter(col("vec_id") < 8))
    },
      OracleGen.pqAdcSql()),

    // §2#54 cluster-balanced diversity sampling: embed → IVF cells →
    // content-hash quota per cell; dense modes can't dominate the
    // subset, and kept sets nest as the quota grows.
    Query("q73_diverse_sample", (s, dir) =>
      operators.Similarity.diverseSample(
        Tafra.readParquet(s, s"$dir/embeddings.parquet").df, quota = 20),
      OracleGen.diverseSampleSql()),

    // §2#57 per-label centroids: dim decimal sums in ONE partial agg —
    // the corpus never explodes before the shuffle; means divide as
    // double after the exact decimal aggregation.
    Query("q76_label_centroids", (s, dir) =>
      operators.Similarity.labelCentroids(
        Tafra.readParquet(s, s"$dir/embeddings.parquet").df),
      // floor(v·1e12 + 0.5) is tie-free pure-IEEE quantization (HALF_UP
      // decimal casts disagree across engines on floats' exact .5 ties)
      """WITH x AS (
           SELECT label, CAST(i AS INT) AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0)) AS v
           FROM embeddings, unnest(generate_series(1, 64)) t(i))
         SELECT label, dim, COUNT(*) AS n_vecs,
           CAST(SUM(v) AS DOUBLE) / 1e12 / COUNT(*) AS c
         FROM x GROUP BY 1, 2"""),

    // §2#34b kNN majority-vote classification over the embeddings:
    // top-10 cosine neighbors vote, ties to the smaller label.
    Query("q88_knn_classify", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      val queries = emb.filter(col("vec_id") < 8)
      operators.Similarity.knnClassify(emb, queries)
        .join(queries.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .withColumn("correct", col("pred_label") === col("true_label"))
    },
      """WITH nb AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                          c.vec_id) AS rank
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 8)
           WHERE rank <= 10),
         votes AS (
           SELECT query_id, c.label AS nb_label, COUNT(*) AS votes
           FROM nb JOIN embeddings c ON c.vec_id = nb.neighbor_id
           GROUP BY 1, 2),
         best AS (
           SELECT query_id, nb_label AS pred_label, CAST(votes AS INT) AS votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY votes DESC, nb_label) AS rn
           FROM votes)
         SELECT b.query_id, b.pred_label, b.votes, q.label AS true_label,
           (b.pred_label = q.label) AS correct
         FROM best b JOIN embeddings q ON q.vec_id = b.query_id
         WHERE rn = 1"""),

    // §2#35o (r7) NDCG@k: the log-discount retrieval metric beside
    // recall@k (q192) and AP@k (q253) — discount weights are shared
    // integer nano-unit literals, so DCG/IDCG are exact longs and
    // neither engine evaluates a logarithm.
    Query("q262_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.ndcgAtK(emb, emb.filter(col("vec_id") % 50 === 0), k = 10)
    },
      // discount weights are the SAME nano-unit long literals Spark uses
      // (ndcgWeightsNano), so DCG/IDCG are exact integer sums on both
      // engines — no logarithm is ever evaluated
      {
      val w = operators.Similarity.ndcgWeightsNano(10)
      val cums = w.scanLeft(0L)(_ + _).tail
      s"""WITH tk AS (
           SELECT query_id, neighbor_id, rank FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                          c.vec_id) AS INT) AS rank
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id % 50 = 0)
           WHERE rank <= 10),
         lab AS (SELECT vec_id, label FROM embeddings),
         j AS (
           SELECT t.query_id, t.rank,
             CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS rel
           FROM tk t
           JOIN lab ql ON ql.vec_id = t.query_id
           JOIN lab cl ON cl.vec_id = t.neighbor_id),
         a AS (
           SELECT query_id, SUM(rel) AS n_rel,
             SUM(CASE WHEN rel = 1 THEN ([${w.mkString(", ")}])[rank] ELSE 0 END) AS dcg
           FROM j GROUP BY 1)
         SELECT query_id, CAST(n_rel AS BIGINT) AS n_rel,
           CASE WHEN n_rel > 0 THEN
             round(CAST(dcg AS DOUBLE)
               / CAST(([${cums.mkString(", ")}])[CAST(LEAST(n_rel, 10) AS INT)] AS DOUBLE), 9)
           ELSE 0.0 END AS ndcg
         FROM a"""
    }),

    // §2#35q (r8) IVF-PQ — the FAISS IVFADC composition of q36's
    // coarse quantizer, q69's PQ codes, and q70's ADC scan: queries
    // ADC-scan ONLY their nprobe probed cells' codes. Full pipeline
    // (seeds, cells, codes, LUT, probe-restricted sum) hash-verified.
    Query("q307_ivf_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8))
    },
      OracleGen.ivfPqSql()),

    // §2#35r (r8) IVF-PQ recall@k vs exact cosine top-k at nprobe <
    // ncells — the stacked-approximation audit (cell pruning + PQ
    // distortion) run before committing a 100-TB IVFADC build.
    Query("q308_ivfpq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.ivfPqRecall(emb, emb.filter(col("vec_id") < 8))
    },
      OracleGen.ivfPqRecallSql()),

    // §2#54b (r8) greedy k-center coreset (farthest-first traversal):
    // the coverage-guaranteed diversity subset beside q73's per-cell
    // quotas — per round one map-only min-dist update + a TakeOrdered
    // argmax; the 8 picks and their selection radii are the output.
    Query("q315_kcenter_coreset", (s, dir) =>
      operators.Similarity.kCenterCoreset(t(s, dir, "embeddings").df, k = 8),
      OracleGen.kCenterSql()),

    // §2#35s (r10) embedding isotropy diagnostics (Ethayarajh'19): per
    // label, the mean pairwise cosine of unit vectors WITHOUT pairwise
    // work (‖Σu‖² − Σ‖u‖² identity) plus the mean raw norm — the two
    // drift signals retrieval monitoring watches for anisotropy
    // collapse. Shuffle volume is labels × dim.
    Query("q338_embed_isotropy", (s, dir) =>
      functions.VectorFunctions.isotropyByGroup(
        t(s, dir, "embeddings").df, "label", "embedding", "vec_id"),
      """WITH e AS (
           SELECT label, vec_id, embedding,
             list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12 + 0.5) AS BIGINT)))
               AS ssq
           FROM embeddings),
         b AS (
           SELECT label, vec_id, embedding, sqrt(CAST(ssq AS DOUBLE) / 1e12) AS nrm
           FROM e WHERE ssq > 0),
         pv AS (
           SELECT label, COUNT(*) AS n_vecs, SUM(CAST(nrm AS DECIMAL(20,9))) AS sn
           FROM b GROUP BY 1),
         comp AS (
           SELECT label, s.p AS p,
             CAST(floor(CAST(s.x AS DOUBLE) / nrm * 1e9 + 0.5) AS BIGINT) AS uq
           FROM (SELECT label, nrm,
                   unnest([{'p': i, 'x': embedding[i]}
                           for i in generate_series(1, len(embedding))]) AS s
                 FROM b)),
         byp AS (
           SELECT label, p, SUM(CAST(uq AS HUGEINT)) AS sp,
             SUM(CAST(uq AS HUGEINT) * CAST(uq AS HUGEINT)) AS q
           FROM comp GROUP BY 1, 2),
         cr AS (SELECT label, SUM(sp * sp) AS s2, SUM(q) AS qt FROM byp GROUP BY 1)
         SELECT pv.label, n_vecs,
           round(CAST(sn AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS mean_norm,
           CASE WHEN n_vecs >= 2 THEN
             round((CAST(s2 AS DOUBLE) - CAST(qt AS DOUBLE)) /
               (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1.0) * 1e18), 9)
           END AS mean_pair_cos
         FROM pv JOIN cr USING (label)"""),

    // §2#35t (r10) rank-biased overlap between the BM25 and
    // QL-Dirichlet top-10 runs for the same query — the top-weighted
    // ranking-similarity read-out over non-conjoint lists.
    Query("q360_rbo", (s, dir) => {
      val docs = t(s, dir, "documents").df
      val terms = Seq("join", "hash", "scan")
      operators.Similarity.rboOverlap(
        functions.TermStats.bm25Rank(docs, terms, topK = 10),
        functions.TermStats.qlDirichletRank(docs, terms, mu = 2000.0, topK = 10),
        "doc_id", "rank", p = 0.9, depth = 10)
    },
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         tot AS (
           SELECT CAST(SUM(len(w)) AS BIGINT) AS nt, COUNT(*) AS nd FROM toks),
         tf0 AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term
           FROM toks),
         tfc AS (
           SELECT doc_id, dl, term, COUNT(*) AS tf
           FROM tf0 WHERE term IN ('join', 'hash', 'scan') GROUP BY 1, 2, 3),
         dft AS (
           SELECT term,
             CAST(ln((CAST((SELECT nd FROM tot) AS DOUBLE) - COUNT(*) + 0.5)
               / (COUNT(*) + 0.5) + 1.0) AS DECIMAL(20,6)) AS idf
           FROM tfc GROUP BY 1),
         bsc AS (
           SELECT tfc.doc_id,
             CAST(CAST(idf AS DOUBLE) * (tf * 2.5)
               / (tf + 1.5 * (0.25 + 0.75 * dl
                   / (CAST((SELECT nt FROM tot) AS DOUBLE) / CAST((SELECT nd FROM tot) AS DOUBLE))))
               AS DECIMAL(20,9)) AS c
           FROM tfc JOIN dft ON tfc.term = dft.term),
         lex AS (
           SELECT doc_id, rank FROM (
             SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, doc_id) AS INT) AS rank
             FROM bsc GROUP BY doc_id)
           WHERE rank <= 10),
         cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tfc GROUP BY 1),
         cand AS (SELECT DISTINCT doc_id, dl FROM tfc),
         qsc AS (
           SELECT cand.doc_id,
             CAST(ln((COALESCE(tfc.tf, 0) + 2000.0 * CAST(cf.cf AS DOUBLE)
                 / CAST((SELECT nt FROM tot) AS DOUBLE)) / (cand.dl + 2000.0))
               AS DECIMAL(20,9)) AS c
           FROM cand CROSS JOIN cf
           LEFT JOIN tfc ON tfc.doc_id = cand.doc_id AND tfc.term = cf.term),
         ql AS (
           SELECT doc_id, rank FROM (
             SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, doc_id) AS INT) AS rank
             FROM qsc GROUP BY doc_id)
           WHERE rank <= 10),
         ov AS (
           SELECT greatest(l.rank, q.rank) AS m
           FROM lex l JOIN ql q USING (doc_id)),
         dep AS (SELECT unnest(generate_series(1, 10)) AS d),
         xd AS (
           SELECT dep.d, COUNT(ov.m) AS x
           FROM dep LEFT JOIN ov ON ov.m <= dep.d GROUP BY 1),
         terms AS (
           SELECT d, x,
             CAST(((1.0 - 0.9) / 0.9) * CAST(x AS DOUBLE) / CAST(d AS DOUBLE)
               * power(0.9, CAST(d AS DOUBLE)) AS DECIMAL(20,9)) AS t
           FROM xd),
         agg AS (
           SELECT MAX(CASE WHEN d = 10 THEN x END) AS xk, SUM(t) AS s FROM terms)
         SELECT CAST(10 AS INT) AS depth, round(0.9, 6) AS p,
           CAST(xk AS BIGINT) AS overlap_at_k,
           round(CAST(s AS DOUBLE)
             + CAST(xk AS DOUBLE) / 10.0 * power(0.9, 10.0), 9) AS rbo_ext
         FROM agg"""),

    // §2#35u (r10) MMR diversified selection: top-15 cosine pool for
    // query 0, greedy 5-pick at lambda = 7/10 — relevance with
    // diversity; all scores exact integers (1e-9-quantized cosines,
    // rational lambda), so no float compare can flip a pick.
    Query("q371_mmr", (s, dir) =>
      operators.Similarity.mmrSelect(t(s, dir, "embeddings").df, 0L,
        poolK = 15, selectK = 5),
      OracleGen.mmrSql()),

    // §2#35p (r7) Matryoshka truncated-dim recall: how much neighbor
    // membership survives searching on the first 16 of 64 components —
    // the store-wide/search-narrow cost-cut measurement beside q192's
    // IVF recall and q165's JL projection.
    Query("q299_matryoshka_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.truncatedRecall(
        emb, emb.filter(col("vec_id") < 8), dims = 16)
    },
      OracleGen.truncatedRecallSql(dims = 16, k = 10)),

    // §2#35n average precision @ k: the rank-position-sensitive
    // retrieval metric beside q192's recall — integer 2520/rank
    // harmonic arithmetic keeps AP exact across engines.
    Query("q253_ap_at_k", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.apAtK(emb, emb.filter(col("vec_id") % 50 === 0), k = 10)
    },
      """WITH tk AS (
           SELECT query_id, neighbor_id, rank FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                          c.vec_id) AS INT) AS rank
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id % 50 = 0)
           WHERE rank <= 10),
         lab AS (SELECT vec_id, label FROM embeddings),
         j AS (
           SELECT t.query_id, t.rank,
             CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS rel
           FROM tk t
           JOIN lab ql ON ql.vec_id = t.query_id
           JOIN lab cl ON cl.vec_id = t.neighbor_id),
         h AS (
           SELECT query_id, rank, rel,
             SUM(rel) OVER (PARTITION BY query_id ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
           FROM j),
         a AS (
           SELECT query_id, SUM(rel) AS n_rel,
             SUM(CASE WHEN rel = 1 THEN hits * (2520 // rank) ELSE 0 END) AS num
           FROM h GROUP BY 1)
         SELECT query_id, CAST(n_rel AS BIGINT) AS n_rel,
           CASE WHEN n_rel > 0 THEN
             round(CAST(num AS DOUBLE) / (2520.0 * CAST(n_rel AS DOUBLE)), 9)
           ELSE 0.0 END AS ap
         FROM a"""),

    // §2#35e signed random projection (JL/Rademacher) 64→16 dims with
    // a cosine-preservation audit over consecutive pairs: projected
    // cosine tracks the original (scale-free, so no 1/√k factor);
    // native codegen'd kernel sharing the hyperplane sign matrix.
    Query("q165_random_projection", (s, dir) => {
      val proj = t(s, dir, "embeddings").df.select(col("vec_id"), col("embedding"),
        functions.VectorFunctions.randomProject(col("embedding"), 16, 64).as("proj"))
      val a = proj.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("proj").as("pa"))
      val b = proj.select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("proj").as("pb"))
      a.join(b, Seq("id_a"))
        .withColumn("_co", functions.VectorFunctions.cosine(col("ea"), col("eb")))
        .withColumn("_cp", functions.VectorFunctions.cosineHof(col("pa"), col("pb")))
        .select(col("id_a"), col("id_b"),
          round(col("_co"), 6).as("cos_orig"), round(col("_cp"), 6).as("cos_proj"),
          round(abs(col("_co") - col("_cp")), 6).as("err"))
    },
      OracleGen.randomProjectionSql()),

    // §2#35f centroid-distance outliers: nearest-IVF-centroid cosine +
    // DECIMAL(18,6) threshold flag — "belongs to no prototype"
    // embedding anomaly scoring; map-only cell projection.
    Query("q175_centroid_outliers", (s, dir) =>
      operators.Similarity.centroidOutliers(t(s, dir, "embeddings").df),
      OracleGen.centroidOutliersSql()),

    // §2#35g label-conformity (mislabel) scoring: cosine to the OWN
    // label's exact-sum centroid, broadcast centroids, map-only pass.
    Query("q183_label_conformity", (s, dir) =>
      operators.Similarity.labelConformity(
        t(s, dir, "embeddings").df),
      OracleGen.labelConformitySql()),

    // §2#35h distributed PCA dominant component: exact quantized
    // moment sums (one partial agg), driver power iteration (bounded
    // model artifact), map-only mean-centered projection.
    Query("q185_pca_project", (s, dir) =>
      operators.Similarity.principalComponent(
        t(s, dir, "embeddings").df),
      OracleGen.principalComponentSql()),

    // §2#35j one spherical k-means step: map-only nearest-seed
    // assignment (centroids as plan literals) + ONE exact partial-agg
    // centroid update — the IVF-build iteration as an operator.
    Query("q190_kmeans_step", (s, dir) =>
      operators.Similarity.kmeansStep(t(s, dir, "embeddings").df),
      OracleGen.kmeansStepSql()),

    // §2#35k ANN recall@k audit: IVF results intersected with the exact
    // top-k per query — the metric that picks ncells/nprobe before a
    // 100-TB index build; membership compare, no float boundary.
    Query("q192_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings").df
      operators.Similarity.recallAudit(emb, emb.filter(col("vec_id") < 8))
    },
      OracleGen.annRecallSql()),

    // §2#35l one k-means|| oversampling round: keep-with-prob l·d²/cost
    // via the content-addressed md5 coin — scalable seeding between the
    // md5 seeds and the q190 Lloyd step; map-only score + ONE scalar
    // agg broadcast back.
    Query("q193_kmeanspp_round", (s, dir) =>
      operators.Similarity.kmeansOversample(t(s, dir, "embeddings").df),
      OracleGen.kmeansOversampleSql()),

    // §2#35j reciprocal-rank fusion: hybrid retrieval — BM25 lexical
    // top-50 and embedding-cosine top-50 (query = vec 0) fused by
    // exact integer 1e9 div (60+rank) sums; the score-free combiner
    // for incommensurable retrievers.
    Query("q208_rrf_fusion", (s, dir) => {
      val lex = functions.TermStats.bm25Rank(
        t(s, dir, "documents").df, Seq("join", "hash", "scan"), topK = 50)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings").df
      val sem = operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      operators.Similarity.rrfFuse(Seq(lex, sem), "doc_id", "rank")
    },
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         tot AS (
           SELECT CAST(SUM(len(w)) AS BIGINT) AS nt, COUNT(*) AS nd FROM toks),
         tfc AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term
           FROM toks),
         tfg AS (
           SELECT doc_id, dl, term, COUNT(*) AS tf
           FROM tfc WHERE term IN ('join', 'hash', 'scan') GROUP BY 1, 2, 3),
         dft AS (
           SELECT term,
             CAST(ln((CAST((SELECT nd FROM tot) AS DOUBLE) - COUNT(*) + 0.5)
               / (COUNT(*) + 0.5) + 1.0) AS DECIMAL(20,6)) AS idf
           FROM tfg GROUP BY 1),
         sc AS (
           SELECT tfg.doc_id,
             CAST(CAST(idf AS DOUBLE) * (tf * 2.5)
               / (tf + 1.5 * (0.25 + 0.75 * dl
                   / (CAST((SELECT nt FROM tot) AS DOUBLE) / CAST((SELECT nd FROM tot) AS DOUBLE))))
               AS DECIMAL(20,9)) AS c
           FROM tfg JOIN dft ON tfg.term = dft.term),
         lex AS (
           SELECT doc_id, rank FROM (
             SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, doc_id) AS INT) AS rank
             FROM sc GROUP BY doc_id)
           WHERE rank <= 50),
         sem AS (
           SELECT doc_id, rank FROM (
             SELECT c.vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                          c.vec_id) AS INT) AS rank
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id = 0)
           WHERE rank <= 50),
         u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM sem),
         f AS (
           SELECT doc_id, CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_q,
             COUNT(*) AS n_rankers
           FROM u GROUP BY 1)
         SELECT doc_id, rrf_q, n_rankers, fused_rank FROM (
           SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id) AS INT) AS fused_rank
           FROM f)
         WHERE fused_rank <= 20"""),

    // §2#35i hard-negative mining: per anchor the k most-similar
    // DIFFERENT-label vectors — labels carried through the bucket
    // pipeline, no corpus join onto the pair list.
    Query("q186_hard_negatives", (s, dir) =>
      operators.Similarity.hardNegatives(
        t(s, dir, "embeddings").df),
      OracleGen.hardNegativesSql()),

    // §2#35m multi-round k-means trainer: the q190/q193 bricks driven
    // to a full quantizer build — 3 exact-integer-centroid Lloyd
    // rounds with per-round inertia (the convergence curve); the
    // oracle replays every round as chained CTEs.
    Query("q223_kmeans_train", (s, dir) =>
      operators.Similarity.kmeansTrain(t(s, dir, "embeddings").df,
        ncells = 8, iters = 3, stopMoveU = -1L)
        // gate boundary: DECIMAL stringifies differently across engines
        .withColumn("inertia", col("inertia_q").cast("double")).drop("inertia_q"),
      OracleGen.kmeansTrainSql())
  )
}
