package graft
package queries

import org.apache.spark.sql.functions._

import Helpers._

/** Near-duplicate detection: `operators.Dedup` and the portable
  * hash family.
  */
object DedupQueries {

  val all: Seq[Query] = Seq(

    // §2#29 exact dedup.
    Query("q22_dedup_exact", (s, dir) =>
      operators.Dedup.exact(t(s, dir, "documents").df),
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash,
         MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1"""),

    // §2#30 MinHash+LSH near-dup (top-100 candidate pairs).
    Query("q23_dedup_minhash", (s, dir) =>
      operators.Dedup.minhash(t(s, dir, "documents").df),
      // Full-pipeline portable-hash oracles (OracleGen): signatures,
      // banding, capping, scoring and float ranks all recomputed by
      // DuckDB from md5 primitives + inlined plan-time constants.
      OracleGen.minhashSql()),

    // §2#31 SimHash near-dup (top-100 pairs by Hamming distance).
    Query("q24_dedup_simhash", (s, dir) =>
      operators.Dedup.simhash(t(s, dir, "documents").df),
      OracleGen.simhashSql()),

    // §2#32 n-gram Jaccard near-dup over rare trigrams (oracle-mirrored).
    Query("q25_dedup_ngram", (s, dir) =>
      operators.Dedup.ngramJaccard(t(s, dir, "documents").df),
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w)-2)]) AS grams
           FROM toks WHERE len(w) >= 3),
         post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
         rare AS (SELECT g FROM post GROUP BY g HAVING COUNT(*) <= 20),
         rpost AS (SELECT doc_id, g FROM post WHERE g IN (SELECT g FROM rare)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rpost GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
           FROM rpost a JOIN rpost b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, common, jaccard, rnk FROM (
           SELECT doc_a, doc_b, common,
             CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard,
             CAST(ROW_NUMBER() OVER (
               ORDER BY CAST(common AS DOUBLE) / (ca.n + cb.n - common) DESC, doc_a, doc_b) AS INT) AS rnk
           FROM pairs
           JOIN cnt ca ON doc_a = ca.doc_id
           JOIN cnt cb ON doc_b = cb.doc_id)
         WHERE rnk <= 100"""),

    // §2#33 embedding-cosine near-dup via hyperplane LSH buckets.
    Query("q26_dedup_embedding", (s, dir) =>
      operators.Dedup.embedding(t(s, dir, "embeddings").df),
      OracleGen.embeddingSql()),

    // §2#30b near-dup clustering: candidate pairs → connected
    // components (min-label propagation, driver loop = iteration
    // control only) → the keep/drop groups a dedup pipeline acts on.
    // Oracle: DuckDB recursive CTE over the same q25 pair list.
    Query("q41_dedup_components", (s, dir) =>
      operators.Dedup.components(
        operators.Dedup.ngramJaccard(t(s, dir, "documents").df)),
      // same pair list as q25, then min-label components via recursive CTE
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w)-2)]) AS grams
           FROM toks WHERE len(w) >= 3),
         post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
         rare AS (SELECT g FROM post GROUP BY g HAVING COUNT(*) <= 20),
         rpost AS (SELECT doc_id, g FROM post WHERE g IN (SELECT g FROM rare)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rpost GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
           FROM rpost a JOIN rpost b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         top AS (
           SELECT doc_a, doc_b FROM (
             SELECT doc_a, doc_b,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(common AS DOUBLE) / (ca.n + cb.n - common) DESC, doc_a, doc_b) AS rnk
             FROM pairs
             JOIN cnt ca ON doc_a = ca.doc_id
             JOIN cnt cb ON doc_b = cb.doc_id)
           WHERE rnk <= 100),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM top
                   UNION SELECT doc_b, doc_a FROM top),
         reach(node, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node)
         SELECT node, MIN(lbl) AS component FROM reach GROUP BY node"""),

    // §2#30c chunk-level exact dedup: drop every 10-token aligned chunk
    // seen earlier in the corpus (min doc_id, then position), rebuild
    // each document from its surviving chunks.
    Query("q55_chunk_dedup", (s, dir) =>
      operators.Dedup.chunkDedup(t(s, dir, "documents").df, chunkTokens = 10),
      // aligned 10-token chunks; first occurrence (doc_id, pos) wins;
      // documents rebuilt from surviving chunks in position order
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         ch AS (
           SELECT doc_id, i - 1 AS pos, array_to_string(w[(i-1)*10+1 : i*10], ' ') AS chunk
           FROM toks, unnest(generate_series(1,
             (SELECT CAST(max(ceil(len(w) / 10.0)) AS BIGINT) FROM toks))) AS t(i)
           WHERE i <= CAST(ceil(len(w) / 10.0) AS BIGINT)),
         keep AS (
           SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
           FROM ch),
         reb AS (
           SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean_text
           FROM keep WHERE rn = 1 GROUP BY doc_id)
         SELECT t.doc_id, CAST(ceil(len(w) / 10.0) AS INT) AS n_chunks,
           COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_text, '') AS clean_text
         FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id"""),

    // §2#30d benchmark decontamination: train docs (doc_id % 10 != 0)
    // flagged by 8-gram overlap with the eval split (doc_id % 10 == 0).
    Query("q56_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents").df
      operators.Dedup.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), n = 8)
    },
      // 8-gram overlap of train docs (doc_id % 10 != 0) vs the eval
      // split (doc_id % 10 == 0); n_hits counts DISTINCT shared grams
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         g AS (
           SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i : i+7], ' ')
                                   for i in generate_series(1, len(w) - 7)])) AS g
           FROM toks WHERE len(w) >= 8),
         ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
         hits AS (
           SELECT doc_id, COUNT(*) AS n_hits FROM g
           WHERE doc_id % 10 <> 0 AND g IN (SELECT g FROM ev)
           GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) t
         LEFT JOIN hits h ON t.doc_id = h.doc_id"""),

    // §2#30e incremental batch-vs-corpus dedup: the batch (doc_id % 5
    // == 0) checked against the standing corpus (rest) on the
    // token-set key, bloom-prefiltered, exact-confirmed.
    Query("q57_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").df
      operators.Dedup.dedupAgainst(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
    },
      // batch (doc_id % 5 == 0) vs corpus membership on the sorted
      // distinct-token-set md5 key; bloom is a prefilter only, so the
      // oracle is the exact join semantics
      """WITH k AS (
           SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS set_key
           FROM documents)
         SELECT b.doc_id, b.set_key,
           NOT EXISTS (SELECT 1 FROM k c WHERE c.doc_id % 5 <> 0
                       AND c.set_key = b.set_key) AS is_new
         FROM k b WHERE b.doc_id % 5 = 0"""),

    // §2#33b semantic corpus dedup: the end-to-end keep/drop decision
    // over the embedding table (bucketed pairs ≥ minCos → components →
    // keep component minima). The synthetic embeddings have no planted
    // high-cosine twins, so the graded threshold sits inside the real
    // cosine range to exercise the cluster path.
    Query("q58_semantic_dedup", (s, dir) =>
      operators.Dedup.semanticDedup(t(s, dir, "embeddings").df, minCos = 0.4)
        .select("vec_id", "keep"),
      OracleGen.semanticDedupSql()),

    // §2#30f duplicated-span removal (Lee et al. exact-substring pass,
    // overlapping 8-token windows): re-seen spans cut token-exact,
    // first occurrence kept, docs rebuilt from surviving tokens.
    Query("q66_span_dedup", (s, dir) =>
      operators.Dedup.spanDedup(t(s, dir, "documents").df, k = 8),
      // overlapping 8-token windows; first occurrence by (doc_id, pos)
      // wins; duplicate windows expand to token indices (constant-bound
      // series — DuckDB lacks lateral ranges), docs rebuilt from kept
      // tokens
      """WITH b AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n
           FROM documents),
         g AS (
           SELECT doc_id, i AS pos, array_to_string(w[i : i+7], ' ') AS g
           FROM b, unnest(generate_series(1,
             (SELECT CAST(MAX(n) AS BIGINT) FROM b))) t(i)
           WHERE n >= 8 AND i <= n - 7),
         d AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
             FROM g) WHERE rn > 1),
         rem AS (
           SELECT DISTINCT doc_id, pos + i AS idx
           FROM d, unnest(generate_series(0, 7)) t(i)),
         tk AS (
           SELECT doc_id, i AS idx, w[i] AS tok
           FROM b, unnest(generate_series(1,
             (SELECT CAST(MAX(n) AS BIGINT) FROM b))) t(i)
           WHERE i <= n),
         reb AS (
           SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.idx) AS clean_text
           FROM tk LEFT JOIN rem ON tk.doc_id = rem.doc_id AND tk.idx = rem.idx
           WHERE rem.idx IS NULL GROUP BY 1),
         rc AS (SELECT doc_id, COUNT(*) AS n_removed FROM rem GROUP BY 1)
         SELECT b.doc_id, n AS n_tokens,
           CAST(COALESCE(rc.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(reb.clean_text, '') AS clean_text
         FROM b LEFT JOIN reb ON b.doc_id = reb.doc_id
         LEFT JOIN rc ON b.doc_id = rc.doc_id"""),

    // §2#30g cross-source 8-gram overlap matrix: the symmetric
    // inter-source duplication census (decontaminate's all-pairs form).
    Query("q80_source_overlap", (s, dir) =>
      operators.Dedup.sourceOverlapMatrix(t(s, dir, "documents").df),
      """WITH toks AS (
           SELECT source, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         p AS (
           SELECT DISTINCT src, g FROM (
             SELECT source AS src,
               unnest(list_distinct([array_to_string(w[i : i+7], ' ')
                                     for i in generate_series(1, len(w) - 7)])) AS g
             FROM toks WHERE len(w) >= 8))
         SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
         FROM p a JOIN p b ON a.g = b.g AND a.src < b.src
         GROUP BY 1, 2"""),

    // §2#30h blocked edit-distance entity resolution: the distinct
    // part-name catalog plus planted single-char typo variants (cut
    // position content-derived from the entity id, mirrored in SQL);
    // segment-pigeonhole blocking + threshold levenshtein verify.
    Query("q84_fuzzy_pairs", (s, dir) => {
      val ent = t(s, dir, "part").df
        .select(col("p_name").as("s"), col("p_partkey"))
        .groupBy("s").agg(min("p_partkey").as("id"))
      val l = length(col("s"))
      val cut = pmod(col("id"), l.cast("long")).cast("int")
      val variants = ent.filter(col("id") % 2 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(col("s").substr(lit(1), cut), lit("q"),
                 col("s").substr(cut + lit(2), l)).as("s"))
      val corpus = ent.select("id", "s").unionByName(variants)
      operators.Dedup.editDistancePairs(corpus, "id", "s", maxDist = 2, maxBlock = 100)
    },
      """WITH ent AS (
           SELECT p_name AS s, MIN(p_partkey) AS id FROM part GROUP BY p_name),
         corpus AS (
           SELECT id, s FROM ent
           UNION ALL
           SELECT id + 1000000 AS id,
             substr(s, 1, CAST(id % len(s) AS INT)) || 'q'
               || substr(s, CAST(id % len(s) AS INT) + 2) AS s
           FROM ent WHERE id % 2 = 0),
         base AS (SELECT id, s, len(s) AS l FROM corpus),
         posts AS (
           SELECT id, s, l, i AS idx,
             substr(s, (i*l)//3 + 1, ((i+1)*l)//3 - (i*l)//3) AS seg
           FROM base, unnest([0, 1, 2]) t(i)),
         blocks AS (
           SELECT idx, seg, l FROM posts GROUP BY idx, seg, l HAVING COUNT(*) <= 100),
         allowed AS (SELECT p.* FROM posts p JOIN blocks b USING (idx, seg, l)),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
           FROM allowed a JOIN allowed b USING (idx, seg, l)
           WHERE a.id < b.id)
         SELECT id_a, id_b, CAST(levenshtein(sa, sb) AS INT) AS dist
         FROM pairs WHERE levenshtein(sa, sb) <= 2"""),

    // §2#32b PPJoin prefix-filtered Jaccard >= 4/5 over 3-gram shingle
    // sets: EXACT recall (no df-cap loss) from a (1-t)-sized index;
    // integer threshold arithmetic, no float boundary.
    Query("q93_jaccard_prefix", (s, dir) =>
      operators.Dedup.jaccardPrefixJoin(t(s, dir, "documents").df),
      """WITH t0 AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         sets AS (
           SELECT doc_id,
             list_sort(list_distinct([array_to_string(w[i : i+2], ' ')
                                      for i in generate_series(1, len(w) - 2)])) AS st
           FROM t0 WHERE len(w) >= 3),
         grp AS (
           SELECT MIN(doc_id) AS rep, COUNT(*) AS members,
             ANY_VALUE(st) AS st, ANY_VALUE(s) AS s
           FROM (SELECT doc_id, st, len(st) AS s,
                   md5(array_to_string(st, chr(10))) AS gkey FROM sets)
           GROUP BY gkey),
         posts AS (SELECT rep, s, unnest(st) AS tok FROM grp),
         dfq AS (SELECT tok, COUNT(*) AS dfc FROM posts GROUP BY tok),
         rk AS (SELECT rep, tok, s,
                  ROW_NUMBER() OVER (PARTITION BY rep ORDER BY dfc, tok) AS rn
                FROM posts JOIN dfq USING (tok)),
         pref AS (SELECT rep, tok FROM rk WHERE rn <= s - (4*s + 4)//5 + 1),
         cand AS (SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b
                  FROM pref a JOIN pref b USING (tok) WHERE a.rep < b.rep),
         scored AS (
           SELECT doc_a, doc_b, ga.members AS members_a, gb.members AS members_b,
             len(list_intersect(ga.st, gb.st)) AS inter, ga.s AS ssa, gb.s AS ssb
           FROM cand
           JOIN grp ga ON ga.rep = doc_a
           JOIN grp gb ON gb.rep = doc_b)
         SELECT doc_a, doc_b, members_a, members_b,
           CAST(inter AS DOUBLE) / (ssa + ssb - inter) AS jac
         FROM scored WHERE 5*inter >= 4*(ssa + ssb - inter)"""),

    // §2#30p content-defined chunk dedup: boundaries where the
    // trailing 16-gram's md5 ends in '0' — the insertion-robust form
    // of q55's fixed grid; map-side boundary HOFs, the same two
    // corpus shuffles (min-struct first-occurrence + per-doc rebuild).
    Query("q241_cdc_chunks", (s, dir) =>
      operators.Dedup.cdcChunkDedup(t(s, dir, "documents").df, w = 16),
      """WITH d AS (
           SELECT doc_id, COALESCE(text, '') AS t,
             length(COALESCE(text, '')) AS n
           FROM documents),
         pos AS (
           SELECT doc_id, t, n, unnest(range(1, n + 1)) AS i FROM d WHERE n > 0),
         bf AS (
           SELECT doc_id, t, i,
             CASE WHEN i = n THEN 1
                  WHEN i >= 16 AND i < n
                   AND substr(md5(substr(t, CAST(i - 15 AS INT), 16)), 32, 1) = '0' THEN 1
                  ELSE 0 END AS isb
           FROM pos),
         cid AS (
           SELECT doc_id, t, i,
             COALESCE(SUM(isb) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
           FROM bf),
         chunks AS (
           SELECT doc_id, pos, substr(t, CAST(MIN(i) AS INT),
             CAST(MAX(i) - MIN(i) + 1 AS INT)) AS chunk
           FROM cid GROUP BY doc_id, pos, t),
         firsts AS (
           SELECT chunk, MIN([doc_id, pos]) AS first FROM chunks GROUP BY 1),
         flagged AS (
           SELECT c.doc_id, c.chunk,
             (f.first = [c.doc_id, c.pos]) AS kept
           FROM chunks c JOIN firsts f USING (chunk)),
         agg AS (
           SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
             SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
             SUM(CASE WHEN kept THEN length(chunk) ELSE 0 END) AS kept_chars
           FROM flagged GROUP BY 1)
         SELECT d.doc_id, COALESCE(a.n_chunks, 0) AS n_chunks,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(a.kept_chars, 0) AS BIGINT) AS kept_chars
         FROM d LEFT JOIN agg a USING (doc_id)"""),

    // §2#32c containment near-dup: common/min(na,nb) ≥ 1/2 over the
    // same rare-trigram inverted index as q25 — catches a short doc
    // embedded in a long one, which Jaccard structurally misses.
    Query("q123_containment", (s, dir) =>
      operators.Dedup.containmentJoin(t(s, dir, "documents").df),
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w)-2)]) AS grams
           FROM toks WHERE len(w) >= 3),
         post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
         rare AS (SELECT g FROM post GROUP BY g HAVING COUNT(*) <= 20),
         rpost AS (SELECT doc_id, g FROM post WHERE g IN (SELECT g FROM rare)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rpost GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
           FROM rpost a JOIN rpost b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, common, containment, rnk FROM (
           SELECT doc_a, doc_b, common,
             CAST(common AS DOUBLE) / least(ca.n, cb.n) AS containment,
             CAST(ROW_NUMBER() OVER (
               ORDER BY CAST(common AS DOUBLE) / least(ca.n, cb.n) DESC, doc_a, doc_b) AS INT) AS rnk
           FROM pairs
           JOIN cnt ca ON doc_a = ca.doc_id
           JOIN cnt cb ON doc_b = cb.doc_id
           WHERE common * 2 >= least(ca.n, cb.n) * 1)
         WHERE rnk <= 100"""),

    // §2#30k sketched source-similarity matrix: per-source MinHash
    // signatures (one partial-min shuffle), pairwise agreement as the
    // Jaccard estimate between whole-source gram sets — the scale
    // companion to q80's exact overlap census.
    Query("q128_source_minhash", (s, dir) =>
      operators.Dedup.sourceMinhashMatrix(t(s, dir, "documents").df),
      OracleGen.sourceMinhashSql()),

    // §2#30m sorted-neighborhood (SNM) candidate pairs within 5
    // positions of the normalized-prefix sort order — global ordinal
    // via the two-level bucket decomposition (never a global window),
    // neighbor pairing a block ±1 hash equi-join in rank space.
    Query("q162_snm", (s, dir) =>
      operators.Dedup.sortedNeighborhood(
        t(s, dir, "documents").df.select(col("doc_id"),
          substring(lower(col("text")), 1, 16).as("sk")),
        "sk", "doc_id", w = 5),
      """WITH k AS (
           SELECT doc_id, substring(lower(text), 1, 16) AS sk FROM documents),
         r AS (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS idx FROM k)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.idx - a.idx AS d
         FROM r a JOIN r b ON b.idx - a.idx BETWEEN 1 AND 5"""),

    // §2#31b line-level boilerplate removal: lines in ≥ 1/2 of a
    // source's docs (planted copyright/banner chrome) are stripped
    // from every doc; content + the per-doc unique tail survive.
    Query("q178_boilerplate", (s, dir) => {
      val docs = t(s, dir, "documents").df.select(col("doc_id"), col("source"),
        concat(col("text"), lit("\nCopyright Example Corp\nBanner "),
          pmod(col("doc_id"), lit(2)), lit("\nunique tail "), col("doc_id")).as("text"))
      operators.Dedup.stripBoilerplateLines(docs, 1, 2)
    },
      """WITH d AS (
           SELECT doc_id, source,
             text || chr(10) || 'Copyright Example Corp' || chr(10) || 'Banner '
               || (doc_id % 2) || chr(10) || 'unique tail ' || doc_id AS text
           FROM documents),
         ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS arr FROM d),
         l AS (SELECT doc_id, source, unnest(arr) AS line,
                 unnest(generate_series(1, len(arr))) AS pos FROM ls),
         tot AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM d GROUP BY 1),
         lf AS (SELECT source, line, COUNT(DISTINCT doc_id) AS df FROM l GROUP BY 1, 2),
         boiler AS (
           SELECT source, line FROM lf JOIN tot USING (source)
           WHERE df * 2 >= n_docs * 1),
         kept AS (
           SELECT l.doc_id, l.line, l.pos FROM l
           ANTI JOIN boiler b ON l.source = b.source AND l.line = b.line)
         SELECT doc_id, CAST(COUNT(*) AS INT) AS n_lines,
           array_to_string(list(line ORDER BY pos), chr(10)) AS text
         FROM kept GROUP BY doc_id"""),

    // §2#50b golden-record consolidation: q84's fuzzy name pairs →
    // components → one canonical row per cluster, each attribute
    // resolved to most-frequent / tie-to-smallest independently.
    Query("q179_golden_records", (s, dir) => {
      val base = t(s, dir, "part").df
        .groupBy(col("p_name").as("s"))
        .agg(min("p_partkey").as("id"), min("p_brand").as("brand"),
          min("p_size").as("psize"))
      val l = length(col("s"))
      val cut = pmod(col("id"), l.cast("long")).cast("int")
      val variants = base.filter(col("id") % 2 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(col("s").substr(lit(1), cut), lit("q"),
                 col("s").substr(cut + lit(2), l)).as("s"),
          col("brand"), (col("psize") + 1).as("psize"))
      val corpus = base.select("id", "s", "brand", "psize").unionByName(variants)
      val pairs = operators.Dedup.editDistancePairs(corpus, "id", "s",
        maxDist = 2, maxBlock = 100)
      operators.Dedup.goldenRecords(corpus, pairs, "id", "id_a", "id_b",
        Seq("s", "brand", "psize"))
    },
      """WITH RECURSIVE ent AS (
           SELECT p_name AS s, MIN(p_partkey) AS id, MIN(p_brand) AS brand,
             MIN(p_size) AS psize
           FROM part GROUP BY p_name),
         corpus AS (
           SELECT id, s, brand, psize FROM ent
           UNION ALL
           SELECT id + 1000000 AS id,
             substr(s, 1, CAST(id % len(s) AS INT)) || 'q'
               || substr(s, CAST(id % len(s) AS INT) + 2) AS s,
             brand, psize + 1 AS psize
           FROM ent WHERE id % 2 = 0),
         base AS (SELECT id, s, len(s) AS l FROM corpus),
         posts AS (
           SELECT id, s, l, i AS idx,
             substr(s, (i*l)//3 + 1, ((i+1)*l)//3 - (i*l)//3) AS seg
           FROM base, unnest([0, 1, 2]) t(i)),
         blocks AS (
           SELECT idx, seg, l FROM posts GROUP BY idx, seg, l HAVING COUNT(*) <= 100),
         allowed AS (SELECT p.* FROM posts p JOIN blocks b USING (idx, seg, l)),
         prs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM allowed a JOIN allowed b USING (idx, seg, l)
           WHERE a.id < b.id AND levenshtein(a.s, b.s) <= 2),
         edges AS (SELECT id_a AS a, id_b AS bb FROM prs
                   UNION SELECT id_b, id_a FROM prs),
         reach(node, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.bb = r.node),
         comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
         lab AS (
           SELECT c.*, coalesce(m.component, c.id) AS cluster
           FROM corpus c LEFT JOIN comp m ON c.id = m.node),
         melt AS (
           SELECT cluster, 's' AS attr, CAST(s AS VARCHAR) AS v FROM lab
           UNION ALL SELECT cluster, 'brand', CAST(brand AS VARCHAR) FROM lab
           UNION ALL SELECT cluster, 'psize', CAST(psize AS VARCHAR) FROM lab),
         cnts AS (
           SELECT cluster, attr, v, COUNT(*) AS cnt FROM melt
           WHERE v IS NOT NULL GROUP BY 1, 2, 3),
         best AS (
           SELECT cluster, attr, v FROM (
             SELECT cluster, attr, v,
               ROW_NUMBER() OVER (PARTITION BY cluster, attr
                 ORDER BY cnt DESC, v) AS rn
             FROM cnts) WHERE rn = 1),
         mem AS (SELECT cluster, COUNT(*) AS n_members FROM lab GROUP BY 1)
         SELECT b.cluster, m.n_members,
           MAX(CASE WHEN attr = 's' THEN v END) AS s,
           MAX(CASE WHEN attr = 'brand' THEN v END) AS brand,
           MAX(CASE WHEN attr = 'psize' THEN v END) AS psize
         FROM best b JOIN mem m USING (cluster)
         GROUP BY b.cluster, m.n_members"""),

    // §2#30f fuzzy decontamination: q56's split, but MinHash signature
    // agreement instead of exact n-gram hits — catches paraphrased
    // leaks; eval side broadcast, integer band-count threshold.
    Query("q180_decontaminate_fuzzy", (s, dir) => {
      val docs = t(s, dir, "documents").df
      operators.Dedup.decontaminateFuzzy(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    },
      OracleGen.decontaminateFuzzySql()),

    // §2#30l quality-aware dedup keep: q41's components, winner =
    // highest n_chars (tie smallest id) via one partial-agg argmax.
    Query("q181_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents").df
      operators.Dedup.dedupKeepBest(docs,
        operators.Dedup.ngramJaccard(docs), "n_chars")
    },
      // q41's pair list + components, winner = highest n_chars / tie
      // smallest id
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w)-2)]) AS grams
           FROM toks WHERE len(w) >= 3),
         post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
         rare AS (SELECT g FROM post GROUP BY g HAVING COUNT(*) <= 20),
         rpost AS (SELECT doc_id, g FROM post WHERE g IN (SELECT g FROM rare)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rpost GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
           FROM rpost a JOIN rpost b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         top AS (
           SELECT doc_a, doc_b FROM (
             SELECT doc_a, doc_b,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(common AS DOUBLE) / (ca.n + cb.n - common) DESC, doc_a, doc_b) AS rnk
             FROM pairs
             JOIN cnt ca ON doc_a = ca.doc_id
             JOIN cnt cb ON doc_b = cb.doc_id)
           WHERE rnk <= 100),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM top
                   UNION SELECT doc_b, doc_a FROM top),
         reach(node, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
         comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
         lab AS (
           SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS cluster
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         win AS (
           SELECT cluster, doc_id AS keep_id FROM (
             SELECT cluster, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY n_chars DESC, doc_id) AS rn
             FROM lab) WHERE rn = 1)
         SELECT l.doc_id, l.cluster, l.doc_id = w.keep_id AS keep
         FROM lab l JOIN win w USING (cluster)"""),

    // §2#31d Jaro-Winkler name matching: the native codegen'd
    // comparator (Spark has levenshtein only) over sorted-neighborhood
    // candidates (n·w pairs, linear at scale — the blocked join form
    // measured 14× on the 10× replica) — DuckDB's
    // jaro_winkler_similarity is the oracle, so the expression
    // semantics are pinned bit-for-bit to the standard.
    Query("q201_jw_linkage", (s, dir) => {
      val c = t(s, dir, "customer").df
      val cand = operators.Dedup.sortedNeighborhood(
        c.select(col("c_custkey"), col("c_name").as("_sk")), "_sk", "c_custkey", w = 10)
        .select(col("id_a").as("k_a"), col("id_b").as("k_b"))
      val names = c.select(col("c_custkey"), col("c_name"))
      cand
        .join(names.select(col("c_custkey").as("k_a"), col("c_name").as("name_a")), Seq("k_a"))
        .join(names.select(col("c_custkey").as("k_b"), col("c_name").as("name_b")), Seq("k_b"))
        .withColumn("jw", round(
          functions.TextFunctions.jaroWinkler(col("name_a"), col("name_b")), 9))
        .filter(col("jw") >= 0.96)
        .select("k_a", "k_b", "jw")
    },
      """WITH r AS (
           SELECT c_custkey, c_name,
             ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS idx
           FROM customer)
         SELECT a.c_custkey AS k_a, b.c_custkey AS k_b,
           round(jaro_winkler_similarity(a.c_name, b.c_name), 9) AS jw
         FROM r a JOIN r b ON b.idx - a.idx BETWEEN 1 AND 10
         WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 9) >= 0.96""")
  )
}
