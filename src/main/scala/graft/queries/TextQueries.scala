package graft
package queries

import org.apache.spark.sql.functions._

import Helpers._

/** Text processing: `TermStats`, `TextFunctions`, `NgramLm`, `Bpe`,
  * `Quality`, `Layout` and `NaiveBayes` in `functions`.
  */
object TextQueries {

  val all: Seq[Query] = Seq(

    // §2#38b tokenizer-faithful token counting: a real merges-table BPE
    // (self-learned from Bpe.SeedText, pasted constant) beside the
    // whitespace estimate. The oracle replays the identical rank-by-rank
    // merge loop as a recursive CTE, so the counts are hash-verified
    // end to end. Sampled (doc_id % 100) — the oracle's recursion is
    // per-word-type and the sample keeps it square with DuckDB.
    Query("q63_bpe_tokens", (s, dir) =>
      functions.Bpe.bpeCount(t(s, dir, "documents").df.filter(col("doc_id") % 100 === 0)),
      // rank-by-rank BPE replay: each rank's merge is a string replace
      // over space-delimited symbols, repeated until it stops applying
      // (CASE keeps r when rep changed), then the next rank; token count
      // is spaces - 1 at the terminal rank. Merges literal = Bpe.Merges.
      """WITH RECURSIVE m(rank, a, b) AS (
           SELECT * FROM (VALUES
             (1,'t','h'), (2,'th','e'), (3,'n','d'), (4,'i','n'),
             (5,'a','nd'), (6,'s','t'), (7,'s','h'), (8,'n','s'),
             (9,'l','e'), (10,'e','r'), (11,'t','i'), (12,'r','e'),
             (13,'re','a'), (14,'in','g'), (15,'d','s'), (16,'a','r'),
             (17,'u','f'), (18,'uf','f'), (19,'uff','le'), (20,'sh','uffle'),
             (21,'r','o'), (22,'o','l'), (23,'l','l'), (24,'e','n'),
             (25,'c','l'), (26,'c','a'), (27,'a','t'), (28,'y','s'),
             (29,'w','s'), (30,'w','i'), (31,'wi','nd'), (32,'wind','o'),
             (33,'u','st'), (34,'ust','er'), (35,'u','m'), (36,'u','er'),
             (37,'uer','y'), (38,'ti','ti'), (39,'titi','o'), (40,'titio','ns'),
             (41,'t','s'), (42,'st','rea'), (43,'strea','m'), (44,'stream','ing'),
             (45,'shuffle','s'), (46,'sh','ing'), (47,'s','p'), (48,'s','i'))),
         w AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents WHERE doc_id % 100 = 0),
         wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w
                WHERE word <> '' GROUP BY 1, 2),
         bpe AS (
           SELECT doc_id, word, cnt,
             ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s, 1 AS r
           FROM wc
           UNION ALL
           SELECT doc_id, word, cnt,
             CASE WHEN rep <> s THEN rep ELSE s END,
             CASE WHEN rep <> s THEN r ELSE r + 1 END
           FROM (
             SELECT b.doc_id, b.word, b.cnt, b.s, b.r,
               replace(b.s, ' ' || m.a || ' ' || m.b || ' ',
                       ' ' || m.a || m.b || ' ') AS rep
             FROM bpe b JOIN m ON m.rank = b.r) t),
         fin AS (
           SELECT doc_id, cnt,
             (length(s) - length(replace(s, ' ', ''))) - 1 AS ntok
           FROM bpe WHERE r = 49)
         SELECT d.doc_id, CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_ws_tokens,
           CAST(COALESCE(SUM(cnt * ntok), 0) AS BIGINT) AS n_bpe_tokens
         FROM (SELECT doc_id FROM documents WHERE doc_id % 100 = 0) d
         LEFT JOIN fin ON fin.doc_id = d.doc_id
         GROUP BY 1"""),

    // §2#37c CCNet-style perplexity filter: every document scored by
    // negative mean bigram log-likelihood under an add-k LM trained on
    // the doc_id % 10 == 0 seed split. Log terms decimal-quantized
    // before the sum so both engines aggregate exactly.
    Query("q65_lm_perplexity", (s, dir) => {
      val docs = t(s, dir, "documents").df
      functions.NgramLm.perplexity(docs, docs.filter(col("doc_id") % 10 === 0))
    },
      // bigram LM over the seed split; per-bigram ln terms quantized to
      // DECIMAL(20,6) before the sum (exact, order-insensitive on both
      // engines), mean rounded to 4 decimals
      """WITH tok AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         bg AS (
           SELECT doc_id, unnest([array_to_string(w[i : i+1], ' ')
                                  for i in generate_series(1, len(w) - 1)]) AS bg
           FROM tok WHERE len(w) >= 2),
         seedbg AS (SELECT bg, COUNT(*) AS c2 FROM bg WHERE doc_id % 10 = 0 GROUP BY 1),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1 FROM seedbg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT u.t) AS vcab
               FROM (SELECT unnest(w) AS t FROM tok WHERE doc_id % 10 = 0) u),
         terms AS (
           SELECT b.doc_id, COALESCE(s.c2, 0) AS c2, COALESCE(c.c1, 0) AS c1
           FROM bg b
           LEFT JOIN seedbg s ON b.bg = s.bg
           LEFT JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1),
         sc AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
             SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS oov_bigrams,
             SUM(CAST(ln((c2 + 0.5) / (c1 + 0.5 * (SELECT vcab FROM v))) AS DECIMAL(20,6))) AS s
           FROM terms GROUP BY 1)
         SELECT t.doc_id,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(oov_bigrams, 0) AS BIGINT) AS oov_bigrams,
           round(-CAST(s AS DOUBLE) / n_bigrams, 4) AS nll
         FROM tok t LEFT JOIN sc ON t.doc_id = sc.doc_id"""),

    // §2#37j Stupid Backoff trigram scoring (Brants et al. EMNLP'07):
    // the MapReduce-native LM — raw counts, fixed α=0.4 backoff, add-1
    // unigram floor — scoring every doc against the doc_id % 10 == 0
    // seed split; the trigram-context sibling of q65's bigram filter.
    Query("q232_stupid_backoff", (s, dir) => {
      val docs = t(s, dir, "documents").df
      functions.NgramLm.stupidBackoff(docs, docs.filter(col("doc_id") % 10 === 0))
    },
      """WITH tok AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         tg AS (
           SELECT doc_id, unnest([array_to_string(w[i : i+2], ' ')
                                  for i in generate_series(1, len(w) - 2)]) AS tg
           FROM tok WHERE len(w) >= 3),
         bgall AS (
           SELECT doc_id, unnest([array_to_string(w[i : i+1], ' ')
                                  for i in generate_series(1, len(w) - 1)]) AS bg
           FROM tok WHERE len(w) >= 2),
         tri AS (SELECT tg, COUNT(*) AS c3 FROM tg WHERE doc_id % 10 = 0 GROUP BY 1),
         bi AS (SELECT bg, COUNT(*) AS c2 FROM bgall WHERE doc_id % 10 = 0 GROUP BY 1),
         uni AS (SELECT t, COUNT(*) AS c1
                 FROM (SELECT unnest(w) AS t FROM tok WHERE doc_id % 10 = 0) GROUP BY 1),
         nv AS (SELECT (SELECT SUM(len(w)) FROM tok WHERE doc_id % 10 = 0) AS ntok,
                       (SELECT COUNT(*) FROM uni) AS v),
         terms AS (
           SELECT g.doc_id,
             COALESCE(t3.c3, 0) AS c3, COALESCE(bc.c2, 0) AS c2ctx,
             COALESCE(bl.c2, 0) AS c2last, COALESCE(um.c1, 0) AS c1mid,
             COALESCE(ul.c1, 0) AS c1last
           FROM tg g
           LEFT JOIN tri t3 ON g.tg = t3.tg
           LEFT JOIN bi bc ON array_to_string(string_split(g.tg, ' ')[1:2], ' ') = bc.bg
           LEFT JOIN bi bl ON array_to_string(string_split(g.tg, ' ')[2:3], ' ') = bl.bg
           LEFT JOIN uni um ON string_split(g.tg, ' ')[2] = um.t
           LEFT JOIN uni ul ON string_split(g.tg, ' ')[3] = ul.t),
         sc AS (
           SELECT doc_id, COUNT(*) AS n_trigrams,
             SUM(CASE WHEN c3 = 0 AND c2last = 0 THEN 1 ELSE 0 END) AS floor_hits,
             SUM(CAST(CASE
               WHEN c3 > 0 THEN ln(CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE))
               WHEN c2last > 0 THEN ln(CAST(0.4 AS DOUBLE) * CAST(c2last AS DOUBLE) / CAST(c1mid AS DOUBLE))
               ELSE ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) * (CAST(c1last AS DOUBLE) + 1.0)
                       / CAST((SELECT ntok + v FROM nv) AS DOUBLE))
             END AS DECIMAL(20,6))) AS s
           FROM terms GROUP BY 1)
         SELECT t.doc_id,
           CAST(COALESCE(n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(COALESCE(floor_hits, 0) AS BIGINT) AS floor_hits,
           round(-CAST(s AS DOUBLE) / n_trigrams, 4) AS sb_nll
         FROM tok t LEFT JOIN sc ON t.doc_id = sc.doc_id"""),

    // §2#37d per-doc top-5 TF-IDF terms: decimal-exact scoring (idf
    // quantized per term, score = tf × idf stays decimal) so ranking
    // ties break identically in both engines.
    Query("q67_tfidf_terms", (s, dir) =>
      functions.TermStats.tfidfTopTerms(t(s, dir, "documents").df, m = 5),
      // idf quantized DECIMAL(20,6) per term; score = tf * idf (decimal,
      // exact) ranks identically in both engines; ties break on term
      """WITH tf AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
         idf AS (
           SELECT term,
             CAST(ln(((SELECT COUNT(*) FROM documents) + 1.0) / (COUNT(*) + 1.0))
               AS DECIMAL(20,6)) AS idf
           FROM tfc GROUP BY 1),
         sc AS (
           SELECT tfc.doc_id, tfc.term, tfc.tf, tfc.tf * idf.idf AS score
           FROM tfc JOIN idf ON tfc.term = idf.term),
         rk AS (
           SELECT doc_id, term, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
           FROM sc)
         SELECT doc_id, term, tf, round(CAST(score AS DOUBLE), 4) AS score,
           CAST(rnk AS INT) AS rnk
         FROM rk WHERE rnk <= 5"""),

    // §2#55 per-doc trigram novelty: fraction of a document's distinct
    // n-grams unique to it in the corpus — df==1 attribution rides the
    // gram agg as min(doc_id), so no postings-vs-df join ever runs.
    Query("q74_novelty", (s, dir) =>
      functions.TermStats.noveltyScore(t(s, dir, "documents").df),
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w)-2)]) AS grams
           FROM toks WHERE len(w) >= 3),
         post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
         perdoc AS (SELECT doc_id, COUNT(*) AS n_grams FROM post GROUP BY 1),
         gd AS (SELECT g, COUNT(*) AS df, MIN(doc_id) AS owner FROM post GROUP BY g),
         novel AS (SELECT owner AS doc_id, COUNT(*) AS n_novel FROM gd WHERE df = 1 GROUP BY 1)
         SELECT p.doc_id, p.n_grams, COALESCE(n.n_novel, 0) AS n_novel,
           CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / p.n_grams AS novelty
         FROM perdoc p LEFT JOIN novel n ON p.doc_id = n.doc_id"""),

    // §2#37e top-100 bigram collocations by PMI: multi-word-expression
    // mining for tokenizer vocab / phrase-aware keys; ln operand is one
    // fixed-association double of exact longs, decimal-quantized.
    Query("q81_pmi_collocations", (s, dir) =>
      functions.TermStats.pmiCollocations(t(s, dir, "documents").df),
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         tot AS (
           SELECT SUM(len(w)) AS nu, SUM(greatest(len(w) - 1, 0)) AS nb FROM toks),
         uni AS (
           SELECT t, COUNT(*) AS c FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
         bi AS (
           SELECT bg, COUNT(*) AS cab FROM (
             SELECT w[i] || ' ' || w[i+1] AS bg
             FROM toks, unnest(generate_series(1, len(w) - 1)) s(i)
             WHERE len(w) >= 2) GROUP BY bg
           HAVING COUNT(*) >= 5),
         scored AS (
           SELECT bg, cab,
             CAST(ln((CAST(cab AS DOUBLE) * nu * nu)
                     / (CAST(nb AS DOUBLE) * ca.c * cb.c)) AS DECIMAL(20,6)) AS pmi_d
           FROM bi
           CROSS JOIN tot
           JOIN uni ca ON ca.t = string_split(bg, ' ')[1]
           JOIN uni cb ON cb.t = string_split(bg, ' ')[2])
         SELECT bg, cab, pmi, rnk FROM (
           SELECT bg, cab, CAST(pmi_d AS DOUBLE) AS pmi,
             CAST(ROW_NUMBER() OVER (ORDER BY pmi_d DESC, bg) AS INT) AS rnk
           FROM scored) WHERE rnk <= 100"""),

    // §2#37f sparse TF-IDF all-pairs cosine: lexical near-dup pairs
    // from the df-pruned inverted index (term-at-a-time dot products,
    // decimal-exact weights — no embedding model needed).
    Query("q89_tfidf_pairs", (s, dir) =>
      functions.TermStats.tfidfSimilarPairs(t(s, dir, "documents").df),
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         nd AS (SELECT COUNT(*) AS n FROM documents),
         idf AS (
           SELECT term, CAST(ln((n + 1.0) / (COUNT(*) + 1.0)) AS DECIMAL(20,6)) AS idf
           FROM tf CROSS JOIN nd GROUP BY term, n HAVING COUNT(*) <= 100),
         w AS (
           SELECT doc_id, term,
             CAST(floor(tf * CAST(idf AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS wq
           FROM tf JOIN idf USING (term)),
         norm AS (
           SELECT doc_id, SUM(CAST(wq AS DECIMAL(38,0)) * wq) AS n2 FROM w GROUP BY doc_id),
         dots AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.wq AS DECIMAL(38,0)) * b.wq) AS dot
           FROM w a JOIN w b USING (term) WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
         FROM dots
         JOIN norm na ON na.doc_id = doc_a
         JOIN norm nb ON nb.doc_id = doc_b
         WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5"""),

    // §2#43b z-order (Morton) clustering key over (partkey, suppkey):
    // the multi-dimensional layout key min/max-pruned scans want.
    Query("q92_zorder", (s, dir) =>
      t(s, dir, "lineitem").df
        .select(col("l_orderkey"), col("l_linenumber"),
          functions.Layout.zorderKey(col("l_partkey"), col("l_suppkey")).as("zkey")),
      """SELECT l_orderkey, l_linenumber,
         CAST(list_sum([((l_partkey % 65536) // (1 << i)) % 2 * (1 << (2*i))
                        + ((l_suppkey % 65536) // (1 << i)) % 2 * (1 << (2*i + 1))
                        for i in generate_series(0, 15)]) AS BIGINT) AS zkey
         FROM lineitem"""),

    // §2#52al (r7) declarative constraint audit (the Deequ shape):
    // completeness / key uniqueness / bounds / enum domain in ONE
    // shared agg pass + referential integrity as one anti-join count —
    // the assertion layer over the descriptive profile family.
    Query("q271_quality_audit", (s, dir) => {
      import functions.Quality._
      audit(t(s, dir, "orders").df, Seq(
        Completeness("o_custkey"),
        Uniqueness("o_orderkey"),
        MinBound("o_totalprice", 0.0),
        MaxBound("o_totalprice", 1000000.0),
        NonNegative("o_totalprice"),
        InSet("o_orderstatus", Seq("F", "O", "P")),
        ForeignKey("o_custkey", t(s, dir, "customer").df, "c_custkey")))
    },
      // one shared scan for the row-local checks + one NOT EXISTS count
      // for referential integrity; passes decided by integer arithmetic
      """WITH t AS (
           SELECT COUNT(*) AS n, COUNT(o_custkey) AS cc,
             COUNT(DISTINCT o_orderkey) AS du, COUNT(o_orderkey) AS cu,
             MIN(CAST(o_totalprice AS DOUBLE)) AS mn,
             MAX(CAST(o_totalprice AS DOUBLE)) AS mx,
             COUNT(*) FILTER (WHERE o_totalprice < 0) AS neg,
             COUNT(*) FILTER (WHERE CAST(o_orderstatus AS VARCHAR) IN ('F','O','P')) AS ins,
             COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
               AND CAST(o_orderstatus AS VARCHAR) NOT IN ('F','O','P')) AS outs
           FROM orders),
         fk AS (
           SELECT COUNT(*) AS orphans FROM orders o
           WHERE o.o_custkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey))
         SELECT 'completeness' AS "check", 'o_custkey' AS "column",
           round(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE), 9) AS metric,
           1.0 AS threshold, cc * 1 >= n * 1 AS passed FROM t
         UNION ALL SELECT 'uniqueness', 'o_orderkey',
           round(CAST(du AS DOUBLE) / CAST(n AS DOUBLE), 9), 1.0,
           du = n AND cu = n FROM t
         UNION ALL SELECT 'min_bound', 'o_totalprice', round(mn, 9), 0.0,
           mn >= 0.0 FROM t
         UNION ALL SELECT 'max_bound', 'o_totalprice', round(mx, 9), 1000000.0,
           mx <= 1000000.0 FROM t
         UNION ALL SELECT 'non_negative', 'o_totalprice', CAST(neg AS DOUBLE), 0.0,
           neg = 0 FROM t
         UNION ALL SELECT 'in_set', 'o_orderstatus',
           round(CAST(ins AS DOUBLE) / CAST(n AS DOUBLE), 9), 1.0, outs = 0 FROM t
         UNION ALL SELECT 'foreign_key', 'o_custkey', CAST(orphans AS DOUBLE), 0.0,
           orphans = 0 FROM fk"""),

    // §2#38d (r7) vocabulary coverage curve: share of running text the
    // top-k term types cover, at a probe ladder — the BPE/vocab budget
    // read-out beside q174's Zipf slope; windows over the vocabulary
    // table only.
    Query("q279_vocab_coverage", (s, dir) =>
      functions.TermStats.vocabCoverage(t(s, dir, "documents").df),
      // term histogram + vocabulary-scale rank/cumulative windows; the
      // shared whitespace tokenizer (the q174 oracle's split) inlined
      """WITH tok AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
         ranked AS (
           SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank,
             SUM(c) OVER (ORDER BY c DESC, t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM counts),
         tot AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM counts),
         probes AS (SELECT unnest([10, 30, 100, 300, 1000, 3000, 10000]) AS k)
         SELECT CAST(p.k AS BIGINT) AS k, CAST(r.rank AS BIGINT) AS rank_used,
           CAST(r.cum AS BIGINT) AS covered_tokens,
           CAST(t.total AS BIGINT) AS total_tokens,
           round(CAST(r.cum AS DOUBLE) / CAST(t.total AS DOUBLE), 9) AS coverage
         FROM probes p CROSS JOIN tot t
         JOIN ranked r ON r.rank = LEAST(p.k, t.v)"""),

    // §2#44b (r7) JSON key profile: the schema-inference census over
    // the undeclared part of the schema (events.props) — per key,
    // fill rate / numeric share / distinct count, the "which keys
    // deserve real columns" read before any parse_object_dtypes-style
    // promotion.
    Query("q304_props_profile", (s, dir) =>
      functions.Quality.jsonKeyProfile(
        streaming.Events.readBatch(s, s"$dir/events.parquet"), "props"),
      // values in the string rendering (json ->> unquotes; numbers and
      // booleans render identically); one anchored numeric regex
      """WITH kv AS (
           SELECT k.key, props ->> ('$.' || k.key) AS value
           FROM events, unnest(json_keys(props)) AS k(key)),
         tot AS (SELECT COUNT(*) AS n FROM events)
         SELECT key, COUNT(*) AS n_present,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE), 9) AS present_rate,
           CAST(SUM(CASE WHEN regexp_matches(value, '^-?[0-9]+(\.[0-9]+)?$')
             THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           round(CAST(SUM(CASE WHEN regexp_matches(value, '^-?[0-9]+(\.[0-9]+)?$')
               THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
             AS numeric_rate,
           COUNT(DISTINCT value) AS n_distinct
         FROM kv, tot GROUP BY key, n"""),

    // §2#37n (r10) interpolated Kneser–Ney bigram scoring (Kneser &
    // Ney'95 / Chen & Goodman'98): absolute discount D=0.75 with the
    // discount mass re-spent on CONTINUATION probabilities — the
    // smoothing KenLM/SRILM default to, next to q65's add-k and
    // q232's Stupid Backoff. Seed split = doc_id % 10 == 0.
    Query("q337_kneser_ney", (s, dir) => {
      val docs = t(s, dir, "documents").df
      functions.NgramLm.kneserNey(docs, docs.filter(col("doc_id") % 10 === 0))
    },
      """WITH tok AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
         bg AS (
           SELECT doc_id, unnest([array_to_string(w[i : i+1], ' ')
                                  for i in generate_series(1, len(w) - 1)]) AS bg
           FROM tok WHERE len(w) >= 2),
         seedbg AS (SELECT bg, COUNT(*) AS c2 FROM bg WHERE doc_id % 10 = 0 GROUP BY 1),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1, COUNT(*) AS n1fwd
                 FROM seedbg GROUP BY 1),
         cont AS (SELECT split_part(bg, ' ', 2) AS w2, COUNT(*) AS n1rev
                  FROM seedbg GROUP BY 1),
         nb AS (SELECT COUNT(*) AS nbig FROM seedbg),
         terms AS (
           SELECT b.doc_id,
             COALESCE(s.c2, 0) AS c2, COALESCE(c.c1, 0) AS c1,
             COALESCE(c.n1fwd, 0) AS n1fwd, COALESCE(k.n1rev, 0) AS n1rev
           FROM bg b
           LEFT JOIN seedbg s ON b.bg = s.bg
           LEFT JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1
           LEFT JOIN cont k ON split_part(b.bg, ' ', 2) = k.w2),
         p AS (
           SELECT doc_id, c1,
             greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
             + 0.75 * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE)
               * (CAST(n1rev AS DOUBLE) / CAST((SELECT nbig FROM nb) AS DOUBLE)) AS p
           FROM terms),
         sc AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
             SUM(CASE WHEN c1 > 0 AND p > 0 THEN 1 ELSE 0 END) AS n_scored,
             SUM(CASE WHEN c1 > 0 AND p > 0 THEN CAST(ln(p) AS DECIMAL(20,6)) END) AS s
           FROM p GROUP BY 1)
         SELECT t.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(n_scored, 0) AS BIGINT) AS n_scored,
           CASE WHEN n_scored > 0 THEN round(-CAST(s AS DOUBLE) / n_scored, 4) END AS kn_nll
         FROM tok t LEFT JOIN sc ON t.doc_id = sc.doc_id"""),

    // §2#36b (r10) multinomial Naive Bayes language classifier —
    // counts-only training (two partial aggs, the one exactly-
    // distributable classifier fit), integer-quantized log-prob
    // scoring so the argmax is engine-exact; 80/20 hash split, output
    // = the test confusion matrix.
    Query("q348_naive_bayes", (s, dir) => {
      val docs = t(s, dir, "documents").df
      functions.NaiveBayes.trainScoreConfusion(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "lang", "text", "doc_id")
    },
      // mirrors NaiveBayes.trainScoreConfusion: Laplace-1 over the train
      // vocabulary, quantized log-probs, integer score sums, label-asc
      // tie-break
      """WITH tr AS (
           SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents WHERE doc_id % 5 != 0),
         trt AS (SELECT lang, tok FROM tr WHERE length(tok) > 0),
         cnt AS (SELECT lang, tok, COUNT(*) AS c FROM trt GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
         voc AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM cnt),
         model AS (
           SELECT lang, tok, CAST(floor(
               ln((c + 1.0) / (CAST(t AS DOUBLE) + v)) * 1000000 + 0.5) AS BIGINT) AS lpq
           FROM cnt JOIN tot USING (lang), voc),
         unseen AS (
           SELECT lang, CAST(floor(
               ln(1.0 / (CAST(t AS DOUBLE) + v)) * 1000000 + 0.5) AS BIGINT) AS uq
           FROM tot, voc),
         ntr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n
           FROM documents WHERE doc_id % 5 != 0),
         pri AS (SELECT lang, CAST(floor(
               ln(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM ntr)) * 1000000 + 0.5)
               AS BIGINT) AS pq
           FROM documents WHERE doc_id % 5 != 0 GROUP BY 1),
         te0 AS (
           SELECT doc_id, lang AS true_lang,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents WHERE doc_id % 5 = 0),
         tet AS (SELECT doc_id, true_lang, tok, COUNT(*) AS n
           FROM te0 WHERE length(tok) > 0 GROUP BY 1, 2, 3),
         sc AS (
           SELECT tet.doc_id, tet.true_lang, u.lang,
             CAST(SUM(n * COALESCE(m.lpq, u.uq)) AS BIGINT) AS sq
           FROM tet CROSS JOIN unseen u
           LEFT JOIN model m ON m.lang = u.lang AND m.tok = tet.tok
           GROUP BY 1, 2, 3),
         al AS (
           SELECT d.doc_id, d.lang AS true_lang, u.lang,
             COALESCE(sc.sq, 0) + pri.pq AS score
           FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0) d
           CROSS JOIN (SELECT lang FROM unseen) u
           LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.lang = u.lang
           JOIN pri ON pri.lang = u.lang),
         pred AS (
           SELECT doc_id, true_lang, lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, lang ASC) AS rn
           FROM al)
         SELECT true_lang AS label_true, lang AS label_pred, COUNT(*) AS n_docs
         FROM pred WHERE rn = 1 GROUP BY 1, 2"""),

    // §2#37m (r10) query-likelihood retrieval with Dirichlet smoothing
    // over the same query as q161's BM25 — the language-modeling
    // ranker where ABSENT query terms still contribute collection-
    // smoothed mass; DECIMAL-quantized per-term contributions.
    Query("q356_ql_dirichlet", (s, dir) =>
      functions.TermStats.qlDirichletRank(t(s, dir, "documents").df,
        Seq("join", "hash", "scan"), mu = 2000.0, topK = 10),
      // mirrors TermStats.qlDirichletRank: q161's tokenizer, Dirichlet
      // smoothing over the collection model, DECIMAL-quantized terms
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         tot AS (SELECT CAST(SUM(len(w)) AS DOUBLE) AS nt FROM toks),
         tf0 AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term
           FROM toks),
         tfc AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tf0
           WHERE term IN ('join', 'hash', 'scan') GROUP BY 1, 2, 3),
         cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tfc GROUP BY 1),
         cand AS (SELECT DISTINCT doc_id, dl FROM tfc),
         sc AS (SELECT cand.doc_id,
             CAST(ln((COALESCE(tfc.tf, 0) + 2000.0 * CAST(cf.cf AS DOUBLE)
                 / (SELECT nt FROM tot)) / (cand.dl + 2000.0))
               AS DECIMAL(20,9)) AS c,
             CASE WHEN COALESCE(tfc.tf, 0) > 0 THEN 1 ELSE 0 END AS hit
           FROM cand CROSS JOIN cf
           LEFT JOIN tfc ON tfc.doc_id = cand.doc_id AND tfc.term = cf.term),
         agg AS (SELECT doc_id, SUM(c) AS score,
             CAST(SUM(hit) AS BIGINT) AS n_hits FROM sc GROUP BY 1),
         rk AS (SELECT doc_id, score, n_hits,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
           FROM agg)
         SELECT doc_id, ROUND(CAST(score AS DOUBLE), 6) AS score, n_hits, rank
         FROM rk WHERE rank <= 10"""),

    // §2#37n (r10) Good–Turing frequency re-estimation over the
    // corpus vocabulary — smoothed r*, per-r probabilities, and the
    // r=0 unseen-mass row; count-of-counts cells, LGT log-log fit.
    Query("q362_good_turing", (s, dir) =>
      functions.TermStats.goodTuring(t(s, dir, "documents").df, topR = 15),
      """WITH tf AS (
           SELECT t, COUNT(*) AS r FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY 1),
         cells AS (SELECT r, COUNT(*) AS nr FROM tf GROUP BY 1),
         fit AS (
           SELECT COUNT(*) AS m,
             SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(20,9))) AS su,
             SUM(CAST(ln(CAST(nr AS DOUBLE)) AS DECIMAL(20,9))) AS sv,
             SUM(CAST(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(20,9))
               * CAST(ln(CAST(nr AS DOUBLE)) AS DECIMAL(20,9)) AS DECIMAL(20,9))) AS suv,
             SUM(CAST(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(20,9))
               * CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(20,9)) AS DECIMAL(20,9))) AS suu
           FROM cells),
         bfit AS (
           SELECT (CAST(m AS DOUBLE) * CAST(suv AS DOUBLE)
               - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(suu AS DOUBLE)
               - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) AS b
           FROM fit),
         tots AS (
           SELECT CAST(SUM(CAST(r AS HUGEINT) * nr) AS DOUBLE) AS nt,
             COALESCE(MAX(CASE WHEN r = 1 THEN nr END), 0) AS n1
           FROM cells),
         seen AS (
           SELECT CAST(r AS BIGINT) AS r, CAST(nr AS BIGINT) AS n_r,
             round((b + 1.0) * ln(CAST(r AS DOUBLE) + 1.0)
               - b * ln(CAST(r AS DOUBLE)), 9) AS log_r_star,
             round((b + 1.0) * ln(CAST(r AS DOUBLE) + 1.0)
               - b * ln(CAST(r AS DOUBLE))
               - ln((SELECT nt FROM tots)), 9) AS log_p_r
           FROM (SELECT * FROM cells ORDER BY r ASC LIMIT 15), bfit)
         SELECT CAST(0 AS BIGINT) AS r, CAST(n1 AS BIGINT) AS n_r,
           CAST(NULL AS DOUBLE) AS log_r_star,
           CASE WHEN n1 > 0 THEN
             round(ln(CAST(n1 AS DOUBLE)) - ln(nt), 9) END AS log_p_r
         FROM tots
         UNION ALL SELECT r, n_r, log_r_star, log_p_r FROM seen"""),

    // §2#38e (r10) Heaps' law vocabulary-growth fit: V(n) = K·n^beta
    // sampled at 10 doc-id checkpoints via conditional sums (no global
    // window, no fan-out), OLS on the log-log cells.
    Query("q367_heaps_law", (s, dir) =>
      functions.TermStats.heapsLaw(t(s, dir, "documents").df, points = 10),
      """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
         cuts AS (
           SELECT i, (SELECT m FROM mx) * i // 10 AS cut
           FROM (SELECT unnest(generate_series(1, 10)) AS i)),
         fd AS (
           SELECT t, MIN(d) AS f FROM (
             SELECT doc_id AS d,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY 1),
         pd AS (
           SELECT doc_id AS d,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS c
           FROM documents),
         pts AS (
           SELECT cuts.i,
             (SELECT COALESCE(SUM(c), 0) FROM pd WHERE pd.d <= cuts.cut) AS n,
             (SELECT COUNT(*) FROM fd WHERE fd.f <= cuts.cut) AS v
           FROM cuts),
         pp AS (SELECT i, n, v FROM pts WHERE n > 0 AND v > 0),
         fit AS (
           SELECT COUNT(*) AS m,
             SUM(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(20,9))) AS su,
             SUM(CAST(ln(CAST(v AS DOUBLE)) AS DECIMAL(20,9))) AS sv,
             SUM(CAST(CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(20,9)) AS DOUBLE)
               * CAST(CAST(ln(CAST(v AS DOUBLE)) AS DECIMAL(20,9)) AS DOUBLE)
               AS DECIMAL(20,9))) AS suv,
             SUM(CAST(CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(20,9)) AS DOUBLE)
               * CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(20,9)) AS DOUBLE)
               AS DECIMAL(20,9))) AS suu
           FROM pp),
         bf AS (
           SELECT (CAST(m AS DOUBLE) * CAST(suv AS DOUBLE)
               - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(suu AS DOUBLE)
               - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) AS beta,
             CAST(sv AS DOUBLE) AS svd, CAST(su AS DOUBLE) AS sud,
             CAST(m AS DOUBLE) AS md
           FROM fit)
         SELECT CAST(i AS INT) AS point, CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS v_terms, round(beta, 9) + 0.0 AS beta,
           round((svd - beta * sud) / md, 9) + 0.0 AS ln_k
         FROM pp, bf"""),

    // §2#37k (r7) Flesch reading ease + FK grade per language — the
    // corpus-total readability dial beside the Gopher quality signals;
    // ASCII-pinned alphabet, standard vowel-group syllable heuristic.
    Query("q297_readability", (s, dir) =>
      functions.TextFunctions.readability(t(s, dir, "documents").df, "lang", "text"),
      // exact integer word/sentence/syllable counts; the two formulas
      // one mirrored double op order each
      """WITH p AS (
           SELECT lang, lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) AS a
           FROM documents),
         w AS (
           SELECT lang, a,
             list_filter(string_split_regex(trim(a), '\s+'),
               w -> len(w) > 0) AS words
           FROM p),
         d AS (
           SELECT lang, CAST(len(words) AS BIGINT) AS nw,
             CASE WHEN len(words) > 0 THEN
               greatest(1, CAST(len(regexp_extract_all(a, '[.!?]+')) AS BIGINT))
             ELSE 0 END AS ns,
             CASE WHEN len(words) > 0 THEN
               CAST(list_sum(list_transform(words, w ->
                 greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT)
             ELSE 0 END AS ny
           FROM w),
         g AS (
           SELECT lang, COUNT(*) AS n_docs, SUM(nw) AS n_words,
             SUM(ns) AS n_sentences, SUM(ny) AS n_syllables
           FROM d GROUP BY 1)
         SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             round(206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
           END AS flesch,
           CASE WHEN n_words > 0 THEN
             round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
               - 15.59, 6)
           END AS fk_grade
         FROM g"""),

    // §2#37l (r7) character-level Shannon entropy per language — the
    // encoding-anomaly dial (mojibake / base64 blobs / template spam
    // shift the char distribution); ≤95 cells per group by
    // construction.
    Query("q298_char_entropy", (s, dir) =>
      functions.TextFunctions.charEntropy(t(s, dir, "documents").df, "lang", "text"),
      // (group, char) cells exact; p·ln(p) terms the q250 op order
      // DECIMAL(20,9) pre-sum
      """WITH p AS (
           SELECT lang, lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) AS a
           FROM documents),
         ch AS (SELECT lang, unnest(regexp_extract_all(a, '.')) AS c0 FROM p),
         cells AS (SELECT lang, c0, COUNT(*) AS c FROM ch GROUP BY 1, 2),
         tot AS (SELECT lang, SUM(c) AS n, COUNT(*) AS k FROM cells GROUP BY 1),
         t AS (
           SELECT cells.lang, n, k,
             CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(20,9)) AS tm
           FROM cells JOIN tot USING (lang))
         SELECT lang, CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(MAX(k) AS BIGINT) AS n_distinct,
           round(-CAST(SUM(tm) AS DOUBLE), 6) AS entropy_nats
         FROM t GROUP BY 1"""),

    // §2#37h BM25 ranked retrieval for a 3-term query: the reference
    // lexical ranking (k1=3/2, b=3/4 dyadic rationals); postings filter
    // to query terms map-side, df table broadcast, per-term
    // contributions DECIMAL(20,9)-quantized pre-sum.
    Query("q161_bm25", (s, dir) =>
      functions.TermStats.bm25Rank(t(s, dir, "documents").df,
        Seq("join", "hash", "scan"), topK = 10),
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         tot AS (
           SELECT CAST(SUM(len(w)) AS BIGINT) AS nt, COUNT(*) AS nd FROM toks),
         tf AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term
           FROM toks),
         tfc AS (
           SELECT doc_id, dl, term, COUNT(*) AS tf
           FROM tf WHERE term IN ('join', 'hash', 'scan') GROUP BY 1, 2, 3),
         dft AS (
           SELECT term,
             CAST(ln((CAST((SELECT nd FROM tot) AS DOUBLE) - COUNT(*) + 0.5)
               / (COUNT(*) + 0.5) + 1.0) AS DECIMAL(20,6)) AS idf
           FROM tfc GROUP BY 1),
         sc AS (
           SELECT tfc.doc_id,
             CAST(CAST(idf AS DOUBLE) * (tf * 2.5)
               / (tf + 1.5 * (0.25 + 0.75 * dl
                   / (CAST((SELECT nt FROM tot) AS DOUBLE) / CAST((SELECT nd FROM tot) AS DOUBLE))))
               AS DECIMAL(20,9)) AS c
           FROM tfc JOIN dft ON tfc.term = dft.term),
         agg AS (
           SELECT doc_id, SUM(c) AS score, COUNT(*) AS n_terms FROM sc GROUP BY 1),
         rk AS (
           SELECT doc_id, score, n_terms,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
           FROM agg)
         SELECT doc_id, ROUND(CAST(score AS DOUBLE), 6) AS score, n_terms, rank
         FROM rk WHERE rank <= 10"""),

    // §2#43d per-file min/max pruning audit over a freshly z-ordered
    // layout: the proof that the q92 key clusters BOTH dimensions —
    // per-file ranges near-disjoint in partkey and suppkey at once.
    Query("q164_file_stats", (s, dir) => {
      val out = sidePath("graft_zorder", dir) // dir-derived — mirrored via __SFTAG__ in the oracle SQL
      functions.Layout.zorderLayout(
        t(s, dir, "lineitem").df.select("l_orderkey", "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", nFiles = 8)
        .write.mode("overwrite").parquet(out)
      functions.Layout.fileStats(s, out, Seq("l_partkey", "l_suppkey"))
    },
      """SELECT parse_filename(filename) AS file_name, COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_l_partkey, MAX(l_partkey) AS max_l_partkey,
           MIN(l_suppkey) AS min_l_suppkey, MAX(l_suppkey) AS max_l_suppkey
         FROM read_parquet('/tmp/graft_zorder___SFTAG__/*.parquet', filename=true)
         GROUP BY 1"""),

    // §2#37i Zipf rank-frequency fit: ln-ln OLS slope over the top-200
    // terms — the corpus-health scalar (natural text ≈ −1); micro-unit
    // quantized logs through the q156 six-sum regression.
    Query("q174_zipf", (s, dir) =>
      functions.TermStats.zipfFit(t(s, dir, "documents").df, topN = 200),
      """WITH tf AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         cc AS (SELECT t, COUNT(*) AS c FROM tf GROUP BY 1),
         r AS (
           SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank FROM cc),
         q AS (
           SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
                  CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
           FROM r WHERE rank <= 200),
         s AS (
           SELECT COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
             SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
           FROM q)
         SELECT n AS n_terms,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS slope,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS r2
         FROM s"""),

    // §2#37c blocklist term census: per (doc, term) substring counts
    // for a literal term list — one codegen'd projection, map-only.
    Query("q194_blocklist", (s, dir) =>
      functions.TextFunctions.blocklistCensus(t(s, dir, "documents").df,
        BlocklistTerms),
      {
      val values = BlocklistTerms.map(t => s"('$t')").mkString(", ")
      s"""SELECT doc_id, term,
           CAST((len(lower(text)) - len(replace(lower(text), term, ''))) / len(term) AS INT) AS n_occ
         FROM documents CROSS JOIN (VALUES $values) t(term)
         WHERE len(lower(text)) - len(replace(lower(text), term, '')) > 0"""
    }),

    // §2#43d rendezvous (HRW) shard assignment: stateless consistent
    // placement — the n→n+1 movement audit shows only ~1/(n+1) of
    // keys move, the property mod-n sharding lacks.
    Query("q206_rendezvous", (s, dir) => {
      val k = col("doc_id").cast("string")
      t(s, dir, "documents").df.select(
        col("doc_id"),
        functions.Layout.rendezvousShard(k, 8).as("shard8"),
        functions.Layout.rendezvousShard(k, 9).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
    },
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS k FROM documents),
         h AS (
           SELECT doc_id, s.s AS s,
             ('0x' || substr(md5('hrw|' || s.s || '|' || k), 1, 8))::BIGINT AS hv
           FROM d CROSS JOIN (SELECT unnest(range(0, 9)) AS s) s),
         m8 AS (SELECT doc_id, MAX(hv) AS mh FROM h WHERE s < 8 GROUP BY 1),
         a8 AS (
           SELECT h.doc_id, MAX(h.s) AS shard8 FROM h
           JOIN m8 ON h.doc_id = m8.doc_id AND h.hv = m8.mh WHERE h.s < 8 GROUP BY 1),
         m9 AS (SELECT doc_id, MAX(hv) AS mh FROM h GROUP BY 1),
         a9 AS (
           SELECT h.doc_id, MAX(h.s) AS shard9 FROM h
           JOIN m9 ON h.doc_id = m9.doc_id AND h.hv = m9.mh GROUP BY 1)
         SELECT a8.doc_id, CAST(shard8 AS INT) AS shard8, CAST(shard9 AS INT) AS shard9,
           shard8 <> shard9 AS moved
         FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id"""),

    // §2#58c DSIR importance weights: hashed-ngram importance
    // resampling scores (target = src1 docs vs the whole corpus) —
    // the domain-adaptation selection signal beside quality (q30),
    // perplexity (q65), and novelty (q74); B-cell histograms, λ table
    // broadcast, one scoring pass.
    Query("q226_dsir", (s, dir) => {
      val docs = t(s, dir, "documents").df
      functions.NgramLm.dsirWeights(docs, docs.filter(col("source") === "src1"))
    },
      OracleGen.dsirSql()),

    // §2#38c distributed BPE merge training: the q63 encoder's missing
    // trainer loop — 6 rounds of pair-count → argmax → merge over the
    // corpus vocabulary (the Zipf collapse makes rounds vocab-priced);
    // the oracle replays every round with recursive replace-to-fixpoint
    // CTEs. Same %20 sampling rationale as q63's %100.
    Query("q225_bpe_train", (s, dir) =>
      functions.Bpe.learnMergesDistributed(
        t(s, dir, "documents").df.filter(col("doc_id") % 20 === 0), nMerges = 6),
      OracleGen.bpeTrainSql())
  )
}
