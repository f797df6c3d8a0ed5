package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing
import graft.core.Sizing.rebalance
import graft.functions.{TextFunctions => T}

/** Corpus term statistics: per-document top-m TF-IDF terms — the
  * keyword-extraction / topic-fingerprint pass corpus analyses and
  * domain-mix audits run over a training set.
  *
  * Scale shape: term frequencies are one partial-agg shuffle off the
  * pinned rebalance; document frequencies a second partial agg keyed on
  * the term (Zipf-hot terms collapse map-side). The IDF table is a
  * model artifact — persisted, counted, and BROADCAST ONLY WITHIN the
  * driver budget ([[graft.core.Sizing]]) with a plain shuffled join
  * past it (distinct terms grow with the corpus). Top-m per document is
  * a row_number window partitioned by doc — group size is a document's
  * vocabulary, never corpus-scaled, and the rn <= m filter gets
  * WindowGroupLimit pushdown.
  *
  * Engine determinism: idf = ln((N+1)/(df+1)) is quantized to
  * DECIMAL(20,6) once per TERM; score = tf × idf then stays DECIMAL —
  * exact arithmetic, so ranking ties break identically everywhere
  * (score desc, then term) and the only float in the output is the
  * final rounded score.
  */
object TermStats {

  def tfidfTopTerms(docs: DataFrame, m: Int = 5,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(m > 0, "m must be positive")
    val nDocs = docs.count()

    val tf = rebalance(docs, idCol)
      .select(col(idCol).as("doc_id"), explode(T.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(nDocs) + 1.0) / (col("df") + 1.0)).cast("decimal(20,6)"))
      .persist()
    val idfT = Sizing.broadcastIfFits(docs.sparkSession, idf.count())(idf)

    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(idfT, Seq("term"))
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= m)
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("score").cast("double"), 4).as("score"), col("rnk"))
  }

  /** Top-k bigram collocations by pointwise mutual information — the
    * corpus-linguistics pass that surfaces multi-word expressions
    * ("new york", "machine learning") for tokenizer vocab decisions
    * and phrase-aware dedup keys. PMI = ln(p(ab) / (p(a)·p(b))).
    *
    * Scale shape: unigram and bigram counts are gram-keyed partial
    * aggs off one tokenized pass (Zipf heads collapse map-side);
    * corpus totals ride a single two-column agg action (no second
    * scan per total). The bigram→unigram probability join follows the
    * driver budget: the vocabulary broadcasts only within it, else
    * plain shuffled joins. minCount prunes the long tail
    * BEFORE the join (PMI on hapax pairs is noise anyway), and the
    * global top-k ranking gets WindowGroupLimit pushdown, so the
    * single-task final sort sees ≤ k rows per map partition.
    *
    * Engine determinism: the PMI operand is one double expression of
    * exact longs in a fixed association order, quantized to
    * DECIMAL(20,6) after the ln (the q65 pattern) so ranking ties
    * break identically everywhere.
    */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5, topK: Int = 100,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minCount > 0 && topK > 0, "minCount and topK must be positive")
    // tokens pre-exchange: materialized through the shuffle so the
    // bigram lambda reads an O(1) attribute, not a re-split per element
    val toks = rebalance(docs.select(col(idCol), T.tokens(col(textCol)).as("w")), idCol)
      .select("w")
    val totals = toks.agg(
      sum(size(col("w"))).as("nu"),
      sum(greatest(size(col("w")) - 1, lit(0))).as("nb")).head()
    val (nUni, nBi) = (totals.getLong(0), totals.getLong(1))

    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c")).persist()
    val uniT = Sizing.broadcastIfFits(docs.sparkSession, uni.count())(uni)
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(T.wordNGrams(col("w"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))

    bi.join(uniT.select(col("t").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(uniT.select(col("t").as("w2"), col("c").as("cb")), Seq("w2"))
      .withColumn("pmi",
        log((col("cab").cast("double") * nUni * nUni) /
            (lit(nBi.toDouble) * col("ca") * col("cb")))
        .cast("decimal(20,6)"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("pmi").desc, col("bg"))).cast("int"))
      .filter(col("rnk") <= topK)
      .select(col("bg"), col("cab"),
        col("pmi").cast("double").as("pmi"), col("rnk"))
  }

  /** Per-document n-gram novelty: the fraction of a document's
    * distinct n-grams that appear NOWHERE else in the corpus
    * (df == 1) — the "how much of this doc is boilerplate vs
    * original" curation signal, the scoring complement of the dedup
    * family's keep/drop decisions.
    *
    * Scale shape: grams are `array_distinct`'d MAP-SIDE, so no
    * distinct shuffle ever runs; df is a partial agg keyed on the
    * gram (Zipf-hot boilerplate grams collapse before the shuffle).
    * The trick that avoids joining the postings against a corpus-
    * sized df table: a df == 1 gram has exactly ONE owner, so
    * `min(doc_id)` carried through the same aggregate IS the
    * attribution — novel counts fall out of the gram agg, and the
    * final join is doc-keyed between two doc-sized tables. The
    * per-doc denominator groupBy reuses the pinned rebalance
    * exchange (doc_id-partitioned), so the corpus is tokenized once
    * and shuffled only on the gram key.
    */
  def noveltyScore(docs: DataFrame, n: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n > 0, "n must be positive")
    // tokens pre-exchange: the post-exchange projections otherwise
    // collapse into one, re-splitting the text per gram reference
    val grams = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(T.wordNGrams(col("w"), n))).as("g"))
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("g")
      .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"))
          .as("novelty"))
  }

  /** BM25 ranked retrieval: top-k documents for a bag-of-terms query —
    * the reference lexical ranking function (Robertson/Spärck Jones;
    * what Lucene/Elasticsearch score with) and the standard seed-doc /
    * relevance-mining pass over a training corpus. idf uses the
    * +1-inside-the-log form ln((N−df+0.5)/(df+0.5)+1) (always
    * positive); tf saturates through k1 with length normalization b.
    *
    * Scale shape: the query's term list is tiny by nature, so postings
    * filter to query terms MAP-SIDE before any shuffle (the corpus
    * never aggregates on its full vocabulary); the df table is at most
    * |query| rows → unconditional broadcast; doc lengths ride the same
    * tokenized pass as the tf agg (tokens materialized ACROSS the
    * pinned rebalance — the §5 interpreted-lambda rule); corpus totals
    * for avgdl are one cheap map-side-combined agg. The global top-k
    * rank is a WindowGroupLimit-pushed row_number (each map partition
    * pre-prunes to k candidate rows).
    *
    * Engine determinism: k1 = 3/2 and b = 3/4 are dyadic rationals
    * (exact doubles); idf quantizes to DECIMAL(20,6) per term; each
    * term's score contribution evaluates in doubles in a fixed
    * oracle-mirrored op order and quantizes to DECIMAL(20,9) BEFORE
    * the per-doc sum (order-insensitive at any parallelism — the q65
    * rule); ranking ties break by doc id; the output score rounds at
    * 1e-6.
    */
  def bm25Rank(docs: DataFrame, queryTerms: Seq[String], topK: Int = 10,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && topK > 0, "need query terms and topK > 0")
    val totals = docs.agg(
      sum(size(T.tokens(col(textCol)))).as("nt"), count(lit(1)).as("nd")).head()
    val (nTok, nDocs) = (totals.getLong(0), totals.getLong(1))
    val avgdl = nTok.toDouble / nDocs.toDouble

    val toks = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    val tf = toks.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          .cast("decimal(20,6)"))
    // k1 = 3/2, b = 3/4: (k1+1) = 2.5 and (1−b) = 0.25 fold to exact
    // dyadic doubles — the identical literals appear in the oracle SQL
    val contrib = (col("idf").cast("double") * (col("tf") * lit(2.5)) /
      (col("tf") + lit(1.5) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .cast("decimal(20,9)")
    tf.join(broadcast(dfT), Seq("term"))
      .withColumn("_c", contrib)
      .groupBy("doc_id")
      .agg(sum(col("_c")).as("_score"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("_score").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), round(col("_score").cast("double"), 6).as("score"),
        col("n_terms"), col("rank"))
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai &
    * Lafferty SIGIR'01) — the language-modeling classic beside
    * [[bm25Rank]]: score(d) = Σ_{t∈q} ln((tf_td + μ·cf_t/|C|) /
    * (dl_d + μ)). Where BM25 hand-tunes (k1, b), QL's single μ is the
    * Dirichlet prior mass and the collection model cf_t/|C| fills in
    * for terms the document lacks — so ABSENT query terms still
    * contribute (the smoothing term), which is why candidates join
    * LEFT against their term frequencies. Candidate set = documents
    * matching ≥ 1 query term (the inverted-index retrieval contract);
    * query terms with zero collection frequency drop (their smoothed
    * probability is 0 everywhere — undefined, not a tie).
    *
    * Same exactness contract as BM25: per-term contributions quantize
    * to DECIMAL(20,9) pre-sum; dl/tf/cf are exact integers; one
    * double ln per (candidate, term) with the identical shape in the
    * oracle SQL.
    */
  def qlDirichletRank(docs: DataFrame, queryTerms: Seq[String],
                      mu: Double = 2000.0, topK: Int = 10,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && topK > 0 && mu > 0,
      "need query terms, topK > 0, mu > 0")
    val nTok = docs.agg(sum(size(T.tokens(col(textCol)))).as("nt"))
      .head().getLong(0).toDouble
    // tf feeds THREE consumers (cf, the candidate set, the left join
    // back) and is bounded at candidates × query terms —
    // localCheckpoint it so the corpus-wide tokenize+explode runs
    // ONCE and nothing row-scaled ever shuffles (the groupBy below
    // exchanges only query-term-matching tokens)
    val toks = docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    val tf = toks.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cf = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
    val cands = tf.select("doc_id", "dl").distinct()
    val contrib = log(
      (col("tf") + lit(mu) * col("cf").cast("double") / lit(nTok)) /
        (col("dl") + lit(mu))).cast("decimal(20,9)")
    cands.join(broadcast(cf)) // candidates × live query terms
      .join(tf, Seq("doc_id", "dl", "term"), "left")
      .na.fill(0L, Seq("tf"))
      .withColumn("_c", contrib)
      .groupBy("doc_id")
      .agg(sum(col("_c")).as("_score"),
        sum(when(col("tf") > 0L, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("_score").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), round(col("_score").cast("double"), 6).as("score"),
        col("n_hits"), col("rank"))
  }

  /** Zipf rank-frequency fit: the OLS slope of ln(count) on ln(rank)
    * over the corpus's top-`topN` terms — natural text sits near
    * slope ≈ −1, and deviation is a cheap whole-corpus health signal
    * (template/boilerplate floods flatten the head; token-salad
    * generators flatten the tail). One number per corpus drop, worth
    * tracking next to the drift family.
    *
    * Scale shape: term counts are one gram-keyed partial agg (Zipf
    * head collapses map-side — the thing being measured is also what
    * makes the agg cheap); the rank window is unpartitioned but its
    * rn ≤ topN filter gets WindowGroupLimit pushdown, so map
    * partitions pre-prune to topN rows. The regression is the q156
    * closed-form six-sum OLS on ln values quantized to micro-units
    * (floor(ln·10⁶+0.5) — the q107 ln rule: libm vs JVM ln differ in
    * the last ulp; quantized longs sum exactly as DECIMAL(38,0)).
    */
  def zipfFit(docs: DataFrame, topN: Int = 200,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = rebalance(docs.select(col(idCol), T.tokens(col(textCol)).as("w")), idCol)
      .select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val ranked = counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("t"))))
      .filter(col("rank") <= topN)
    val q = ranked.select(
      floor(log(col("rank").cast("double")) * 1000000.0 + 0.5).cast("long").as("_x"),
      floor(log(col("c").cast("double")) * 1000000.0 + 0.5).cast("long").as("_y"))
    val agg = q.agg(count(lit(1)).as("n"),
      sum(col("_x").cast("decimal(38,0)")).as("_sx"),
      sum(col("_y").cast("decimal(38,0)")).as("_sy"),
      sum((col("_x") * col("_x")).cast("decimal(38,0)")).as("_sxx"),
      sum((col("_y") * col("_y")).cast("decimal(38,0)")).as("_syy"),
      sum((col("_x") * col("_y")).cast("decimal(38,0)")).as("_sxy"))
    def d(c: String) = col(c).cast("double")
    val nn = col("n").cast("double")
    val num = nn * d("_sxy") - d("_sx") * d("_sy")
    val denX = nn * d("_sxx") - d("_sx") * d("_sx")
    val denY = nn * d("_syy") - d("_sy") * d("_sy")
    agg.select(col("n").as("n_terms"),
      round(num / denX, 9).as("slope"),
      round(num * num / (denX * denY), 9).as("r2"))
  }

  /** Vocabulary coverage curve: the share of ALL corpus token
    * occurrences covered by the top-k most frequent terms, at a fixed
    * probe ladder — the tokenizer-sizing read-out beside [[zipfFit]]
    * (Zipf says the head is heavy; this says HOW heavy, in the units
    * a BPE/vocab budget decision needs: "8k types cover 97.4% of
    * running text"). One row per probe (probes past the vocabulary
    * clamp to it, reported via rank_used).
    *
    * Scale shape: one token partial agg to the term histogram; the
    * rank/cumulative windows run over the VOCABULARY table only (the
    * zipfFit / §5 histogram exemption); probes join against ≤|probes|
    * matched ranks. Exact integer counts; coverage is one mirrored
    * division, rounded 1e-9.
    */
  def vocabCoverage(docs: DataFrame,
                    probes: Seq[Long] = Seq(10L, 30L, 100L, 300L, 1000L, 3000L, 10000L),
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1), s"bad probes $probes")
    val spark = docs.sparkSession
    val counts = rebalance(docs.select(col(idCol), T.tokens(col(textCol)).as("w")), idCol)
      .select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum("c").as("_tot"), count(lit(1)).as("_v"))
    // rank = the term's 1-based position in (count desc, term) order
    val ranked = Ranks.running(counts, Nil, Seq(col("c").desc, col("t")),
        Seq("rank" -> lit(1L), "_cum" -> col("c")))
      .crossJoin(broadcast(tot))
    import spark.implicits._
    val probesDf = probes.toDF("k")
    probesDf.join(ranked, col("rank") === least(col("k"), col("_v")))
      .select(col("k"), col("rank").as("rank_used"),
        col("_cum").as("covered_tokens"), col("_tot").as("total_tokens"),
        round(col("_cum").cast("double") / col("_tot").cast("double"), 9)
          .as("coverage"))
  }

  /** Sparse TF-IDF all-pairs document similarity (the DISCO /
    * term-at-a-time cosine join): doc pairs whose pruned TF-IDF
    * vectors have cosine ≥ `minCos` — the lexical-overlap complement
    * of the embedding-cosine dedup family, computable without any
    * embedding model.
    *
    * Scale shape: candidates come from the TERM-keyed inverted index,
    * never all-pairs — terms with df > `dfMax` (stop/boilerplate
    * terms, the Zipf head that would contribute df² pair fragments
    * each while carrying near-zero IDF weight anyway) are pruned
    * BEFORE the postings self-join, bounding per-term fan-out at
    * dfMax²; both join sides are the SAME weighted-postings frame so
    * Catalyst reuses one exchange; dot products are a partial agg
    * sized by the candidate pairs. Norms are one doc-keyed agg over
    * the pruned space (cosine is defined over the surviving terms —
    * standard practice once stop terms are removed).
    *
    * Engine determinism (the q76 tie-free pattern): idf quantizes to
    * DECIMAL(20,6); weights quantize to integer millionths via
    * `floor(tf·idf·10⁶ + 0.5)` in pure IEEE doubles (bit-identical in
    * both engines, no decimal .5-tie cast); dots and norms then sum
    * `DECIMAL(38,0)` products of those exact longs — order-insensitive
    * at any parallelism — and only the final cosine divides as double,
    * the same three IEEE ops on both engines.
    */
  def tfidfSimilarPairs(docs: DataFrame, minCos: Double = 0.5, dfMax: Long = 100,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nDocs = docs.count()
    val tf = rebalance(docs, idCol)
      .select(col(idCol).as("doc_id"), explode(T.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfMax)
      .withColumn("idf",
        log((lit(nDocs) + 1.0) / (col("df") + 1.0)).cast("decimal(20,6)"))
      .select("term", "idf")
    val w = tf.join(idf, Seq("term"))
      .withColumn("wq",
        floor(col("tf") * col("idf").cast("double") * lit(1000000.0) + 0.5).cast("long"))
      .select("doc_id", "term", "wq")
    val norm = w.groupBy("doc_id")
      .agg(sum(col("wq").cast("decimal(38,0)") * col("wq")).as("n2"))
    val dots = w.select(col("term"), col("doc_id").as("doc_a"), col("wq").as("wa"))
      .join(w.select(col("term"), col("doc_id").as("doc_b"), col("wq").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa").cast("decimal(38,0)") * col("wb")).as("dot"))
    dots.join(norm.select(col("doc_id").as("doc_a"), col("n2").as("na2")), Seq("doc_a"))
      .join(norm.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), Seq("doc_b"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
      .filter(col("cos") >= minCos)
      .select("doc_a", "doc_b", "cos")
  }

  /** Good–Turing frequency re-estimation (Good '53; Gale & Sampson
    * '95's log-log smoothing) — the classical answer to "how much
    * probability mass belongs to events we have NOT seen", the
    * foundation under Katz backoff and the sanity check on any
    * corpus-frequency table: r* = (r+1)·S(r+1)/S(r) with S the
    * smoothed count-of-counts, and the unseen mass P₀ = N₁/N.
    * Smoothing is the Gale "linear Good–Turing" fit ln N_r = a +
    * b·ln r, under which a cancels: r* = (r+1)^(b+1)/r^b.
    *
    * Scale shape: one corpus explode → per-term counts; the
    * count-of-counts table is bounded by DISTINCT FREQUENCIES (Zipf:
    * ~√(corpus) cells); the fit is one partial agg over those cells
    * with every ln-term DECIMAL(20,9)-quantized pre-sum (doubles of
    * exact integers, order-free), b a driver scalar. Output: the r=0
    * unseen-mass row plus the `topR` SMALLEST observed frequencies
    * (where re-estimation matters and N_r is dense) with smoothed r*
    * and probabilities — a fixed frequency threshold would go empty
    * on corpora whose rarest term is still common.
    */
  def goodTuring(docs: DataFrame, textCol: String = "text",
                 topR: Int = 20): DataFrame = {
    require(topR >= 1, s"topR must be >= 1, got $topR")
    val tf = docs.select(explode(T.tokens(col(textCol))).as("_t"))
      .filter(length(col("_t")) > 0)
      .groupBy("_t").agg(count(lit(1)).as("_r"))
    val cells = tf.groupBy("_r").agg(count(lit(1)).as("_nr"))
      .localCheckpoint() // bounded: distinct frequencies; feeds fit + output
    val fit = cells.select(
        log(col("_r").cast("double")).cast("decimal(20,9)").as("_u"),
        log(col("_nr").cast("double")).cast("decimal(20,9)").as("_v"))
      .agg(count(lit(1)).as("_m"), sum(col("_u")).as("_su"),
        sum(col("_v")).as("_sv"),
        sum((col("_u") * col("_v")).cast("decimal(20,9)")).as("_suv"),
        sum((col("_u") * col("_u")).cast("decimal(20,9)")).as("_suu"))
      .head()
    val m = fit.getLong(0).toDouble
    val (su, sv, suv, suu) = (fit.getDecimal(1).doubleValue(),
      fit.getDecimal(2).doubleValue(), fit.getDecimal(3).doubleValue(),
      fit.getDecimal(4).doubleValue())
    val den = m * suu - su * su
    require(den > 0, "goodTuring: need >= 2 distinct frequencies to fit")
    val b = (m * suv - su * sv) / den
    val totals = cells.agg(
      sum((col("_r") * col("_nr")).cast("decimal(38,0)")).as("_n"),
      coalesce(max(when(col("_r") === 1L, col("_nr"))), lit(0L)).as("_n1")).head()
    val nTok = totals.getDecimal(0).doubleValue()
    val n1 = totals.getLong(1)
    def dbl(c: Column) = c.cast("double")
    // ln-domain output: r* = (r+1)^(b+1)/r^b needs pow, and Java's
    // Math.pow and C libm pow disagree by 1 ulp on fractional
    // exponents (observed: a round-boundary flip at 1e-9) — ln is the
    // transcendental both engines DO reproduce bit-identically, so
    // emit ln r* = (b+1)·ln(r+1) − b·ln r and ln p_r = ln r* − ln N
    val lrs = lit(b + 1.0) * log(dbl(col("_r")) + 1.0) -
      lit(b) * log(dbl(col("_r")))
    val seen = cells.orderBy(col("_r").asc).limit(topR)
      .select(col("_r").as("r"), col("_nr").as("n_r"),
        round(lrs, 9).as("log_r_star"),
        round(lrs - lit(math.log(nTok)), 9).as("log_p_r"))
    val unseen = docs.sparkSession.createDataFrame(Seq(
        (0L, n1,
          None: Option[Double],
          if (n1 > 0L) Some(new java.math.BigDecimal(
              math.log(n1.toDouble) - math.log(nTok))
            .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue)
          else None)))
      .toDF("r", "n_r", "log_r_star", "log_p_r")
    unseen.unionByName(seen)
  }

  /** Heaps' law fit V(n) = K·n^β (Heaps '78) — how fast the
    * vocabulary grows as the corpus does, the planning number behind
    * "how big does the tokenizer/embedding vocab table get at 10×
    * the data" and a drift alarm when a crawl's β jumps (template
    * explosion) or collapses (duplication). The growth curve is
    * sampled at `points` doc-id checkpoints and β/ln K fit by OLS on
    * the log-log points.
    *
    * Scale shape: NO global window and NO fan-out — each term folds
    * to its FIRST document (one partial-agg min), each doc to its
    * token count (one partial agg), and every checkpoint's (tokens,
    * vocab) pair is a CONDITIONAL SUM inside one aggregate row, so
    * the whole curve costs two corpus passes + two bounded aggs
    * however many points are asked for. All curve values are exact
    * integers; the fit is doubles of DECIMAL-quantized ln cells
    * (the Good–Turing machinery).
    */
  def heapsLaw(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id", points: Int = 20): DataFrame = {
    require(points >= 2, s"points must be >= 2, got $points")
    val maxId = docs.agg(max(col(idCol).cast("long"))).head().getLong(0)
    val cuts = (1 to points).map(i =>
      maxId * i / points) // floor division — mirrored by the oracle's //
    val firstDoc = docs
      .select(col(idCol).cast("long").as("_d"),
        explode(T.tokens(col(textCol))).as("_t"))
      .filter(length(col("_t")) > 0)
      .groupBy("_t").agg(min("_d").as("_f"))
    val vRow = firstDoc.agg(
      sum(when(col("_f") <= cuts.head, 1L).otherwise(0L)).as("v0"),
      cuts.tail.zipWithIndex.map { case (c, i) =>
        sum(when(col("_f") <= c, 1L).otherwise(0L)).as(s"v${i + 1}") }: _*).head()
    val perDoc = docs
      .select(col(idCol).cast("long").as("_d"),
        size(T.tokens(col(textCol))).cast("long").as("_c"))
    val nRow = perDoc.agg(
      sum(when(col("_d") <= cuts.head, col("_c")).otherwise(0L)).as("n0"),
      cuts.tail.zipWithIndex.map { case (c, i) =>
        sum(when(col("_d") <= c, col("_c")).otherwise(0L)).as(s"n${i + 1}") }: _*)
      .head()
    val pts = (0 until points).map(i =>
      (i + 1, nRow.getLong(i), vRow.getLong(i)))
      .filter(p => p._2 > 0 && p._3 > 0)
    require(pts.size >= 2, "heapsLaw: need >= 2 non-empty checkpoints")
    // OLS of ln V on ln n over the checkpoint cells, every ln term
    // quantized to 1e-9 pre-sum (both engines round the same doubles)
    def q9(x: Double): java.math.BigDecimal = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val uv = pts.map { case (_, n, v) =>
      (q9(math.log(n.toDouble)), q9(math.log(v.toDouble))) }
    def dsum(xs: Seq[java.math.BigDecimal]): Double =
      xs.reduce(_.add(_)).doubleValue()
    val m = uv.size.toDouble
    val su = dsum(uv.map(_._1)); val sv = dsum(uv.map(_._2))
    // products are DOUBLE multiplies re-quantized from the double —
    // DuckDB's DECIMAL→DECIMAL cast TRUNCATES while its
    // DOUBLE→DECIMAL cast rounds, so the only mirrorable shape is
    // double-product → round-at-1e-9 on both engines (beta here is a
    // catastrophic-cancellation residue; a one-digit quantization
    // skew dominates it)
    def mul9(a: java.math.BigDecimal, b: java.math.BigDecimal) =
      new java.math.BigDecimal(a.doubleValue() * b.doubleValue())
        .setScale(9, java.math.RoundingMode.HALF_UP)
    val suv = dsum(uv.map(p => mul9(p._1, p._2)))
    val suu = dsum(uv.map(p => mul9(p._1, p._1)))
    val den = m * suu - su * su
    val beta = if (den > 0) (m * suv - su * sv) / den else Double.NaN
    val lnK = (sv - beta * su) / m
    // + 0.0 folds IEEE −0.0 to +0.0 (DuckDB's round never emits the
    // sign bit; a "-0.0" here would hash-differ on a zero result)
    def r9(x: Double): Double = q9(x).doubleValue + 0.0
    val spark = docs.sparkSession
    spark.createDataFrame(pts.map { case (i, n, v) =>
        (i, n, v, r9(beta), r9(lnK)) })
      .toDF("point", "n_tokens", "v_terms", "beta", "ln_k")
  }
}
