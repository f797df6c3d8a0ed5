package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sizing
import graft.core.Sizing.rebalance
import graft.functions.{TextFunctions => T}

/** CCNet-style perplexity quality filtering (the standard LLM-data
  * quality op beyond SURVEY §2 #37's ratio features): score every
  * document by the negative mean log-likelihood of its word bigrams
  * under an add-k-smoothed bigram language model trained on a
  * high-quality seed split. High nll = unlike the seed distribution =
  * candidate for dropping — the filter CCNet/CC-MultiLingual pipelines
  * run with a KenLM 5-gram; the bigram form keeps the model a small
  * relational artifact both engines can rebuild exactly.
  *
  * Scale shape: the LM (bigram counts + context counts) is a derived
  * aggregate persisted as a MODEL ARTIFACT (same budget class as the
  * IVF centroids); its size is counted and the scoring joins are
  * broadcast only within the driver budget ([[graft.core.Sizing]]),
  * else plain shuffled joins, so a huge seed degrades to extra
  * shuffles instead of a driver OOM. Scoring itself is one pass over
  * the corpus: pinned rebalance → bigram explode (map-side) → two
  * gated joins → partial-agg per doc on the partitioning the rebalance
  * installed.
  *
  * Determinism across engines: each bigram's log term is quantized to
  * DECIMAL(20,6) BEFORE summation — decimal addition is exact and
  * order-insensitive, so Spark's partial aggregation and DuckDB's
  * sequential sum cannot drift on float association — and the final
  * mean is rounded to 4 decimals. P(w2|w1) = (c(w1w2)+k)/(c(w1·)+k·V).
  */
object NgramLm {

  def perplexity(docs: DataFrame, lmDocs: DataFrame, k: Double = 0.5,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // ---- the LM artifact (persisted: counted once, joined twice) ----
    val seedBg = lmDocs
      .select(explode(T.boundNGrams(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .persist()
    val ctx = seedBg.groupBy("w1").agg(sum("c2").as("c1")).persist()
    val gated = Sizing.broadcastIfFits(docs.sparkSession, seedBg.count())
    val vocab = lmDocs.select(explode(T.tokens(col(textCol))).as("w")).distinct().count()
    val bgT = gated(seedBg.select("bg", "c2"))
    val ctxT = gated(ctx)

    // ---- one scoring pass over the corpus ----
    // tokens pre-exchange (Dedup.minhashPairs pattern): materialized
    // through the shuffle so the bigram lambda reads an O(1) attribute
    val spine = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"), T.wordNGrams(col("w"), 2).as("bgs"))
    val terms = spine.select(col("doc_id"), explode(col("bgs")).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(bgT, Seq("bg"), "left")
      .join(ctxT, Seq("w1"), "left")
      .select(col("doc_id"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .withColumn("termd",
        log((col("c2") + lit(k)) / (col("c1") + lit(k * vocab))).cast("decimal(20,6)"))
    val scored = terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("c2") === 0L, 1L).otherwise(0L)).as("oov_bigrams"),
      sum(col("termd")).as("s"))
      .withColumn("nll", round(-col("s").cast("double") / col("n_bigrams"), 4))
    // docs with < 2 tokens have no bigrams: keep them with 0 counts,
    // null score (nothing to measure, not "perfect")
    spine.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("oov_bigrams"), lit(0L)).as("oov_bigrams"),
        col("nll"))
  }

  /** Stupid Backoff trigram scoring (Brants et al., "Large Language
    * Models in Machine Translation", EMNLP'07 — the smoothing designed
    * FOR distributed MapReduce LMs: no normalization pass, no
    * discount fitting, just raw counts and a fixed backoff penalty,
    * which is why it was the first LM trained on trillions of tokens).
    * Every document's word trigrams are scored
    *   S(w3|w1w2) = c3/c2ctx                 if the trigram was seen
    *              = α · c2/c1                else if the bigram was
    *              = α² · (c1+1)/(N+V)        else (add-1 unigram floor
    *                                          so OOV words stay finite)
    * with α = 0.4 (the paper's constant), and sb_nll is the negative
    * mean log score — the #37c perplexity filter's big sibling: the
    * trigram context catches phrase-level gibberish a bigram LM
    * scores fluent.
    *
    * Scale shape: the LM is THREE partial-agg count tables (tri, bi,
    * uni — each one map-side-combining shuffle over the seed), all
    * joined under the same driver-budget broadcast rule as [[perplexity]]
    * (a huge seed degrades to shuffled joins, never a driver OOM);
    * scoring is one pass over the corpus — pinned rebalance → trigram
    * explode (tokens materialized across the exchange, the q85 lambda
    * rule) → five gated lookup joins → per-doc partial agg. No
    * windows, nothing pair-scaled.
    *
    * Determinism: every branch's log term is an IEEE double of exact
    * integer operands (identical on both engines), quantized to
    * DECIMAL(20,6) BEFORE the per-doc sum (exact, order-insensitive);
    * the mean exits through round(·, 4).
    */
  def stupidBackoff(docs: DataFrame, lmDocs: DataFrame, alpha: Double = 0.4,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // ---- the LM artifact: three count tables + two scalars ----
    val tri = lmDocs.select(explode(T.boundNGrams(col(textCol), 3)).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("c3")).persist()
    val bi = lmDocs.select(explode(T.boundNGrams(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2")).persist()
    val uni = lmDocs.select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1")).persist()
    val gated = Sizing.broadcastIfFits(docs.sparkSession, tri.count())
    val nTok = lmDocs.select(sum(size(T.tokens(col(textCol))))).head.getLong(0)
    val vocab = uni.count()

    // ---- one scoring pass over the corpus ----
    val spine = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"), T.wordNGrams(col("w"), 3).as("tgs"))
    val parts = spine.select(col("doc_id"), explode(col("tgs")).as("tg"))
      .withColumn("ctx2", substring_index(col("tg"), " ", 2))
      .withColumn("last2", substring_index(col("tg"), " ", -2))
      .withColumn("w2", substring_index(col("last2"), " ", 1))
      .withColumn("w3", substring_index(col("tg"), " ", -1))
      .join(gated(tri), Seq("tg"), "left")
      .join(gated(bi.select(col("bg").as("ctx2"), col("c2").as("c2ctx"))), Seq("ctx2"), "left")
      .join(gated(bi.select(col("bg").as("last2"), col("c2").as("c2last"))), Seq("last2"), "left")
      .join(gated(uni.select(col("w").as("w2"), col("c1").as("c1mid"))), Seq("w2"), "left")
      .join(gated(uni.select(col("w").as("w3"), col("c1").as("c1last"))), Seq("w3"), "left")
      .select(col("doc_id"),
        coalesce(col("c3"), lit(0L)).as("c3"),
        coalesce(col("c2ctx"), lit(0L)).as("c2ctx"),
        coalesce(col("c2last"), lit(0L)).as("c2last"),
        coalesce(col("c1mid"), lit(0L)).as("c1mid"),
        coalesce(col("c1last"), lit(0L)).as("c1last"))
    val term =
      when(col("c3") > 0,
        log(col("c3").cast("double") / col("c2ctx").cast("double")))
      .when(col("c2last") > 0,
        log(lit(alpha) * col("c2last").cast("double") / col("c1mid").cast("double")))
      .otherwise(
        log(lit(alpha * alpha) * (col("c1last").cast("double") + lit(1.0)) /
          lit((nTok + vocab).toDouble)))
    val scored = parts
      .withColumn("termd", term.cast("decimal(20,6)"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("c3") === 0L && col("c2last") === 0L, 1L).otherwise(0L)).as("floor_hits"),
        sum(col("termd")).as("s"))
      .withColumn("sb_nll", round(-col("s").cast("double") / col("n_trigrams"), 4))
    // docs with < 3 tokens have no trigrams: kept with 0 counts, null
    // score (nothing to measure, not "perfect") — the perplexity rule
    spine.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("floor_hits"), lit(0L)).as("floor_hits"),
        col("sb_nll"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS'23 — public): score
    * every raw document by how much more likely its hashed n-gram
    * features are under a TARGET domain's distribution than under the
    * raw corpus's own — log w(x) = Σ_g [ln p̂(h(g)) − ln q̂(h(g))] over
    * the doc's unigrams+bigrams, features hashed into `nBuckets`
    * buckets (the dimensionality collapse that makes the estimator
    * corpus-scale: both distributions are B-cell histograms however
    * large either corpus is). Downstream selection is the sampling
    * family's job (`weightedSampleTopK` on exp-scaled weights, or a
    * plain top-k on logw).
    *
    * Estimates are add-1 smoothed over the FULL bucket space
    * (p̂_b = (c_b+1)/(N+B)), so buckets unseen in either corpus still
    * carry a defined, nonzero log-ratio.
    *
    * Scale shape: both histograms are ONE map-side-combining partial
    * agg to ≤ B cells; the λ_b = ln p̂ − ln q̂ table is B rows,
    * BROADCAST; scoring is one pass over the raw corpus — pinned
    * rebalance → gram explode (tokens materialized across the
    * exchange, the q85 lambda rule) → md5 bucket → broadcast λ join →
    * per-doc partial agg. No window, nothing pair-scaled, and the
    * model artifact is B doubles.
    *
    * Determinism: the bucket is the portable md5 hash mod B (both
    * engines bit-identical); each λ_b quantizes to DECIMAL(20,6)
    * BEFORE the per-doc sum (the q65 rule — exact, order-insensitive),
    * and logw exits through an exact micro-unit long (never a raw
    * decimal→double cast, which differs by an ulp between engines).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, nBuckets: Int = 1024,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val spark = raw.sparkSession
    val B = nBuckets
    def bucket(g: org.apache.spark.sql.Column) =
      pmod(Hashing.portableHash(g), lit(B.toLong))
    // grams = the raw token array (unigrams, split-faithful incl. the
    // empty-text artifact, oracle-mirrored) ++ space-joined bigrams
    def grams(text: org.apache.spark.sql.Column) = {
      val w = T.tokens(text)
      concat(w, T.wordNGrams(w, 2))
    }
    def hist(df: DataFrame, cName: String) = df
      .select(explode(grams(col(textCol))).as("g"))
      .groupBy(bucket(col("g")).as("b")).agg(count(lit(1)).as(cName))
    val pCnt = hist(target, "pc")
    val qCnt = hist(raw, "qc")
    val lam = spark.range(B).select(col("id").as("b"))
      .join(broadcast(pCnt), Seq("b"), "left")
      .join(broadcast(qCnt), Seq("b"), "left")
      .select(col("b"),
        coalesce(col("pc"), lit(0L)).as("pc"), coalesce(col("qc"), lit(0L)).as("qc"))
      .crossJoin(broadcast(pCnt.agg(coalesce(sum("pc"), lit(0L)).as("np"))))
      .crossJoin(broadcast(qCnt.agg(coalesce(sum("qc"), lit(0L)).as("nq"))))
      .select(col("b"),
        (log((col("pc") + lit(1.0)) / (col("np") + lit(B.toDouble))) -
         log((col("qc") + lit(1.0)) / (col("nq") + lit(B.toDouble))))
          .cast("decimal(20,6)").as("lam"))
    val spine = rebalance(
        raw.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"), concat(col("w"), T.wordNGrams(col("w"), 2)).as("gs"))
    val scored = spine.select(col("doc_id"), explode(col("gs")).as("g"))
      .select(col("doc_id"), bucket(col("g")).as("b"))
      .join(broadcast(lam), Seq("b"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"), sum("lam").as("s"))
      // exact-integer exit: DECIMAL->DOUBLE casts differ by an ulp
      // between engines (the q101 note), so the micro-unit sum leaves
      // as a LONG and one IEEE division reconstructs the double
      .withColumn("logw", (col("s") * 1000000).cast("long").cast("double") / 1e6)
    spine.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("logw"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney ICASSP'95;
    * Chen & Goodman's interpolated form — the smoothing every serious
    * n-gram LM since SRILM/KenLM defaults to). Each document bigram
    * (w1, w2) with a KNOWN context (c(w1·) > 0 in the seed) scores
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *            + D · N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    * with discount D = 0.75: the absolute-discount mass is re-spent on
    * the CONTINUATION probability — how many distinct contexts w2
    * completes, not how often it occurs — which is exactly what makes
    * KN beat add-k/backoff on real text ("Francisco" is frequent but
    * follows only "San"). Bigrams with an unseen context, or with
    * P = 0 (unseen pair AND never-seen continuation), are counted and
    * skipped — kn_nll is the negative mean log over the SCORED terms.
    *
    * Scale shape: the LM artifact is one partial-agg bigram count
    * table plus three derived aggregates of it (context totals c1 +
    * distinct-continuation counts per w1, distinct-predecessor counts
    * per w2, the global bigram-type count) — all broadcast within the
    * driver budget, shuffled joins beyond it.
    * Scoring is the same one corpus pass: pinned rebalance → bigram
    * explode → three gated lookup joins → per-doc partial agg.
    *
    * Determinism: every log term is an IEEE double of exact integer
    * operands in a token order the oracle mirrors, quantized to
    * DECIMAL(20,6) before the per-doc sum; the mean exits via
    * round(·, 4).
    */
  def kneserNey(docs: DataFrame, lmDocs: DataFrame, discount: Double = 0.75,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // ---- the LM artifact ----
    val seedBg = lmDocs
      .select(explode(T.boundNGrams(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .persist()
    // context totals AND distinct continuations in one partial agg
    val ctx = seedBg.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1fwd")).persist()
    val cont = seedBg.groupBy("w2").agg(count(lit(1)).as("n1rev"))
    val nBigramTypes = seedBg.count()
    val gated = Sizing.broadcastIfFits(docs.sparkSession, nBigramTypes)
    // ---- one scoring pass over the corpus ----
    val spine = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"), T.wordNGrams(col("w"), 2).as("bgs"))
    val d = lit(discount)
    val terms = spine.select(col("doc_id"), explode(col("bgs")).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(gated(seedBg.select("bg", "c2")), Seq("bg"), "left")
      .join(gated(ctx), Seq("w1"), "left")
      .join(gated(cont), Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("n1fwd"), lit(0L)).as("n1fwd"),
        coalesce(col("n1rev"), lit(0L)).as("n1rev"))
      // the oracle mirrors this token order exactly; the c1 > 0 guard
      // keeps ANSI mode off the unseen-context division (the oracle's
      // IEEE inf/nan falls out of its own c1 > 0 filter)
      .withColumn("p", when(col("c1") > 0L,
        greatest(col("c2").cast("double") - d, lit(0.0)) / col("c1").cast("double") +
        d * col("n1fwd").cast("double") / col("c1").cast("double") *
          (col("n1rev").cast("double") / lit(nBigramTypes.toDouble))))
      .withColumn("scored", col("p").isNotNull && col("p") > 0.0)
      .withColumn("termd",
        when(col("scored"), log(col("p")).cast("decimal(20,6)")))
    val sc = terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("scored"), 1L).otherwise(0L)).as("n_scored"),
      sum(col("termd")).as("s"))
      .withColumn("kn_nll",
        when(col("n_scored") > 0L,
          round(-col("s").cast("double") / col("n_scored"), 4)))
    spine.select("doc_id").join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("kn_nll"))
  }
}
