package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing
import graft.core.Sizing.rebalance
import graft.functions.{Hashing, TextFunctions => T}

/** Deduplication operators for training-data pipelines (SURVEY.md §2
  * #29-33). All candidate generation is LSH-banded / inverted-index
  * based — never an O(n²) cross join — and every per-bucket pair
  * expansion is capped, so the pair count stays bounded on skewed or
  * near-uniform corpora (a giant bucket means a non-discriminative
  * hash, the standard reason to cap it at 100 TB scale).
  */
object Dedup {

  /** Global deterministic top-K with a rank column. `orderBy.limit`
    * compiles to TakeOrderedAndProject — a distributed partial top-K per
    * partition merged on the driver — NOT a single-partition global
    * sort; the rank window then runs over only K rows.
    */
  private def topKRanked(df: DataFrame, k: Int, order: org.apache.spark.sql.Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(order: _*)))

  /** Cap bucket membership before self-joining so a B-member bucket
    * contributes at most cap² (not B²) pairs. Deterministic: members
    * kept in id order.
    */
  private def capBucket(df: DataFrame, bucketCols: Seq[String], idCol: String, cap: Int): DataFrame =
    df.withColumn("_bn", row_number().over(
        Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol))))
      .filter(col("_bn") <= cap).drop("_bn")

  /** Exact dedup (#29): hash-groupBy on normalized text; keeper is the
    * min doc id. One shuffle on the md5 key; partial agg map-side.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), md5(T.normText(col(textCol))).as("norm_hash"))
      .groupBy("norm_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash+LSH near-dup (#30): word-bigram shingles → k seeded
    * minhashes → per-component bands → bucket self-join (capped) →
    * signature-agreement estimate → top `topK` pairs.
    * Returns (doc_a, doc_b, est_sim, rnk).
    *
    * The signature is computed in exploded form — one row per
    * (doc, shingle), ONE codegen'd md5 base hash plus k fused affine
    * variants (`Hashing.affine`), k map-side-combined MIN aggregates —
    * rather than k nested `transform(...)` higher-order calls over the
    * shingle array. HOFs don't participate in whole-stage codegen and
    * re-inline the O(len²) shingle-construction expression into every
    * lambda (no CSE across lambda boundaries): the exploded shape
    * measured ~50× faster at sf0.1 and keeps the partial-agg
    * single-shuffle profile at any scale. The md5-based family is
    * engine-portable, so the DuckDB oracle verifies this pipeline
    * end-to-end (signatures, banding, capping, scoring).
    */
  def minhash(docs: DataFrame, k: Int = 16, topK: Int = 100, bandWidth: Int = 1,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    topKRanked(minhashPairs(docs, k, bandWidth, textCol, idCol), topK,
      col("est_sim").desc, col("doc_a"), col("doc_b"))

  /** Shared signature + banding stage of the MinHash family: tokens
    * materialize ACROSS the rebalance exchange (tokenize is one cheap
    * split/doc on the scan side; the exchange makes `w` a real array
    * column, so the shingle lambda's element_at reads O(1) attribute
    * data instead of re-splitting the text per reference — HOF lambdas
    * are interpreted, so an inlined tokens expression re-evaluates per
    * element; measured 2-4x on the gram stage). One partial-min
    * shuffle builds the k-slot signature; banding is map-side.
    */
  private def bandedMinhash(docs: DataFrame, k: Int, bandWidth: Int,
                            textCol: String, idCol: String): DataFrame = {
    val shingled = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"),
        explode(array_distinct(T.wordNGrams(col("w"), 2))).as("sh"))
      .withColumn("h", Hashing.portableHash(col("sh")))
    val mins = (0 until k).map(i => min(Hashing.affine(i, col("h"))).as(s"_m$i"))
    val sig = shingled.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
    sig.select(col("doc_id"),
      posexplode(Hashing.bandHashes(col("sig"), k, bandWidth)).as(Seq("band", "bandval")))
  }

  /** The PERSISTABLE MinHash band index — [[bandedMinhash]] exposed as
    * a first-class artifact: one row per (doc, band) carrying the
    * band's hash value. This is the state a CONTINUOUS-ingestion dedup
    * pipeline maintains instead of re-signing the corpus per batch:
    * persist it as a [[graft.sources.TxTable]], and each arriving
    * batch contributes only ITS OWN band rows (I), takedowns retract
    * theirs (D) — `TxTable.mergeInto` keyed on (doc, band) keeps the
    * committed index identical to a from-scratch rebuild (gated), at
    * batch-sized incremental cost. Candidate pairs against the index
    * are then one (band, bandval) equi-join of the batch's rows.
    *
    * Determinism: signatures are the portable md5-affine family — the
    * oracle (and any other engine) rebuilds identical rows from the
    * text alone, which is what makes an INCREMENTALLY-maintained index
    * verifiable against a rebuild at all.
    */
  def minhashBandIndex(docs: DataFrame, k: Int = 16, bandWidth: Int = 1,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bandWidth == 0, s"k=$k not divisible by bandWidth=$bandWidth")
    bandedMinhash(docs, k, bandWidth, textCol, idCol)
  }

  /** Candidate near-dup pairs of a NEW BATCH against a persisted
    * [[minhashBandIndex]] — the query side of continuous-ingestion
    * dedup: "which existing documents does this batch duplicate",
    * answered WITHOUT re-signing the corpus. One (band, bandval)
    * equi-join of the batch's band rows (batch-sized) against the
    * index (corpus-sized but hash-partitioned on the join key — at
    * warehouse scale the index lives bucketed/z-ordered on band so
    * the join also prunes files); collision count IS the similarity
    * estimate (the [[minhashPairs]] scoring rule, est_sim exact for
    * pairs under any bucket cap applied at index build).
    * Returns (batch_id, corpus_id, est_sim); self-matches (a batch
    * doc already indexed) drop.
    */
  def indexLookupPairs(index: DataFrame, batchDocs: DataFrame, k: Int = 16,
                       bandWidth: Int = 1, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(k % bandWidth == 0, s"k=$k not divisible by bandWidth=$bandWidth")
    val nbands = k / bandWidth
    val probe = bandedMinhash(batchDocs, k, bandWidth, textCol, idCol)
      .select(col("doc_id").as("batch_id"), col("band"), col("bandval"))
    probe.join(index.select(col("doc_id").as("corpus_id"), col("band"), col("bandval")),
        Seq("band", "bandval"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .groupBy("batch_id", "corpus_id")
      .agg((count(lit(1)) / nbands.toDouble).as("est_sim"))
  }

  /** The unranked pair stage of [[minhash]]: every candidate pair with
    * its band-collision similarity estimate. This is what a DEDUP run
    * consumes (all pairs above a threshold) — ranking/limiting is a
    * reporting concern, and skipping it keeps the whole-corpus path
    * free of any global sort.
    */
  def minhashPairs(docs: DataFrame, k: Int = 16, bandWidth: Int = 1,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bandWidth == 0, s"k=$k not divisible by bandWidth=$bandWidth")
    val nbands = k / bandWidth

    // Bands of `bandWidth` signature components (standard LSH: a pair
    // is a candidate iff some band agrees on ALL its components —
    // larger bandWidth = fewer, higher-precision candidates; 1 = max
    // recall, right for a corpus with no planted dups).
    //
    // Scoring trick: the number of colliding bands is itself the
    // similarity estimate (for bandWidth=1 it IS the signature
    // agreement; for r>1 the fraction of agreeing bands estimates
    // jaccard^r) — a plain map-side-combinable COUNT, so the k-element
    // signature arrays never enter the self-join shuffle (ids + 2
    // longs per row instead of 2×k longs), and the dedup of repeated
    // candidate pairs IS the scoring aggregation — no separate
    // distinct() pass. (Bucket capping can only drop band collisions,
    // so est_sim is a lower bound — exact for any pair whose buckets
    // stayed under the cap.)
    val banded = bandedMinhash(docs, k, bandWidth, textCol, idCol)
    val capped = capBucket(banded, Seq("band", "bandval"), "doc_id", 50)

    val a = capped.select(col("band"), col("bandval"), col("doc_id").as("doc_a"))
    val b = capped.select(col("band"), col("bandval"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bandval")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg((count(lit(1)) / nbands.toDouble).as("est_sim"))
  }

  /** End-to-end near-dup dedup DECISION for a corpus (SURVEY.md §2
    * #30b): candidate pairs with estimated similarity ≥ `minSim`
    * ([[minhashPairs]] — no ranking, no global sort), clustered into
    * components, keeper = minimum doc id per component. Returns the
    * input with a boolean `keep` column (documents in no qualifying
    * pair keep trivially) — `docs.filter(col("keep"))` IS the deduped
    * corpus. The join back is on the id key the corpus is already
    * hash-partitioned on from the signature stage.
    */
  def dedupCorpus(docs: DataFrame, minSim: Double = 0.5, k: Int = 16, bandWidth: Int = 1,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pairs = minhashPairs(docs, k, bandWidth, textCol, idCol)
      .filter(col("est_sim") >= minSim)
    val drops = keepList(pairs).filter(!col("keep"))
      .select(col("node").as(idCol), lit(true).as("_drop"))
    docs.join(drops, Seq(idCol), "left")
      .withColumn("keep", col("_drop").isNull).drop("_drop")
  }

  /** SimHash near-dup (#31): 64-bit simhash of the term-frequency
    * profile, 4×16-bit Hamming bands for blocking, capped bucket join,
    * top `topK` pairs by Hamming distance.
    * Returns (doc_a, doc_b, hamming, rnk).
    *
    * Band geometry matters at scale: b bands of w bits give at most
    * b×2^w buckets. 8×8-bit bands (the naive choice) cap at 2,048
    * buckets TOTAL — a constant independent of corpus size, so with a
    * per-bucket cap the candidate pool saturates at ~100k docs and
    * recall collapses at 100 TB. 4×16-bit bands give 262k buckets per
    * corpus and still guarantee (pigeonhole) that any pair within
    * Hamming distance 3 shares at least one untouched band — the
    * planted-near-dup recall test asserts exactly that.
    */
  def simhash(docs: DataFrame, topK: Int = 100, bands: Int = 4,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    val bandBits = 64 / bands
    val bandMask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    val sh = simhashSignatures(docs, textCol, idCol)

    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * bandBits).bitwiseAND(lit(bandMask)).as("bandval"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bandval").as("bandval"))
    val capped = capBucket(banded, Seq("band", "bandval"), "doc_id", 50)

    val a = capped.select(col("band"), col("bandval"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = capped.select(col("band"), col("bandval"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "bandval")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .select("doc_a", "doc_b", "hamming")
      .transform(p => topKRanked(p, topK, col("hamming"), col("doc_a"), col("doc_b")))
  }

  /** The 64-bit signature stage of [[simhash]]: per-token hash, per-bit
    * signed term-frequency sums (one shuffle, 64 map-side-combined
    * aggregates), sign → bit. Exposed so recall can be audited against
    * the exact Hamming distances.
    *
    * The 64-bit token hash is the first 64 bits of md5 assembled from
    * two 32-bit halves (one md5 per distinct (doc, token) — Catalyst CSE
    * dedups the two substring reads), so the DuckDB oracle can rebuild
    * the identical signature from `substr(md5(tok), ...)`.
    */
  def simhashSignatures(docs: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = rebalance(docs, idCol)
      .select(col(idCol).as("doc_id"), explode(T.tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", shiftleft(Hashing.md5Long32(col("tok")), 32)
        .bitwiseOR(Hashing.md5Long32b(col("tok"))))
    // per-bit signed sums: +cnt when the token hash has bit j set, -cnt
    // otherwise — one shuffle, 64 map-side-combined sums.
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$j")
    }
    tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        Hashing.assembleSimhash((0 until 64).map(j => col(s"b$j"))).as("simhash"))
  }

  /** n-gram Jaccard near-dup (#32): distinct word trigrams → document
    * frequency filter (grams in > dfMax docs are non-discriminative
    * stop-grams; dropping them is what bounds the inverted-index join at
    * scale) → postings self-join → exact Jaccard over rare grams →
    * top `topK`. Oracle-mirrored in DuckDB SQL.
    * Returns (doc_a, doc_b, common, jaccard, rnk).
    *
    * The df filter is expressed as an ANTI join against the FREQUENT
    * grams (df > dfMax): in web-scale text almost every distinct
    * n-gram is rare, so the rare set grows linearly with the corpus
    * while the frequent set is the Zipf head — small and
    * near-constant. Broadcasting the rare side (the obvious
    * formulation) is a guaranteed driver/executor OOM at 100 TB;
    * broadcasting the frequent side is bounded by postings/dfMax and
    * in practice tiny — but "in practice tiny" is a hope, not a bound
    * (postings/dfMax at 100 TB is still billions), so the broadcast is
    * SIZE-GATED: the frequent set is counted first (one cheap action
    * over the df aggregate the plan computes anyway) and the hint is
    * applied only within the driver budget ([[graft.core.Sizing]]);
    * past it the anti join degrades to a plain shuffled left_anti —
    * one extra shuffle of the postings, correct at any scale, instead
    * of a forced driver OOM.
    */
  def ngramJaccard(docs: DataFrame, dfMax: Int = 20, topK: Int = 100,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    ngramPairCounts(docs, dfMax, textCol, idCol)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select("doc_a", "doc_b", "common", "jaccard")
      .transform(p => topKRanked(p, topK, col("jaccard").desc, col("doc_a"), col("doc_b")))
  }

  /** Shared candidate machinery for [[ngramJaccard]] and
    * [[containmentJoin]]: (doc_a, doc_b, common, na, nb) over the
    * df-filtered rare-gram inverted index (doc_a < doc_b).
    */
  private def ngramPairCounts(docs: DataFrame, dfMax: Int,
                              textCol: String, idCol: String): DataFrame = {
    // tokens pre-exchange (see minhashPairs): post-exchange projections
    // collapse into one, re-splitting the text per gram reference
    val post = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(T.wordNGrams(col("w"), 3))).as("g"))
    // persisted so the size-gate count below IS the materialization:
    // without it the gate re-runs the full tokenize+explode+agg once
    // for the count and again inside the main query (measured +1.2s at
    // sf0.1). The cached set is the Zipf head (≤ postings/dfMax rows of
    // one gram column), disk-spillable on the fallback path.
    val frequent = post.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfMax).select("g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anti = Sizing.broadcastIfFits(docs.sparkSession, frequent.count())(frequent)
    // Per-doc rare-gram count rides along as a window count: on the
    // broadcast path the postings are still hash-partitioned on doc_id
    // (rebalance), so the window needs only a partition-local sort — no
    // shuffle — and the denominator counts never have to be joined back
    // onto the (much larger) pair table. Both sides of the pair
    // self-join are the same plan, so Catalyst reuses one exchange. On
    // the fallback path the anti join re-shuffles the postings on g and
    // the window re-shuffles back on doc_id — the documented cost of
    // exceeding the broadcast budget.
    val rpost = post.join(anti, Seq("g"), "left_anti")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))

    rpost.select(col("g"), col("doc_id").as("doc_a"), col("n").as("na"))
      .join(rpost.select(col("g"), col("doc_id").as("doc_b"), col("n").as("nb")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"), first("na").as("na"), first("nb").as("nb"))
  }

  /** Asymmetric near-dup: n-gram CONTAINMENT `common / min(na, nb)` ≥
    * tNum/tDen — Broder's containment coefficient, the measure Jaccard
    * structurally cannot see: a short doc fully embedded in a long one
    * (quote farms, aggregator pages, template-plus-payload) has
    * containment ≈ 1 but Jaccard ≈ |small|/|large| ≈ 0, so a
    * Jaccard-thresholded dedup pass keeps both copies. This is the
    * standard second pass next to [[ngramJaccard]], sharing its entire
    * scale apparatus: the size-gated frequent-gram filter and the
    * rare-gram inverted-index candidate join ([[ngramPairCounts]] —
    * one tokenize pass, candidates bounded by rare-gram postings,
    * never all-pairs). Counts are over DISCRIMINATIVE (df ≤ dfMax)
    * grams — documented contract, same as the Jaccard pass.
    *
    * The threshold is RATIONAL: `tDen·common ≥ tNum·least(na, nb)` in
    * exact integer arithmetic — no float boundary (the q93 rule). The
    * reported score is one double division for human eyes only.
    * Returns (doc_a, doc_b, common, containment, rnk) top-K ranked.
    */
  def containmentJoin(docs: DataFrame, tNum: Int = 1, tDen: Int = 2,
                      dfMax: Int = 20, topK: Int = 100,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(tNum >= 0 && tDen > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in [0,1]")
    ngramPairCounts(docs, dfMax, textCol, idCol)
      .filter(col("common") * tDen >= least(col("na"), col("nb")) * tNum)
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")))
      .select("doc_a", "doc_b", "common", "containment")
      .transform(p => topKRanked(p, topK, col("containment").desc, col("doc_a"), col("doc_b")))
  }

  /** Connected components over an undirected near-dup pair list —
    * the step that turns candidate PAIRS into dedup GROUPS (keep one
    * doc per component, drop the rest). Min-label propagation with
    * POINTER DOUBLING: each round every node takes the minimum label
    * among itself and its neighbors, then follows that label's own
    * label one hop (path compression). Neighbor steps alone need
    * diameter rounds — near-dup graphs can chain — while the doubling
    * hop squares compressed-path lengths, so convergence is
    * O(log diameter) rounds; ~4 in practice.
    *
    * The driver loop is ITERATION CONTROL ONLY (the same shape GraphX
    * uses): every step is a distributed join + partial-agg min. Each
    * round's labels are `localCheckpoint`ed — persist alone is NOT
    * enough for iterative plans: it short-circuits execution but the
    * LOGICAL plan still nests (three label references per round →
    * 3^rounds tree nodes) and analysis/plan-stringification walk all of
    * it; checkpointing truncates the lineage to O(1) per round. The
    * pair list is persisted up front — it is the small derived artifact
    * (candidate pairs), never the corpus.
    *
    * ADAPTIVE SMALL-GRAPH PATH: when the edge list fits the driver
    * budget and has no NULL endpoint (the graph kernels' switch,
    * `Graph.localRows`), the O(log d) distributed rounds cost ~12
    * scheduled jobs of pure overhead; a driver-side union-find solves
    * the same graph exactly in microseconds. Both paths produce
    * identical labels (property-tested against each other); the
    * distributed path is what runs at 100 TB, where candidate caps
    * still bound the list but not to driver size, and it defines what
    * a NULL endpoint means.
    * Returns (node, component) for every node appearing in `pairs`.
    */
  def components(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
                 maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val p = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")).persist()
    // Size the loop's shuffles to the PAIR LIST, not the session default:
    // the input is a derived artifact usually orders of magnitude smaller
    // than the corpus (candidate caps/topK bound it), and each of the
    // O(log d) rounds schedules ~3 shuffling jobs — at 32 partitions a
    // 100-edge list pays hundreds of empty tasks per query. One partition
    // per ~100k edges (floor 4, below) keeps tiny lists at a few tasks per job and
    // grows back to full parallelism for a billion-edge list. Session
    // conf is restored after; the loop is the only consumer in between
    // (the same set/restore pattern as the streaming test harness).
    val nEdges = p.count()
    val local = Graph.localRows(p, "a", "b", p, nEdges)
    if (local.isDefined) {
      val edges = local.get.map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      // ITERATIVE find: union-by-min (no rank) can build an O(n)-deep
      // parent chain when edges arrive in descending order, and the
      // final relabel pass walks every chain — a recursive find would
      // be partition-order-dependent StackOverflow at driver-budget
      // depth. Walk to the root in a loop, then compress in a second.
      def find(x0: Long): Long = {
        var x = x0
        var px = parent.getOrElseUpdate(x, x)
        while (px != x) { x = px; px = parent.getOrElseUpdate(x, x) }
        val root = x
        x = x0
        while (x != root) { val nxt = parent(x); parent(x) = root; x = nxt }
        root
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(v => (v, find(v)))
      import spark.implicits._
      return rows.toDF("node", "component")
    }
    val prevPart = spark.conf.get("spark.sql.shuffle.partitions")
    // floor 4: a single-task round has zero slack against one slow
    // executor/core; a handful of tiny tasks costs nothing
    val nPart = math.max(4L, math.min(prevPart.toLong, nEdges / 100000L + 1L))
    spark.conf.set("spark.sql.shuffle.partitions", nPart.toString)
    try {
    val edges = p.select(col("a").as("s"), col("b").as("d"))
      .unionByName(p.select(col("b").as("s"), col("a").as("d")))
      .distinct().persist()
    var labels = edges.select(col("s").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint() // eager: materializes + truncates lineage
    p.unpersist()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = edges.join(labels, edges("d") === labels("node"))
        .groupBy(edges("s").as("n2")).agg(min("lbl").as("nbr_lbl"))
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("n2"), "left")
        .select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("mid_lbl"))
      // doubling hop: labels only ever shrink, so lbl(mid) <= mid
      val hop = labels.select(col("node").as("h_node"), col("lbl").as("h_lbl"))
      val prop = stepped.join(hop, stepped("mid_lbl") === hop("h_node"), "left")
        .select(col("node"), col("lbl"),
          coalesce(col("h_lbl"), col("mid_lbl")).as("new_lbl"))
        .localCheckpoint()
      changed = prop.filter(col("new_lbl") =!= col("lbl")).count()
      labels = prop.select(col("node"), col("new_lbl").as("lbl"))
      it += 1
    }
    edges.unpersist()
    labels.select(col("node"), col("lbl").as("component"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevPart)
  }

  /** Dedup keep/drop decision per document: the keeper of each
    * component is its minimum doc id (= the component label), every
    * other member is dropped. Returns (node, component, keep).
    */
  def keepList(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    components(pairs, aCol, bCol)
      .withColumn("keep", col("node") === col("component"))

  /** Chunk-level exact dedup (#30c — the fixed-granularity form of
    * exact-substring dedup, the "remove duplicated spans, keep the
    * first occurrence" pass of MassiveText/"Deduplicating Training
    * Data" pipelines): the token stream is cut into aligned
    * `chunkTokens`-token chunks, every chunk that appeared earlier in
    * the corpus (ordered by doc id, then position) is dropped, and each
    * document's text is rebuilt from its surviving chunks in order.
    * Returns (doc_id, n_chunks, n_kept, clean_text).
    *
    * Shuffle budget is the minimum a GLOBAL dedup admits: one shuffle
    * on the chunk value (first-occurrence selection) and one back on
    * the doc id (the rebuild). First occurrence is `min(struct(doc_id,
    * pos))` per chunk — a MAP-SIDE-COMBINABLE aggregate, deliberately
    * NOT a per-chunk window: boilerplate makes chunk frequency Zipfian
    * at corpus scale ("all rights reserved …" in millions of
    * documents), a window must SORT each hot chunk's group in one
    * task and AQE's skew splitting does not apply to windows — while
    * partial aggregation collapses every hot chunk to one row per
    * input partition before the shuffle, and the join back on chunk is
    * exactly the shape AQE skew-join splitting handles. Chunks are
    * built with non-overlapping `slice` calls — total copy volume is
    * O(L) per document, not O(L·chunkTokens) — and the keeper choice
    * is deterministic (min doc id, then min position), so re-runs and
    * re-partitionings produce byte-identical corpora.
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 10,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val c = chunkTokens
    // nch guard: the operator must not depend on the tokenizer never
    // returning an empty/null array. size(null) → null → greatest
    // skips it → 0; nch = 0 would make sequence(0, -1) auto-reverse
    // into [0, -1] (a bogus pos = -1 chunk), so chunk-less documents
    // instead emit ONE sentinel row (chunk = null) that survives to the
    // final aggregation as (n_chunks = 0, n_kept = 0, clean_text = '')
    // rather than silently dropping the document.
    val base = rebalance(docs, idCol)
      .select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w"))
      .withColumn("nch",
        greatest(ceil(size(col("w")) / lit(c.toDouble)).cast("int"), lit(0)))
    val chunks = base.select(col("doc_id"),
      posexplode(when(col("nch") > 0,
          transform(sequence(lit(0), col("nch") - 1),
            i => array_join(slice(col("w"), i * c + 1, lit(c)), " ")))
        .otherwise(array(lit(null).cast("string")))).as(Seq("pos", "chunk")))
    val firsts = chunks.filter(col("chunk").isNotNull).groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    // left join: the null-chunk sentinel rows match nothing and keep
    // kept = false; real chunks always match (inner semantics).
    val flagged = chunks.join(firsts, Seq("chunk"), "left")
      .withColumn("kept", col("chunk").isNotNull &&
        col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos"))
    // One aggregation rebuilds everything — no join back onto the corpus
    // (which would re-shuffle and re-scan it): n_chunks is the chunk
    // count, kept chunks ride a null-skipping conditional collect, and a
    // fully-deduplicated document degrades to the empty string naturally.
    flagged.groupBy("doc_id").agg(
      count(col("chunk")).cast("int").as("n_chunks"), // count() skips the null sentinel
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("kept"), struct(col("pos"), col("chunk"))))),
        s => s.getField("chunk")), " ").as("clean_text"))
  }

  /** CONTENT-DEFINED chunk dedup — the insertion-robust form of
    * [[chunkDedup]] (the FastCDC/LBFS idea, Muthitacharoen et al.
    * SOSP'01): fixed-grid chunks break on a one-character insertion
    * (every later chunk shifts and stops matching), while
    * content-defined boundaries are cut where the text ITSELF says so
    * — here, at character positions whose trailing `w`-gram's md5
    * ends in '0' (boundary probability 1/16 → expected chunk ≈ 16+w/…
    * chars) — so an edit only perturbs the chunks it touches and the
    * rest of the document still deduplicates against the corpus.
    *
    * The rolling window is a WINDOWED HASH, not a gear/rabin rolling
    * state: md5 of each w-char substring is stateless per position
    * (map-only, engine-portable, exactly replayable in SQL), at the
    * cost of O(n·w) hashed bytes per document — the deliberate trade
    * for a deterministic cross-engine oracle; a production variant
    * would swap a gear hash into the same plan shape.
    *
    * Scale shape: boundary detection and chunk building are pure
    * map-side HOFs over each row (tokens never shuffle); the ONLY
    * corpus shuffles are [[chunkDedup]]'s two — first-occurrence
    * selection as the map-side-combinable `min(struct)` on the chunk
    * hash (Zipf-hot boilerplate chunks collapse before the exchange)
    * and the per-doc rebuild agg. Deterministic at any partitioning.
    * Returns (doc_id, n_chunks, n_kept, kept_chars).
    */
  def cdcChunkDedup(docs: DataFrame, w: Int = 16,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(w >= 2, s"window w must be >= 2, got $w")
    val base = rebalance(docs, idCol)
      .select(col(idCol).as("doc_id"), coalesce(col(textCol), lit("")).as("_t"))
      .withColumn("_n", length(col("_t")))
    // boundary positions: i in [w, n-1] where md5(text[i-w+1 .. i])
    // ends in '0'; position n is always a boundary (the final cut),
    // so short docs (n < w) emit exactly one chunk. i < n keeps the
    // forced final cut from duplicating a content boundary at n.
    // _n > w: interior candidates [w, n-1] exist (sequence never
    // auto-reverses under this guard); _n in (0, w]: one forced chunk;
    // _n = 0: no chunks (the posexplode_outer sentinel keeps the doc).
    val bounds = when(col("_n") > w,
        concat(
          filter(transform(sequence(lit(w), col("_n") - 1),
            i => when(substring(md5(col("_t").substr(i - w + 1, lit(w))), 32, 1) === "0", i)),
            x => x.isNotNull),
          array(col("_n"))))
      .when(col("_n") > 0, array(col("_n")))
      .otherwise(array().cast("array<int>"))
    val spans = base.withColumn("_b", bounds)
      // chunk i spans (prevBoundary+1 .. boundary_i)
      .withColumn("_starts", concat(array(lit(1)), transform(
        slice(col("_b"), lit(1), greatest(size(col("_b")) - 1, lit(0))), x => x + 1)))
      .select(col("doc_id"),
        posexplode_outer(zip_with(col("_starts"), col("_b"),
          (s, e) => struct(s.as("s"), e.as("e")))).as(Seq("pos", "se")),
        col("_t"))
      .select(col("doc_id"), col("pos"),
        when(col("se").isNotNull,
          col("_t").substr(col("se.s"), col("se.e") - col("se.s") + 1)).as("chunk"))
    val firsts = spans.filter(col("chunk").isNotNull).groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val flagged = spans.join(firsts, Seq("chunk"), "left")
      .withColumn("kept", col("chunk").isNotNull &&
        col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos"))
    flagged.groupBy("doc_id").agg(
      count(col("chunk")).cast("int").as("n_chunks"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("kept"), length(col("chunk")).cast("long")).otherwise(0L)).as("kept_chars"))
  }

  /** Duplicated-SPAN removal (#30f — the overlapping-window form of
    * exact-substring dedup from "Deduplicating Training Data Makes
    * Language Models Better"; [[chunkDedup]] is the aligned-chunk
    * approximation): every k-token window whose token sequence occurred
    * earlier in the corpus (first occurrence by (doc_id, pos) kept)
    * marks its tokens for removal; overlapping duplicated windows merge
    * naturally because removal is per TOKEN INDEX, and each document is
    * rebuilt from its surviving tokens in order. Returns
    * (doc_id, n_tokens, n_removed, clean_text).
    *
    * Scale shape: the gram shuffle carries one row per (doc, position)
    * with first-occurrence selection as a map-side-combinable
    * `min(struct)` (boilerplate grams are Zipf-hot; a per-gram window
    * would sort each hot group in one task — same argument as
    * [[chunkDedup]], and the join back is AQE-skew-splittable). The
    * k× position expansion of duplicate windows happens MAP-SIDE after
    * the dup decision (bounded by k × dup positions, not corpus size),
    * and the kept-token rebuild joins on (doc_id, idx) — doc-keyed,
    * never gram-keyed. Deterministic at any partitioning.
    */
  def spanDedup(docs: DataFrame, k: Int = 8,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val base = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .withColumn("n", greatest(size(col("w")), lit(0)).cast("long"))
    val grams = base.filter(col("n") >= k)
      .select(col("doc_id"), posexplode(T.wordNGrams(col("w"), k)).as(Seq("p0", "g")))
      .withColumn("pos", col("p0") + 1).drop("p0")
    val firsts = grams.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val dups = grams.join(firsts, Seq("g"))
      .filter(!(col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos")))
      .select(col("doc_id"), col("pos"))
    val removed = dups
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("idx"))
      .distinct()
    val toks = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i0", "tok")))
      .withColumn("idx", col("i0") + 1).drop("i0")
    val reb = toks.join(removed, Seq("doc_id", "idx"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("tok")))),
        s => s.getField("tok")), " ").as("clean_text"))
    val remCnt = removed.groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    // spine join: a fully-duplicated document degrades to '' instead of
    // vanishing
    base.select("doc_id", "n")
      .join(reb, Seq("doc_id"), "left")
      .join(remCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Benchmark decontamination (#30d): flag every training document
    * that shares at least one word `n`-gram with an evaluation set —
    * the standard n-gram-overlap contamination check run before
    * training on any web-scale corpus. Returns one row per training
    * document: (doc_id, n_hits = DISTINCT shared n-grams,
    * contaminated).
    *
    * Scale shape: an eval benchmark is small by nature (10³–10⁵
    * documents), so its distinct n-gram set is BROADCAST and the whole
    * train side stays a single pass — rebalance (one pinned shuffle
    * that also pre-partitions by doc id), tokenize + shingle + explode
    * (map-only), broadcast hash semi-join, and a partial-agg count
    * that reuses the rebalance partitioning; the hit counts join back
    * onto the (equally partitioned) id list without a new exchange.
    * The 100 TB corpus is never shuffled on gram values.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 8,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n > 0, "n-gram size must be positive")
    val evGrams = evalSet
      .select(explode(array_distinct(T.boundNGrams(col(textCol), n))).as("g"))
      .distinct()
    // Two branches, deliberately: the hits branch explodes grams with a
    // PLAIN (inner) explode — `explode_outer` would keep gram-less docs
    // in one pass but disqualifies the Generate from whole-stage
    // codegen, deoptimizing the dominant tokenize/shingle stage
    // (measured 5-20x slower); the inner broadcast join then filters to
    // hits BEFORE the count aggregates anything. The id branch that
    // restores gram-less/clean docs is column-pruned to bare ids at the
    // scan (8 bytes/row), so its second pass is cheap at any scale.
    val base = rebalance(
        train.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .select(col("doc_id"), array_distinct(T.wordNGrams(col("w"), n)).as("grams"))
    val hits = base.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(broadcast(evGrams), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    base.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Cross-source n-gram overlap matrix (#30g): for every source pair,
    * the number of DISTINCT n-grams both emit — the inter-source
    * duplication audit ("how much does the web scrape mirror the books
    * set") run before mixing/dedup decisions. [[decontaminate]] is the
    * directed train-vs-eval form of this; the matrix is the symmetric
    * all-pairs census.
    *
    * Scale shape: postings dedup to (gram, source) in a gram-keyed
    * partial agg — the source-granular inverted index (Zipf-hot grams
    * collapse map-side; the table is bounded by distinct grams ×
    * |sources|). The pair generator is `collect_set(src)` per gram —
    * state bounded by |sources|, the dimension a pairwise matrix
    * presumes small — with the C(set, 2) expansion MAP-SIDE after the
    * agg: no self-join, so a gram shared by every source costs set²
    * generated rows but zero join shuffle (the join formulation
    * re-shuffled the postings twice and probed corpus-scaled fan-out;
    * measured 5.3× growth on the dup-heavy 10× replica, the repo's
    * worst, vs 2.3× for this shape). The matrix is one more partial
    * agg over ≤ |sources|² keys.
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 8,
                          textCol: String = "text", srcCol: String = "source",
                          idCol: String = "doc_id"): DataFrame = {
    require(n > 0, "n-gram size must be positive")
    val posts = rebalance(
        docs.select(col(idCol), col(srcCol).as("src"), T.tokens(col(textCol)).as("w")),
        idCol)
      .select(col("src"), explode(array_distinct(T.wordNGrams(col("w"), n))).as("g"))
      .distinct()
    posts.groupBy("g").agg(array_sort(collect_set(col("src"))).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
             transform(slice(ss, i + 2, size(ss)),
                       b -> named_struct('src_a', a, 'src_b', b))))""")).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Sketched source-similarity matrix: per-source MinHash signatures
    * over word n-grams, pairwise signature agreement as the Jaccard
    * ESTIMATE between whole-source gram sets. The scale companion to
    * [[sourceOverlapMatrix]]: exact distinct-gram counting shuffles a
    * postings table bounded by distinct grams × sources, which at
    * 100 TB is itself enormous — the sketch reduces each source to k
    * longs in ONE partial-min shuffle (min is idempotent, so the
    * explode needs no dedup and Zipf-repeated grams collapse map-side
    * into the running min), and the matrix join touches only the
    * |sources|-row signature table. Same portable md5+affine family
    * as [[minhash]], so the DuckDB oracle rebuilds every signature and
    * estimate bit-for-bit.
    *
    * Returns (src_a, src_b, est_sim) for src_a < src_b.
    */
  def sourceMinhashMatrix(docs: DataFrame, k: Int = 16, n: Int = 3,
                          textCol: String = "text", srcCol: String = "source",
                          idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && n >= 1, s"k=$k and n=$n must be positive")
    val h = rebalance(
        docs.select(col(idCol), col(srcCol).as("src"), T.tokens(col(textCol)).as("w")),
        idCol)
      .filter(size(col("w")) >= n)
      .select(col("src"), explode(T.wordNGrams(col("w"), n)).as("g"))
      .select(col("src"), Hashing.portableHash(col("g")).as("h0"))
    val aggs = (0 until k).map(i => min(Hashing.affine(i, col("h0"))).as(s"m$i"))
    val sig = h.groupBy("src").agg(aggs.head, aggs.tail: _*)
    def sigArr(tag: String) = sig.select(col("src").as(s"src_$tag"),
      array((0 until k).map(i => col(s"m$i")): _*).as(s"_s$tag"))
    // |sources|² comparison of a |sources|-row table: the one join in
    // the dedup family that MAY be a nested loop — its input is a
    // config-artifact-sized frame, never the corpus
    sigArr("a").join(sigArr("b"), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        Hashing.signatureAgreement(col("_sa"), col("_sb"), k).as("est_sim"))
  }

  /** Incremental batch-vs-corpus dedup (#30e): which documents of a
    * NEW batch already exist in the standing corpus? Membership is
    * keyed on the md5 of the sorted DISTINCT token set — an
    * order/multiplicity-insensitive exact key that catches
    * shuffled-boilerplate duplicates plain text hashing misses (and is
    * engine-portable, so the oracle recomputes it). Returns one row
    * per batch document: (doc_id, set_key, is_new).
    *
    * This is the continuous-ingestion shape: the corpus is 100 TB, the
    * batch is a day's crawl. Joining them directly would shuffle the
    * corpus; instead a BLOOM FILTER over the batch keys (built
    * distributed via Spark's BloomFilterAggregate, collected as a
    * ~1 MB driver artifact) prefilters the corpus in a MAP-ONLY pass,
    * so only ~|batch ∩ corpus| + ε candidate keys survive to the
    * exact confirm join (broadcast back against the batch). Bloom
    * false positives only cost a candidate row — the equality join
    * keeps the result exact — so the oracle is the plain anti-join
    * semantics with no approximation caveat.
    */
  /** Bloom sizing from a target false-positive probability: the
    * textbook optimum m = n·ln(1/p)/ln²2 (≈ 1.44·n·log₂(1/p) bits),
    * clamped to Spark's BloomFilterAggregate bit ceiling. FP
    * CANDIDATES scale as p × |corpus| — a fixed test-scale bloom (2%
    * FP) broadcasts back tens of GB of false candidates at 10¹¹ corpus
    * docs, so p must be chosen as an absolute FP budget over the
    * corpus (p = budget/|corpus|: 100 expected FPs over 10¹¹ docs →
    * p = 10⁻⁹ ≈ 43 bits/key — still only a ~5.4 MB artifact for 1M
    * batch keys). Clamping degrades p gracefully rather than failing
    * analysis.
    */
  private[graft] def deriveBloomBits(expectedKeys: Long, targetFpp: Double,
                                     maxBits: Long): Long = {
    require(targetFpp > 0.0 && targetFpp < 1.0, s"targetFpp=$targetFpp out of (0,1)")
    val ideal = math.ceil(expectedKeys.max(1L) *
      math.log(1.0 / targetFpp) / (math.log(2.0) * math.log(2.0))).toLong
    math.max(64L, math.min(ideal, maxBits))
  }

  def dedupAgainst(batch: DataFrame, corpus: DataFrame,
                   textCol: String = "text", idCol: String = "doc_id",
                   expectedBatchKeys: Long = 1000000L,
                   targetFpp: Double = 1e-9,
                   bloomBits: Long = -1L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    def setKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      md5(array_join(array_sort(array_distinct(T.tokens(c))), " "))

    val maxBits = batch.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val bits = if (bloomBits > 0L) bloomBits
               else deriveBloomBits(expectedBatchKeys, targetFpp, maxBits)
    val b = batch.select(col(idCol).as("doc_id"), setKey(col(textCol)).as("set_key"))
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("set_key"))),
      Literal(expectedBatchKeys), Literal(bits)).toAggregateExpression())
    // one tiny driver artifact (bloomBits/8 bytes); null iff batch empty
    val bloomBytes = Option(b.agg(bloomAgg.as("bf")).head.get(0))
      .map(_.asInstanceOf[Array[Byte]])
    val candidates = bloomBytes match {
      case None => b.sparkSession.emptyDataFrame.select(lit("").as("set_key")).limit(0)
      case Some(bytes) =>
        corpus.select(setKey(col(textCol)).as("set_key"))
          .filter(ColumnBridge.column(BloomFilterMightContain(
            Literal(bytes, BinaryType),
            ColumnBridge.expression(xxhash64(col("set_key"))))))
          .distinct()
    }
    b.join(broadcast(candidates.withColumn("_hit", lit(true))), Seq("set_key"), "left")
      .withColumn("is_new", col("_hit").isNull).drop("_hit")
      .select("doc_id", "set_key", "is_new")
  }

  /** Embedding cosine near-dup (#33): random-hyperplane LSH buckets →
    * capped in-bucket pair expansion → exact cosine → top `topK`.
    * Returns (vec_a, vec_b, cos, rnk).
    */
  def embedding(vecs: DataFrame, nbits: Int = 6, dim: Int = 64, topK: Int = 100,
                vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    topKRanked(embeddingPairs(vecs, nbits, dim, vecCol = vecCol, idCol = idCol), topK,
      col("cos").desc, col("vec_a"), col("vec_b"))

  /** The unranked pair stage of [[embedding]] (same contract as
    * [[minhashPairs]]): every bucketed candidate pair with its exact
    * cosine. A DEDUP consumes all pairs above a threshold — ranking is
    * a reporting concern, and skipping it keeps the whole-corpus path
    * free of any global sort.
    */
  def embeddingPairs(vecs: DataFrame, nbits: Int = 6, dim: Int = 64, cap: Int = 40,
                     vecCol: String = "embedding", idCol: String = "vec_id",
                     carryCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.VectorFunctions
    val bucketed = rebalance(vecs, idCol).select(
      col(idCol).as("vec_id") +: col(vecCol).as("v") +:
        Hashing.hyperplaneBucket(col(vecCol), nbits, dim).as("bucket") +:
        carryCols.map(col): _*)
    val capped = capBucket(bucketed, Seq("bucket"), "vec_id", cap)

    // carried columns ride the pair row suffixed _a/_b — labels for
    // hard-negative mining, quality for keep-best — so consumers never
    // join the corpus back onto the pair list
    val a = capped.select(col("bucket") +: col("vec_id").as("vec_a") +:
      col("v").as("va") +: carryCols.map(c => col(c).as(s"${c}_a")): _*)
    val b = capped.select(col("bucket") +: col("vec_id").as("vec_b") +:
      col("v").as("vb") +: carryCols.map(c => col(c).as(s"${c}_b")): _*)
    a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .select(col("vec_a") +: col("vec_b") +: col("cos") +:
        carryCols.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** SemDeDup-style semantic corpus dedup (#33b): the end-to-end
    * keep/drop DECISION over an embedding table — the exact analog of
    * [[dedupCorpus]] for the embedding modality. Candidate pairs from
    * the hyperplane buckets with exact cosine ≥ `minCos` are clustered
    * into components ([[components]]); the keeper of each semantic
    * cluster is its minimum vec id, vectors in no qualifying pair keep
    * trivially. Returns the input plus a boolean `keep` column —
    * `vecs.filter(col("keep"))` IS the semantically deduplicated
    * corpus. Same scale shape as the pieces it composes: bucketed
    * candidate generation (never all-pairs), pair-list-sized label
    * propagation, and a join back on the id the corpus is already
    * hash-partitioned on.
    */
  def semanticDedup(vecs: DataFrame, minCos: Double = 0.9,
                    nbits: Int = 6, dim: Int = 64, cap: Int = 40,
                    vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val pairs = embeddingPairs(vecs, nbits, dim, cap, vecCol, idCol)
      .filter(col("cos") >= minCos)
    val drops = keepList(pairs, "vec_a", "vec_b").filter(!col("keep"))
      .select(col("node").as(idCol), lit(true).as("_drop"))
    vecs.join(drops, Seq(idCol), "left")
      .withColumn("keep", col("_drop").isNull).drop("_drop")
  }

  /** EXACT-threshold Jaccard similarity join with PPJoin-style prefix
    * filtering (Chaudhuri/Ganti/Kaushik ICDE'06, Xiao et al WWW'08):
    * all shingle-set pairs with Jaccard ≥ tNum/tDen — no recall loss,
    * unlike [[ngramJaccard]]'s df-cap (which trades the Zipf head for
    * index size). The trick: order each doc's shingles by global
    * rarity (df asc, shingle asc — one total order both engines
    * reproduce) and index ONLY the first s − ceil(t·s) + 1 of them;
    * two sets with Jaccard ≥ t MUST share a prefix shingle
    * (pigeonhole on the overlap bound), so the inverted index carries
    * ~(1−t) of the postings and candidates collapse from all-pairs to
    * near-misses only.
    *
    * Scale shape: df is one gram-keyed partial agg; the rank window
    * is per-doc (group = a document's shingle set, never
    * corpus-scaled); the candidate join fans out only on prefix
    * shingles (rare by construction — the global Zipf head is ranked
    * LAST and never indexed); verification joins the doc-keyed set
    * table and intersects arrays per candidate pair.
    *
    * Engine exactness: the threshold is a RATIONAL tNum/tDen — prefix
    * length and the ≥ t gate are pure integer arithmetic
    * (tDen·inter ≥ tNum·(sa+sb−inter)), never a float boundary (a
    * double 1−t literal and a decimal 0.2 disagree at exact
    * multiples); the reported jac divides as double only after the
    * exact decision.
    *
    * IDENTICAL shingle sets collapse to one representative FIRST
    * (md5 of the sorted set; rep = min id, member count carried):
    * a dup-heavy corpus (the real 100 TB case — boilerplate cloned
    * millions of times) otherwise makes the join quadratic in
    * duplicate multiplicity with pure jac=1 pairs (measured 9.2×
    * growth on the 10× replica; 1.0× after). Exact duplicates are
    * [[exact]]'s job; this operator reports DISTINCT-set pairs
    * (doc_a, doc_b = representatives) with `members_a`/`members_b`
    * so callers can expand or weight.
    */
  def jaccardPrefixJoin(docs: DataFrame, tNum: Int = 4, tDen: Int = 5, n: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(tNum > 0 && tDen > tNum, s"threshold $tNum/$tDen must be in (0,1)")
    // the shingle SET builds map-side (array_distinct + array_sort on
    // the gram array — no collect_set shuffle); corpus is
    // ASCII-normalized, so both engines sort identically for the key
    val sets = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        array_sort(array_distinct(T.wordNGrams(col("w"), n))).as("st"))
      .withColumn("s", size(col("st")).cast("long"))
      .withColumn("gkey", md5(array_join(col("st"), "\n")))
    // one representative per DISTINCT set
    val grouped = sets.groupBy("gkey")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("members"),
           first("st").as("st"), first("s").as("s"))
    val posts = grouped.select(col("rep"), col("s"), explode(col("st")).as("tok"))
    val dfq = posts.groupBy("tok").agg(count(lit(1)).as("dfc"))
    val rk = posts.join(dfq, Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("rep").orderBy(col("dfc"), col("tok"))))
    // prefix length s − ceil(t·s) + 1, all integer: ceil(a/b) = (a+b−1) div b
    val pref = rk.filter(col("rn") <=
        col("s") - floor((lit(tNum) * col("s") + lit(tDen - 1)) / lit(tDen)) + 1)
      .select("rep", "tok", "s")
    // PPJoin length filter: jac <= min(sa,sb)/max(sa,sb), so any pair
    // with tNum*max > tDen*min can never pass the exact gate — pruned
    // integer-exact inside the candidate join, before the distinct and
    // the array-intersect verification see it. No result change (the
    // verify gate subsumes it), only candidate volume — the lever that
    // matters on a corpus with a wide shingle-count spread.
    val cand = pref.select(col("tok"), col("rep").as("doc_a"), col("s").as("la"))
      .join(pref.select(col("tok"), col("rep").as("doc_b"), col("s").as("lb")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b") &&
        lit(tNum) * greatest(col("la"), col("lb")) <= lit(tDen) * least(col("la"), col("lb")))
      .select("doc_a", "doc_b").distinct()
    val side = grouped.select(col("rep"), col("st"), col("s"), col("members"))
    cand
      .join(side.select(col("rep").as("doc_a"), col("st").as("sta"),
        col("s").as("sa"), col("members").as("members_a")), Seq("doc_a"))
      .join(side.select(col("rep").as("doc_b"), col("st").as("stb"),
        col("s").as("sb"), col("members").as("members_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sta"), col("stb"))).cast("long"))
      .filter(lit(tDen) * col("inter") >= lit(tNum) * (col("sa") + col("sb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("members_a"), col("members_b"),
        (col("inter").cast("double") / (col("sa") + col("sb") - col("inter"))).as("jac"))
  }

  /** Blocked edit-distance pair mining (entity-resolution fuzzy dedup
    * for short strings: names, titles, normalized URLs). Candidate
    * generation is segment-pigeonhole blocking (PassJoin-style): each
    * string of length L splits into maxDist+1 aligned segments; two
    * same-length strings within substitution distance ≤ maxDist MUST
    * share at least one aligned segment (pigeonhole — d edits cannot
    * touch all d+1 segments), so recall is exact for the
    * length-preserving (Hamming) case, the dominant dirty-data typo
    * class; cross-length fuzzy matching needs the shifted-segment
    * extension and is out of contract here (documented, oracle
    * mirrors). Verification is `levenshtein(a, b, maxDist)` — the
    * THRESHOLD form runs the banded O(L·maxDist) DP and bails early,
    * not the full O(L²) matrix.
    *
    * Scale shape: postings are (maxDist+1) rows per string, map-side;
    * blocks join on (segment, idx, length) — a plain hash equi-join,
    * never all-pairs. Non-discriminative blocks (a segment shared by
    * more than `maxBlock` strings — boilerplate prefixes) are DROPPED
    * by an inner join against the census of qualifying blocks, the
    * standard blocking safeguard: the hot key never reaches the
    * pair-expansion join, so no reducer sees a B² blowup. The census
    * is one partial agg over the postings.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 2, maxBlock: Int = 100): DataFrame = {
    require(maxDist >= 1, s"maxDist $maxDist must be >= 1")
    val k = maxDist + 1
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("l", length(col("s")))
    val segs = (0 until k).map { i =>
      val st = floor(lit(i) * col("l") / lit(k)).cast("int")
      val en = floor(lit(i + 1) * col("l") / lit(k)).cast("int")
      struct(lit(i).as("idx"), col("s").substr(st + 1, en - st).as("seg"))
    }
    val posts = base.select(col("id"), col("s"), col("l"),
        explode(array(segs: _*)).as("p"))
      .select(col("id"), col("s"), col("l"), col("p.idx").as("idx"), col("p.seg").as("seg"))
    val blocks = posts.groupBy("idx", "seg", "l").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBlock).select("idx", "seg", "l")
    val allowed = posts.join(blocks, Seq("idx", "seg", "l"))
    val pairs = allowed
      .select(col("idx"), col("seg"), col("l"), col("id").as("id_a"), col("s").as("sa"))
      .join(allowed.select(col("idx"), col("seg"), col("l"),
        col("id").as("id_b"), col("s").as("sb")), Seq("idx", "seg", "l"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sa", "sb").distinct()
    pairs.withColumn("dist", levenshtein(col("sa"), col("sb"), maxDist))
      .filter(col("dist").between(0, maxDist))
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Sorted-neighborhood candidate pairs (the SNM blocking method,
    * Hernández/Stolfo SIGMOD'95): all pairs within `w` POSITIONS of
    * each other in the global (sortKey, id) sort order — the classic
    * entity-resolution blocking for dirty keys, complementary to the
    * segment-pigeonhole ([[editDistancePairs]]) and gram-index
    * families: a window over a well-chosen sort key catches near-dups
    * whose differences fall outside any fixed gram/segment alignment.
    *
    * Scale shape: the naive form is a global `row_number() OVER
    * (ORDER BY key)` — the single worst window anti-pattern (one task
    * sorts the corpus). Here the global ordinal comes from the
    * globalIndex two-level decomposition: an ORDER-PRESERVING numeric
    * prefix code of the sort key (3 codepoints at 21-bit weights — the
    * full-Unicode-safe spacing; byte-weight packing could invert order
    * the moment a multi-byte codepoint bled into the next position's
    * weight; the combined (code, key, id) order equals plain (key, id)
    * order precisely because the code is an order-preserving prefix
    * function) buckets rows for a partitioned rank window plus a
    * histogram-sized offset table. Neighbor pairing is then a plain
    * hash equi-join on the index block `idx div w` (a pair within w
    * positions spans at most adjacent blocks, so the left side probes
    * block and block+1 — the RangeJoin ±1 trick applied to rank
    * space). No global sort task anywhere; property-tested equal to
    * the naive window form.
    *
    * A CONSTANT shared key prefix (the 'Customer#…' shape) would make
    * every row code identically and collapse the decomposition into
    * one single-task bucket sort, so it is detected and SKIPPED before
    * coding: min(key) and max(key) bound every row lexicographically,
    * hence their longest common prefix is constant across the whole
    * column — one pruned two-string partial agg configures the code
    * offset. Keys STILL identical for 3 codepoints past that prefix
    * share a bucket (the documented residual degeneracy: supply a more
    * discriminating sort key).
    *
    * Output: (id_a, id_b, d) with d = idx_b − idx_a ∈ [1, w], id_a
    * the earlier row in sort order.
    */
  def sortedNeighborhood(df: DataFrame, sortCol: String, idCol: String,
                         w: Int, bucketWidth: Long = 1L << 16): DataFrame = {
    require(w >= 1, s"window w must be >= 1, got $w")
    val mm = df.agg(min(col(sortCol)).cast("string").as("lo"),
                    max(col(sortCol)).cast("string").as("hi")).head()
    val lo = Option(mm.getString(0)).getOrElse("")
    val hi = Option(mm.getString(1)).getOrElse("")
    val off = lo.zip(hi).takeWhile { case (a, b) => a == b }.length
    def cp(i: Int) = ascii(substring(col(sortCol), off + i, 1)).cast("long")
    val code = cp(1) * lit(1L << 42) + cp(2) * lit(1L << 21) + cp(3)
    val idx = new graft.core.Tafra(df.withColumn("_ord", code))
      .globalIndex("_ord", Seq(sortCol, idCol), bucketWidth, "idx")
      .df.select(col(idCol).as("_id"), col("idx"))
    def blk(c: org.apache.spark.sql.Column) =
      ((c - pmod(c, lit(w.toLong))) / w).cast("long")
    val probe = idx.select(col("_id").as("id_a"), col("idx").as("ia"),
        explode(array(blk(col("idx")), blk(col("idx")) + 1)).as("_blk"))
    val build = idx.select(col("_id").as("id_b"), col("idx").as("ib"),
        blk(col("idx")).as("_blk"))
    // a pair joins exactly once: b sits in one block, and the probe's
    // two blocks are distinct — no dedup shuffle needed after
    probe.join(build, Seq("_blk"))
      .filter((col("ib") - col("ia")).between(1, w))
      .select(col("id_a"), col("id_b"), (col("ib") - col("ia")).as("d"))
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb pass the
    * document-level family cannot do): a line that appears in at least
    * `dfNum/dfDen` of a source's documents is template chrome —
    * copyright footers, cookie banners, nav menus — and is stripped
    * from EVERY document while the document itself survives. Document-
    * level dedup sees such docs as distinct (the payload differs);
    * line-level df is the signal that separates chrome from content.
    *
    * Shape at scale: per-source doc totals are a tiny agg (|sources|
    * rows, broadcast). Line df is ONE partial-agg shuffle keyed on
    * (source, md5-prefix line hash) — the 16-hex-char key bounds
    * shuffle width no matter how long lines get; counting DISTINCT
    * docs per line via (source, hash, doc) pre-dedup keeps a
    * doc-internal repeated line from inflating df. The boilerplate set
    * (lines over the threshold) is the Zipf head — tiny by the same
    * argument as [[ngramPairCounts]]'s frequent set — and is joined
    * back LEFT_ANTI under the same driver budget: broadcast within it,
    * shuffled anti past it (correct at any scale, one extra shuffle).
    * Reassembly is a partition-local sort_array over (pos, line) — the
    * exploded lines are still hash-partitioned by doc_id from the
    * pinned rebalance, so the final groupBy needs no extra exchange.
    * The threshold compares integers (df·dfDen ≥ nDocs·dfNum) — no
    * float boundary, engine-exact.
    */
  def stripBoilerplateLines(docs: DataFrame, dfNum: Int = 1, dfDen: Int = 2,
                            textCol: String = "text", idCol: String = "doc_id",
                            srcCol: String = "source"): DataFrame = {
    require(dfNum >= 1 && dfDen >= dfNum, s"threshold $dfNum/$dfDen not in (0,1]")
    val lines = rebalance(
        docs.select(col(idCol).as("doc_id"), col(srcCol).as("src"),
          split(col(textCol), "\n").as("ls")), "doc_id")
      .select(col("doc_id"), col("src"), posexplode(col("ls")).as(Seq("pos", "line")))
      .withColumn("lh", substring(md5(col("line")), 1, 16))
    val srcTotals = docs.groupBy(col(srcCol).as("src"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    // distinct (src, lh, doc) first so df counts DOCUMENTS, not
    // occurrences — both aggs partial-combine on the same key prefix
    val lineDf = lines.select("src", "lh", "doc_id").distinct()
      .groupBy("src", "lh").agg(count(lit(1)).as("df"))
    val boiler = lineDf.join(broadcast(srcTotals), Seq("src"))
      .filter(col("df") * dfDen >= col("n_docs") * dfNum)
      .select("src", "lh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anti = Sizing.broadcastIfFits(docs.sparkSession, boiler.count())(boiler)
    lines.join(anti, Seq("src", "lh"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("kept"))
      .select(col("doc_id"), size(col("kept")).as("n_lines"),
        array_join(transform(col("kept"), k => k.getField("line")), "\n").as("text"))
  }

  /** Golden-record consolidation — the step AFTER matching that entity
    * resolution exists for: fuzzy pairs ([[editDistancePairs]] or any
    * blocker) → connected components → ONE canonical row per cluster,
    * each attribute resolved independently to its most frequent
    * non-null value, ties to the smallest (so a 1-vs-1 tie inside a
    * duplicate pair resolves deterministically, not by partition
    * order). Unmatched entities pass through as their own cluster.
    *
    * Shape at scale: clustering is [[components]] (pair-list-sized
    * shuffles); the melt to (cluster, attr, value) long format lets
    * ALL attributes resolve in one partial-agg pass — the
    * most-frequent-with-tie-break is `min(struct(-cnt, value))`
    * (lexicographic struct ordering = count desc, value asc), a plain
    * map-side-combining aggregate, NOT a per-cluster window (a
    * mega-cluster would sort in one task); the pivot back to wide is
    * the same one agg. Values travel as strings in the melt (one
    * column, k attrs) — callers re-cast.
    */
  def goldenRecords(entities: DataFrame, pairs: DataFrame,
                    idCol: String, aCol: String, bCol: String,
                    attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "goldenRecords needs at least one attribute")
    val comp = components(pairs, aCol, bCol)
    // Unmatched entities self-cluster on their id AS A LONG; a
    // non-numeric id would try_cast to NULL and silently merge EVERY
    // unmatched entity into one bogus NULL-cluster golden record (or,
    // in ANSI mode, die mid-join with an uninformative CAST error), so
    // the cast is guarded: a non-null id that won't cast raises with
    // the fix spelled out.
    val idTry = expr(s"try_cast(`$idCol` as long)")
    val selfCluster = when(col(idCol).isNotNull && idTry.isNull,
        raise_error(format_string(
          "goldenRecords: id %s is not numeric — cluster ids are longs; " +
          "map ids through a numeric surrogate (e.g. globalIndex) first",
          col(idCol).cast("string"))).cast("long"))
      .otherwise(idTry)
    val labeled = entities
      .join(comp, entities(idCol) === comp("node"), "left")
      .withColumn("cluster", coalesce(col("component"), selfCluster))
      .drop("node", "component")
    val melted = labeled.select(col("cluster"),
      explode(map(attrCols.flatMap(a => Seq(lit(a), col(a).cast("string"))): _*))
        .as(Seq("attr", "v")))
    val best = melted.filter(col("v").isNotNull)
      .groupBy("cluster", "attr", "v").agg(count(lit(1)).as("cnt"))
      .groupBy("cluster", "attr")
      .agg(min(struct((-col("cnt")).as("nc"), col("v").as("v"))).as("b"))
      .select(col("cluster"), col("attr"), col("b").getField("v").as("v"))
    val members = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
    val head +: tail = attrCols.map(a =>
      max(when(col("attr") === a, col("v"))).as(a))
    best.groupBy("cluster").agg(head, tail: _*)
      .join(members, Seq("cluster"))
      .select(col("cluster") +: col("n_members") +: attrCols.map(col): _*)
  }

  /** FUZZY benchmark decontamination — [[decontaminate]]'s exact
    * n-gram hits miss a paraphrased or lightly-edited eval leak; this
    * is the MinHash form: per train doc, the best per-position
    * signature agreement against ANY eval doc (bandWidth=1 banding =
    * position-wise collision), flagged when at least `minMatches` of
    * the k positions agree. The threshold is an INTEGER band count —
    * no float boundary — and est_sim = n/k is exact for k a power of
    * two, so the whole pipeline hash-oracles.
    *
    * Scale shape: both sides reuse [[bandedMinhash]] (one partial-min
    * shuffle each); the eval side is the SMALL side by definition
    * (benchmarks are ~10³-10⁶ docs vs a 10¹¹-doc corpus) and
    * broadcasts — k×|eval| banded rows, megabytes at any realistic
    * benchmark size — so the train side is never reshuffled past its
    * signature agg. Per-bucket fan-out is bounded by the eval docs in
    * the bucket (no self-join, no cap needed). Best-match selection is
    * `min(struct(-n, eval_id))` — a partial agg, tie to the smallest
    * eval id, NOT a per-doc window. Clean docs (including docs too
    * short to shingle) restore via a column-pruned id-only left join,
    * the [[decontaminate]] two-branch pattern.
    */
  def decontaminateFuzzy(train: DataFrame, evalSet: DataFrame, k: Int = 16,
                         minMatches: Int = 4, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches $minMatches not in [1, $k]")
    val tb = bandedMinhash(train, k, 1, textCol, idCol)
    val eb = bandedMinhash(evalSet, k, 1, textCol, idCol)
      .withColumnRenamed("doc_id", "eval_id")
    val best = tb.join(broadcast(eb), Seq("band", "bandval"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_agree"))
      .groupBy("doc_id")
      .agg(min(struct((-col("n_agree")).as("na"), col("eval_id").as("e"))).as("b"))
      .select(col("doc_id"), (-col("b").getField("na")).as("n_agree"),
        col("b").getField("e").as("eval_id"))
    train.select(col(idCol).as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("eval_id"),
        (coalesce(col("n_agree"), lit(0L)).cast("double") / k).as("est_sim"),
        (coalesce(col("n_agree"), lit(0L)) >= minMatches).as("contaminated"))
  }

  /** Quality-aware dedup decision: within each near-dup component keep
    * the HIGHEST-`qualityCol` member (ties to the smallest id), not
    * the smallest id as [[dedupCorpus]] does — the keep rule real
    * pipelines want ("of these five mirrors, keep the cleanest copy").
    * Returns (doc_id, cluster, keep); singletons keep trivially.
    *
    * The winner per cluster is `max(struct(quality, -id))` — a plain
    * partial agg (lexicographic struct order = quality desc, id asc),
    * never a per-cluster window, so a mega-cluster of boilerplate
    * mirrors aggregates map-side instead of sorting in one task.
    */
  def dedupKeepBest(docs: DataFrame, pairs: DataFrame, qualityCol: String,
                    idCol: String = "doc_id", aCol: String = "doc_a",
                    bCol: String = "doc_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
    // Guarded long cast (the goldenRecords rule): a non-numeric id
    // would try_cast to NULL and every singleton would collapse into
    // one NULL cluster — raise with the fix spelled out instead.
    val idTry = expr(s"try_cast(`$idCol` as long)")
    val idNum = when(col(idCol).isNotNull && idTry.isNull,
        raise_error(format_string(
          "dedupKeepBest: id %s is not numeric — cluster ids are longs; " +
          "map ids through a numeric surrogate (e.g. globalIndex) first",
          col(idCol).cast("string"))).cast("long"))
      .otherwise(idTry)
    val labeled = docs
      .select(idNum.as("doc_id"), col(qualityCol).as("q"))
      .join(comp, col("doc_id") === col("node"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .drop("node", "component")
    val winners = labeled.groupBy("cluster")
      .agg(max(struct(col("q").as("q"), (-col("doc_id")).as("ni"))).as("w"))
      .select(col("cluster"), (-col("w").getField("ni")).as("keep_id"))
    labeled.join(winners, Seq("cluster"))
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("keep_id")).as("keep"))
  }
}
