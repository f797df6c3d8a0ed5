package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing.rebalance
import graft.functions.{Hashing, VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 #34-35). The query set is always the broadcast side;
  * the corpus streams — so the plan scales to any corpus size with no
  * shuffle of the corpus itself.
  */
object Similarity {

  /** (cos, -cell) structs per centroid; array_max picks best cos, ties
    * broken toward the smaller cell id — all inside codegen.
    */
  private def cellScores(vc: Column, cents: Seq[Seq[Float]]): Column =
    array(cents.zipWithIndex.map { case (cv, i) =>
      struct(V.cosine(vc, typedlit(cv)).as("cos"), lit(-i).as("negcell")) }: _*)

  private def cellOf(vc: Column, cents: Seq[Seq[Float]]): Column =
    -array_max(cellScores(vc, cents)).getField("negcell")

  /** Deterministic centroid seeds: the `ncells` smallest-md5(id) rows —
    * the library-standard random init made replayable AND
    * engine-portable (the oracle rebuilds the identical set from the
    * table). A bounded model artifact, like any trained quantizer.
    */
  private def seedCentroids(corpus: DataFrame, ncells: Int,
                            vecCol: String, idCol: String): Seq[Seq[Float]] = {
    val seeds = corpus
      .select(col(vecCol).as("v"), md5(col(idCol).cast("string")).as("h"), col(idCol).as("i"))
      .orderBy(col("h"), col("i")).limit(ncells)
      .collect().map(_.getSeq[Float](0).toSeq).toSeq
    require(seeds.nonEmpty, "seedCentroids: empty corpus")
    seeds
  }

  /** Brute-force cosine top-k: broadcast the (small) query set against
    * the full corpus, rank per query. Exact baseline; cost is
    * |queries| × |corpus| codegen'd dot products.
    * Returns (query_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // Rebalance the corpus so the dot-product stage doesn't inherit a
    // narrow scan (few files/row groups = few cores doing all the math).
    // Explicit partition count: a bare repartition(col) is AQE-coalescible
    // and collapses back to one partition on small byte sizes.
    val c = rebalance(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", V.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** kNN majority-vote classification — the end task the ANN machinery
    * exists for (label propagation / weak supervision over an embedded
    * corpus): each query's predicted label is the most common label
    * among its top-k cosine neighbors, ties broken by the smaller
    * label (deterministic, engine-portable).
    *
    * Scale shape: the neighbor table is nq × k rows (queries are
    * broadcast-bounded in [[bruteForceTopK]]), so the label lookup
    * BROADCASTS the neighbor table against the corpus — the
    * corpus-sized side streams map-only through the join, never
    * shuffles on neighbor id. The vote is a partial agg over nq × k
    * rows and the argmax window sees ≤ |labels| rows per query.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                  labelCol: String = "label", vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val nb = bruteForceTopK(corpus, queries, k, vecCol, idCol)
      .select("query_id", "neighbor_id")
    corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("nb_label"))
      .join(broadcast(nb), Seq("neighbor_id"))
      .groupBy("query_id", "nb_label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("votes").desc, col("nb_label"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("nb_label").as("pred_label"),
        col("votes").cast("int").as("votes"))
  }

  /** IVF (inverted-file) ANN — the other standard scale path next to
    * LSH. Coarse quantizer: `ncells` centroids seeded from a
    * deterministic corpus sample (smallest md5(id) — the
    * library-standard random init made replayable AND engine-portable,
    * so the DuckDB oracle rebuilds the identical quantizer), optionally
    * refined with `lloydSteps` Lloyd steps (assign → per-cell mean).
    * Corpus vectors live in exactly one cell; queries probe their
    * `nprobe` nearest cells and rerank exactly inside them.
    *
    * The centroid table is a MODEL ARTIFACT of ncells×dim floats —
    * standard IVF (and Spark ML's own KMeans) holds it on the driver.
    * With centroids inlined as literals, cell assignment is a pure
    * per-row projection of ncells codegen'd cosines (array_max over
    * (cos, -cell) structs): no cross join, no aggregate, and crucially
    * no SortAggregate fallback (struct max + first(array) are not
    * hash-aggregable, so the aggregating formulation sorts
    * corpus×ncells rows three times over).
    *
    * `lloydSteps = 0` keeps the centroids EXACTLY the seed vectors —
    * the fully-reproducible quantizer the correctness oracle uses
    * (float means introduce engine/aggregation-order-dependent last-bit
    * drift); refined centroids are a quality knob, not a contract.
    *
    * Scale shape: quantizer build is one map-only pass + one
    * map-side-combined `dim`-column mean per Lloyd step (partials are
    * ncells×dim doubles per partition); search shuffles the corpus ONCE
    * on cell id (queries replicate nprobe×, the corpus never
    * replicates). Candidates per query ≈ nprobe/ncells of the corpus
    * instead of all of it. Returns (query_id, neighbor_id, cos, rank).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              ncells: Int = 16, nprobe: Int = 4, lloydSteps: Int = 1,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = rebalance(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))

    // --- coarse quantizer -------------------------------------------------
    val seeds = seedCentroids(corpus, ncells, vecCol, idCol)
    // embedding width comes from the data itself (was a caller-supplied
    // `dim` that silently truncated or NPE'd when wrong)
    val dim = seeds.head.length
    // Lloyd steps: per-cell mean as `dim` element_at averages in one
    // pass over corpus rows (empty cells drop out; cells renumber)
    val centroids: Seq[Seq[Float]] =
      (0 until lloydSteps).foldLeft(seeds) { (cents, _) =>
        c.groupBy(cellOf(col("cv"), cents).as("cell"))
          .agg(avg(element_at(col("cv"), 1)).as("_m0"),
               (1 until dim).map(i => avg(element_at(col("cv"), i + 1)).as(s"_m$i")): _*)
          .orderBy("cell")
          .collect().map(r => (0 until dim).map(i => r.getDouble(i + 1).toFloat).toSeq).toSeq
      }

    // --- search -----------------------------------------------------------
    val cells = c.withColumn("cell", cellOf(col("cv"), centroids))
    // nprobe nearest cells per query: sort the score structs descending
    // (reverse of ascending struct order = cos desc, cell asc on ties)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q.withColumn("probe",
        explode(slice(reverse(array_sort(cellScores(col("qv"), centroids))), 1, nprobe)))
      .select(col("query_id"), col("qv"), (-col("probe.negcell")).as("cell"))

    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", V.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Cluster-balanced diversity sampling: a per-cluster quota over the
    * IVF cells — the "embed → cluster → uniform per cluster" curation
    * pass (SemDeDup/DBSCAN-style pipelines' selection step) that keeps
    * a subset covering every region of embedding space instead of
    * letting dense modes dominate a uniform sample.
    *
    * Spark design: cell assignment is the same codegen'd map-only
    * projection as [[ivfTopK]] (centroids = the md5-seeded model
    * artifact, so the decision is engine-reproducible); the per-cell
    * quota is a row_number window ordered by (md5(id), id) — a
    * content-hash shuffle inside each cell, so the picked subset is
    * deterministic across runs, partitionings, and engines (the
    * sampleHash contract applied per cluster). The `rn <= quota`
    * filter gets WindowGroupLimit pushdown: each cell's window shuffle
    * carries at most quota rows per map partition, so the window cost
    * is bounded by quota × cells × partitions, not the corpus.
    *
    * Returns (id, cell, pick) for the kept rows — pick is the 1-based
    * rank inside the cell, so callers can tighten the quota later
    * WITHOUT resampling (kept sets nest as quota grows, like
    * sampleHash's threshold).
    */
  def diverseSample(corpus: DataFrame, quota: Int, ncells: Int = 16,
                    vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(quota > 0, "quota must be positive")
    val cents = seedCentroids(corpus, ncells, vecCol, idCol)
    rebalance(corpus, idCol)
      .select(col(idCol), col(vecCol).as("cv"),
        md5(col(idCol).cast("string")).as("h"))
      .withColumn("cell", cellOf(col("cv"), cents))
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("h"), col(idCol))).cast("int"))
      .filter(col("pick") <= quota)
      .select(col(idCol), col("cell"), col("pick"))
  }

  /** LSH-bucketed ANN (the scale path): hyperplane-bucket the corpus
    * once (in production: precomputed + partitioned by bucket), probe
    * with the queries' buckets, rerank candidates exactly. Few bits →
    * high recall with |corpus|/2^nbits candidates per query instead of
    * the full corpus.
    *
    * `probeHamming = 1` is MULTI-PROBE LSH: each query also probes the
    * `nbits` buckets one bit-flip away — the standard recall fix for a
    * near neighbor sitting just across one hyperplane (invisible to
    * single-probe, and more likely than not as nbits grows). Cost model
    * stays query-side only: the probe explode multiplies the BROADCAST
    * side by nbits+1; the corpus is never replicated or reshuffled. A
    * (query, neighbor) pair can match through at most one probe (a
    * corpus vector has exactly one bucket), so no dedup pass is needed.
    * Returns (query_id, neighbor_id, cos, rank).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nbits: Int = 4, dim: Int = 64, probeHamming: Int = 0,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      s"probeHamming must be 0 (own bucket) or 1 (plus single-bit flips), got $probeHamming")
    val c = rebalance(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        Hashing.hyperplaneBucket(col(vecCol), nbits, dim).as("bucket"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Hashing.hyperplaneBucket(col(vecCol), nbits, dim).as("bucket"))
    val q = if (probeHamming == 0) q0
    else q0.select(col("query_id"), col("qv"),
      explode(array(col("bucket") +: (0 until nbits).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", V.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Int8 scalar quantization of an embedding column — the storage
    * path of an embedding pipeline (4× smaller vectors for ANN index
    * shipping / caching; recall traded measurably, audited by
    * [[sqCosineError]]). Codes are per-DIMENSION min/max affine:
    * q_d = round((v_d - lo_d) / (hi_d - lo_d) · 255) − 128.
    *
    * Scale shape: the per-dim ranges are ONE partial agg over the
    * exploded (vec, dim) rows — d rows per partition survive the
    * combine regardless of corpus size — and the d-row range table is
    * broadcast back (a model artifact, like the IVF centroids). All
    * arithmetic is double (exact IEEE promotion from float4) and the
    * affine result is rounded BEFORE the int cast, so both engines cast
    * the same integral double — no truncate-vs-round drift. Returns
    * exploded (vec_id, dim, q): scalar rows hash-compare cleanly and
    * re-assemble with one doc-keyed collect when a consumer wants
    * arrays ([[scalarQuantizeVecs]]).
    */
  def scalarQuantize(vecs: DataFrame,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val x = rebalance(vecs, idCol)
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("d0", "vf")))
      .select(col("vec_id"), (col("d0") + 1).as("dim"), col("vf").cast("double").as("v"))
    val mm = x.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    x.join(broadcast(mm), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        when(col("hi") === col("lo"), lit(0))
          .otherwise(round((col("v") - col("lo")) / (col("hi") - col("lo")) * 255)
            .cast("int") - 128).as("q"))
  }

  /** Per-label embedding centroids (class prototypes): the mean vector
    * of every label group — prototype-based classification, cluster
    * drift audits, per-class diversity baselines.
    *
    * Spark design: `dim` map-side-combinable DECIMAL sums per label in
    * ONE partial agg — the corpus never explodes before the shuffle
    * (the exploded form ships dim× the rows; this ships dim columns of
    * partial state per label per partition, constant in corpus size).
    * Output is exploded to (label, dim, n_vecs, c) scalar rows for
    * portability. Element sums quantize float→DECIMAL(28,12), so the
    * aggregation is exact and order-insensitive; the mean divides as
    * double (exact cast, identical IEEE division everywhere).
    */
  def labelCentroids(vecs: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    val dim = vecs.select(size(col(vecCol))).head().getInt(0)
    // Tie-free quantization: floats with short dyadic expansions land
    // EXACTLY on .5 decimal ties, where Spark's HALF_UP and DuckDB's
    // cast rounding disagree (measured: 1 element in 256k). floor(v·1e12
    // + 0.5) is pure IEEE double arithmetic — multiply, add, floor are
    // each exactly specified, so both engines compute the identical
    // integer; summed as DECIMAL(38,0) the aggregation stays exact and
    // order-insensitive at any corpus size.
    val sums = (0 until dim).map(i =>
      sum(floor(element_at(col(vecCol), i + 1).cast("double") * 1e12 + lit(0.5))
        .cast("decimal(38,0)")).as(s"_s$i"))
    vecs.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"), sums: _*)
      .select(col(labelCol), col("n_vecs"),
        posexplode(array((0 until dim).map(i =>
          col(s"_s$i").cast("double") / 1e12 / col("n_vecs")): _*)).as(Seq("d0", "c")))
      .select(col(labelCol), (col("d0") + 1).cast("int").as("dim"),
        col("n_vecs"), col("c"))
  }

  /** Array form of [[scalarQuantize]] plus the dequantization ranges,
    * for pipeline consumers (codes ordered by dimension).
    */
  def scalarQuantizeVecs(vecs: DataFrame,
                         vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    scalarQuantize(vecs, vecCol, idCol)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("q")))),
        s => s.getField("q")).as("qvec"))

  /** Product quantization (PQ) codes — the FAISS-style compressed
    * representation next to [[scalarQuantize]]'s int8: the vector
    * splits into `m` subspaces of dim/m dims; each sub-vector is coded
    * as the id of its nearest sub-centroid (L2, ties to the smaller
    * id) from a `ksub`-entry codebook. Codebook init reuses the IVF
    * trick: sub-slices of the `ksub` corpus vectors with smallest
    * md5(id) — deterministic AND engine-portable, so the DuckDB oracle
    * rebuilds the identical codebook from the table and the assignment
    * is hash-verified end to end (L2 sums unrolled in the same
    * left-associative double order on both engines).
    *
    * Scale shape: the codebook is a model artifact (ksub×dim floats on
    * the driver, like the IVF centroids); encoding is a pure map-only
    * projection — m × ksub codegen'd L2 chains per row, no join, no
    * shuffle beyond the pinned rebalance. m codes/vector at log2(ksub)
    * bits each: 64-dim float32 → 8 bytes at m=8, ksub=256.
    * Returns exploded (vec_id, subspace, code).
    */
  private def pqSeeds(vecs: DataFrame, ksub: Int,
                      vecCol: String, idCol: String): Seq[Seq[Float]] = {
    val seeds = vecs
      .select(col(vecCol).as("v"), md5(col(idCol).cast("string")).as("h"), col(idCol).as("i"))
      .orderBy(col("h"), col("i")).limit(ksub)
      .collect().map(_.getSeq[Float](0).toSeq).toSeq
    require(seeds.nonEmpty, "pq: empty corpus")
    seeds
  }

  /** Encode/LUT kernels run as the NATIVE [[graft.plans.PqCodes]] /
    * [[graft.plans.PqLut]] expressions: the unrolled Column form
    * (m × ksub × w arithmetic nodes in one projection) cost seconds of
    * Janino compile and MB-scale task binaries PER PLAN — constant
    * overhead that dwarfed the data work at every test scale. The
    * native kernels loop in generated code (compile is O(1) in
    * m·ksub), with the IDENTICAL left-associative double accumulation
    * and strict-less argmin, so the oracle contract is unchanged
    * (pinned by the driver-side argmin spec).
    */
  private def pqCodesCol(vc: Column, seeds: Seq[Seq[Float]], ksub: Int, m: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.PqCodes(
        org.apache.spark.sql.graft.ColumnBridge.expression(vc),
        seeds.flatten, ksub, m))

  private def pqLutCol(vc: Column, seeds: Seq[Seq[Float]], ksub: Int, m: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.PqLut(
        org.apache.spark.sql.graft.ColumnBridge.expression(vc),
        seeds.flatten, ksub, m))

  def pqEncode(vecs: DataFrame, m: Int = 8, ksub: Int = 16,
               vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val seeds = pqSeeds(vecs, ksub, vecCol, idCol)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")

    rebalance(vecs, idCol).select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .select(col("vec_id"),
        posexplode(pqCodesCol(col("cv"), seeds, ksub, m)).as(Seq("subspace", "code")))
  }

  /** PQ-ADC top-k search — the compressed-domain ANN query path over
    * [[pqEncode]]'s codes: each query builds its asymmetric-distance
    * lookup table (m × ksub sub-L2s against the codebook), the corpus
    * contributes ONLY its codes, and a vector's approximate distance is
    * the sum of its m looked-up entries. The LUT (m·ksub rows per
    * query) is broadcast; the join keys on (subspace, code) and the
    * per-(query, vector) sum is a partial agg — the corpus' float
    * vectors are never read at query time, which is the entire point of
    * PQ at 100 TB.
    *
    * Engine determinism: LUT entries quantize to DECIMAL(20,10) before
    * the sum, so the m-term additions are exact and order-insensitive —
    * ranking (adc asc, neighbor asc) is identical everywhere.
    * Returns (query_id, neighbor_id, adc, rank).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             m: Int = 8, ksub: Int = 16,
             vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val seeds = pqSeeds(corpus, ksub, vecCol, idCol)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val w = dim / m

    val codes = pqEncode(corpus, m, ksub, vecCol, idCol)
      .withColumnRenamed("vec_id", "neighbor_id")
    // LUT layout from the native kernel: index = subspace·ksub + code
    val lut = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"),
        posexplode(pqLutCol(col("qv"), seeds, ksub, m)).as(Seq("pos", "dd")))
      .select(col("query_id"),
        (col("pos") / ksub).cast("int").as("subspace"),
        pmod(col("pos"), lit(ksub)).as("code"),
        col("dd").cast("decimal(20,10)").as("d"))

    codes.join(broadcast(lut), Seq("subspace", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("d").as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc").cast("double"), 6).as("adc"), col("rank"))
  }

  /** IVF-PQ top-k — the FAISS IVFADC composition (Jégou et al., TPAMI
    * 2011), assembled from the three parts this engine already gates
    * separately: the corpus coarse-quantizes into IVF cells
    * ([[ivfTopK]]'s md5-seeded quantizer, lloydSteps=0 so the oracle
    * rebuilds it), stores PQ CODES per cell ([[pqEncode]]'s native
    * kernel), and a query ADC-scans ONLY its `nprobe` probed cells'
    * codes with its broadcast LUT ([[pqTopK]]'s machinery). This is
    * the actual 100-TB ANN architecture: the index holds m·log2(ksub)
    * bits per vector (not floats), and query cost is
    * ~(nprobe/ncells)·corpus code lookups instead of the full code
    * table (pqTopK) or the full float corpus (bruteForceTopK).
    *
    * Scale shape: code build is one map-only pass (cell assignment +
    * PQ encode are both codegen'd projections over the pinned
    * rebalance); at query time the probes table (|queries|·nprobe
    * rows) and the LUT (|queries|·m·ksub rows) BROADCAST, the corpus
    * codes stream through two hash joins and collapse in one partial
    * agg — the corpus never reshuffles. At warehouse scale, persist
    * the code table clustered by cell (TxTable + z-order/bucketing) so
    * the cell join also prunes FILES, not just rows.
    *
    * Engine determinism: the pqTopK contract — LUT entries quantize
    * DECIMAL(20,10) pre-sum; ranking (adc asc, neighbor asc).
    * Returns (query_id, neighbor_id, adc, rank).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                ncells: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
                vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(nprobe >= 1 && nprobe <= ncells,
      s"need 1 <= nprobe <= ncells, got nprobe=$nprobe ncells=$ncells")
    val cents = seedCentroids(corpus, ncells, vecCol, idCol)
    val seeds = pqSeeds(corpus, ksub, vecCol, idCol)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")

    // the per-cell code table: ONE map-only projection over the corpus
    val codes = rebalance(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", cellOf(col("cv"), cents))
      .select(col("neighbor_id"), col("cell"),
        posexplode(pqCodesCol(col("cv"), seeds, ksub, m)).as(Seq("subspace", "code")))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q.withColumn("probe",
        explode(slice(reverse(array_sort(cellScores(col("qv"), cents))), 1, nprobe)))
      .select(col("query_id"), (-col("probe.negcell")).as("cell"))
    val lut = q.select(col("query_id"),
        posexplode(pqLutCol(col("qv"), seeds, ksub, m)).as(Seq("pos", "dd")))
      .select(col("query_id"),
        (col("pos") / ksub).cast("int").as("subspace"),
        pmod(col("pos"), lit(ksub)).as("code"),
        col("dd").cast("decimal(20,10)").as("d"))

    codes.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("d").as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc").cast("double"), 6).as("adc"), col("rank"))
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-first traversal):
    * pick the md5-smallest row as the first center, then k−1 rounds of
    * "add the point FARTHEST from its nearest chosen center" (cosine
    * dissimilarity 1−cos) — the coverage-guaranteed diversity subset
    * (every corpus point is within the final radius of some center,
    * and the greedy radius is ≤ 2× optimal). The worst-case companion
    * to [[diverseSample]]'s per-cell quotas: quotas balance DENSITY,
    * farthest-first bounds DISTANCE — it is the standard seed-picker
    * for annotation budgets and k-means inits over an embedded corpus.
    *
    * Scale shape: per round ONE map-only min-dist update (a codegen'd
    * cosine against the newly chosen center inlined as a literal) and
    * one TakeOrdered(1) argmax — no joins, no shuffle of the corpus;
    * the running min-dist column localCheckpoints per round (constant
    * per-round plan) and each round RELEASES the previous round's
    * checkpoint blocks (k corpus-sized passes total, ONE corpus-sized
    * copy resident — k is a model-size constant, the standard
    * k-center cost). The chosen centers are a k-row driver artifact
    * (the IVF-centroid pattern).
    *
    * Determinism: distances are the mirrored double cosine; argmax
    * ties break by id; `radius` is the chosen point's min-dist AT
    * SELECTION (the k-center coverage bound after the previous round),
    * rounded 1e-9; NULL for the seeded first pick.
    * Returns (pick, vec_id, radius), pick 1-based.
    */
  def kCenterCoreset(corpus: DataFrame, k: Int = 8,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    val first = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .collect().headOption.getOrElse(sys.error("kCenterCoreset: empty corpus"))
    var picks = List[(Long, Option[Double])]((first.getLong(0), None))
    var centerVec: Seq[Float] = first.getSeq[Float](1).toSeq
    // Each round's min-dist frame is CORPUS-sized and localCheckpoints
    // (lineage truncation keeps the per-round plan CONSTANT-sized — a
    // persist chain re-analyzes k nested `least` layers, measurably
    // slower); each new checkpoint RELEASES the previous round's
    // blocks through the LogicalRDD bridge, so a long-lived session
    // holds ONE corpus copy, not k.
    val B = org.apache.spark.sql.graft.ColumnBridge
    var frame = rebalance(corpus, idCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("mind", lit(1.0) - V.cosine(col("v"), typedlit(centerVec)))
      .localCheckpoint()
    for (_ <- 2 to k) {
      val next = frame.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .collect().head
      picks = (next.getLong(0), Some(next.getDouble(2))) :: picks
      centerVec = next.getSeq[Float](1).toSeq
      val prev = frame
      frame = frame
        .withColumn("mind", least(col("mind"),
          lit(1.0) - V.cosine(col("v"), typedlit(centerVec))))
        .localCheckpoint() // eager: materializes off prev's blocks
      B.unpersistCheckpoint(prev)
    }
    B.unpersistCheckpoint(frame) // picks are a driver-local k-row artifact
    import spark.implicits._
    // radius rounds through the ENGINE's round (the shared 1e-9
    // contract with the oracle — a driver-side rint would half-even
    // where both engines half-up)
    picks.reverse.zipWithIndex
      .map { case ((id, r), i) => (i + 1, id, r) }
      .toDF("pick", "vec_id", "radius")
      .select(col("pick"), col("vec_id"), round(col("radius"), 9).as("radius"))
  }

  /** Recall@k of [[ivfPqTopK]] vs the exact cosine top-k — the
    * [[recallAudit]] read-out for the compressed-and-probed index
    * (TWO approximations stack here: cell pruning drops true
    * neighbors outside probed cells, PQ distortion reorders inside
    * them), the number to check BEFORE committing a 100-TB IVFADC
    * build at a given (ncells, nprobe, m, ksub). Same determinism
    * contract: membership, not scores.
    */
  def ivfPqRecall(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                  ncells: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
                  vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k, vecCol, idCol)
      .select("query_id", "neighbor_id")
    val approx = ivfPqTopK(corpus, queries, k, ncells, nprobe, m, ksub, vecCol, idCol)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).cast("int").as("n_hits"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
  }

  /** Centroid-distance outlier scoring: each vector's IVF cell and its
    * cosine to the NEAREST centroid, with a threshold flag — "far from
    * every prototype" embedding-space anomaly detection, the corpus-
    * cleaning complement of [[diverseSample]] (which balances clusters;
    * this surfaces what belongs to none). Cell assignment is the same
    * codegen'd map-only projection against the md5-seeded centroid
    * artifact as [[ivfTopK]]/[[diverseSample]] — no join, no shuffle
    * beyond the pinned rebalance, and the oracle rebuilds the seeds
    * from the table. The flag compares cosines as DECIMAL(18,6)
    * (threshold passed as an exact decimal string), so the boundary
    * decision is engine-exact; the emitted cosine is the raw mirrored
    * double rounded at 1e-6.
    */
  def centroidOutliers(corpus: DataFrame, minCos: String = "0.15", ncells: Int = 16,
                       vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cents = seedCentroids(corpus, ncells, vecCol, idCol)
    val best = array_max(cellScores(col("cv"), cents))
    rebalance(corpus, idCol)
      .select(col(idCol), col(vecCol).as("cv"))
      .withColumn("_best", best)
      .select(col(idCol),
        (-col("_best").getField("negcell")).cast("int").as("cell"),
        round(col("_best").getField("cos"), 6).as("cos_center"),
        (col("_best").getField("cos").cast("decimal(18,6)") < lit(minCos).cast("decimal(18,6)"))
          .as("is_outlier"))
  }

  /** Label-conformity scoring — mislabel detection for training data:
    * each vector's cosine to its OWN label's centroid, with a
    * threshold flag. [[centroidOutliers]] asks "does this belong to
    * ANY prototype"; this asks "does it belong to the prototype it
    * CLAIMS" — low conformity = probable labeling error (or a label
    * whose cluster is not compact), the audit run before training a
    * classifier on the corpus.
    *
    * Centroids come from [[labelCentroids]]'s exact quantized sums
    * (order-insensitive DECIMAL(38,0) — identical across engines and
    * cluster layouts), are cast to float (IEEE round-to-nearest, same
    * on both engines) so the fused `vec_cosine` kernel applies, and
    * broadcast — |labels| rows. The scoring pass is map-only after the
    * pinned rebalance; the flag compares DECIMAL(18,6) (engine-exact
    * boundary), the emitted cosine rounds at 1e-6.
    */
  def labelConformity(vecs: DataFrame, minCos: String = "0.1",
                      labelCol: String = "label", vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    val cents = labelCentroids(vecs, labelCol, vecCol)
      .groupBy(labelCol)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c").cast("float")).as("cent"))
    val cos = V.cosine(col(vecCol), col("cent"))
    rebalance(vecs, idCol)
      .join(broadcast(cents), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        round(cos, 6).as("cos_centroid"),
        (cos.cast("decimal(18,6)") < lit(minCos).cast("decimal(18,6)"))
          .as("mislabeled"))
  }

  /** Distributed PCA, dominant component: the top principal axis of
    * the embedding cloud by power iteration, plus each vector's
    * projection onto it — the one-axis summary that drives drift
    * monitoring ("did the corpus move along its main direction"),
    * 1-D stratification, and compression audits.
    *
    * Scale split: the DATA pass is one partial agg building the
    * dim + dim(dim+1)/2 moment sums (means + upper-triangle
    * co-moments), with every term quantized to micro-unit longs and
    * summed as DECIMAL(38,0) — exact and ORDER-INSENSITIVE, so the
    * covariance is bit-identical on any cluster layout and rebuildable
    * by the oracle. The EIGEN pass is power iteration on the dims×dims
    * driver-side matrix (a bounded model artifact, the IVF-centroid
    * class); every double op is in a fixed left-to-right order, so the
    * oracle replays the identical iterations as unrolled SQL. Sign
    * fixed by the first component (flip if negative). The scoring pass
    * is a map-only mean-centered dot product behind the pinned
    * rebalance.
    *
    * Quantization: elements scale by 1e6 (unit-norm-ish embeddings);
    * co-moment products are ≤ ~1e12 per row — the DECIMAL(38,0) sum
    * never overflows at any corpus size that fits in storage.
    */
  def principalComponent(vecs: DataFrame, dims: Int = 16, iters: Int = 3,
                         vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(dims >= 1 && iters >= 1, s"dims=$dims iters=$iters must be >= 1")
    def q(i: Int) =
      floor(element_at(col(vecCol), i + 1).cast("double") * 1e6 + lit(0.5)).cast("long")
    val sumCols =
      (0 until dims).map(i => sum(q(i).cast("decimal(38,0)")).as(s"_s$i")) ++
      (for (i <- 0 until dims; j <- i until dims)
        yield sum((q(i) * q(j)).cast("decimal(38,0)")).as(s"_p${i}_$j"))
    val m = vecs.agg(count(lit(1)).as("_n"), sumCols: _*).head()
    val n = m.getAs[Long]("_n").toDouble
    require(n > 0, "principalComponent: empty corpus")
    val mean = (0 until dims).map(i =>
      m.getAs[java.math.BigDecimal](s"_s$i").doubleValue() / 1e6 / n)
    // C_ij = E[v_i v_j] − m_i m_j, each term one correctly-rounded op
    val cov = Array.tabulate(dims, dims) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      m.getAs[java.math.BigDecimal](s"_p${a}_$b").doubleValue() / 1e12 / n -
        mean(i) * mean(j)
    }
    // power iteration, fixed start [1, 0, …], left-to-right sums
    var x = Array.tabulate(dims)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 0 until iters) {
      val y = Array.tabulate(dims) { i =>
        var acc = 0.0
        for (j <- 0 until dims) acc += cov(i)(j) * x(j)
        acc
      }
      var nn = 0.0
      for (i <- 0 until dims) nn += y(i) * y(i)
      val norm = math.sqrt(nn)
      require(norm > 0, "principalComponent: degenerate covariance (zero norm)")
      x = y.map(_ / norm)
    }
    val p = if (x(0) < 0) x.map(-_) else x
    val proj = (0 until dims)
      .map(i => (element_at(col(vecCol), i + 1).cast("double") - mean(i)) * p(i))
      .reduce(_ + _)
    rebalance(vecs, idCol)
      .select(col(idCol), round(proj, 6).as("proj"))
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the k most-similar vectors carrying a DIFFERENT label — the
    * near-misses that make a contrastive/triplet objective learn
    * boundaries instead of memorizing easy negatives. Candidates come
    * from the hyperplane-bucketed pair generator (never all-pairs;
    * same recall contract as the semantic-dedup family), with labels
    * CARRIED through the bucket pipeline so the corpus is never joined
    * back onto the pair list; both pair directions explode map-side
    * and the per-anchor top-k is WindowGroupLimit-prunable. Returns
    * (anchor, neg, cos, rank).
    */
  def hardNegatives(vecs: DataFrame, k: Int = 5, nbits: Int = 6, dim: Int = 64,
                    cap: Int = 40, labelCol: String = "label",
                    vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = Dedup.embeddingPairs(vecs, nbits, dim, cap, vecCol, idCol,
      carryCols = Seq(labelCol))
    // both directions explode MAP-SIDE from one joined pair row — a
    // union of two selects would plan the bucket self-join twice
    val sym = pairs.select(explode(array(
        struct(col("vec_a").as("anchor"), col("vec_b").as("neg"),
          col(s"${labelCol}_a").as("la"), col(s"${labelCol}_b").as("lb"),
          col("cos").as("cos")),
        struct(col("vec_b").as("anchor"), col("vec_a").as("neg"),
          col(s"${labelCol}_b").as("la"), col(s"${labelCol}_a").as("lb"),
          col("cos").as("cos")))).as("p"))
      .select(col("p.anchor").as("anchor"), col("p.neg").as("neg"),
        col("p.la").as("la"), col("p.lb").as("lb"), col("p.cos").as("cos"))
    sym.filter(col("la") =!= col("lb"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("anchor").orderBy(col("cos").desc, col("neg"))))
      .filter(col("rank") <= k)
      .select(col("anchor"), col("neg"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** One spherical k-means (Lloyd) step: assign every vector to its
    * nearest seed centroid by cosine, then recompute each cell's
    * centroid as the EXACT element-wise mean of its members — the
    * training iteration behind every IVF/coarse-quantizer build, here
    * as a first-class distributed operator (iterate by feeding the
    * output back as seeds). Returns long format (cell, dim, n_vecs, c)
    * like [[labelCentroids]].
    *
    * Scale shape: assignment is the [[ivfTopK]] codegen'd map-only
    * cell projection (centroids broadcast as plan literals — no join);
    * the update is ONE partial agg of micro-unit-quantized DECIMAL
    * (38,0) sums — exact, order-insensitive, engine-identical; empty
    * cells vanish (standard Lloyd). No window, no pair join, nothing
    * all-pairs.
    */
  def kmeansStep(vecs: DataFrame, ncells: Int = 16,
                 vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val dim = vecs.select(size(col(vecCol))).head().getInt(0)
    val cents = seedCentroids(vecs, ncells, vecCol, idCol)
    val assigned = rebalance(vecs, idCol)
      .select(col(vecCol).as("v"), cellOf(col(vecCol), cents).as("cell"))
    val sums = (0 until dim).map(i =>
      sum(floor(element_at(col("v"), i + 1).cast("double") * 1e12 + lit(0.5))
        .cast("decimal(38,0)")).as(s"_s$i"))
    assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sums: _*)
      .select(col("cell"), col("n_vecs"),
        posexplode(array((0 until dim).map(i =>
          col(s"_s$i").cast("double") / 1e12 / col("n_vecs")): _*)).as(Seq("d0", "c")))
      .select(col("cell").cast("int").as("cell"),
        (col("d0") + 1).cast("int").as("dim"), col("n_vecs"), col("c"))
  }

  /** ANN recall@k audit: for each query, how many of the EXACT cosine
    * top-k does [[ivfTopK]] return? The standard approximate-search
    * quality metric, as an operator — run it on a query SAMPLE to pick
    * ncells/nprobe before committing a 100-TB index build.
    *
    * Scale shape: both arms keep the corpus unshuffled (queries are
    * the broadcast side throughout); the intersection joins two
    * |queries|×k result tables — negligible next to either search.
    * Ranks tie-break by neighbor id in both arms, so the metric is
    * deterministic and engine-portable (no float-boundary dependence:
    * membership, not scores, is compared).
    */
  def recallAudit(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                  ncells: Int = 16, nprobe: Int = 4,
                  vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k, vecCol, idCol)
      .select("query_id", "neighbor_id")
    val approx = ivfTopK(corpus, queries, k, ncells, nprobe, lloydSteps = 0, vecCol, idCol)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).cast("int").as("n_hits"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0)).cast("double") / lit(k.toDouble)).as("recall_at_k"))
  }

  /** Truncated-dimension recall@k (the Matryoshka / MRL eval): how
    * much neighbor membership survives searching on only the FIRST
    * `dims` components of the embedding — the measurement behind the
    * modern "store 64 dims, search 16, rerank 64" cost cut, beside
    * [[randomProjection]]'s JL alternative (truncation is free and
    * index-compatible; projection needs a matrix but spreads variance).
    * Both arms are exact brute-force top-k; only the metric differs.
    *
    * Same determinism contract as [[recallAudit]]: ranks tie-break by
    * neighbor id, membership (not scores) is compared, so the metric
    * is engine-portable. Scale shape: two broadcast-query sweeps over
    * the unshuffled corpus; the intersection joins two |queries|×k
    * tables.
    */
  def truncatedRecall(corpus: DataFrame, queries: DataFrame, dims: Int,
                      k: Int = 10, vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def trunc(df: DataFrame) = df.withColumn(vecCol, slice(col(vecCol), 1, dims))
    val exact = bruteForceTopK(corpus, queries, k, vecCol, idCol)
      .select("query_id", "neighbor_id")
    val approx = bruteForceTopK(trunc(corpus), trunc(queries), k, vecCol, idCol)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).cast("int").as("n_hits"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
  }

  /** Mean-average-precision companion to [[recallAudit]]: per query,
    * AP@k over the exact cosine top-k with binary relevance = label
    * match — the rank-sensitive retrieval metric (recall@k counts
    * hits; AP rewards putting them EARLY), the second number an
    * embedding-quality eval reports.
    *
    * Exactness: AP = (Σ_{relevant rank r} P@r) / R is rational with
    * denominators ≤ k, so the numerator is carried as the exact
    * integer Σ hits_r · (L/r) with L = lcm(1..k) (k ≤ 10 ⇒ L = 2520
    * divides evenly for every r) and ONE IEEE double division ends it
    * — bit-identical on any engine, no float accumulation order to
    * disagree on. Queries with zero relevant neighbors report ap = 0.
    *
    * Scale shape: the search arm is [[bruteForceTopK]] (corpus never
    * shuffled); the eval adds one slim label join against the
    * |queries|×k result table and a k-row-per-group window — cost
    * invisible next to the search.
    */
  def apAtK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
            vecCol: String = "embedding", idCol: String = "vec_id",
            labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 10, s"apAtK: k must be in [1,10] (lcm scaling), got $k")
    val tk = bruteForceTopK(corpus, queries, k, vecCol, idCol)
    val qlab = queries.select(col(idCol).as("query_id"), col(labelCol).as("_ql"))
    val clab = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("_nl"))
    val wRun = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tk.join(broadcast(qlab), Seq("query_id"))
      .join(clab, Seq("neighbor_id"))
      .withColumn("_rel", when(col("_ql") === col("_nl"), 1L).otherwise(0L))
      .withColumn("_hits", sum(col("_rel")).over(wRun))
      .withColumn("_contrib",
        when(col("_rel") === 1L, col("_hits") * expr("2520 div rank")).otherwise(0L))
      .groupBy("query_id")
      .agg(sum(col("_rel")).as("n_rel"), sum(col("_contrib")).as("_num"))
      .select(col("query_id"), col("n_rel"),
        when(col("n_rel") > 0,
          round(col("_num").cast("double") / (lit(2520.0) * col("n_rel")), 9))
          .otherwise(lit(0.0)).as("ap"))
  }

  /** NDCG@k discount weights in nano-units: round(10⁹/log₂(r+1)) for
    * rank r = 1..k — EXACT LONG LITERALS shared verbatim with the SQL
    * oracle (the PoissonThresholds32 pattern), so neither engine ever
    * evaluates a logarithm: DCG/IDCG are exact integer sums and NDCG
    * is one final division.
    */
  def ndcgWeightsNano(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e9 * math.log(2.0) / math.log(r + 1.0)))

  /** NDCG@k over the exact cosine top-k with binary label-match
    * relevance — the third retrieval metric beside [[recallAudit]]
    * (membership) and [[apAtK]] (precision-weighted rank): NDCG's
    * log-discount penalizes late hits more gently than AP, the
    * standard ranking-eval headline. NDCG = DCG/IDCG with
    * DCG = Σ rel_r/log₂(r+1) and IDCG the same sum over an ideal
    * prefix of n_rel hits.
    *
    * Exactness: the discount weights are the [[ndcgWeightsNano]]
    * integer literals (k ≤ 10), so DCG's numerator is an exact long
    * Σ rel_r·w_r, IDCG is element_at of the literal PREFIX-SUM array
    * at min(n_rel, k), and ndcg is ONE IEEE double division — the
    * apAtK lcm trick with logs baked into shared literals. Zero-
    * relevant queries report ndcg = 0.
    *
    * Scale shape: identical to apAtK — the [[bruteForceTopK]] arm
    * never shuffles the corpus; the eval is a label join on the
    * |queries|×k table plus a per-query agg.
    */
  def ndcgAtK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              vecCol: String = "embedding", idCol: String = "vec_id",
              labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 10, s"ndcgAtK: k must be in [1,10] (literal weights), got $k")
    val wq = ndcgWeightsNano(k)
    val cums = wq.scanLeft(0L)(_ + _).tail
    val wArr = array(wq.map(lit): _*)
    val cArr = array(cums.map(lit): _*)
    val tk = bruteForceTopK(corpus, queries, k, vecCol, idCol)
    val qlab = queries.select(col(idCol).as("query_id"), col(labelCol).as("_ql"))
    val clab = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("_nl"))
    tk.join(broadcast(qlab), Seq("query_id"))
      .join(clab, Seq("neighbor_id"))
      .withColumn("_rel", when(col("_ql") === col("_nl"), 1L).otherwise(0L))
      .withColumn("_gain",
        when(col("_rel") === 1L, element_at(wArr, col("rank").cast("int"))).otherwise(0L))
      .groupBy("query_id")
      .agg(sum(col("_rel")).as("n_rel"), sum(col("_gain")).as("_dcg"))
      .withColumn("_idcg", // index clamps to >= 1: zero-relevant rows emit 0 below
        element_at(cArr, greatest(least(col("n_rel"), lit(k.toLong)), lit(1L)).cast("int")))
      .select(col("query_id"), col("n_rel"),
        when(col("n_rel") > 0,
          round(col("_dcg").cast("double") / col("_idcg").cast("double"), 9))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** One k-means|| oversampling round (Bahmani et al., VLDB'12): every
    * vector is kept with probability min(1, l·d²/cost) where d is its
    * cosine distance to the nearest current seed and cost = Σd² — the
    * scalable replacement for k-means++'s inherently sequential
    * seeding, and the missing piece between [[seedCentroids]] and
    * [[kmeansStep]] in a distributed IVF/quantizer build (iterate: the
    * picked rows join the seed set for the next round).
    *
    * Determinism contract: the coin flip is the sampling family's
    * content-addressed md5 fraction (60-bit prefix / 2⁶⁰ — exact), d²
    * is micro-unit-quantized to a long, cost is its exact integer sum,
    * and the kept-if inequality is a fixed-order double chain — so the
    * picked set is identical across runs, re-shards, and engines.
    *
    * Scale shape: scoring is a map-only codegen'd projection (seeds are
    * plan literals); cost is ONE scalar agg broadcast back; the filter
    * is map-only. Two streaming passes over the corpus, no shuffle of
    * it, no windows.
    */
  def kmeansOversample(vecs: DataFrame, ncells: Int = 16, l: Int = 32,
                       vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cents = seedCentroids(vecs, ncells, vecCol, idCol)
    val best = array_max(cellScores(col("v"), cents))
    val d = lit(1.0) - best.getField("cos")
    val scored = rebalance(vecs, idCol)
      .select(col(idCol), col(vecCol).as("v"))
      .select(col(idCol), (-best.getField("negcell")).as("cell"),
        floor(d * d * lit(1e12) + lit(0.5)).cast("long").as("d2q"))
    val cost = scored.agg(sum(col("d2q")).cast("double").as("_cost"))
    val md5frac = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // / 2^60: exact
    scored.crossJoin(broadcast(cost))
      .filter(md5frac < lit(l.toDouble) * col("d2q").cast("double") / col("_cost"))
      .select(col(idCol), col("cell").cast("int").as("cell"),
        (col("d2q").cast("double") / lit(1e12)).as("d2"))
  }

  /** Multi-round spherical k-means trainer — the driver loop that
    * turns the [[kmeansStep]] / [[kmeansOversample]] single-step bricks
    * into a usable quantizer build: seed (md5-deterministic) → assign →
    * exact-mean update, `iters` rounds or until no centroid moves more
    * than `stopMoveU` micro-units, reporting per-round centroids,
    * cell sizes, and quantized inertia (the convergence curve).
    *
    * Exactness contract (what makes the whole LOOP oracle-replayable,
    * not just one step): centroids are carried as INTEGER micro-unit
    * components m_u = Σ floor(v·1e12 + ½) div (n·10⁶) — exact decimal
    * sums, one truncating integer division (Spark `div` ≡ DuckDB `//`,
    * toward zero), no float mean ever fed back. Cosine is
    * scale-invariant, so assigning against the m_u vector ≡ assigning
    * against the true mean at micro-unit granularity; |m_u| < 2²⁴ is
    * REQUIRED (loudly) so the float literal the codegen'd kernel takes
    * is exact and (double)(float) m_u round-trips — both engines then
    * compute bit-identical cosines. Inertia quantizes (1 − best cos)
    * at 1e12 per row and sums as DECIMAL(38,0). Empty cells drop and
    * the survivors renumber by cell order (standard Lloyd, mirrored by
    * the oracle's ROW_NUMBER re-index).
    *
    * Scale shape: per round ONE streaming pass over the persisted slim
    * projection — assignment is the [[ivfTopK]] map-only codegen'd
    * projection (centroids are plan literals), the update one partial
    * agg of dim+2 columns; the only driver materialization is the
    * ncells×dim centroid state (a model artifact, the documented
    * bounded-collect family). `iters` jobs total, history never
    * re-read, no window, nothing pair-scaled.
    *
    * Output long format: (round, cell, dim, n_vecs, m_u, inertia_q) —
    * round ∈ [1, iters], cell the index in THAT round's centroid list,
    * inertia_q the cell's Σ quantized (1 − cos) (repeated per dim row).
    */
  def kmeansTrain(vecs: DataFrame, ncells: Int = 16, iters: Int = 3,
                  stopMoveU: Long = 0L,
                  vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = vecs.sparkSession
    val slim = rebalance(vecs, idCol).select(col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = seedCentroids(vecs, ncells, vecCol, idCol)
      val dim = seeds.head.length
      def microExact(m: Long): Long = {
        require(math.abs(m) < (1L << 24),
          s"kmeansTrain: centroid component $m micro-units exceeds 2^24 — " +
          "float literals would round; rescale the vectors")
        m
      }
      // seed m_u: the n=1 case of the general rule (quantize at 1e12,
      // divide by n·1e6; Long `/` truncates toward zero like `div`)
      var cents: Seq[Seq[Long]] = seeds.map(_.map(f =>
        microExact(math.floor(f.toDouble * 1e12 + 0.5).toLong / 1000000L)))
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var round = 0
      var done = false
      while (round < iters && !done) {
        round += 1
        val cf = cents.map(_.map(_.toFloat)) // exact: |m_u| < 2^24 asserted
        val best = array_max(cellScores(col("v"), cf))
        val dq = floor((lit(1.0) - best.getField("cos")) * lit(1e12) + lit(0.5))
          .cast("decimal(38,0)")
        val sums = (0 until dim).map(i =>
          sum(floor(element_at(col("v"), i + 1).cast("double") * 1e12 + lit(0.5))
            .cast("decimal(38,0)")).as(s"_s$i"))
        val state = slim
          .select(col("v"), (-best.getField("negcell")).cast("int").as("cell"), dq.as("dq"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"),
            (sums :+ sum(col("dq")).cast("decimal(38,0)").as("inert")): _*)
          .orderBy("cell").collect()
        val newCents = state.map { r =>
          val n = r.getLong(1)
          (0 until dim).map { i =>
            microExact(r.getDecimal(2 + i).toBigInteger
              .divide(java.math.BigInteger.valueOf(n * 1000000L)).longValueExact())
          }
        }.toSeq
        var moveU = 0L
        state.zipWithIndex.foreach { case (r, pos) =>
          val oldCell = r.getInt(0)
          val inert = r.getDecimal(2 + dim)
          (0 until dim).foreach { i =>
            moveU = math.max(moveU, math.abs(newCents(pos)(i) - cents(oldCell)(i)))
            out += org.apache.spark.sql.Row(
              round, oldCell, i + 1, r.getLong(1), newCents(pos)(i), inert)
          }
        }
        cents = newCents
        if (moveU <= stopMoveU) done = true
      }
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("round", IntegerType), StructField("cell", IntegerType),
        StructField("dim", IntegerType), StructField("n_vecs", LongType),
        StructField("m_u", LongType), StructField("inertia_q", DecimalType(38, 0))))
      spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
    } finally slim.unpersist()
  }

  /** Quantization-recall audit: cosine between each original vector and
    * its dequantized reconstruction — the number that says whether int8
    * codes are safe for a given ANN workload (spec asserts ≥ 0.99 on
    * random gaussians). Same single-pass shape as [[scalarQuantize]].
    */
  def sqCosineError(vecs: DataFrame,
                    vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val x = rebalance(vecs, idCol)
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("d0", "vf")))
      .select(col("vec_id"), (col("d0") + 1).as("dim"), col("vf").cast("double").as("v"))
    val mm = x.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    x.join(broadcast(mm), Seq("dim"))
      .withColumn("q", when(col("hi") === col("lo"), lit(0))
        .otherwise(round((col("v") - col("lo")) / (col("hi") - col("lo")) * 255)
          .cast("int") - 128))
      .withColumn("dv", when(col("hi") === col("lo"), col("lo"))
        .otherwise((col("q") + 128) / 255.0 * (col("hi") - col("lo")) + col("lo")))
      .groupBy("vec_id")
      .agg(sum(col("v") * col("dv")).as("dot"),
           sum(col("v") * col("v")).as("nn"),
           sum(col("dv") * col("dv")).as("dd"))
      .select(col("vec_id"), (col("dot") / sqrt(col("nn") * col("dd"))).as("cos"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09): merge
    * ranked lists from heterogeneous retrievers — lexical BM25,
    * embedding ANN, recency — into one ranking by summing 1/(k+rank)
    * per document. The standard hybrid-search combiner BECAUSE it is
    * score-free: BM25 scores and cosine similarities are
    * incommensurable, ranks always fuse.
    *
    * Exactness: each term quantizes to the exact integer
    * 10⁹ div (k+rank) (the RA-index rule: a 1/(k+r) double sum would
    * hang on addition order), so the fused score is an
    * order-insensitive integer sum — engine-identical, hash-stable.
    *
    * Scale shape: input lists are top-K artifacts (retriever outputs,
    * not corpora) — one union + one partial agg keyed by doc; the
    * final top-`topK` is the q161 WindowGroupLimit-pushed global rank
    * over an aggregate already bounded by Σ|lists|.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              kRrf: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    require(kRrf >= 1 && topK >= 1, s"need kRrf>=1, topK>=1; got $kRrf/$topK")
    val tagged = rankings.map(df =>
      df.select(col(idCol), col(rankCol).cast("long").as("_r")))
      .reduce(_.unionByName(_))
    tagged
      .groupBy(idCol)
      .agg(sum(expr(s"1000000000L div (${kRrf}L + _r)")).as("rrf_q"),
           count(lit(1)).as("n_rankers"))
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf_q").desc, col(idCol))).cast("int"))
      .filter(col("fused_rank") <= topK)
  }

  /** Rank-biased overlap (Webber/Moffat/Zobel TOIS'10): the
    * top-weighted similarity of two rankings — "how much did the
    * ranking CHANGE" between two retrievers ([[rrfFuse]] merges them;
    * RBO scores their disagreement), two index versions, or two
    * corpus snapshots, with weight decaying geometrically by depth so
    * rank-1 swaps dominate and tail churn barely registers (Kendall
    * over top-k lists is undefined on non-conjoint items; RBO is
    * built for them).
    *
    * For two depth-k lists: RBO_ext = X_k/k·pᵏ +
    * (1−p)/p · Σ_{d=1..k} X_d/d · pᵈ, X_d the overlap of the two
    * depth-d prefixes. Scale shape: inputs are top-K ARTIFACTS, so
    * the (pair, depth) expansion is bounded by 2k² rows against a
    * broadcast depth table — nothing row-scaled; X_d folds from
    * exact per-depth integer overlap counts and each summand
    * quantizes to DECIMAL(20,9) pre-sum (one pow per depth, mirrored
    * shape both engines).
    */
  def rboOverlap(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
                 p: Double = 0.9, depth: Int = 10): DataFrame = {
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val ra = a.select(col(idCol).as("_id"), col(rankCol).cast("long").as("_ra"))
      .filter(col("_ra") <= depth)
    val rb = b.select(col(idCol).as("_id"), col(rankCol).cast("long").as("_rb"))
      .filter(col("_rb") <= depth)
    val spark = a.sparkSession
    import spark.implicits._
    val depths = broadcast((1 to depth).toDF("_d"))
    // X_d = #docs present in BOTH depth-d prefixes — an exact integer
    // per depth from one bounded join
    val xd = ra.join(rb, Seq("_id"))
      .withColumn("_m", greatest(col("_ra"), col("_rb")))
      .join(depths, col("_m") <= col("_d"))
      .groupBy("_d").agg(count(lit(1)).as("_x"))
    val terms = depths.join(xd, Seq("_d"), "left").na.fill(0L, Seq("_x"))
      .select(col("_d"), col("_x"),
        (lit((1.0 - p) / p) * col("_x").cast("double") / col("_d").cast("double")
          * pow(lit(p), col("_d").cast("double"))).cast("decimal(20,9)").as("_t"))
    terms.agg(
        max(when(col("_d") === depth, col("_x"))).as("_xk"),
        sum(col("_t")).as("_s"))
      .select(lit(depth).as("depth"),
        round(lit(p), 6).as("p"),
        col("_xk").as("overlap_at_k"),
        round((col("_s").cast("double") +
          col("_xk").cast("double") / lit(depth.toDouble)
            * pow(lit(p), lit(depth.toDouble))), 9).as("rbo_ext"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein
    * SIGIR'98): from the query's top-`poolK` candidate pool, greedily
    * pick `selectK` results maximizing λ·rel(d) − (1−λ)·max_{s∈S}
    * sim(d, s) — relevance WITH diversity, the de-dup of a result
    * page (and of few-shot example selection), where a plain top-k
    * returns five copies of the best near-duplicate.
    *
    * Scale shape: the corpus-sized work is ONE [[bruteForceTopK]]
    * pass; the pool (≤ poolK rows) and its pairwise similarity
    * matrix (≤ poolK² rows, one bounded self-join) are model-artifact
    * sized and the greedy loop folds them on the driver — selectK
    * bounded steps over ≤ poolK² integers, no per-step job. Engine
    * determinism: relevances and pairwise similarities quantize to
    * 1e-9 longs (cosines are engine-bit-identical; the quantized
    * longs exactly so) and λ enters as the rational `lambdaNum /
    * lambdaDen`, so every MMR score is the INTEGER
    * lambdaNum·relq − (lambdaDen−lambdaNum)·maxSimq — no float
    * compare can flip a pick; ties → smaller id.
    */
  def mmrSelect(corpus: DataFrame, queryId: Long, poolK: Int = 20,
                selectK: Int = 5, lambdaNum: Int = 7, lambdaDen: Int = 10,
                vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(poolK >= selectK && selectK >= 1,
      s"need poolK >= selectK >= 1, got $poolK/$selectK")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda must be a rational in [0,1], got $lambdaNum/$lambdaDen")
    val pool = bruteForceTopK(corpus,
        corpus.filter(col(idCol) === queryId), poolK, vecCol, idCol)
      .select(col("neighbor_id").as("id"),
        floor(col("cos") * 1000000000L + lit(0.5)).cast("long").as("relq"))
    val poolVecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(broadcast(pool.select("id")), Seq("id"))
    val sims = poolVecs.select(col("id").as("ia"), col("v").as("va"))
      .crossJoin(poolVecs.select(col("id").as("ib"), col("v").as("vb")))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        floor(V.cosine(col("va"), col("vb")) * 1000000000L + lit(0.5))
          .cast("long").as("simq"))
    val rel = pool.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simM = sims.collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)) -> r.getLong(2),
        (r.getLong(1), r.getLong(0)) -> r.getLong(2))).toMap
    var selected = Vector.empty[(Long, Long)] // (id, scoreq in den·1e-9 units)
    var remaining = rel.keySet
    while (selected.size < selectK && remaining.nonEmpty) {
      val pick = remaining.map { id =>
        val maxSim =
          if (selected.isEmpty) 0L
          else selected.map(s => simM.getOrElse((id, s._1), 0L)).max
        val score = lambdaNum.toLong * rel(id) -
          (lambdaDen - lambdaNum).toLong * maxSim
        (id, score)
      }.minBy { case (id, score) => (-score, id) }
      selected :+= pick
      remaining -= pick._1
    }
    def r9(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    val spark = corpus.sparkSession
    spark.createDataFrame(selected.zipWithIndex.map { case ((id, sc), i) =>
        (i + 1, id, r9(rel(id).toDouble / 1e9),
          r9(sc.toDouble / (lambdaDen.toDouble * 1e9))) })
      .toDF("pick", "vec_id", "rel", "mmr")
  }
}
