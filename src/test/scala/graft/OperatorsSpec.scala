package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Dedup, Multimodal, Packing, RangeJoin, Similarity, SkewJoin}

/** LLM-pipeline operators (SURVEY.md §2 #29-35, #40) on small synthetic
  * corpora with planted duplicates/neighbors so expected results are
  * known by construction.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  /** 3 unique docs; doc 4 duplicates doc 1 up to case/whitespace; doc 5
    * is a near-dup of doc 2 (one word changed).
    */
  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2L, "colorless green ideas sleep furiously in the bright morning sun today"),
    (3L, "completely different text about spark catalyst optimizer plans and shuffles"),
    (4L, "The  quick Brown fox jumps over the lazy dog and runs away fast"),
    (5L, "colorless green ideas sleep furiously in the dark morning sun today")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace variants, keeps min id") {
    val out = Dedup.exact(docs).collect()
    out.length shouldBe 4 // 1&4 merge
    val dup = out.find(_.getAs[Long]("n_dups") == 2L).get
    dup.getAs[Long]("keep_id") shouldBe 1L
  }

  test("minhashBandIndex commutes with a doc filter (per-doc signing, the q312 shared-sign basis)") {
    // signing is strictly per-doc, so filtering docs before or after
    // signing must yield identical band rows — the property that lets
    // q312 sign the corpus once and slice base/batch/rebuild views
    val pred = col("doc_id") % 2 === 1
    canon(Dedup.minhashBandIndex(docs).filter(pred)) shouldBe
      canon(Dedup.minhashBandIndex(docs.filter(pred)))
  }

  test("minhash LSH surfaces the planted near-dup pair first") {
    val top = Dedup.minhash(docs).collect()
    top.nonEmpty shouldBe true
    val first = top.minBy(_.getAs[Int]("rnk"))
    // exact dup (1,4) has identical shingle sets → est_sim 1.0, rank 1
    (first.getAs[Long]("doc_a"), first.getAs[Long]("doc_b")) shouldBe ((1L, 4L))
    first.getAs[Double]("est_sim") shouldBe 1.0
    // near-dup (2,5) must appear with high estimated similarity
    val near = top.find(r => r.getAs[Long]("doc_a") == 2L && r.getAs[Long]("doc_b") == 5L)
    near.isDefined shouldBe true
    near.get.getAs[Double]("est_sim") should be >= 0.5
  }

  test("minhash with bandWidth=2 (production banding) still ranks the exact dup first") {
    val top = Dedup.minhash(docs, bandWidth = 2).collect()
    val first = top.minBy(_.getAs[Int]("rnk"))
    (first.getAs[Long]("doc_a"), first.getAs[Long]("doc_b")) shouldBe ((1L, 4L))
    first.getAs[Double]("est_sim") shouldBe 1.0 // identical sigs → every band collides
  }

  test("simhash ranks the exact-dup pair at hamming 0") {
    val top = Dedup.simhash(docs).collect()
    val first = top.minBy(_.getAs[Int]("rnk"))
    (first.getAs[Long]("doc_a"), first.getAs[Long]("doc_b")) shouldBe ((1L, 4L))
    first.getAs[Int]("hamming") shouldBe 0
    // The (2,5) near-dup sits at Hamming ~10: outside the default
    // 4×16-bit blocking guarantee (≤3), inside 8×8-bit blocking — the
    // `bands` knob trades bucket count for Hamming recall radius.
    val fine = Dedup.simhash(docs, bands = 8).collect()
    val near = fine.find(r => r.getAs[Long]("doc_a") == 2L && r.getAs[Long]("doc_b") == 5L)
    near.get.getAs[Int]("hamming") should be <= 16
  }

  test("simhash blocking recalls every pair within Hamming distance 3 (4×16-bit pigeonhole)") {
    // 30 base docs with distinct vocab; each gets a twin with one extra
    // word, so twin signatures differ in only the few bits whose signed
    // sums sat near zero → many pairs land within Hamming distance 3.
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(400)(i => s"w${i}x")
    val corpus = (0 until 30).flatMap { i =>
      val words = Seq.fill(25)(vocab(rnd.nextInt(vocab.size)))
      val twin = words :+ vocab(rnd.nextInt(vocab.size))
      Seq((2L * i, words.mkString(" ")), (2L * i + 1, twin.mkString(" ")))
    }.toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val close = for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    } yield (a, b)
    close should not be empty // corpus must actually plant close pairs
    val found = Dedup.simhash(corpus, topK = 10000).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    close.foreach(p => found should contain(p))
  }

  test("ngram Jaccard computes exact overlap of rare trigrams") {
    val top = Dedup.ngramJaccard(docs).collect()
    val first = top.minBy(_.getAs[Int]("rnk"))
    (first.getAs[Long]("doc_a"), first.getAs[Long]("doc_b")) shouldBe ((1L, 4L))
    first.getAs[Double]("jaccard") shouldBe 1.0
    val near = top.find(r => r.getAs[Long]("doc_a") == 2L && r.getAs[Long]("doc_b") == 5L).get
    // docs 2/5: 11 words → 9 trigrams each; the changed word hits 3
    // trigrams per doc → 6 common, 12 union
    near.getAs[Double]("jaccard") shouldBe (6.0 / 12.0) +- 1e-12
  }

  test("dedupCorpus flags near-dups for dropping, keeps one per group and all singletons") {
    val out = Dedup.dedupCorpus(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    // 4 duplicates 1 (dropped), 5 near-dups 2 (dropped); 1, 2, 3 keep
    out shouldBe Map(1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false)
    Dedup.dedupCorpus(docs).columns should contain allOf ("doc_id", "text", "keep")
  }

  test("components groups a chain and an island; keepList keeps component minima") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L)
    // both the local union-find and the distributed propagation path
    Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
    withDriverRows(0)(Dedup.components(pairs).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
    val keep = Dedup.keepList(pairs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    keep.filter(_._2).keySet shouldBe Set(1L, 5L)
    // a NULL endpoint: the driver union-find cannot key on it, so the
    // default budget falls back to the distributed plan, which defines
    // what it means — the same rows as with the budget closed
    val withNull = Seq((1L, Option(2L)), (2L, None), (5L, Option(6L))).toDF("doc_a", "doc_b")
    val nullRows = Seq(Seq("1", "1"), Seq("2", "1"), Seq("5", "5"), Seq("6", "5"),
      Seq("null", "null"))
    canon(Dedup.components(withNull)) shouldBe nullRows
    withDriverRows(0)(canon(Dedup.components(withNull))) shouldBe nullRows
  }

  /** Embeddings: v2 = v1 (dup), v3 ⟂ v1, v4 ≈ v1. */
  private def vecs: DataFrame = {
    val v1 = Seq.tabulate(8)(i => (i + 1).toFloat)
    val v3 = Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -(8 - i).toFloat / (i + 1))
    val v4 = v1.updated(0, 1.2f)
    Seq((1L, v1), (2L, v1), (3L, v3), (4L, v4)).toDF("vec_id", "embedding")
  }

  test("embedding near-dup finds the identical pair at cosine 1") {
    val top = Dedup.embedding(vecs, nbits = 2, dim = 8).collect()
    val first = top.minBy(_.getAs[Int]("rnk"))
    (first.getAs[Long]("vec_a"), first.getAs[Long]("vec_b")) shouldBe ((1L, 2L))
    first.getAs[Double]("cos") shouldBe 1.0 +- 1e-12
  }

  test("semanticDedup drops cluster members, keeps minima and singletons") {
    // nbits=1 → two buckets only, so the near-identical trio certainly
    // collides; v3 may share a bucket but its cosine stays far below 0.95
    val out = Dedup.semanticDedup(vecs, minCos = 0.95, nbits = 1, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    out shouldBe Map(1L -> true, 2L -> false, 3L -> true, 4L -> false)
    Dedup.semanticDedup(vecs, minCos = 0.95, nbits = 1, dim = 8).columns should
      contain allOf ("vec_id", "embedding", "keep")
  }

  test("brute-force ANN ranks by exact cosine, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1), k = 3)
    val rows = out.collect().sortBy(_.getAs[Int]("rank"))
    rows.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 4L, 3L)
    rows.head.getAs[Double]("cos") shouldBe 1.0 +- 1e-12
    all(rows.map(_.getAs[Long]("neighbor_id"))) should not be 1L
  }

  test("LSH ANN returns the identical vector from the same bucket") {
    val out = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 1), k = 3, nbits = 2, dim = 8)
    val rows = out.collect().sortBy(_.getAs[Int]("rank"))
    rows.map(_.getAs[Long]("neighbor_id")) should contain(2L) // identical vec always collides
    rows.head.getAs[Double]("cos") shouldBe 1.0 +- 1e-12
  }

  test("scalar quantization: codes in [-128,127], identical vecs share codes, reconstruction ≥ .99 cosine") {
    val rnd = new scala.util.Random(31)
    val base = (0L until 50L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = (base :+ (99L, base.head._2)).toDF("vec_id", "embedding") // 99 duplicates 0
    val q = Similarity.scalarQuantize(vecs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    q.size shouldBe 51 * 16
    all(q.values) should (be >= -128 and be <= 127)
    (1 to 16).foreach(d => q((99L, d)) shouldBe q((0L, d))) // same input → same codes
    // codes actually span the range (min/max rows hit the endpoints)
    (1 to 16).foreach { d =>
      val col = q.collect { case ((_, dd), v) if dd == d => v }
      col.min shouldBe -128
      col.max shouldBe 127
    }
    // array form re-assembles in dimension order
    val qv = Similarity.scalarQuantizeVecs(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    qv(0L) shouldBe (1 to 16).map(d => q((0L, d)))
    // dequantized reconstruction stays directionally faithful
    val errs = Similarity.sqCosineError(vecs).collect().map(_.getDouble(1))
    all(errs) should be >= 0.99
  }

  test("PQ codes: argmin verified per subspace, identical vectors share codes, seeds self-code") {
    val rnd = new scala.util.Random(41)
    val base = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = (base :+ (99L, base.head._2)).toDF("vec_id", "embedding")
    val m = 4; val ksub = 8; val w = 4
    val out = Similarity.pqEncode(vecs, m = m, ksub = ksub).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    out.size shouldBe 41 * m
    all(out.values) should (be >= 0 and be < ksub)
    (0 until m).foreach(j => out((99L, j)) shouldBe out((0L, j)))
    // driver-side argmin agreement: chosen code's L2 is minimal (ties → smaller id)
    val seeds = base.map { case (id, v) =>
      (java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString, id, v)
    }.sortBy(t => (t._1, t._2)).take(ksub).map(_._3)
    def l2(v: Seq[Float], s: Seq[Float], j: Int): Double =
      (0 until w).map { i =>
        val d = v(j * w + i).toDouble - s(j * w + i).toDouble; d * d
      }.sum
    for ((id, v) <- base; j <- 0 until m) {
      val ds = seeds.zipWithIndex.map { case (s, c) => (l2(v, s, j), c) }
      out((id, j)) shouldBe ds.min._2
    }
  }

  test("PQ-ADC search: a duplicated vector is its twin's rank-1 neighbor at minimal distance") {
    val rnd = new scala.util.Random(47)
    val base = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = (base :+ (99L, base.head._2)).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(vecs, vecs.filter(col("vec_id") === 99L),
        k = 5, m = 4, ksub = 8).collect()
      .map(r => (r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    out.head._2 shouldBe 0L  // the twin shares every code → minimal ADC
    all(out.map(_._3)) should be >= 0.0
    out.map(_._3) shouldBe out.map(_._3).sorted  // ranks follow adc ascending
  }

  test("multi-probe LSH dominates single-probe: per-query best cosine never degrades") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 120L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    def top1(probe: Int): Map[Long, Double] =
      Similarity.lshTopK(corpus, queries, k = 1, nbits = 4, dim = 8, probeHamming = probe)
        .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos")).toMap
    val single = top1(0); val multi = top1(1)
    // the candidate superset can only improve (or tie) the exact rerank
    single.keySet.subsetOf(multi.keySet) shouldBe true
    single.foreach { case (q, cosS) => multi(q) should be >= cosS }
    // and with 4 bits over random gaussians, at least one query's best
    // neighbor actually sits one bit-flip away
    multi.count { case (q, c) => !single.get(q).contains(c) } should be > 0
  }

  test("salted equi-join matches the plain join exactly") {
    val l = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "lv")
    val r = Seq((1L, 10.0), (2L, 20.0), (4L, 40.0)).toDF("rk", "rv")
    val plain = l.join(r, l("k") === r("rk"))
    // hotThreshold=1: key 1 (2 rows) is hot → salted path; keys 2,3 cold
    val salted = SkewJoin.saltedEquiJoin(l, r, "k", "rk", nsalts = 4, hotThreshold = 1)
    canon(salted) shouldBe canon(plain)
    // default threshold: nothing hot → pure plain join, same result
    canon(SkewJoin.saltedEquiJoin(l, r, "k", "rk", nsalts = 4)) shouldBe canon(plain)
    // left semantics preserved through the hot/cold split
    canon(SkewJoin.saltedEquiJoin(l, r, "k", "rk", nsalts = 4, how = "left", hotThreshold = 1)) shouldBe
      canon(l.join(r, l("k") === r("rk"), "left"))
  }

  test("asof join picks the latest right row at-or-before each left time") {
    val clicks = Seq((1L, 100L, "c1"), (1L, 200L, "c2"), (2L, 50L, "c3")).toDF("u", "t", "tag")
    val buys = Seq((1L, 100L, 1.0), (1L, 150L, 2.0), (1L, 250L, 3.0), (3L, 1L, 9.0))
      .toDF("u", "bt", "bv")
    val out = AsofJoin.asofJoin(clicks, buys, "u", "t", "bt", Seq("bt", "bv")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
      .sortBy(x => (x._1, x._2)).toSeq
    out shouldBe Seq(
      (1L, 100L, "c1", 100L, 1.0),  // tie: right at same time matches (<=)
      (1L, 200L, "c2", 150L, 2.0),  // latest at-or-before 200
      (2L, 50L, "c3", -1L, -1.0))   // no right rows for key → nulls
  }

  test("asof payload fields all come from the same matched row, even through nulls") {
    val l = Seq((1L, 300L)).toDF("u", "t")
    val r = Seq((1L, 100L, Option(7.0), Option("x")), (1L, 200L, None: Option[Double], Option("y")))
      .toDF("u", "bt", "bv", "btag")
    val row = AsofJoin.asofJoin(l, r, "u", "t", "bt", Seq("bv", "btag")).head()
    // matched row is bt=200 whose bv is NULL — must NOT leak bv=7.0 from bt=100
    row.isNullAt(row.fieldIndex("bv")) shouldBe true
    row.getString(row.fieldIndex("btag")) shouldBe "y"
  }

  test("IVF ANN finds the identical vector (same cell, cos 1.0, rank 1)") {
    val out = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 1),
      k = 3, ncells = 2, nprobe = 1)
    val rows = out.collect().sortBy(_.getAs[Int]("rank"))
    rows.map(_.getAs[Long]("neighbor_id")) should contain(2L) // identical vec
    rows.head.getAs[Double]("cos") shouldBe 1.0 +- 1e-12
    all(rows.map(_.getAs[Long]("neighbor_id"))) should not be 1L
  }

  test("multimodal image path: PNG encode → real ImageIO decode recovers dims and pixels") {
    val out = Multimodal.decodeImageFeatures(Multimodal.withImagePayload(docs), batchSize = 2)
    out.schema shouldBe Multimodal.decodedSchema
    val rows = out.collect()
    rows.length shouldBe 5
    val r1 = rows.find(_.getLong(0) == 1L).get
    val bytes1 = docs.filter(col("doc_id") === 1).select("text").as[String].head()
      .getBytes("UTF-8")
    r1.getAs[Long]("n_bytes") shouldBe bytes1.length.toLong
    r1.getAs[Int]("width") shouldBe bytes1.length % 320 + 1
    r1.getAs[Int]("height") shouldBe bytes1.length % 240 + 1
    // PNG is lossless 8-bit gray: pixel stats equal tiled-byte stats
    val feat = r1.getSeq[Float](r1.fieldIndex("features"))
    val w = bytes1.length % 320 + 1; val h = bytes1.length % 240 + 1
    val tiled = Array.tabulate(w * h)(i => (bytes1(i % bytes1.length) & 0xff).toFloat)
    feat(0) shouldBe (w * h).toFloat
    feat(1) shouldBe (tiled.sum / (w * h)) +- 1e-3f
    feat(2) shouldBe tiled.head
    feat(3) shouldBe tiled.last
  }

  test("multimodal plumbing: payload bytes → stub decode → metadata") {
    val out = Multimodal.decodeFeatures(Multimodal.withBinaryPayload(docs), batchSize = 2)
    out.schema shouldBe Multimodal.decodedSchema
    val rows = out.collect()
    rows.length shouldBe 5
    val r1 = rows.find(_.getLong(0) == 1L).get
    // scalatest Matchers shadows functions.length — compute client-side
    val len1 = docs.filter(col("doc_id") === 1).select("text").as[String].head()
      .getBytes("UTF-8").length
    r1.getAs[Long]("n_bytes") shouldBe len1.toLong
    r1.getAs[Int]("width") shouldBe len1 % 640 + 1
    r1.getAs[Int]("height") shouldBe len1 % 480 + 1
    r1.getAs[Seq[Float]]("features").length shouldBe 4
  }

  test("packSequences: prefix-sum offsets, chunk boundaries, shard independence") {
    val corpus = (0L until 40L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val packed = Packing.packSequences(corpus, capacity = 10, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    packed.length shouldBe 40
    // per shard: offsets are the exact running sum in doc_id order, starting at 0
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.head._4 shouldBe 0L
      sorted.zip(sorted.scanLeft(0L)(_ + _._3)).foreach { case ((_, _, _, off, chunk), expect) =>
        off shouldBe expect
        chunk shouldBe off / 10
      }
    }
    // chunkStats: every doc accounted for exactly once
    Packing.chunkStats(Packing.packSequences(corpus, 10, 4))
      .agg(sum("n_docs")).head().getLong(0) shouldBe 40L
  }

  test("audio path: WAV encode → real AudioSystem decode recovers samples, rate, RMS") {
    val out = Multimodal.decodeAudioFeatures(Multimodal.withAudioPayload(docs), batchSize = 2)
    out.schema shouldBe Multimodal.audioSchema
    val rows = out.collect()
    rows.length shouldBe 5
    val r1 = rows.find(_.getLong(0) == 1L).get
    val bytes1 = docs.filter(col("doc_id") === 1).select("text").as[String].head()
      .getBytes("UTF-8")
    r1.getAs[Long]("n_samples") shouldBe bytes1.length.toLong
    r1.getAs[Int]("sample_rate") shouldBe 8000
    r1.getAs[Double]("duration_s") shouldBe bytes1.length / 8000.0
    val expectRms = math.sqrt(
      bytes1.map(b => { val a = (b & 0xff) - 128; a.toLong * a }).sum.toDouble / bytes1.length)
    r1.getAs[Double]("rms") shouldBe expectRms
  }

  test("video path: PNG-frame container → index seek → stride-sampled real decode") {
    val out = Multimodal.decodeVideoFeatures(Multimodal.withVideoPayload(docs), stride = 2)
    out.schema shouldBe Multimodal.videoSchema
    val r1 = out.collect().find(_.getLong(0) == 1L).get
    val bytes1 = docs.filter(col("doc_id") === 1).select("text").as[String].head()
      .getBytes("UTF-8")
    val n = bytes1.length
    val nf = math.min(n / 64 + 1, 8)
    r1.getAs[Int]("n_frames") shouldBe nf
    val sampledIdx = 0 until nf by 2
    r1.getAs[Int]("n_sampled") shouldBe sampledIdx.size
    // expected pixel stats from the tiled-byte frames (PNG is lossless)
    var pixels = 0L; var psum = 0L
    for (f <- sampledIdx) {
      val flen = if (f < nf - 1) 64 else n - 64 * (nf - 1)
      val (w, h) = (flen % 320 + 1, flen % 240 + 1)
      if (flen == 0) pixels += 1
      else {
        pixels += w * h
        for (i <- 0 until w * h) psum += bytes1(64 * f + i % flen) & 0xff
      }
    }
    r1.getAs[Long]("sampled_pixels") shouldBe pixels
    r1.getAs[Double]("mean_sampled") shouldBe psum.toDouble / pixels.toDouble
  }

  test("left band join keeps unmatched left rows once, with null right columns") {
    val left = Seq((1L, 100L, "a"), (1L, 500L, "b"), (2L, 100L, "c")).toDF("k", "lt", "ltag")
    val right = Seq((1L, 150L, 1.0), (3L, 100L, 9.0)).toDF("k", "rt", "rv")
    val out = RangeJoin.bandJoin(left, right, Seq("k"), "lt", "rt", 100L, how = "left")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
      .sortBy(x => (x._1, x._2)).toSeq
    out shouldBe Seq(
      (1L, 100L, "a", 150L, 1.0),   // matched within gap
      (1L, 500L, "b", -1L, -1.0),   // same key, no right row in band
      (2L, 100L, "c", -1L, -1.0))   // key absent on the right
    // and the left form agrees with the brute-force outer theta join
    val brute = left.join(right,
        left("k") === right("k") && abs(col("lt") - col("rt")) <= 100L, "left")
      .select(left("k"), col("lt"), col("ltag"), col("rt"), col("rv"))
    canon(RangeJoin.bandJoin(left, right, Seq("k"), "lt", "rt", 100L, how = "left")) shouldBe
      canon(brute)
  }

  test("asof tolerance nulls matches older than the bound, keeps fresh ones") {
    val clicks = Seq((1L, 100L), (1L, 300L)).toDF("u", "t")
    val buys = Seq((1L, 90L), (1L, 110L)).toDF("u", "bt")
    // latest at-or-before 300 is bt=110 (190 old) → nulled by tolerance 50;
    // latest at-or-before 100 is bt=90 (10 old) → kept
    val out = AsofJoin.asofJoin(clicks, buys, "u", "t", "bt", Seq("bt"),
        tolerance = Some(lit(50L)))
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    out shouldBe Seq((100L, 90L), (300L, -1L))
  }

  test("chunkDedup drops re-seen aligned chunks (cross-doc and within-doc), rebuilds text") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),     // two clean chunks
      (2L, "a b c d e x y z w v"),     // first chunk duplicates doc 1 chunk 0
      (3L, "f g h i j"),               // whole doc = doc 1 chunk 1 → fully dropped
      (4L, "p q r s t p q r s t")      // within-doc repetition: second chunk dropped
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(corpus, chunkTokens = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((2, 2L, "a b c d e f g h i j"))
    out(2L) shouldBe ((2, 1L, "x y z w v"))
    out(3L) shouldBe ((1, 0L, ""))
    out(4L) shouldBe ((2, 1L, "p q r s t"))
  }

  test("chunkDedup is order-deterministic: first occurrence keyed by (doc_id, pos)") {
    // the duplicate chunk sits at different positions; the keeper must be
    // the LOWER doc id regardless of input row order
    val corpus = Seq(
      (7L, "z z z z z a b c d e"),
      (2L, "a b c d e q r s t u")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(corpus, chunkTokens = 5).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    out(2L) shouldBe "a b c d e q r s t u"
    out(7L) shouldBe "z z z z z"
  }

  test("spanDedup cuts re-seen overlapping spans token-exact, keeps first occurrence") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),           // source of the duplicated span
      (2L, "x y a b c d e z w v"),       // contains dup 5-gram "a b c d e"
      (3L, "a b c d e f g h"),           // exact dup doc → fully removed
      (4L, "p q r s t u v w"),           // clean
      (5L, "a b c d e f q q a b c d e f") // overlapping dups within+across
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((8L, 0L, "a b c d e f g h"))      // first occurrence untouched
    out(2L) shouldBe ((10L, 5L, "x y z w v"))           // span cut, rest intact
    out(3L) shouldBe ((8L, 8L, ""))                     // full duplicate → empty
    out(4L) shouldBe ((8L, 0L, "p q r s t u v w"))      // clean untouched
    // doc 5: windows over "a b c d e f" (pos 1,2) and again at pos 9,10
    // all duplicate doc 1's grams except none... "a b c d e f" 5-grams:
    // "a b c d e" (dup of doc1 pos1), "b c d e f" (dup of doc1 pos2) →
    // positions 1-2 and 9-10 dup → tokens 1..6 and 9..14 removed
    out(5L) shouldBe ((14L, 12L, "q q"))
  }

  test("decontaminate flags train docs sharing an n-gram with the eval set") {
    val evalSet = Seq((100L, "one two three four")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x two three four y"),           // shares "two three four"
      (2L, "totally unrelated words here"),
      (3L, "hi")                            // shorter than n → trivially clean
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalSet, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    out shouldBe Map(1L -> ((1L, true)), 2L -> ((0L, false)), 3L -> ((0L, false)))
  }

  test("decontaminate counts DISTINCT shared grams, not occurrences") {
    val evalSet = Seq((100L, "a b c")).toDF("doc_id", "text")
    // "a b c" appears twice in the train doc → still 1 distinct shared gram
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    Dedup.decontaminate(train, evalSet, n = 3).head.getLong(1) shouldBe 1L
  }

  test("dedupAgainst matches on the order/multiplicity-insensitive token-set key") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "unique corpus document text")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "delta gamma beta alpha"),        // shuffled → same token set → dup
      (11L, "alpha alpha beta gamma delta"),  // multiplicity differs → same set → dup
      (12L, "fresh new batch content")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(batch, corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("is_new"))).toMap
    out shouldBe Map(10L -> false, 11L -> false, 12L -> true)
  }

  test("dedupAgainst: empty batch is empty; disjoint corpus keeps everything new") {
    val corpus = Seq((1L, "a b c")).toDF("doc_id", "text")
    Dedup.dedupAgainst(corpus.filter(col("doc_id") < 0), corpus).count() shouldBe 0L
    val batch = Seq((5L, "x y z")).toDF("doc_id", "text")
    Dedup.dedupAgainst(batch, corpus).head.getBoolean(2) shouldBe true
  }

  test("dedupAgainst stays exact under a saturated bloom (false positives everywhere)") {
    // 64-bit filter vs 200 corpus keys → nearly every corpus key is a
    // bloom "maybe"; the equality confirm join must still return the
    // exact membership answer
    val corpus = (0L until 200L).map(i => (i, s"w$i x$i y$i")).toDF("doc_id", "text")
    val batch = Seq((500L, "w7 x7 y7"), (501L, "nothing like these words"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(batch, corpus,
        expectedBatchKeys = 2L, bloomBits = 64L).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("is_new"))).toMap
    out shouldBe Map(500L -> false, 501L -> true)
  }

  test("packSpans/packChunks: spill cuts, exact window fill, lossless reconstruction") {
    // doc i has i%5+3 tokens named d<i>t<j> — identifiable across cuts
    val corpus = (0L until 12L)
      .map(i => (i, (0 until (i % 5 + 3).toInt).map(j => s"d${i}t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val cap = 5
    val spans = Packing.packSpans(corpus, capacity = cap, nShards = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    // span continuity per doc: consecutive chunks, tail starts at offset
    // 0 of the next window, doc_tok_begin resumes where the cut happened
    spans.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array((_, _, c1, _, b1, t1, _), (_, _, c2, off2, b2, _, _)) =>
          c2 shouldBe c1 + 1
          off2 shouldBe 0L      // a spilled tail always starts the window
          b2 shouldBe b1 + t1   // no token lost or repeated at the cut
        case _ =>
      }
      // spans partition the doc's tokens exactly
      sorted.head._5 shouldBe 0L
      sorted.map(_._6).sum shouldBe sorted.head._1 % 5 + 3
    }
    // q45 assignment agrees with the first span of every doc
    val assigned = Packing.packSequences(corpus, capacity = cap, nShards = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    spans.groupBy(_._1).foreach { case (d, ss) => ss.map(_._3).min shouldBe assigned(d) }
    // packed windows: every chunk is filled to capacity except the last
    // per shard, and concatenating them reconstructs the shard stream
    val chunks = Packing.packChunks(corpus, capacity = cap, nShards = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    chunks.groupBy(_._1).foreach { case (shard, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.init.foreach(_._4 shouldBe cap.toLong)
      val stream = sorted.map(_._5).mkString(" ")
      val expected = (0L until 12L).filter(_ % 2 == shard)
        .flatMap(i => (0 until (i % 5 + 3).toInt).map(j => s"d${i}t$j")).mkString(" ")
      stream shouldBe expected
    }
  }

  test("ngramJaccard size gate: shuffled-anti fallback matches the broadcast path exactly") {
    val bcast = Dedup.ngramJaccard(docs)
    val fallback = withDriverRows(0)(Dedup.ngramJaccard(docs))
    def antiLines(df: DataFrame): String = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("LeftAnti")).mkString("\n")
    // under budget the df-filter anti join is FORCE-broadcast; over
    // budget the hint is dropped so the planner sizes it — at test
    // scale its estimate still picks broadcast, so pin the threshold
    // off to prove the genuinely-shuffled path stays correct
    antiLines(bcast) should include("BroadcastHashJoin")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fb = withDriverRows(0)(antiLines(Dedup.ngramJaccard(docs)))
      fb should not be empty
      (fb should not).include("BroadcastHashJoin")
      canon(fallback) shouldBe canon(bcast)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("local components survives an adversarial O(n)-deep parent chain (iterative find)") {
    // edges arrive in DESCENDING order: (n-1,n),(n-2,n-1),... — with
    // union-by-min and no rank this builds one O(n)-deep parent chain,
    // the shape that made a recursive find a partition-order-dependent
    // StackOverflow at driver-budget depth
    val n = 80000L
    val edges = spark.range(1L, n)
      .selectExpr(s"$n - id as doc_a", s"$n - id + 1 as doc_b")
    val comp = Dedup.components(edges).collect()
    comp.length shouldBe n.toInt
    all(comp.map(_.getLong(1))) shouldBe 1L
  }

  test("chunkDedup retains null/empty-token documents as (0, 0, '') instead of dropping them") {
    val corpus = Seq((1L, Option("a b c d e")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val out = Dedup.chunkDedup(corpus, chunkTokens = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((1, 1L, "a b c d e"))
    out(2L) shouldBe ((0, 0L, ""))
  }

  test("deriveBloomBits: closed-form sizing, ceiling clamp, measured FP rate within target") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val n = 10000L; val p = 0.01
    val bits = Dedup.deriveBloomBits(n, p, maxBits = 1L << 30)
    bits shouldBe math.ceil(n * math.log(1 / p) / (math.log(2) * math.log(2))).toLong
    Dedup.deriveBloomBits(n, 1e-9, maxBits = 1000L) shouldBe 1000L // graceful clamp
    // build a bloom at the derived size over n member keys, probe 100k
    // disjoint keys: the measured FP rate must stay near the target
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("s"))),
      Literal(n), Literal(bits)).toAggregateExpression())
    val bytes = spark.range(0, n).selectExpr("concat('k', id) as s")
      .agg(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    val fp = spark.range(0, 100000).selectExpr("concat('m', id) as s")
      .filter(ColumnBridge.column(BloomFilterMightContain(
        Literal(bytes, BinaryType), ColumnBridge.expression(xxhash64(col("s")))))).count()
    fp.toDouble / 100000.0 should be <= (2 * p)
  }

  test("bucketOf equals floorDiv for negative/zero/positive epoch times, incl exact boundaries") {
    val rnd = new scala.util.Random(23)
    val gaps = Seq(1L, 3L, 100L, 1800000000L) // incl the q47 30-min-µs gap
    for (g <- gaps) {
      // epoch-µs-scale magnitudes (quotient < 2^53), boundary multiples
      // k·g and k·g ± 1 on both sides of zero, plus random times
      val ks = Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L, 1000000L, -1000000L)
      val times = (ks.flatMap(k => Seq(k * g - 1, k * g, k * g + 1)) ++
        Seq.fill(200)(rnd.nextLong() % 4000000000000000L)).distinct
      val got = times.toDF("t")
        .select(col("t"), RangeJoin.bucketOf(col("t"), g).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      times.foreach(t => withClue(s"t=$t g=$g: ") { got(t) shouldBe math.floorDiv(t, g) })
    }
  }

  test("bucketed asof equals the plain asof at any bucket width (random data, negative times, carry-in)") {
    val rnd = new scala.util.Random(5)
    // negative..positive times; right times DISTINCT per key (equal-time
    // right rows are tie-ambiguous in both forms, so excluded by design)
    val left = (1 to 300).map(_ => (rnd.nextInt(4).toLong, rnd.nextInt(2200).toLong - 600))
      .toDF("k", "t")
    val right = (0 until 4).flatMap { k =>
      rnd.shuffle((-600 until 1600).toList).take(120)
        .map(t => (k.toLong, t.toLong, rnd.nextDouble()))
    }.toDF("k", "rt", "rv")
    val plain = AsofJoin.asofJoin(left, right, "k", "t", "rt", Seq("rt", "rv"))
    for (width <- Seq(1L, 7L, 97L, 1000000L)) {
      val bucketed = AsofJoin.asofJoinBucketed(left, right, "k", "t", "rt",
        Seq("rt", "rv"), bucketWidth = width)
      canon(bucketed) shouldBe canon(plain)
    }
    // tolerance rides the same carry (true right time, not bucket start)
    val planTol = AsofJoin.asofJoin(left, right, "k", "t", "rt", Seq("rt", "rv"),
      tolerance = Some(lit(50L)))
    val buckTol = AsofJoin.asofJoinBucketed(left, right, "k", "t", "rt",
      Seq("rt", "rv"), bucketWidth = 97L, tolerance = Some(lit(50L)))
    canon(buckTol) shouldBe canon(planTol)
  }

  test("forward asof matches brute-force earliest-at-or-after, tolerance gated") {
    val rnd = new scala.util.Random(19)
    val left = (1 to 200).map(i => (i.toLong % 5, rnd.nextInt(1000).toLong)).toDF("k", "t")
    val rightRows = (1 to 200).map(i => (i.toLong % 5, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val right = rightRows.toDF("k", "rt", "rv")
    val out = AsofJoin.asofJoinForward(left, right, "k", "t", "rt", Seq("rt", "rv"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    left.collect().foreach { lr =>
      val (k, t) = (lr.getLong(0), lr.getLong(1))
      val future = rightRows.filter(r => r._1 == k && r._2 >= t)
      val expected = if (future.isEmpty) None else Some(future.map(_._2).min)
      out((k, t)) shouldBe expected
    }
    // tolerance: matches farther than 50 ahead are nulled
    val tol = AsofJoin.asofJoinForward(left, right, "k", "t", "rt", Seq("rt", "rv"),
        tolerance = Some(lit(50L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    left.collect().foreach { lr =>
      val (k, t) = (lr.getLong(0), lr.getLong(1))
      tol((k, t)) shouldBe out((k, t)).filter(_ - t <= 50L)
    }
  }

  test("bucketed asof: a bucket with no right rows takes its match from the carry-in") {
    val left = Seq((1L, 1000L), (1L, 1005L)).toDF("k", "t")
    val right = Seq((1L, 10L, 9.0), (1L, 20L, 7.0)).toDF("k", "rt", "rv")
    // width 100: left sits in bucket 10, right in bucket 0 — matches
    // exist ONLY via the carry row
    val out = AsofJoin.asofJoinBucketed(left, right, "k", "t", "rt",
      Seq("rt", "rv"), bucketWidth = 100L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    out shouldBe Seq((1000L, 20L, 7.0), (1005L, 20L, 7.0))
  }

  test("sourceOverlapMatrix counts distinct shared n-grams per source pair only") {
    val docs = Seq(
      (1L, "A", "one two three four five six seven eight tail a"),
      (2L, "B", "one two three four five six seven eight tail b"),
      (3L, "B", "one two three four five six seven eight tail b again"), // dup gram must not double-count
      (4L, "C", "alpha beta gamma delta epsilon zeta eta theta iota")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlapMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // A and B share exactly the two 8-grams [one..eight] and [two..tail]
    out shouldBe Map(("A", "B") -> 2L)
  }

  test("labelCentroids: exact per-label means at inferred dim") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f), 0), (2L, Seq(3.0f, 4.0f), 0), (3L, Seq(5.0f, 6.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(vecs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    out((0, 1)) shouldBe ((2L, 2.0))
    out((0, 2)) shouldBe ((2L, 3.0))
    out((1, 1)) shouldBe ((1L, 5.0))
    out((1, 2)) shouldBe ((1L, 6.0))
  }

  test("diverseSample: quota bounds every cell and kept sets nest as quota grows") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val small = Similarity.diverseSample(vecs, quota = 3, ncells = 8).collect()
    val big = Similarity.diverseSample(vecs, quota = 10, ncells = 8).collect()
    // quota bound per cell
    small.groupBy(_.getInt(1)).values.foreach(_.length should be <= 3)
    // a row's (cell, pick) is identical in both runs — tightening the
    // quota later never resamples, it truncates
    val bigMap = big.map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    small.foreach { r =>
      bigMap(r.getLong(0)) shouldBe ((r.getInt(1), r.getInt(2)))
    }
    small.length should be < big.length
  }

  test("Rolling.trailing matches a brute-force trailing-range scan") {
    import graft.operators.Rolling
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map(i =>
      (i.toLong, i.toLong % 3, rnd.nextInt(1000).toLong, (rnd.nextInt(100) + 1) / 4.0))
    val df = rows.toDF("id", "k", "t", "v")
    val width = 100L
    val out = Rolling.trailing(df, "k", "t", width, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getDouble(5)))).toMap
    rows.foreach { case (id, k, t, _) =>
      val frame = rows.filter { case (_, k2, t2, _) => k2 == k && t2 >= t - width && t2 <= t }
      val expSum = frame.map { case (_, _, _, v) =>
        BigDecimal(v).setScale(4) }.sum.toDouble
      out(id)._1 shouldBe frame.size.toLong
      out(id)._2 shouldBe expSum
    }
  }

  test("trailingBucketed and anomaliesBucketed equal their plain forms on hot keys") {
    import graft.operators.Rolling
    val rnd = new scala.util.Random(19)
    // ONE hot key with 400 rows + two cold keys; duplicate timestamps
    // and negative times; several bucket widths incl. the width==bucket
    // boundary case
    val rows = (1 to 500).map { i =>
      val k = if (i <= 400) 0L else i.toLong % 2 + 1
      (i.toLong, k, rnd.nextInt(2000).toLong - 500, (rnd.nextInt(80) + 1) / 8.0)
    }
    val df = rows.toDF("id", "k", "t", "v")
    val width = 64L
    val plainT = Rolling.trailing(df, "k", "t", width, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getDouble(5)))).toMap
    val plainA = Rolling.anomalies(df, "k", "t", "v", widthUs = width, minObs = 3L, k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), if (r.isNullAt(5)) null else r.getBoolean(5)))).toMap
    for (bw <- Seq(64L, 100L, 1000L)) {
      Rolling.trailingBucketed(df, "k", "t", width, "v", bucketWidth = bw).collect()
        .map(r => r.getLong(0) -> ((r.getLong(4), r.getDouble(5)))).toMap shouldBe plainT
      Rolling.anomaliesBucketed(df, "k", "t", "v", widthUs = width, bucketWidth = bw,
          minObs = 3L, k = 2).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(4), if (r.isNullAt(5)) null else r.getBoolean(5)))).toMap shouldBe plainA
    }
    // the coverage invariant is enforced, not silently wrong
    an[IllegalArgumentException] should be thrownBy
      Rolling.trailingBucketed(df, "k", "t", width, "v", bucketWidth = width - 1)
  }

  test("bandJoin matches the brute-force theta join, including bucket boundaries") {
    val rnd = new scala.util.Random(42)
    // times clustered so bands actually overlap, plus exact-boundary cases
    val left = (1 to 200).map(i => (i.toLong % 5, rnd.nextInt(1000).toLong * 10))
      .toDF("k", "lt")
    val right = ((1 to 200).map(i => (i.toLong % 5, rnd.nextInt(1000).toLong * 10)) ++
      Seq((0L, 100L), (0L, 200L))) // |100-200| == gap exactly
      .toDF("k", "rt")
    val gap = 100L
    val banded = RangeJoin.bandJoin(left, right, Seq("k"), "lt", "rt", gap)
      .select("k", "lt", "rt").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val brute = left.join(right, Seq("k"))
      .filter(abs(col("lt") - col("rt")) <= gap)
      .select("k", "lt", "rt").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    banded should contain theSameElementsInOrderAs brute
  }

  test("resample: grid anchored to step multiples, forward fill from latest <= instant") {
    import graft.operators.Rolling
    val ev = Seq((1L, 3L, 1.0), (1L, 17L, 2.0), (1L, 35L, 3.0),
                 (2L, 41L, 9.0), (2L, 44L, 8.0)) // span < step → no grid rows
      .toDF("user_id", "tus", "value")
    val out = Rolling.resample(ev, "user_id", "tus", 10L, Seq("tus", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    out shouldBe Seq(
      (1L, 10L, 3L, 1.0),  // latest at-or-before 10 is t=3
      (1L, 20L, 17L, 2.0),
      (1L, 30L, 17L, 2.0)) // t=35 is after the instant → still t=17
  }

  test("basketLift: dedup before counting; lift detects positive/negative association") {
    import graft.operators.Behavior
    // 4 users: a+b always co-occur (lift 2); a+c never (no pair row);
    // u1 fires 'a' twice — dedup must count it once
    val ev = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
                 (3L, "c"), (4L, "c")).toDF("user_id", "event_type")
    val out = Behavior.basketLift(ev, "user_id", "event_type").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(5)))).toMap
    out.keySet shouldBe Set(("a", "b")) // a-c / b-c never co-occur
    out(("a", "b")) shouldBe ((2L, 2.0)) // both=2; lift = 2*4/(2*2) = 2
  }

  test("labelEntropy: zero for pure groups, ln(k) for uniform over k labels") {
    import graft.functions.Profile
    val df = (Seq.fill(6)((1L, "x")) ++ Seq((2L, "x"), (2L, "y"), (2L, "z")))
      .toDF("user_id", "event_type")
    val e = Profile.labelEntropy(df, "user_id", "event_type").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    e(1L) shouldBe ((6L, 0.0))                       // pure → H = 0
    e(2L)._2 shouldBe math.log(3.0) +- 1e-5          // uniform over 3
  }

  test("twap weights by holding time; mergeIntervals fuses overlaps including engulfed spans") {
    import graft.operators.Rolling
    // value 10 held for 9 units, value 1 held for 1, last obs weightless
    val ev = Seq((1L, 0L, 10.0, 100L), (1L, 9L, 1.0, 101L), (1L, 10L, 99.0, 102L))
      .toDF("user_id", "tus", "value", "event_id")
    val tw = Rolling.twap(ev, "user_id", "tus", "value", "event_id").collect().head
    tw.getLong(1) shouldBe 2 // two weighted observations
    tw.getDouble(2) shouldBe (10.0 * 9 + 1.0 * 1) / 10.0 +- 1e-12
    // islands: [0,10) ∪ [5,8) (engulfed) ∪ [9,12) → one island [0,12);
    // [20,25) separate. The engulfed interval must NOT split the island.
    val iv = Seq((1L, 0L, 10L), (1L, 5L, 8L), (1L, 9L, 12L), (1L, 20L, 25L))
      .toDF("user_id", "s0", "e0")
    val m = Rolling.mergeIntervals(iv, "user_id", "s0", "e0").collect().head
    m.getLong(1) shouldBe 2  // n_islands
    m.getLong(2) shouldBe 17 // (12-0) + (25-20)
  }

  test("funnel enforces strict step ordering; retention counts cohort-day activity once") {
    import graft.operators.Behavior
    val ev = Seq((1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
                 (2L, 1L, "purchase"), (2L, 2L, "view"), (2L, 5L, "click"),
                 (3L, 1L, "click")) // u3 never viewed → outside the funnel
      .toDF("user_id", "tus", "event_type")
    val f = Behavior.funnel(ev, Seq("view", "click", "purchase")).collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3))).toMap
    f(1) shouldBe ((2L, 1.0))
    f(2) shouldBe ((2L, 1.0)) // both clicked after their first view
    f(3)._1 shouldBe 1L       // u2's purchase PRECEDED the click → no convert
    f(3)._2 shouldBe 0.5
    val day = 86400000000L
    val rev = Seq((1L, 0L), (1L, day + 5L), (1L, day + 9L), // day1 counted once
                  (2L, 0L), (2L, 2L * day), (3L, day))
      .toDF("user_id", "tus")
    val r = Behavior.retention(rev).collect()
      .map(x => (x.getTimestamp(0).getTime / 86400000L, x.getInt(1), x.getLong(2))).toSet
    r shouldBe Set((0L, 0, 2L), (0L, 1, 1L), (0L, 2, 1L), (1L, 0, 1L))
  }

  test("pageRank: rank mass conserved, hub ranks highest, symmetric nodes tie") {
    import graft.operators.Graph
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    val pr = Graph.pageRank(pairs, "a", "b", iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pr.keySet shouldBe Set(1L, 2L, 3L, 4L)
    // symmetric undirected graph, no dangling mass → ranks sum to 1
    math.abs(pr.values.sum - 1.0) should be < 1e-9
    pr(3L) shouldBe pr.values.max // degree-3 hub
    pr(1L) shouldBe pr(2L) +- 1e-12 // isomorphic positions tie exactly
  }

  test("slidingChunks: stride starts, shortened tail, lossless stride reconstruction") {
    val docs = Seq((1L, (1 to 47).map(i => s"t$i").mkString(" ")),
                   (2L, "a b")).toDF("doc_id", "text")
    val out = Packing.slidingChunks(docs, 20, 15).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    d1.map(c => (c._3, c._4)) shouldBe Seq((1, 20), (16, 20), (31, 17))
    // overlap: chunk i shares its last (20-15)=5 tokens with chunk i+1's head
    d1(0)._5.split(" ").takeRight(5) shouldBe d1(1)._5.split(" ").take(5)
    // lossless: first `stride` tokens of each chunk + full tail = the doc
    val rebuilt = d1.init.flatMap(_._5.split(" ").take(15)) ++ d1.last._5.split(" ")
    rebuilt shouldBe (1 to 47).map(i => s"t$i")
    // short doc: one shortened chunk
    out.filter(_._1 == 2L).map(c => (c._2, c._3, c._4, c._5)) shouldBe Array((0, 1, 2, "a b"))
  }

  test("jaccardPrefixJoin equals brute-force all-pairs at the threshold (exact recall)") {
    val rnd3 = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    // clusters of mutated copies → plenty of pairs straddling 0.8
    val base = (0 until 12).map(_ => Seq.fill(20)(vocab(rnd3.nextInt(vocab.size))))
    val docs = (0 until 60).map { i =>
      val b = base(i % 12)
      val mut = b.map(t => if (rnd3.nextInt(10) == 0) vocab(rnd3.nextInt(vocab.size)) else t)
      (i.toLong, mut.mkString(" "))
    }
    val out = graft.operators.Dedup.jaccardPrefixJoin(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def shingles(s: String): Set[String] =
      s.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    // identical shingle sets collapse to their min-id representative
    val groups = docs.map { case (i, t) => (i, shingles(t)) }
      .groupBy(_._2).map { case (st, ms) => (ms.map(_._1).min, ms.size.toLong, st) }.toSeq
    val brute = (for {
      Seq((ia, ma, sa), (ib, mb, sb)) <- groups.sortBy(_._1).combinations(2)
      inter = (sa intersect sb).size
      if 5 * inter >= 4 * (sa.size + sb.size - inter)
    } yield (math.min(ia, ib), math.max(ia, ib),
             if (ia < ib) ma else mb, if (ia < ib) mb else ma)).toSet
    out shouldBe brute
    brute.size should be > 0 // the plant actually produced threshold pairs
  }

  test("editDistancePairs: pigeonhole recall is exact for Hamming <= d; no false positives") {
    val alpha = "ab" // tiny alphabet forces many near pairs
    val rnd2 = new scala.util.Random(7)
    val strs = (0 until 120).map { i =>
      val len = 6 + rnd2.nextInt(3)
      (i.toLong, (0 until len).map(_ => alpha(rnd2.nextInt(alpha.length))).mkString)
    }
    val d = 2
    val out = Dedup.editDistancePairs(strs.toDF("id", "s"), "id", "s",
        maxDist = d, maxBlock = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    // completeness: every same-length pair within Hamming d MUST be found
    for (Seq((ia, sa), (ib, sb)) <- strs.combinations(2) if sa.length == sb.length) {
      val ham = sa.zip(sb).count { case (x, y) => x != y }
      if (ham <= d)
        assert(out.exists(p => p._1 == math.min(ia, ib) && p._2 == math.max(ia, ib)),
          s"missed Hamming-$ham pair ($ia,$ib): $sa / $sb")
    }
    // soundness: every reported pair really is within levenshtein d
    for ((a, b, dist) <- out) {
      val sa = strs(a.toInt)._2; val sb = strs(b.toInt)._2
      lev(sa, sb) shouldBe dist
      dist should be <= d
    }
  }

  test("triangleCounts: K4 has 4 triangles (3 per vertex); a path has none; hub star has none") {
    import spark.implicits._
    import graft.operators.Graph
    val k4 = (for (a <- 1 to 4; b <- (a + 1) to 4) yield (a.toLong, b.toLong)).toDF("x", "y")
    val got = Graph.triangleCounts(k4, "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.map(_._3).distinct shouldBe Array(4L)
    got.map(t => t._1 -> t._2).toMap shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    // path 1-2-3-4: wedges exist, no closures
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    Graph.triangleCounts(path, "x", "y").count() shouldBe 0L
    // Zipf-hub star (the orientation's reason to exist): no triangles,
    // and every edge points INTO the hub so wedge fan-out stays 0
    val star = (2 to 40).map(i => (1L, i.toLong)).toDF("x", "y")
    Graph.triangleCounts(star, "x", "y").count() shouldBe 0L
  }

  test("triangleCounts matches brute-force enumeration on a random graph") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = edges.toSet
    def linked(a: Long, b: Long) = adj((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val brute = (for {
      Seq(a, b, c) <- nodes.combinations(3)
      if linked(a, b) && linked(a, c) && linked(b, c)
    } yield Seq(a, b, c)).toSeq
    val perNode = brute.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.triangleCounts(edges.toDF("x", "y"), "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (brute.nonEmpty) {
      got.map(_._3).distinct shouldBe Array(brute.size.toLong)
      got.map(t => t._1 -> t._2).toMap shouldBe perNode
    } else got.length shouldBe 0
  }

  test("scd2 compresses runs, stitches valid_to, leaves the current row open") {
    import spark.implicits._
    import graft.operators.Rolling
    val log = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "A"),                       // A returns → NEW period
      (2L, 10L, 5L, "X"))
      .toDF("k", "t", "id", "v")
    val got = Rolling.scd2(log, "k", "t", "v", tieCols = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    got shouldBe Set(
      (1L, "A", 10L, 30L, 2L, 1L),
      (1L, "B", 30L, 40L, 1L, 2L),
      (1L, "A", 40L, -1L, 1L, 3L),
      (2L, "X", 10L, -1L, 1L, 1L))
  }

  test("scd2 tie-break makes equal-timestamp boundaries deterministic") {
    import spark.implicits._
    import graft.operators.Rolling
    // two rows at t=10 with different values: id order decides the runs
    val log = Seq((1L, 10L, 1L, "A"), (1L, 10L, 2L, "B"), (1L, 20L, 3L, "B"))
      .toDF("k", "t", "id", "v")
    val got = Rolling.scd2(log, "k", "t", "v", tieCols = Seq("id"))
      .collect().map(r => (r.getString(1), r.getLong(4), r.getLong(5))).toSet
    got shouldBe Set(("A", 1L, 1L), ("B", 2L, 2L))
  }

  test("intervalJoin equals the brute-force BETWEEN join across buckets and negative times") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (1 to 200).map(i =>
      (1L + rnd.nextInt(4), rnd.nextLong() % 1000, i.toLong))
    val ivs = (1 to 60).map { j =>
      val s = rnd.nextLong() % 1000
      (1L + rnd.nextInt(4), s, s + rnd.nextInt(300), j.toLong)
    }
    val got = RangeJoin.intervalJoin(
        pts.toDF("k", "t", "pid"), ivs.toDF("k", "s", "e", "iid"),
        Seq("k"), "t", "s", "e", bucket = 50L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val want = (for {
      (pk, t, pid) <- pts; (ik, s, e, iid) <- ivs
      if pk == ik && s <= t && t <= e
    } yield (pid, iid)).toSet
    got shouldBe want
    want should not be empty
    // the over-budget path (sort-merge instead of broadcast) pairs
    // identically — the strategy switch must never change results
    val gotMerge = RangeJoin.intervalJoin(
        pts.toDF("k", "t", "pid"), ivs.toDF("k", "s", "e", "iid"),
        Seq("k"), "t", "s", "e", bucket = 50L, broadcastMaxCells = 0L)
    gotMerge.queryExecution.executedPlan.toString should include("SortMergeJoin")
    gotMerge.select("pid", "iid").as[(Long, Long)].collect().toSet shouldBe want
  }

  test("intervalJoin fails loudly on inverted intervals and pathological spans") {
    import spark.implicits._
    val pts = Seq((1L, 10L, 1L)).toDF("k", "t", "pid")
    val inverted = Seq((1L, 10L, 5L, 1L)).toDF("k", "s", "e", "iid")
    an[Exception] should be thrownBy
      RangeJoin.intervalJoin(pts, inverted, Seq("k"), "t", "s", "e", 50L).collect()
    val huge = Seq((1L, 0L, 1000L, 1L)).toDF("k", "s", "e", "iid")
    an[Exception] should be thrownBy
      RangeJoin.intervalJoin(pts, huge, Seq("k"), "t", "s", "e", 50L,
        maxSpanBuckets = 2).collect()
    // the same span under the default cap joins fine
    RangeJoin.intervalJoin(pts, huge, Seq("k"), "t", "s", "e", 50L)
      .count() shouldBe 1L
  }

  test("intervalJoin broadcast gate counts exploded cells, not raw intervals") {
    import spark.implicits._
    val pts = Seq((1L, 5L, 1L)).toDF("k", "t", "pid")
    // ONE interval, but ~1000 cells at bucket=50 — the forced broadcast
    // pins the EXPLODED frame, so the gate must see cells, not rows
    val wide = Seq((1L, 0L, 50000L, 1L)).toDF("k", "s", "e", "iid")
    val demoted = RangeJoin.intervalJoin(pts, wide, Seq("k"), "t", "s", "e", 50L,
        broadcastMaxCells = 100L)
      .queryExecution.sparkPlan.toString
    (demoted should not).include("BroadcastHashJoin")
    val narrow = Seq((1L, 0L, 100L, 1L)).toDF("k", "s", "e", "iid")
    val kept = RangeJoin.intervalJoin(pts, narrow, Seq("k"), "t", "s", "e", 50L,
        broadcastMaxCells = 100L)
      .queryExecution.sparkPlan.toString
    kept should include("BroadcastHashJoin")
  }

  test("transitions: ordered step counts, tie-broken successors, per-state normalization") {
    import spark.implicits._
    import graft.operators.Behavior
    // user 1: A→B→B→C; user 2: A→C where both rows share t=10 (id order decides)
    val ev = Seq(
      (1L, 1L, 10L, "A"), (1L, 2L, 20L, "B"), (1L, 3L, 30L, "B"), (1L, 4L, 40L, "C"),
      (2L, 5L, 10L, "A"), (2L, 6L, 10L, "C"))
      .toDF("user_id", "event_id", "tus", "event_type")
    val got = Behavior.transitions(ev, "user_id", "tus", "event_type", Seq("event_id"))
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    got shouldBe Map(
      ("A", "B") -> (1L, 0.5), ("A", "C") -> (1L, 0.5),
      ("B", "B") -> (1L, 0.5), ("B", "C") -> (1L, 0.5))
  }

  test("removalEffect: load-bearing channel gets RE=1, dead-end gets RE=0, partial path in between") {
    import spark.implicits._
    import graft.operators.Behavior
    // u1/u2: view→click→purchase; u3: view→error (no conv);
    // u4: click→purchase; u5: error only (no conv).
    // Chain: every conversion flows through click → RE(click)=1;
    // error is a dead end off converting paths → RE(error)=0;
    // view feeds 2 of 3 conversions → RE(view)=1−0.2/0.6=2/3.
    val ev = Seq(
      (1L, 1L, 10L, "view", 0.0), (1L, 2L, 20L, "click", 0.0), (1L, 3L, 30L, "purchase", 10.0),
      (2L, 4L, 10L, "view", 0.0), (2L, 5L, 20L, "click", 0.0), (2L, 6L, 30L, "purchase", 20.0),
      (3L, 7L, 10L, "view", 0.0), (3L, 8L, 20L, "error", 0.0),
      (4L, 9L, 10L, "click", 0.0), (4L, 10L, 20L, "purchase", 30.0),
      (5L, 11L, 10L, "error", 0.0)
    ).toDF("user_id", "event_id", "tus", "event_type", "value")
    val out = Behavior.removalEffect(ev, "user_id", "tus", "event_type",
        "purchase", "value", tieCols = Seq("event_id"), rounds = 16)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    out.keySet shouldBe Set("view", "click", "error")
    out("click")._1 shouldBe 1.0
    out("error")._1 shouldBe 0.0
    out("view")._1 shouldBe (2.0 / 3.0) +- 1e-6
    // shares: click 1/(5/3)=0.6, view 0.4, error 0; value pool = 60
    out("click")._2 shouldBe 0.6 +- 1e-6
    out("view")._2 shouldBe 0.4 +- 1e-6
    out("error")._2 shouldBe 0.0
    out("click")._3 shouldBe 36.0 +- 1e-4
    out("view")._3 shouldBe 24.0 +- 1e-4
    // a conversion-only user (no channels) contributes START→CONV and
    // its value, shifting no channel's effect ordering
    val ev2 = ev.unionByName(Seq((6L, 12L, 10L, "purchase", 40.0))
      .toDF("user_id", "event_id", "tus", "event_type", "value"))
    val out2 = Behavior.removalEffect(ev2, "user_id", "tus", "event_type",
        "purchase", "value", tieCols = Seq("event_id"), rounds = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    out2("error") shouldBe 0.0
    out2("click") should be < 1.0 // the direct conversion survives click removal
    out2("click") should be > out2("view")
  }

  test("hotKeyProbe measures a planted hot key and flips the bucketed verdict at the threshold") {
    import spark.implicits._
    import graft.operators.Behavior
    // 100-row bot key planted among 20 5-row humans
    val rows = (1 to 100).map(i => ("bot", i.toLong)) ++
      (1 to 20).flatMap(u => (1 to 5).map(i => (s"u$u", i.toLong)))
    val df = rows.toDF("user_id", "x")
    val r = Behavior.hotKeyProbe(df, "user_id", bucketThreshold = 50L).collect().head
    r.getLong(0) shouldBe 200L   // n_rows
    r.getLong(1) shouldBe 21L    // n_keys
    r.getLong(2) shouldBe 100L   // max_key_rows = the bot
    r.getDouble(3) shouldBe 0.5 +- 1e-9
    r.getBoolean(4) shouldBe true
    // a threshold above the hottest key clears the verdict
    Behavior.hotKeyProbe(df, "user_id", bucketThreshold = 200L)
      .collect().head.getBoolean(4) shouldBe false
  }

  test("removalEffect refuses loudly when no conversion mass reaches __START__") {
    import spark.implicits._
    import graft.operators.Behavior
    // journeys that never convert: ufV would be 0 and every share 0/0
    val ev = Seq(
      (1L, 1L, 10L, "view", 0.0), (1L, 2L, 20L, "error", 0.0),
      (2L, 3L, 10L, "view", 0.0)
    ).toDF("user_id", "event_id", "tus", "event_type", "value")
    val ex = intercept[IllegalArgumentException] {
      Behavior.removalEffect(ev, "user_id", "tus", "event_type",
        "purchase", "value", tieCols = Seq("event_id"), rounds = 16).collect()
    }
    ex.getMessage should include("zero conversion mass")
  }

  test("diffSnapshots classifies added/removed/changed/same; null payloads compare null-safe") {
    import spark.implicits._
    import graft.operators.Upsert
    val old = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (5L, null, 5.0))
      .toDF("k", "s", "v")
    val neu = Seq((1L, "a", 1.0), (2L, "B", 2.0), (4L, "d", 4.0), (5L, null, 5.0))
      .toDF("k", "s", "v")
    val got = Upsert.diffSnapshots(old, neu, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe Map(1L -> "same", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "same")
    Upsert.diffSnapshots(old, neu, "k", keepSame = false)
      .collect().map(_.getLong(0)).toSet shouldBe Set(2L, 3L, 4L)
    // a duplicated key is not a snapshot — the in-plan guard raises
    // on the action (fused raise_error, no separate probe job)
    val dup = Seq((1L, "a", 1.0), (1L, "a2", 1.5)).toDF("k", "s", "v")
    val ex = intercept[Exception] {
      Upsert.diffSnapshots(dup, neu, "k").collect()
    }
    ex.getMessage should include("duplicate key")
  }

  test("histogram: exact floor bins including negatives, occupied bins only") {
    import spark.implicits._
    import graft.functions.Profile
    val df = Seq(("a", -5L), ("a", 0L), ("a", 9L), ("a", 10L), ("b", 25L))
      .toDF("g", "v")
    val got = Profile.histogram(df, "g", "v", 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    got shouldBe Set(("a", -1L, -10L, 1L), ("a", 0L, 0L, 2L),
      ("a", 1L, 10L, 1L), ("b", 2L, 20L, 1L))
  }

  test("paretoFront2 equals brute-force dominance on random points with duplicates") {
    import spark.implicits._
    import graft.functions.Profile
    val rnd = new scala.util.Random(11)
    val pts = (1 to 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val got = Profile.paretoFront2(pts.toDF("x", "y"), "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val distinct = pts.distinct
    val want = distinct.filterNot { case (x, y) =>
      distinct.exists { case (qx, qy) =>
        qx >= x && qy >= y && (qx > x || qy > y) }
    }.map { case (x, y) => (x, y, pts.count(_ == (x, y)).toLong) }.toSet
    got shouldBe want
    want should not be empty
  }

  test("wma equals the brute-force linear-decay weighted mean on random data") {
    import spark.implicits._
    import graft.operators.Rolling
    val rnd = new scala.util.Random(13)
    val k = 4
    val rows = (1 to 120).map(i =>
      (1L + rnd.nextInt(3), i.toLong, rnd.nextDouble() * 200 - 100, i.toLong))
    val got = Rolling.wma(rows.toDF("key", "t", "v", "id"), "key", "t", "v", "id", k)
      .collect().map(r => (r.getLong(3), r.getDouble(4))).toMap
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(r => (r._2, r._4))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - k + 1), i + 1)
        val m = frame.size
        val num = frame.zipWithIndex.map { case (r, j) =>
          val w = k - (m - 1 - j) // newest weights k
          BigInt(w) * BigInt(math.floor(r._3 * 1000000L + 0.5).toLong)
        }.sum
        val wsum = m.toLong * k - m.toLong * (m - 1) / 2
        val want = BigDecimal(num.toDouble / wsum.toDouble / 1000000.0)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        got(sorted(i)._4) shouldBe want
      }
    }
  }

  test("imageSignatures matches an independent per-pixel reference; dups collide, flat images are zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 8),
      (2L, "the quick brown fox jumps over the lazy dog " * 8), // exact dup
      (3L, "z" * 97),                                           // flat image: no block above mean
      (4L, ("a" * 200) + ("~" * 123))                           // two-tone
    ).toDF("doc_id", "text")
    val got = Multimodal.imageSignatures(Multimodal.withImagePayload(docs))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    got(1L) shouldBe got(2L)
    got(3L)._3 shouldBe 0L
    // independent reference: re-derive each signature from the raw
    // payload bytes with plain ImageIO + scalar arithmetic
    docs.collect().foreach { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      val n = bytes.length
      val (w, h) = (n % 320 + 1, n % 240 + 1)
      val pix = Array.tabulate(w * h)(i => bytes(i % n).toInt & 0xff)
      val bsum = new Array[Long](16); val bn = new Array[Long](16)
      pix.indices.foreach { p =>
        val blk = (p / w * 4 / h) * 4 + (p % w * 4 / w)
        bsum(blk) += pix(p); bn(blk) += 1
      }
      val gsum = pix.map(_.toLong).sum
      val want = (0 until 16).map { b =>
        if (bsum(b) * pix.length > gsum * bn(b)) 1L << b else 0L
      }.sum
      got(r.getLong(0)) shouldBe ((w, h, want))
    }
  }

  test("sourceMinhashMatrix: identical sources estimate 1.0, disjoint sources 0.0") {
    import spark.implicits._
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val docs = Seq(
      (1L, shared, "a"), (2L, shared, "b"), // a and b hold the same grams
      (3L, other, "c")                      // c shares nothing
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceMinhashMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    got(("a", "b")) shouldBe 1.0
    got(("a", "c")) shouldBe 0.0
    got(("b", "c")) shouldBe 0.0
  }

  test("containmentJoin finds a short doc embedded in a long one that Jaccard ranks near zero") {
    import spark.implicits._
    val words = (1 to 120).map(i => s"w$i")
    val big = words.mkString(" ")
    val small = words.slice(40, 52).mkString(" ") // 12 words ⊂ big
    val noise = (1 to 5).map(i => (10L + i, (1 to 30).map(j => s"n${i}_$j").mkString(" ")))
    val docs = (Seq((1L, big), (2L, small)) ++ noise).toDF("doc_id", "text")
    val cont = Dedup.containmentJoin(docs, tNum = 9, tDen = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    cont.keySet shouldBe Set((1L, 2L))
    cont((1L, 2L)) shouldBe 1.0 // every small-doc trigram appears in big
    // Jaccard on the same corpus scores the pair far below containment
    val jac = Dedup.ngramJaccard(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    jac((1L, 2L)) should be < 0.15
  }

  test("intervalOverlapJoin matches brute force with each pair emitted exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // random spans incl. negative times, widths 0..~3 buckets at bucket=16
    val spans = (1 to 120).map { i =>
      val s = rnd.nextInt(400) - 200L
      (s"k${i % 4}", i.toLong, s, s + rnd.nextInt(50))
    }
    val l = spans.toDF("k", "id_a", "s_a", "e_a")
    val r = spans.map { case (k, i, s, e) => (k, i, s, e) }.toDF("k", "id_b", "s_b", "e_b")
    val out = RangeJoin.intervalOverlapJoin(l, r, Seq("k"),
        "s_a", "e_a", "s_b", "e_b", bucket = 16L)
      .filter(col("id_a") < col("id_b"))
      .select("k", "id_a", "id_b")
      .collect().map(row => (row.getString(0), row.getLong(1), row.getLong(2)))
    val expected = for {
      a <- spans; b <- spans
      if a._1 == b._1 && a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._1, a._2, b._2)
    out.sorted shouldBe expected.sorted        // exact pair set...
    out.length shouldBe out.distinct.length    // ...each emitted once, no dedup pass
  }

  test("intervalOverlapJoin refuses degenerate and runaway spans loudly") {
    import spark.implicits._
    val l = Seq(("k", 1L, 10L, 5L)).toDF("k", "id_a", "s_a", "e_a") // end < start
    val r = Seq(("k", 2L, 0L, 1L)).toDF("k", "id_b", "s_b", "e_b")
    val ex = intercept[Exception] {
      RangeJoin.intervalOverlapJoin(l, r, Seq("k"), "s_a", "e_a", "s_b", "e_b", 16L).collect()
    }
    ex.getMessage should include("end < start")
  }

  test("rrfFuse fuses ranked lists by exact reciprocal-rank integers") {
    import graft.operators.Similarity
    val l1 = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val l2 = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(l1, l2), "id", "rank", kRrf = 60, topK = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    def t(r: Int) = 1000000000L / (60 + r)
    out(20L) shouldBe ((t(2) + t(1), 2L, 1))  // in both lists: fused first
    out(10L) shouldBe ((t(1), 1L, 2))
    out(40L) shouldBe ((t(2), 1L, 3))
    out(30L) shouldBe ((t(3), 1L, 4))
  }

  test("bloomFilteredJoin equals the plain join, prunes in-plan, and refuses unsound types") {
    import graft.operators.BloomJoin
    // parquet-backed fact: a local relation would eager-evaluate the
    // bloom predicate (ConvertToLocalRelation) and hide it from the plan
    val fdir = java.nio.file.Files.createTempDirectory("graft_bloomjoin_").toString
    (1 to 2000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
      .write.mode("overwrite").parquet(fdir)
    val fact = spark.read.parquet(fdir)
    val dim = Seq((3L, "a"), (11L, "b"), (96L, "c")).toDF("k", "tag")
    val out = BloomJoin.bloomFilteredJoin(fact, dim, Seq("k"), expectedDimKeys = 10)
    canon(out) shouldBe canon(fact.join(dim, Seq("k"), "inner"))
    // the bloom predicate sits in the fact side of the physical plan
    out.queryExecution.executedPlan.toString should include("might_contain")
    // left_semi sound, outer refused
    canon(BloomJoin.bloomFilteredJoin(fact, dim, Seq("k"), "left_semi",
      expectedDimKeys = 10)) shouldBe canon(fact.join(dim, Seq("k"), "left_semi"))
    intercept[IllegalArgumentException] {
      BloomJoin.bloomFilteredJoin(fact, dim, Seq("k"), "left_outer")
    }.getMessage should include("unmatched fact rows")
    // empty dim: inner join is exactly empty (no NPE on a null bloom)
    BloomJoin.bloomFilteredJoin(fact, dim.limit(0), Seq("k"),
      expectedDimKeys = 10).count() shouldBe 0L
  }

}
