package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, SkewJoin}
import graft.functions.{TextFunctions => T}

/** Randomized equivalence checks (seeded, deterministic): each operator
  * against a brute-force reference implementation on random inputs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(421)

  test("saltedEquiJoin is row-for-row equivalent to the plain join on random data") {
    for (_ <- 1 to 5) {
      val ls = Seq.fill(rnd.nextInt(12) + 1)((rnd.nextInt(6).toLong, rnd.nextInt(100)))
      val rs = Seq.fill(rnd.nextInt(12) + 1)((rnd.nextInt(6).toLong, rnd.nextInt(100).toString))
      val nsalts = rnd.nextInt(5) + 1
      // random threshold: exercises all-cold, all-hot, and mixed splits
      val hotThreshold = rnd.nextInt(4) + 1L
      val l = ls.toDF("k", "lv")
      val r = rs.toDF("rk", "rv")
      canon(SkewJoin.saltedEquiJoin(l, r, "k", "rk", nsalts,
        hotThreshold = hotThreshold)) shouldBe
        canon(l.join(r, l("k") === r("rk")))
      canon(SkewJoin.saltedEquiJoin(l, r, "k", "rk", nsalts, how = "left",
        hotThreshold = hotThreshold)) shouldBe
        canon(l.join(r, l("k") === r("rk"), "left"))
    }
  }

  test("asofJoin equals the brute-force latest-at-or-before on random data") {
    for (_ <- 1 to 5) {
      // unique (key, time) per side: duplicate right times make "the"
      // latest row ill-defined for any implementation
      val ls = Seq.fill(rnd.nextInt(15) + 1)((rnd.nextInt(4).toLong, rnd.nextInt(50).toLong)).distinct
      val rs = Seq.fill(rnd.nextInt(15) + 1)((rnd.nextInt(4).toLong, rnd.nextInt(50).toLong))
        .distinctBy(identity)
      val l = ls.toDF("k", "t")
      val r = rs.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "rt", "pay")
      val got = AsofJoin.asofJoin(l, r, "k", "t", "rt", Seq("rt", "pay")).collect()
        .map(x => ((x.getLong(0), x.getLong(1)),
          if (x.isNullAt(2)) None else Some((x.getLong(2), x.getLong(3))))).toMap
      val expected = ls.map { case (k, t) =>
        val cand = rs.zipWithIndex.filter { case ((rk, rt), _) => rk == k && rt <= t }
        (k, t) -> cand.sortBy { case ((_, rt), _) => rt }.lastOption
          .map { case ((_, rt), i) => (rt, i.toLong) }
      }.toMap
      got shouldBe expected
    }
  }

  test("components equals brute-force union-find on random graphs") {
    import graft.operators.Dedup
    for (_ <- 1 to 4) {
      val n = rnd.nextInt(20) + 2
      val edges = Seq.fill(rnd.nextInt(25) + 1)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // canonical label = min node of each component
        val expected = nodes.map(v => v -> find(v)).toMap
        // adaptive small-graph (driver union-find) path...
        val local = Dedup.components(edges.toDF("doc_a", "doc_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        local shouldBe expected
        // ...and the distributed label-propagation path must agree
        val dist = withDriverRows(0)(Dedup.components(edges.toDF("doc_a", "doc_b")).collect())
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        dist shouldBe expected
      }
    }
  }

  test("chunkDedup equals the brute-force first-occurrence scan on random corpora") {
    import graft.operators.Dedup
    val vocab = Seq("a", "b", "c", "d")
    for (_ <- 1 to 4) {
      val c = rnd.nextInt(4) + 1 // includes c=1: word-level dedup
      // tiny vocab + short chunks → plenty of chunk collisions
      val corpus = (0L until (rnd.nextInt(10) + 3).toLong).map(i =>
        (i, Seq.fill(rnd.nextInt(12) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      // brute force: global first-occurrence in (doc_id, pos) order
      val seen = scala.collection.mutable.Set[String]()
      val expected = corpus.map { case (id, text) =>
        val chunks = text.split(" ").grouped(c).map(_.mkString(" ")).toSeq
        val kept = chunks.filter(ch => seen.add(ch))
        id -> ((chunks.size, kept.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.chunkDedup(corpus.toDF("doc_id", "text"), chunkTokens = c).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
      got shouldBe expected
    }
  }

  test("decontaminate equals the brute-force distinct-overlap count on random corpora") {
    import graft.operators.Dedup
    val vocab = Seq("x", "y", "z")
    def doc(): String =
      Seq.fill(rnd.nextInt(8) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (_ <- 1 to 4) {
      val n = rnd.nextInt(2) + 2
      val evalDocs = (0L until 3L).map(i => (i, doc()))
      val trainDocs = (10L until (10L + rnd.nextInt(8) + 2).toLong).map(i => (i, doc()))
      def grams(t: String): Set[String] = {
        val w = t.split(" ").toSeq
        if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
      }
      val evGrams = evalDocs.flatMap(d => grams(d._2)).toSet
      val expected = trainDocs.map { case (id, t) =>
        val hits = (grams(t) & evGrams).size.toLong
        id -> ((hits, hits > 0))
      }.toMap
      val got = Dedup.decontaminate(
        trainDocs.toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"), n = n).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      got shouldBe expected
    }
  }

  test("dedupAgainst equals the brute-force token-set membership on random corpora") {
    import graft.operators.Dedup
    val vocab = Seq("p", "q", "r")
    def doc(): String =
      Seq.fill(rnd.nextInt(5) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (_ <- 1 to 4) {
      val corpus = (0L until (rnd.nextInt(6) + 2).toLong).map(i => (i, doc()))
      val batch = (100L until (100L + rnd.nextInt(6) + 2).toLong).map(i => (i, doc()))
      def key(t: String): String = t.split(" ").distinct.sorted.mkString(" ")
      val corpusKeys = corpus.map(d => key(d._2)).toSet
      val expected = batch.map { case (id, t) => id -> !corpusKeys.contains(key(t)) }.toMap
      val got = Dedup.dedupAgainst(
        batch.toDF("doc_id", "text"), corpus.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("is_new"))).toMap
      got shouldBe expected
    }
  }

  test("semanticDedup equals brute-force bucket+threshold+union-find on random vectors") {
    import graft.operators.Dedup
    import graft.functions.Hashing
    for (trial <- 1 to 3) {
      val dim = 6
      val n = rnd.nextInt(25) + 10
      // half the vectors get a near-twin so thresholds actually bite
      val base = (0L until n.toLong).map(i => i -> Seq.fill(dim)(rnd.nextGaussian().toFloat))
      val twins = base.take(n / 2).map { case (i, v) =>
        (i + 1000L) -> v.updated(0, v.head + 0.01f)
      }
      val vecs = (base ++ twins).toDF("vec_id", "embedding")
      val nbits = 2; val minCos = 0.8
      // reference: buckets via the HOF executable spec, exact cosine,
      // threshold, then union-find over qualifying pairs
      val bucketOf = vecs.select(col("vec_id"),
          Hashing.hyperplaneBucketHof(col("embedding"), nbits, dim).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val all = (base ++ twins)
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val (d0, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
          case ((d, x, y), (ai, bi)) => (d + ai * bi, x + ai * ai, y + bi * bi) }
        d0 / (math.sqrt(na) * math.sqrt(nb))
      }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for {
        (ia, va) <- all; (ib, vb) <- all
        if ia < ib && bucketOf(ia) == bucketOf(ib) && cos(va, vb) >= minCos
      } {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = all.map { case (i, _) => i -> (find(i) == i) }.toMap
      val got = Dedup.semanticDedup(vecs, minCos, nbits, dim, cap = 1000)
        .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
      withClue(s"trial $trial: ")(got shouldBe expected)
    }
  }

  test("spanDedup equals a brute-force first-occurrence span scan on random corpora") {
    import graft.operators.Dedup
    val vocab = Seq("a", "b", "c", "d")   // tiny vocab → dense k-gram collisions
    for (trial <- 1 to 4) {
      val k = rnd.nextInt(3) + 2  // 2..4
      val corpus = (0L until (rnd.nextInt(8) + 4).toLong).map { id =>
        (id, Seq.fill(rnd.nextInt(15) + 1)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // brute force: walk docs in id order, global first-seen gram set,
      // later occurrences mark [p, p+k) for removal
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = corpus.map { case (id, text) =>
        val w = text.split(" ")
        val rm = scala.collection.mutable.Set.empty[Int]
        for (p <- 0 to w.length - k) {
          val g = w.slice(p, p + k).mkString(" ")
          if (seen.contains(g)) (p until p + k).foreach(rm += _)
          else seen += g
        }
        val kept = w.indices.filterNot(rm).map(w)
        id -> ((w.length.toLong, rm.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.spanDedup(corpus.toDF("doc_id", "text"), k = k).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      withClue(s"trial $trial k=$k: ")(got shouldBe expected)
    }
  }

  test("wordNGrams emits exactly the consecutive joined token windows") {
    val vocab = Seq("a", "bb", "ccc", "d1", "e")
    for (_ <- 1 to 8) {
      val toks = Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
      val n = rnd.nextInt(4) + 1
      val got = Seq(toks).toDF("w")
        .select(T.wordNGrams(col("w"), n)).as[Seq[String]].head()
      val expected = if (toks.length < n) Nil else toks.sliding(n).map(_.mkString(" ")).toSeq
      got shouldBe expected
    }
  }
}
