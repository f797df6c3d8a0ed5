package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sizing.rebalance

/** Byte-pair-encoding tokenizer (SURVEY.md §2 #38's tokenizer-faithful
  * variant): a REAL merges-table BPE, not a whitespace/regex estimate,
  * so packing capacities (q45/q62) can be denominated in tokens an
  * actual tokenizer would produce.
  *
  * The merges table is SELF-GENERATED: [[learnMerges]] is the classic
  * BPE learning loop (count adjacent symbol pairs over the word corpus,
  * merge the most frequent, repeat) run on [[SeedText]] — a paragraph
  * authored for this repo — and [[Merges]] is its pasted output (a unit
  * test re-learns and asserts equality, so the constant can never drift
  * from the generator). No external vocabulary file is involved.
  *
  * Encoding applies merges rank by rank, repeating each rank until it
  * no longer applies. For merges produced by BPE learning this is
  * equivalent to the textbook "merge the lowest-ranked pair present"
  * loop: a merge's operands are built by strictly earlier merges, and
  * merging two symbols can never make two OLD symbols newly adjacent,
  * so once rank r stops applying it can never apply again. The
  * rank-by-rank form is what a recursive-CTE SQL oracle can express —
  * DuckDB replays the identical algorithm (string replace on
  * space-delimited symbols) and hash-verifies the whole pipeline.
  */
object Bpe {

  /** Seed corpus for merge learning — authored here, public by
    * construction. Phrases repeat deliberately so the learner has
    * frequency structure to latch onto.
    */
  val SeedText: String =
    """the engine reads the data and the engine shuffles the data
       the partitions hold the rows and the partitions spill never
       a query plans the scan and a query prunes the columns
       the broadcast joins the small side and the shuffle joins the large side
       streaming state stays bounded and streaming windows close cleanly
       the tokens pack the context window and the documents fill the shards
       hashing keys the groups and hashing splits the train set
       the cluster scales the reads and the cluster holds the shuffles"""

  /** Classic BPE learning: init every word as characters, then `n`
    * rounds of (count adjacent pairs with word multiplicity, merge the
    * most frequent everywhere). Ties break deterministically on the
    * lexicographically largest pair. Returns the ordered merge list.
    */
  def learnMerges(text: String, n: Int): Seq[(String, String)] = {
    var corpus: Map[Vector[String], Int] =
      text.toLowerCase.trim.split("\\s+").toSeq
        .groupBy(w => w.map(_.toString).toVector)
        .view.mapValues(_.size).toMap
    val out = Vector.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < n && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Int]
      for ((toks, c) <- corpus; j <- 0 until toks.size - 1)
        pairCounts.updateWith((toks(j), toks(j + 1)))(v => Some(v.getOrElse(0) + c))
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.maxBy { case (p, c) => (c, p) }._1
        out += best
        corpus = corpus.groupMapReduce { case (toks, _) => mergePair(toks, best) }(_._2)(_ + _)
        i += 1
      }
    }
    out.result()
  }

  /** DISTRIBUTED BPE merge learning — [[learnMerges]] scaled off the
    * driver: the corpus collapses once to a (word, count) vocabulary
    * (the Zipf collapse that makes corpus-scale BPE training tractable
    * — rounds then cost vocabulary, not corpus), and each round counts
    * adjacent symbol pairs with word multiplicity in ONE partial agg,
    * picks the most frequent pair (ties to the binary-largest pair —
    * the [[learnMerges]] convention, identical for ASCII; UTF8-binary
    * order on both engines beyond it), and applies the merge to every
    * word. Returns the ordered merge table (rank, sym_a, sym_b,
    * pair_count) — the model artifact, one collected row per round.
    *
    * Scale shape: pair counting is explode + map-side-combining agg
    * over the vocab; the argmax is a 1-row limit over the pair table
    * (WindowGroupLimit-free: a global sort of the PAIR VOCABULARY,
    * bounded by distinct adjacent pairs); the merge application is a
    * per-row [[mergePair]] fixpoint (the q63-verified equivalence with
    * the oracle's replace-until-fixpoint recursion) via a typed map —
    * vocabulary-sized, imperative by nature. Each round
    * `localCheckpoint`s the vocab: round k reads (vocab_{k-1}) only,
    * never re-executes history (the streamAggState lineage rule).
    * Merging never makes two distinct words' symbol sequences
    * collide (concatenation is invariant), so the vocab never needs
    * re-aggregation.
    */
  def learnMergesDistributed(docs: DataFrame, nMerges: Int = 6,
                             textCol: String = "text"): DataFrame = {
    require(nMerges >= 1 && nMerges <= 256, s"nMerges out of range: $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(split(col("word"), "").as("syms"), col("cnt"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      // single-symbol words carry no pairs (and sequence(0,-1) would
      // walk DESCENDING into an ANSI index error)
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i+1] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a").desc, col("b").desc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        rank += 1
        val (ba, bb, c) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        out += ((rank, ba, bb, c))
        val pair = (ba, bb)
        vocab = vocab.as[(Seq[String], Long)].map { case (syms, cnt) =>
          var v = syms.toVector
          var prev: Vector[String] = null
          while (prev != v) { prev = v; v = mergePair(v, pair) }
          (v, cnt)
        }.toDF("syms", "cnt").localCheckpoint()
      }
    }
    out.toSeq.toDF("rank", "sym_a", "sym_b", "pair_count")
  }

  /** One left-to-right non-overlapping merge pass. */
  private[functions] def mergePair(toks: Vector[String], p: (String, String)): Vector[String] = {
    val buf = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == p._1 && toks(i + 1) == p._2) {
        buf += toks(i) + toks(i + 1); i += 2
      } else { buf += toks(i); i += 1 }
    }
    buf.result()
  }

  /** Encode one word: rank-by-rank, each rank repeated to fixpoint —
    * the exact loop the SQL oracle replays with string replace.
    */
  def encodeWord(word: String, merges: Seq[(String, String)] = Merges): Vector[String] = {
    var toks = word.map(_.toString).toVector
    for (p <- merges) {
      var prev: Vector[String] = null
      // structural compare: mergePair rebuilds the vector either way
      while (prev != toks) { prev = toks; toks = mergePair(toks, p) }
    }
    toks
  }

  /** Distributed token counting: whitespace words (the q31 estimate's
    * denominator) and true BPE token counts per document. A batched
    * `mapPartitions` — the iterative merge loop is genuinely imperative
    * — behind the standard pinned rebalance so the CPU-heavy encode
    * spreads across the cluster regardless of input file layout. A
    * per-partition word-type memo exploits Zipfian repetition: each
    * distinct word is encoded once per partition, not once per
    * occurrence. The merges list is a ~100-entry constant riding the
    * closure (broadcast-sized by construction).
    */
  def bpeCount(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val merges = Merges
    rebalance(df.select(col(idCol).cast("long"), col(textCol).cast("string")), idCol)
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.Map.empty[String, Int]
        it.map { case (id, text) =>
          // empty/whitespace-only text yields no words (the split's ""
          // artifact is dropped — mirrored by the oracle's word <> '')
          val words = Option(text).map(_.toLowerCase.trim.split("\\s+").filter(_.nonEmpty))
            .getOrElse(Array.empty[String])
          var bpe = 0L
          for (w <- words) bpe += memo.getOrElseUpdate(w, encodeWord(w, merges).size)
          (id, words.length.toLong, bpe)
        }
      }.toDF(idCol, "n_ws_tokens", "n_bpe_tokens")
  }

  /** The learned merges (output of `learnMerges(SeedText, 48)`, pasted;
    * BpeSpec re-learns and asserts equality). Mirrored LITERALLY in the
    * q63 oracle SQL — keep both in sync if the seed or count changes.
    */
  val Merges: Seq[(String, String)] = Vector(
    ("t", "h"), ("th", "e"), ("n", "d"), ("i", "n"),
    ("a", "nd"), ("s", "t"), ("s", "h"), ("n", "s"),
    ("l", "e"), ("e", "r"), ("t", "i"), ("r", "e"),
    ("re", "a"), ("in", "g"), ("d", "s"), ("a", "r"),
    ("u", "f"), ("uf", "f"), ("uff", "le"), ("sh", "uffle"),
    ("r", "o"), ("o", "l"), ("l", "l"), ("e", "n"),
    ("c", "l"), ("c", "a"), ("a", "t"), ("y", "s"),
    ("w", "s"), ("w", "i"), ("wi", "nd"), ("wind", "o"),
    ("u", "st"), ("ust", "er"), ("u", "m"), ("u", "er"),
    ("uer", "y"), ("ti", "ti"), ("titi", "o"), ("titio", "ns"),
    ("t", "s"), ("st", "rea"), ("strea", "m"), ("stream", "ing"),
    ("shuffle", "s"), ("sh", "ing"), ("s", "p"), ("s", "i")
  )
}
