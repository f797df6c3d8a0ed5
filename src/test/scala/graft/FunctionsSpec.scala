package graft

import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions => T, VectorFunctions => V}

/** Column-function building blocks (SURVEY.md §3 functions/): text,
  * hashing and vector math — all codegen'd expressions, verified against
  * hand-computed values.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("normText lowercases and collapses whitespace") {
    val r = Seq("  Hello\t WORLD \n").toDF("t")
      .select(T.normText(col("t"))).as[String].head()
    r shouldBe "hello world"
  }

  test("tokens splits on whitespace after trim+lower") {
    val r = Seq(" The quick  Fox ").toDF("t")
      .select(T.tokens(col("t"))).as[Seq[String]].head()
    r shouldBe Seq("the", "quick", "fox")
  }

  test("extractHtmlText drops script/style blocks, strips tags, decodes entities") {
    val page = "<html><head><script>var a = 1;\nif (a < 2) { go(); }</script>" +
      "<style>p { color: red }</style></head>" +
      "<body><h1>Title &amp; more</h1><p>body  text</p>1 &lt; 2&nbsp;end</body></html>"
    val r = Seq(page).toDF("t").select(T.extractHtmlText(col("t"))).as[String].head()
    r shouldBe "Title & more body text 1 < 2 end"
  }

  test("wordNGrams yields sliding n-grams; short docs yield empty") {
    val df = Seq("a b c d", "a b").toDF("t").select(T.wordNGrams(T.tokens(col("t")), 3).as("g"))
    df.as[Seq[String]].collect().toSeq shouldBe Seq(Seq("a b c", "b c d"), Seq())
  }

  test("markerCount counts with multiplicity") {
    val r = Seq("the cat the hat a").toDF("t")
      .select(T.markerCount(T.tokens(col("t")), Seq("the", "a"))).as[Int].head()
    r shouldBe 3
  }

  test("argmaxLang picks first language on ties (declaration order)") {
    // all scores zero → tie → 'en' (first declared)
    val zero = T.langMarkers.map(_ => lit(0))
    Seq(1).toDF("x").select(T.argmaxLang(zero)).as[String].head() shouldBe "en"
    // bump the 'de' score only
    val deWins = T.langMarkers.map { case (l, _) => if (l == "de") lit(5) else lit(0) }
    Seq(1).toDF("x").select(T.argmaxLang(deWins)).as[String].head() shouldBe "de"
  }

  test("jaroWinkler matches the standard reference values bit-for-bit") {
    import graft.functions.TextFunctions.jaroWinkler
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),     // classic textbook pair
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("abc", "xyz", 0.0),
      ("a", "", 0.0),
      ("", "", 0.0),                                 // DuckDB convention: empty -> 0
      ("ab", "ba", 0.0),                             // window 0: no matches
      ("abcdefgh", "abzzzzzz", 0.5),                 // jaro<=0.7: NO Winkler boost
      ("CRATE", "TRACE", 0.7333333333333334),
      ("aab", "aba", 0.5555555555555555))
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val out = df.select(jaroWinkler(col("a"), col("b"))).collect().map(_.getDouble(0))
    out.zip(cases.map(_._3)).foreach { case (got, exp) => got shouldBe exp }
    // interpreted path (eval without codegen) agrees
    cases.foreach { case (a, b, exp) =>
      graft.plans.JaroWinklerSim.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b)) shouldBe exp
    }
  }

  test("jaroWinkler nulls propagate and non-string inputs are refused") {
    import graft.functions.TextFunctions.jaroWinkler
    val df = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
    df.select(jaroWinkler(col("a"), col("b"))).collect().head.isNullAt(0) shouldBe true
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, 2)).toDF("a", "b").select(jaroWinkler(col("a"), col("b"))).collect()
    }
  }

  test("fingerprint is deterministic, order-sensitive, bounded") {
    val fps = Seq("a b c", "a b c", "c b a").toDF("t")
      .select(T.fingerprint(T.tokens(col("t")))).as[Long].collect().toSeq
    fps(0) shouldBe fps(1)    // same tokens → same fp
    fps(0) should not be fps(2) // order matters (rolling hash)
    all(fps) should (be >= 0L and be < 1000000007L)
  }

  test("portable hash primitives pin their engine-portable definition (md5 prefix bits)") {
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592:
    // first 8 hex = 0x5d41402a, next 8 = 0xbc4b2a76 — the exact values
    // any engine computes from substr(md5(x)) (regression guard for the
    // DuckDB oracle contract)
    Seq("hello").toDF("t").select(Hashing.md5Long32(col("t"))).as[Long].head() shouldBe 0x5d41402aL
    Seq("hello").toDF("t").select(Hashing.md5Long32b(col("t"))).as[Long].head() shouldBe 0xbc4b2a76L
    val base = 0x5d41402aL % Hashing.PortableP
    val got = Seq("hello").toDF("t")
      .select(Hashing.affine(1, Hashing.portableHash(col("t")))).as[Long].head()
    got shouldBe (Hashing.affineA(1) * base + Hashing.affineB(1)) % Hashing.PortableP
  }

  test("native md5_word matches the conv/substring spec formulation, incl. SQL registration") {
    val rnd = new scala.util.Random(3)
    val strs = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(30)).mkString) ++
      Seq("", "héllo wörld ✓", "a b\tc\nd") // empty + multi-byte UTF-8 + whitespace
    val df = strs.toDF("t").select(
      Hashing.md5Long32(col("t")).as("n0"), Hashing.md5Long32Spec(col("t")).as("s0"),
      Hashing.md5Long32b(col("t")).as("n1"), Hashing.md5Long32bSpec(col("t")).as("s1"))
    df.collect().foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getLong(2) shouldBe r.getLong(3)
    }
    strs.toDF("t").createOrReplaceTempView("md5w_probe")
    spark.sql("SELECT count(*) FROM md5w_probe WHERE md5_word(t, 0) <> " +
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)")
      .head().getLong(0) shouldBe 0L
  }

  test("minhash signature: k components, equal sets agree, supersets dominate") {
    val df = Seq(Seq("x", "y", "z"), Seq("x", "y", "z"), Seq("x", "y", "z", "w"))
      .toDF("sh").select(Hashing.minhashSignature(col("sh"), 8).as("sig"))
    val sigs = df.as[Seq[Long]].collect().toSeq
    sigs.foreach(_.length shouldBe 8)
    sigs(0) shouldBe sigs(1)
    // superset minima can only be ≤ the subset's, component-wise
    sigs(2).zip(sigs(0)).foreach { case (sup, sub) => sup should be <= sub }
  }

  test("signatureAgreement estimates Jaccard ∈ [0,1], 1.0 for identical") {
    val df = Seq((Seq("x", "y", "z"), Seq("x", "y", "z")), (Seq("x", "y"), Seq("p", "q")))
      .toDF("a", "b")
      .select(Hashing.signatureAgreement(
        Hashing.minhashSignature(col("a"), 16),
        Hashing.minhashSignature(col("b"), 16), 16).as("s"))
    val s = df.as[Double].collect().toSeq
    s(0) shouldBe 1.0
    s(1) should (be >= 0.0 and be <= 1.0)
  }

  test("bandHashes requires k % r == 0 and emits k/r bands") {
    intercept[IllegalArgumentException](Hashing.bandHashes(col("s"), 16, 3))
    val bands = Seq(Seq(1L, 2L, 3L, 4L)).toDF("s")
      .select(Hashing.bandHashes(col("s"), 4, 2).as("b")).as[Seq[Long]].head()
    bands.length shouldBe 2
  }

  test("hyperplaneBucket is deterministic and collides identical vectors") {
    val v = Seq.tabulate(8)(i => i.toFloat)
    val df = Seq(v, v, v.map(-_)).toDF("e")
      .select(Hashing.hyperplaneBucket(col("e"), nbits = 4, dim = 8).as("b"))
    val b = df.as[Long].collect().toSeq
    b(0) shouldBe b(1)
    all(b) should (be >= 0L and be < 16L)
    // opposite vector flips every non-zero dot sign → different bucket
    b(2) should not be b(0)
  }

  test("native hyperplaneBucket is bit-identical to the HOF formulation") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(100)(Seq.fill(64)(rnd.nextFloat() - 0.5f))
    val df = rows.toDF("e").select(
      Hashing.hyperplaneBucket(col("e"), nbits = 6, dim = 64).as("native"),
      Hashing.hyperplaneBucketHof(col("e"), nbits = 6, dim = 64).as("hof"))
    df.filter(col("native") =!= col("hof")).count() shouldBe 0L
  }

  test("assembleSimhash sets bit j iff sum_j >= 0") {
    val sums = (0 until 64).map(j => if (j == 0 || j == 63) lit(1L) else lit(-1L))
    val h = Seq(1).toDF("x").select(Hashing.assembleSimhash(sums)).as[Long].head()
    h shouldBe ((1L << 0) + (1L << 63))
  }

  test("dot / norm / cosine match hand-computed values") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    df.select(V.dot(col("a"), col("b"))).as[Double].head() shouldBe 32.0
    df.select(V.norm(col("a"))).as[Double].head() shouldBe math.sqrt(14.0)
    val cos = df.select(V.cosine(col("a"), col("a")))
      .as[Double].head()
    cos shouldBe 1.0 +- 1e-12
  }

  test("native vec_dot/vec_cosine agree with the HOF formulation on random vectors") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      V.dot(col("a"), col("b")).as("d"), V.dotHof(col("a"), col("b")).as("dh"),
      V.cosine(col("a"), col("b")).as("c"), V.cosineHof(col("a"), col("b")).as("ch"))
      .collect()
    got.foreach { r =>
      r.getDouble(0) shouldBe r.getDouble(1) +- 1e-9
      r.getDouble(2) shouldBe r.getDouble(3) +- 1e-9
    }
  }

  test("vec expressions survive null inputs and unequal lengths") {
    val df = Seq(
      (Some(Seq(1f, 2f)), Some(Seq(3f, 4f, 5f))), // common prefix: 1*3+2*4 = 11
      (None, Some(Seq(1f)))                        // null input → null out
    ).toDF("a", "b")
    val out = df.select(V.dot(col("a"), col("b"))).collect()
    out(0).getDouble(0) shouldBe 11.0
    out(1).isNullAt(0) shouldBe true
  }

  test("GraftExtensions registers vec_dot / vec_cosine for SQL") {
    Seq((Seq(1f, 0f), Seq(1f, 0f))).toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT vec_dot(a, b) AS d, vec_cosine(a, b) AS c FROM vecs").head()
    r.getDouble(0) shouldBe 1.0
    r.getDouble(1) shouldBe 1.0 +- 1e-12
  }

  test("scrubPii redacts URLs, emails, and IPv4 literals") {
    val dirty = "go to https://ex.com/a?b=1 mail bob@x.co or jane.doe+x@mail.example.com ip 10.0.0.254 end"
    val r = Seq(dirty).toDF("t").select(T.scrubPii(col("t"))).as[String].head()
    r shouldBe "go to <URL> mail <EMAIL> or <EMAIL> ip <IP> end"
  }

  test("scrubPii leaves clean text untouched") {
    val clean = "plain words only, version 2 is fine and 1.5 too"
    val r = Seq(clean).toDF("t").select(T.scrubPii(col("t"))).as[String].head()
    r shouldBe clean
  }

  test("scrubPii redacts phone numbers: +CC, parens, dash/space groups") {
    val dirty = "call +1 555-123-4567 or (555) 234-5678 or 555 345 6789 done"
    val r = Seq(dirty).toDF("t").select(T.scrubPii(col("t"))).as[String].head()
    r shouldBe "call <PHONE> or <PHONE> or <PHONE> done"
  }

  test("scrubPii redacts IPv6: full form and ::-compressed, before IPv4 sees the text") {
    val dirty = "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 short fe80::1 multi a:b::c:d and ::1 end"
    val r = Seq(dirty).toDF("t").select(T.scrubPii(col("t"))).as[String].head()
    r shouldBe "v6 <IPV6> short <IPV6> multi <IPV6> and <IPV6> end"
  }

  test("perplexity: add-k bigram scores match a driver-side brute force; short docs kept") {
    import graft.functions.NgramLm
    val seed = Seq((0L, "the cat sat on the mat"), (10L, "the dog sat")).toDF("doc_id", "text")
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat"),        // all bigrams in-LM
      (2L, "purple elephants"),   // fully OOV
      (3L, "one")                 // no bigrams at all
    ).toDF("doc_id", "text")
    val out = NgramLm.perplexity(docs, seed).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    // brute force with the same decimal quantization
    val seedTexts = Seq("the cat sat on the mat", "the dog sat")
    val bigrams = seedTexts.flatMap(_.split(" ").sliding(2).map(_.mkString(" ")).toSeq)
    val c2 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_.split(" ")(0)).view.mapValues(_.size.toLong).toMap
    val v = seedTexts.flatMap(_.split(" ")).distinct.size
    def nll(text: String): (Long, Long, Double) = {
      val bgs = text.split(" ").sliding(2).map(_.mkString(" ")).toSeq.filter(_.contains(" "))
      val terms = bgs.map { bg =>
        val w1 = bg.split(" ")(0)
        val t = math.log((c2.getOrElse(bg, 0L) + 0.5) / (c1.getOrElse(w1, 0L) + 0.5 * v))
        BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      (bgs.size.toLong, bgs.count(bg => !c2.contains(bg)).toLong,
        (-(terms.sum.toDouble) / bgs.size * 10000).round / 10000.0)
    }
    for (id <- Seq(0L, 1L, 2L)) {
      val text = Seq("the cat sat on the mat", "the cat sat", "purple elephants")(id.toInt)
      out(id) shouldBe nll(text)
    }
    out(3L) shouldBe ((0L, 0L, -1.0)) // retained, unmeasured (null score)
    // the shuffled fallback (over-budget LM) scores identically
    val fb = withDriverRows(0)(NgramLm.perplexity(docs, seed).collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    fb shouldBe out
  }

  test("stupidBackoff: every branch (trigram hit, bigram backoff, unigram floor) matches a driver brute force") {
    import graft.functions.NgramLm
    val seed = Seq((0L, "the cat sat on the mat"), (10L, "the dog sat on a log")).toDF("doc_id", "text")
    val docs = Seq(
      (0L, "the cat sat on the mat"), // all trigrams in-LM
      (1L, "mat sat on the log"),     // trigram misses, bigram backoff hits
      (2L, "cat sat quickly"),        // unigram floor with an OOV word
      (3L, "one two")                 // no trigrams at all
    ).toDF("doc_id", "text")
    val out = NgramLm.stupidBackoff(docs, seed).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    // driver brute force with the same quantization and literals
    val seedTexts = Seq("the cat sat on the mat", "the dog sat on a log")
    def grams(ts: Seq[String], n: Int) =
      ts.flatMap(_.split(" ").sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq)
    val c3 = grams(seedTexts, 3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c2 = grams(seedTexts, 2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = grams(seedTexts, 1).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = seedTexts.map(_.split(" ").length).sum.toLong
    val v = c1.size.toLong
    val a = 0.4
    def score(text: String): (Long, Long, Double) = {
      val tgs = text.split(" ").sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      if (tgs.isEmpty) return (0L, 0L, -1.0)
      val terms = tgs.map { tg =>
        val ws = tg.split(" ")
        val t =
          if (c3.getOrElse(tg, 0L) > 0)
            math.log(c3(tg).toDouble / c2(ws(0) + " " + ws(1)).toDouble)
          else if (c2.getOrElse(ws(1) + " " + ws(2), 0L) > 0)
            math.log(a * c2(ws(1) + " " + ws(2)).toDouble / c1(ws(1)).toDouble)
          else
            math.log(a * a * (c1.getOrElse(ws(2), 0L).toDouble + 1.0) / (nTok + v).toDouble)
        BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      val floors = tgs.count(tg => {
        val ws = tg.split(" ")
        c3.getOrElse(tg, 0L) == 0 && c2.getOrElse(ws(1) + " " + ws(2), 0L) == 0
      })
      (tgs.size.toLong, floors.toLong,
        (-(terms.sum.toDouble) / tgs.size * 10000).round / 10000.0)
    }
    val texts = Seq("the cat sat on the mat", "mat sat on the log", "cat sat quickly", "one two")
    for (id <- 0L to 3L) out(id) shouldBe score(texts(id.toInt))
    // the planted docs really exercise distinct branches
    out(0L)._2 shouldBe 0L
    out(2L)._2 should be >= 1L
    // in-distribution text scores better than the floor-heavy doc
    out(0L)._3 should be < out(2L)._3
    // the shuffled fallback (over-budget LM) scores identically
    val fb = withDriverRows(0)(NgramLm.stupidBackoff(docs, seed).collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    fb shouldBe out
  }

  test("tfidfTopTerms ranks by exact decimal tf*idf with deterministic tie-break") {
    import graft.functions.TermStats
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana banana cherry"),
      (3L, "cherry date")
    ).toDF("doc_id", "text")
    val out = TermStats.tfidfTopTerms(docs, m = 2).collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> ((r.getString(1), r.getLong(2)))).toMap
    // idf: apple ln(4/2), banana ln(4/3), cherry ln(4/4)=0, date ln(4/2)
    // doc1: apple 2*0.693 > banana 1*0.288 > cherry 0
    out((1L, 1)) shouldBe (("apple", 2L))
    out((1L, 2)) shouldBe (("banana", 1L))
    // doc2: banana 3*0.288 = 0.863 > cherry 0
    out((2L, 1)) shouldBe (("banana", 3L))
    out((2L, 2)) shouldBe (("cherry", 1L))
    // doc3: date 0.693 > cherry 0
    out((3L, 1)) shouldBe (("date", 1L))
    // shuffled fallback path scores identically
    withDriverRows(0)(canon(TermStats.tfidfTopTerms(docs, m = 2))) shouldBe
      canon(TermStats.tfidfTopTerms(docs, m = 2))
  }

  test("normalizeText: NFC unifies decomposed twins, strips controls, collapses whitespace") {
    // decomposed (e + U+0301) and precomposed (U+00E9) spellings of the
    // SAME text must normalize byte-identical — else dedup under-merges
    val rows = Seq(
      (1L, "cafe\u0301  au \t lait"),
      (2L, "café au lait"),
      (3L, "a\u0007b\u0000c")
    ).toDF("id", "t").select(col("id"), T.normalizeText(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows(1L) shouldBe rows(2L)
    rows(1L) shouldBe "café au lait"
    rows(3L) shouldBe "a b c"
  }

  test("pmiCollocations: exclusive pairs outrank shared-word pairs, hand-checked PMI") {
    import graft.functions.TermStats
    // aa+bb only ever co-occur; xx spreads over cc and dd → lower PMI
    val docs = ((1 to 6).map(i => (i.toLong, "aa bb")) ++
      (7 to 12).map(i => (i.toLong, "xx cc")) ++
      (13 to 18).map(i => (i.toLong, "xx dd"))).toDF("doc_id", "text")
    val out = TermStats.pmiCollocations(docs, minCount = 5, topK = 10).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    // nu = 36 tokens, nb = 18 bigrams; PMI(aa bb) = ln(6·36²/(18·6·6)) = ln(12)
    out("aa bb")._1 shouldBe 6L
    out("aa bb")._2 shouldBe (math.log(12.0) +- 1e-5)
    out("aa bb")._3 shouldBe 1
    // xx appears 12× → its pairs halve the PMI operand: ln(6)
    out("xx cc")._2 shouldBe (math.log(6.0) +- 1e-5)
    Seq(out("xx cc")._3, out("xx dd")._3).sorted shouldBe Seq(2, 3)
  }

  test("noveltyScore: df==1 attribution on a planted-overlap corpus") {
    import graft.functions.TermStats
    val docs = Seq(
      (1L, "a b c d e"),         // all grams shared with doc 2
      (2L, "a b c d e"),         // exact twin
      (3L, "x y z w"),           // fully original
      (4L, "a b c q r s")        // shares "a b c", three own grams
    ).toDF("doc_id", "text")
    val out = TermStats.noveltyScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((3L, 0L, 0.0))
    out(2L) shouldBe ((3L, 0L, 0.0))
    out(3L) shouldBe ((2L, 2L, 1.0))
    out(4L) shouldBe ((4L, 3L, 0.75))
  }

  test("Profile.stats: rollup emits per-group and grand-total rows with exact percentiles") {
    import graft.functions.Profile
    val df = ((1 to 10).map(i => ("a", i.toLong)) :+ (("b", 100L)))
      .toDF("source", "n_chars")
    val out = Profile.stats(df, "source", "n_chars").collect()
      .map(r => (Option(r.getString(0)), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    out.length shouldBe 3
    // grand total first (null group, is_total=1)
    val total = out.find(_._2 == 1).get
    total._1 shouldBe None
    total._3 shouldBe 11L
    total._4 shouldBe 155L
    // group a: 1..10 → linear interpolation at p·(n−1)
    val a = out.find(_._1.contains("a")).get
    (a._2, a._3, a._4) shouldBe ((0, 10L, 55L))
    a._5 shouldBe 5.5
    a._6 shouldBe 9.1
    a._7 shouldBe 9.91
    // singleton group: every percentile is the value itself
    val b = out.find(_._1.contains("b")).get
    (b._5, b._6, b._7) shouldBe ((100.0, 100.0, 100.0))
  }

  test("adaptiveFilter: per-group quantile cutoffs, boundary kept, fallback path identical") {
    import graft.functions.Profile
    val df = ((1 to 8).map(i => ("x", i.toLong, i.toDouble)) ++
      (1 to 4).map(i => ("y", 100L + i, 5.0))).toDF("source", "id", "score")
    val out = Profile.adaptiveFilter(df, "source", "score", 0.25).collect()
      .map(r => r.getLong(1) -> r.getDecimal(3).doubleValue()).toMap
    // group x: p25 of 1..8 = 1 + 0.25·7 = 2.75 → keeps 3..8
    out.keySet.filter(_ < 100L) shouldBe (3L to 8L).toSet
    out(3L) shouldBe 2.75
    // group y: constant score → threshold IS the score, boundary rows kept
    out.keySet.filter(_ > 100L) shouldBe (101L to 104L).toSet
    out(101L) shouldBe 5.0
    // shuffled fallback (gate forced off) selects the identical set
    withDriverRows(0)(canon(Profile.adaptiveFilter(df, "source", "score", 0.25))) shouldBe
      canon(Profile.adaptiveFilter(df, "source", "score", 0.25))
  }

  test("scrubPii phone/IPv6 do not fire on dates, versions, times, or IPv4") {
    val clean = "on 2024-01-02 at 12:30:45 version 1.2.3 ratio 10:1 end"
    val r = Seq(clean).toDF("t").select(T.scrubPii(col("t"))).as[String].head()
    r shouldBe clean
    // IPv4 still lands on <IP>, untouched by the v6 pass
    Seq("ip 10.20.30.40 end").toDF("t").select(T.scrubPii(col("t")))
      .as[String].head() shouldBe "ip <IP> end"
  }

  test("zorderKey matches bit-interleave reference; zorderLayout is one range exchange") {
    import graft.functions.Layout
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rnd2 = new scala.util.Random(3)
    val pairs = Seq.fill(50)((rnd2.nextLong().abs % 65536, rnd2.nextLong().abs % 65536))
    val out = pairs.toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"))).as[Long].collect()
    out.toSeq shouldBe pairs.map { case (a, b) => ref(a, b) }
    // out-of-range dims reduce mod 2^16 rather than colliding bits
    Seq((65536L + 3L, 2L)).toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"))).as[Long].head() shouldBe ref(3L, 2L)
    val plan = Layout.zorderLayout(pairs.toDF("a", "b"), "a", "b", 4)
      .queryExecution.executedPlan.toString
    plan should include("rangepartitioning")
    plan should include("Sort [_zkey")
  }

  test("winnow: match guarantee, rightmost tie-break, sub-full density") {
    val k = 4; val w = 4
    def fps(s: String): Set[Long] =
      Seq(s).toDF("t").select(T.winnow(T.tokens(col("t")), k, w))
        .as[Seq[Long]].head().map(_ >> 20).toSet
    // two docs sharing a run of >= w+k-1 = 7 tokens MUST share a fingerprint
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val a = fps(s"one two three $shared x y z")
    val b = fps(s"$shared p q r s t u v")
    (a intersect b) should not be empty
    // disjoint-vocabulary docs share nothing
    (a intersect fps("ww xx yy zz aa bb cc dd ee ff gg hh")) shouldBe empty
    // identical hash runs tie-break to the RIGHTMOST position
    val rep = Seq.fill(10)("same").mkString(" ") // all 7 grams identical
    val sels = Seq(rep).toDF("t").select(T.winnow(T.tokens(col("t")), k, w))
      .as[Seq[Long]].head()
    // every window picks its LAST position: {4,5,6,7}, not leftmost {1,2,3,4}
    sels.map(p => 1048575L - (p & 1048575L)).toSet shouldBe Set(4L, 5L, 6L, 7L)
    // density: far fewer selections than grams on real text
    val long = (1 to 200).map(i => s"tok${i % 57}").mkString(" ")
    val n = Seq(long).toDF("t")
      .select(org.apache.spark.sql.functions.size(T.winnow(T.tokens(col("t")), k, w)))
      .as[Int].head()
    n should be < 120 // 197 grams; winnowing keeps roughly 2/(w+1)
  }

}
