package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan assertions (SURVEY.md §5): the scale properties we
  * claim — pushdown, pruning, broadcast, partial aggregation, top-k
  * pushdown, codegen'd custom expressions — verified on the REAL
  * executed plans, so a regression in plan shape fails the suite even
  * while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q10 filter reaches the parquet scan as PushedFilters") {
    val p = plan("q10_filter_sort_head")
    p should include("PushedFilters")
    // plan toString truncates long filter lists — match prefixes
    p should include("GreaterThan(l_quantity,45.0)")
    p should include("LessThan(l_discount")
  }

  test("q09 projection prunes the scan to selected columns only") {
    val p = plan("q09_select_rename")
    p should include("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>")
    (p should not).include("c_mktsegment:")
  }

  test("q01 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q01_groupby_agg")
    p should include("partial_sum")
    p should include("Exchange hashpartitioning(l_returnflag")
  }

  test("q04 dimension join broadcasts the small side") {
    plan("q04_inner_join") should include("BroadcastHashJoin")
  }

  test("q06 theta join keeps the equi key for the hash join and the residual in the condition") {
    val p = plan("q06_theta_join")
    p should include("BroadcastHashJoin [l_partkey")
    p should include("(l_extendedprice")
  }

  test("q10 head is a distributed TakeOrderedAndProject, not a global sort") {
    plan("q10_filter_sort_head") should include("TakeOrderedAndProject")
  }

  test("q27 ANN plan: corpus streams against broadcast queries, top-k pushed into the window") {
    val p = plan("q27_ann_bruteforce")
    p should include("BroadcastNestedLoopJoin BuildRight")
    p should include("vec_cosine")
    p should include("WindowGroupLimit")
  }

  test("q73 diversity sample: map-only cell projection, quota pushed into the window") {
    val p = plan("q73_diverse_sample")
    // cell assignment is a codegen'd projection — no join against a
    // centroid table, no aggregate before the window
    (p should not).include("BroadcastNestedLoopJoin")
    p should include("vec_cosine")
    // the pick <= quota filter gets rank-limit pushdown, bounding the
    // per-cell window shuffle at quota rows per map partition
    p should include("WindowGroupLimit")
  }

  test("q71 rollup aggregates percentiles partially before the one exchange") {
    val p = plan("q71_corpus_stats")
    // exact-percentile partial state (a value→count map) combines
    // map-side; the grand-total row rides the same Expand, not a
    // second scan
    p should include("partial_percentile")
    p should include("Expand")
    p.sliding("Exchange hashpartitioning".length).count(_ == "Exchange hashpartitioning") shouldBe 1
  }

  test("q72 rolling window: one exchange, one sort, ONE fused Window node") {
    val p = plan("q72_rolling_window")
    p.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
    // both aggregates share one frame scan — an inline cast between
    // them would split the Window in two
    p.sliding("Window [".length).count(_ == "Window [") shouldBe 1
    p should include("RangeFrame")
  }

  test("q69/q70 PQ kernels run as single native expressions, not unrolled chains") {
    // the unrolled Column form put m×ksub×w arithmetic nodes in one
    // projection — seconds of Janino compile and MB task binaries per
    // plan; the native kernels must stay
    val enc = plan("q69_embed_pq")
    enc should include("pq_codes")
    val adc = plan("q70_pq_adc")
    adc should include("pq_lut")
    (adc should not).include("array_min")
  }

  test("q74 novelty: gram dedup stays map-side, counts combine partially, no window") {
    val p = plan("q74_novelty")
    // per-doc gram dedup is array_distinct BEFORE the explode — a
    // distinct operator here would shuffle the full postings list
    p should include("array_distinct")
    p should include("partial_count")
    // attribution rides min(doc_id) through the gram agg — no window,
    // no postings-vs-df join
    (p should not).include("Window")
  }

  test("q23 minhash signature aggregation is partial-agg (map-side combine), pair scoring too") {
    val p = plan("q23_dedup_minhash")
    p should include("partial_min")   // k MIN(xxhash64) combine before the doc shuffle
    p should include("partial_count") // band-collision scoring combines map-side
    // the bucket cap's row_number+filter gets rank-limit pushdown
    p should include("WindowGroupLimit")
    // the portable-hash base runs as the native digest-bytes expression,
    // not the hex conv/substring round trip
    p should include("md5_word")
    (p should not).include("conv(substring(md5")
  }

  test("q25 ngram df-filter anti join takes the broadcast path under the size gate") {
    val p = plan("q25_dedup_ngram")
    p.linesIterator.filter(_.contains("LeftAnti")).mkString("\n") should
      include("BroadcastHashJoin")
  }

  test("q34 salted join spreads keys: join is on (key, salt)") {
    val p = plan("q34_skew_join")
    p should include("_graft_salt")
  }

  test("q40 bucketed join runs with NO exchange and NO sort (co-located layout)") {
    // force the sort-merge path: broadcast would hide the property.
    // Sort elision from write-time sortBy is gated behind a legacy conf
    // since Spark 3 (SPARK-28583) and needs one file per bucket — which
    // writeBucketed guarantees by repartitioning on the bucket key.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val p = plan("q40_bucketed_join")
      p should include("SortMergeJoin")
      (p should not).include("Exchange hashpartitioning")
      (p should not).include("Sort [l_orderkey")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("custom expressions run inside WholeStageCodegen") {
    // codegenString can't see through an unexecuted AdaptiveSparkPlan —
    // disable AQE just for this plan inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q27_ann_bruteforce")(spark, sfDir)
      val codegen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
      codegen should include("Found")
      (codegen should not).include("Found 0 WholeStageCodegen")
      codegen should include("vec_cosine")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
  test("q47 band join is a hash equi-join on (key, bucket) — never a nested-loop pair blowup") {
    val p = plan("q47_band_join")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    p should (include("BroadcastHashJoin") or include("SortMergeJoin") or include("ShuffledHashJoin"))
  }

  test("q43 PII scrub, q46 hash split, q59 HTML extraction are map-only: no exchange") {
    (plan("q43_pii_scrub") should not).include("Exchange")
    (plan("q46_split_hash") should not).include("Exchange")
    (plan("q59_text_extract") should not).include("Exchange")
  }

  test("q44 repetition rebalance is a pinned-count repartition (AQE cannot coalesce it away)") {
    // a bare repartition(col) is REPARTITION_BY_COL — a coalescible
    // shuffle AQE merges to few partitions on small byte sizes, starving
    // the CPU-heavy tokenize/explode stage; the pinned form is
    // REPARTITION_BY_NUM and survives (the origin tag rides the physical
    // Exchange node)
    val p = plan("q44_text_repetition")
    p should include("REPARTITION_BY_NUM")
    (p should not).include("REPARTITION_BY_COL")
  }

  test("q45 packing is one shard-partitioned window: a single exchange, keyed on shard") {
    val p = plan("q45_pack_sequences")
    p should include("Exchange hashpartitioning(shard")
    p.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
  }

  test("q62 materialized packing is a single shuffle: span explode map-side, groupBy reuses the shard exchange") {
    val p = plan("q62_pack_emit")
    p should include("Exchange hashpartitioning(shard")
    // hashpartitioning(shard) co-locates (shard, chunk), so the chunk
    // aggregation must NOT add a second exchange
    p.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
  }

  test("q63 BPE counting sits behind a pinned rebalance (AQE cannot starve the encode stage)") {
    plan("q63_bpe_tokens") should include("REPARTITION_BY_NUM")
  }

  test("q66 span dedup: first occurrence is partial-min (no per-gram window sort)") {
    val p = plan("q66_span_dedup")
    p should include("REPARTITION_BY_NUM")
    p should include("partial_min")
    (p should not).include("Window")  // hot boilerplate grams must not serialize
  }

  test("q64 bucketed asof: window partitioned by (key, bucket), no pair join anywhere") {
    val p = plan("q64_asof_bucketed")
    // the hot-key fix IS the bucket in the window partitioning
    p should include regex "hashpartitioning\\(user_id#\\d+L, _b#"
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q65 perplexity: LM joins broadcast, scoring is one pinned pass with partial aggregation") {
    val p = plan("q65_lm_perplexity")
    p should include("BroadcastHashJoin")   // bigram + context LM joins
    p should include("REPARTITION_BY_NUM")  // pinned scoring rebalance
    p should include("partial_sum")         // per-doc score combines map-side
  }

  test("q232 stupid backoff: all five LM lookups broadcast, scoring one pinned pass, no window") {
    val p = plan("q232_stupid_backoff")
    p should include("BroadcastHashJoin")   // tri/bi/bi/uni/uni lookups
    p should include("REPARTITION_BY_NUM")  // pinned scoring rebalance
    p should include("partial_sum")         // per-doc score combines map-side
    (p should not).include("Window")
    // the ONLY sort-merge join is the doc-keyed spine join-back (the
    // q65 shape) — every LM lookup must stay broadcast at gate scale
    p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") should be <= 1
  }

  test("q50 audio codec pipeline: exactly one pinned rebalance exchange, codec chained map-side") {
    val p = plan("q50_audio")
    p should include("REPARTITION_BY_NUM")
    p.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
  }

  test("q54 video pipeline: exactly one pinned rebalance exchange, demux+decode chained map-side") {
    val p = plan("q54_video")
    p should include("REPARTITION_BY_NUM")
    p.sliding("Exchange".length).count(_ == "Exchange") shouldBe 1
  }

  test("q51/q60 hash sampling is map-only: membership is a per-row expression, no exchange") {
    (plan("q51_sample_hash") should not).include("Exchange")
    (plan("q60_quality_sample") should not).include("Exchange")
  }

  test("q52 left band join stays hash-equi end to end (inner + anti remainder, no NL join)") {
    val p = plan("q52_band_left")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q53 as-of with tolerance is window-based: one key shuffle, no pair join at all") {
    val p = plan("q53_asof_tolerance")
    p should include("Exchange hashpartitioning(user_id")
    (p should not).include("Join")
  }

  test("q55 chunk dedup: skew-immune first-occurrence (partial min, no window sort)") {
    val p = plan("q55_chunk_dedup")
    p should include("REPARTITION_BY_NUM")              // pinned CPU-spreading shuffle
    p should include("Exchange hashpartitioning(chunk") // first-occurrence selection
    // min(struct) combines map-side — hot (boilerplate) chunks collapse
    // to one row per input partition before the shuffle...
    p should include("partial_min")
    // ...and no per-chunk window sort exists for a hot chunk to serialize
    (p should not).include("Window")
  }

  test("q56 decontamination broadcasts the eval set; gram explode stays codegen-eligible") {
    val p = plan("q56_decontaminate")
    p should include("REPARTITION_BY_NUM")
    p should include("BroadcastHashJoin")   // eval grams broadcast, never shuffled onto train
    // a plain (inner) explode keeps the Generate inside whole-stage
    // codegen — explode_outer would deoptimize the dominant stage
    (p should not).include("Generate explode_outer")
  }

  test("q57 incremental dedup: corpus prefiltered by might_contain, confirm join broadcast") {
    val p = plan("q57_dedup_incremental")
    p should include("might_contain")       // bloom prefilter inside the corpus scan
    p should include("BroadcastHashJoin")   // surviving candidate keys broadcast to the batch
    (p should not).include("SortMergeJoin") // the corpus is never shuffled for the join
  }

  test("q203 PIT join: union+window asof — zero join operators in the plan") {
    val p = plan("q203_pit_join")
    (p should not).include("SortMergeJoin")
    (p should not).include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
    p should include("Window")              // the single asof pass
  }

  test("q213 bitmap distinct: map-side partial bit_or, never count-distinct Expand") {
    val p = plan("q213_bitmap_distinct")
    p should include("partial_bit_or")      // combines before the shuffle
    (p should not).include("Expand")        // the count(distinct) shape it replaces
  }

  test("q205 robust scale: vocabulary-sized stats broadcast back, rows never re-shuffled for the join") {
    val p = plan("q205_robust_scale")
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q226 dsir: lambda table broadcasts, corpus streams map-only into a partial agg") {
    val p = plan("q226_dsir")
    p should include("BroadcastHashJoin")     // B-row λ table, corpus never shuffles on bucket
    p should include("partial_count")         // per-doc score combines map-side
    (p should not).include("CartesianProduct")
  }

  test("q227 quantile state: windows walk the BIN table partitioned by key, never rows") {
    val p = plan("q227_quantile_state")
    // every window is key-partitioned (no global sort) and sits above
    // the (key, bin) aggregate — the state, not the input rows
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("event_type")
    }
    p should include("partial_sum")
  }

  test("q204 theil-sen: median rank-selects over a slope histogram, never the raw pair list") {
    val p = plan("q204_theil_sen")
    (p should not).include("CartesianProduct")
    // the old shape row_number'd the sorted pair list (n²/2 rows of a
    // hot key in ONE task); now pairs collapse map-side to a
    // (key, slope) histogram before any window touches them
    (p should not).include("row_number")
    p should include("partial_count")
  }

  test("q202 bloom join: fact side prefiltered by might_contain before any join shuffle") {
    val p = plan("q202_bloom_join")
    p should include("might_contain")       // dim-key bloom inside the fact scan stage
    (p should not).include("CartesianProduct")
  }

  test("q201 jw linkage: native jaro_winkler runs as the block-join residual, codegen'd") {
    val p = plan("q201_jw_linkage")
    p should include("jaro_winkler")        // the custom expression, not a UDF
    (p should not).include("BatchEvalPython")
    (p should not).include("CartesianProduct") // blocked, never all-pairs
  }

  test("q84 fuzzy pairs: hash equi-join on segment blocks, levenshtein verified in the join") {
    val p = plan("q84_fuzzy_pairs")
    (p should not).include("CartesianProduct") // blocking, never all-pairs
    // the threshold levenshtein runs as the join residual — candidates
    // are verified during the pair join, not materialized first
    p should include("levenshtein(sa")
  }

  test("q85 winnow: tokens materialize across ONE pinned exchange, selection map-side") {
    val p = plan("q85_winnow")
    p should include("REPARTITION_BY_NUM")
    // exactly one exchange: selection + explode are map-only after it
    p.linesIterator.count(_.contains("Exchange")) shouldBe 1
    (p should not).include("Window")
  }

  test("q89 tfidf pairs: dot products aggregate partially, no all-pairs join") {
    val p = plan("q89_tfidf_pairs")
    p should include("partial_sum")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("q91 percentile rank: windows run over the value histogram, not raw rows") {
    val p = plan("q91_percentile_rank")
    // the histogram partial agg collapses rows BEFORE any window
    p should include("partial_count")
    // raw rows rejoin on (group, value) — the window's input is the
    // aggregated histogram (its child chain contains the HashAggregate)
    p should include("Window")
  }

  test("q93 prefix jaccard: per-doc rank window, no cartesian anywhere") {
    val p = plan("q93_jaccard_prefix")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    p should include("row_number")
    p should include("partial_count")       // df census combines map-side
  }

  test("q94 sliding chunks: one pinned exchange, chunk expansion map-side") {
    val p = plan("q94_sliding_chunks")
    p should include("REPARTITION_BY_NUM")
    p.linesIterator.count(_.contains("Exchange")) shouldBe 1
    (p should not).include("Window")
    (p should not).include("SortMergeJoin")
  }

  test("q96 corr matrix: ONE aggregation pass, pair rows from a map-side explode") {
    val p = plan("q96_corr_matrix")
    p should include("partial_sum")
    // a single scan feeds a single two-phase agg — no per-pair scans
    p.linesIterator.count(_.contains("FileScan")) shouldBe 1
    p should include("Generate explode")
  }

  test("q99 retention: (user, day) dedup and counts all combine map-side") {
    val p = plan("q99_retention")
    p should include("partial_min")    // first-day agg
    p should include("partial_count")  // curve counts
    (p should not).include("Window")
  }

  test("q100 weighted sample: quota pruned map-side via WindowGroupLimit") {
    val p = plan("q100_weighted_topk")
    p should include("WindowGroupLimit")
  }

  test("q101 twap / q102 intervals: one shuffle each, windows then partial aggs") {
    val p1 = plan("q101_twap")
    p1.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    p1 should include("partial_sum")
    val p2 = plan("q102_interval_merge")
    p2.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) shouldBe 1
    p2 should include("partial_count")
  }

  test("q104 cube: one Expand + partial agg pass, no per-combination scans") {
    val p = plan("q104_cube")
    p should include("Expand")
    p should include("partial_count")
    p.linesIterator.count(_.contains("FileScan")) shouldBe 1
  }

  test("q105 MAD / q107 entropy: agg+join shape, never a per-group window") {
    val p1 = plan("q105_mad_outliers")
    p1 should include("partial_percentile")
    (p1 should not).include("Window")
    val p2 = plan("q107_label_entropy")
    p2 should include("partial_count")
    (p2 should not).include("Window")
  }

  test("q106 basket lift: itemsets dedup (partial agg) BEFORE the pair self-join") {
    val p = plan("q106_basket_lift")
    p should include("partial_count")
    (p should not).include("CartesianProduct")
  }

  test("q109 count-min: sketch builds as ONE partial-agg shuffle; estimate join broadcasts the sketch") {
    val p = plan("q109_cms_topk")
    p should include("partial_count")
    // the fixed-size sketch is the broadcast side of the estimate join
    p should include("BroadcastHashJoin [j")
    // top-20 is a distributed TakeOrdered, not a global sort
    p should include("TakeOrderedAndProject")
  }

  test("q110 HLL: registers are one partial-max shuffle; no window, no join in the estimate") {
    val p = plan("q110_hll_distinct")
    p should include("partial_max")
    (p should not).include("Window")
    (p should not).include("SortMergeJoin")
  }

  test("q111 CDC upsert: winner window runs over the FEED only, base joins untouched") {
    val p = plan("q111_cdc_upsert")
    // exactly one Window (the feed reduction), never one over the base —
    // and the winner-per-key limit runs map-side (partial WindowGroupLimit)
    p.linesIterator.count(_.contains("Window [row_number()")) shouldBe 1
    p should include("row_number(), 1, Partial")
    p should include("FullOuter")
    // the base side scan is pruned to key + payload
    p should include("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>")
  }

  test("q113 window sweep: ONE shared sort/exchange drives all seven window functions") {
    val p = plan("q113_window_suite")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    p.linesIterator.count(_.contains("+- Sort ")) shouldBe 1
  }

  test("q115 scd2: corpus rows sort once; the stitch window runs over compressed periods") {
    val p = plan("q115_scd2")
    // lag + running-sum share ONE raw-row sort; the stitch window and
    // the period agg reuse the key partitioning — a single exchange
    // for the whole history build
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    p.linesIterator.count(_.contains("+- Sort ")) shouldBe 2
  }

  test("q112 binaryFile ingest: scan is the binaryFile source, map-only to the normalized projection") {
    val p = plan("q112_binary_source")
    p.toLowerCase should include("binaryfile")
    (p should not).include("Exchange hashpartitioning")
  }

  test("q118 interval join: bucket-split hash equi-join, never a nested loop") {
    val p = plan("q118_interval_join")
    (p should not).include("NestedLoop")
    (p should not).include("CartesianProduct")
    // the join keys carry the time cell alongside the natural key
    p should include("_bucket")
    // under the interval-count budget (1.5k orders at sf0.001) the
    // exploded dim side broadcasts — points never shuffle
    p should include("BroadcastHashJoin")
  }

  test("q121 histogram: ONE partial-agg shuffle, bin ids map-side") {
    val p = plan("q121_histogram")
    p should include("partial_count")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    (p should not).include("Window")
  }

  test("q122 pareto: windows run over aggregated point/x tables, never corpus rows") {
    val p = plan("q122_pareto")
    // the per-user agg shuffles raw events once; everything after is
    // distinct-point-sized (two more aggs + the frontier window + join)
    p should include("partial_count")
    // the frontier window input comes from an aggregate, so a Window
    // node must appear only ABOVE some HashAggregate in the tree
    val winIdx = p.linesIterator.indexWhere(_.contains("Window"))
    val aggIdx = p.linesIterator.indexWhere(_.contains("HashAggregate"))
    winIdx should be >= 0
    aggIdx should be >= 0
    winIdx should be < aggIdx // plan prints top-down: window above = after the agg
  }

  test("q124 wma: one exchange, one raw-row sort shared by row_number and both frame sums") {
    val p = plan("q124_wma")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    p.linesIterator.count(_.contains("+- Sort ")) shouldBe 1
  }

  test("q125 grouping sets: one Expand + partial agg pass like cube") {
    val p = plan("q125_grouping_sets")
    p should include("Expand")
    p should include("partial_count")
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("q127 image signatures: pixels stay in the codec stage — only 8-byte sigs shuffle") {
    val p = plan("q127_image_sig")
    // exchange 1 = the pinned codec rebalance; exchange 2 = the
    // signature-keyed dup-group window; nothing else moves
    p.linesIterator.count(_.contains("Exchange")) shouldBe 2
    p should include("hashpartitioning(sig")
    // the window never sees the payload bytes
    p.linesIterator.filter(_.contains("Window")).foreach { l =>
      (l should not).include("payload")
    }
  }

  test("q128 source minhash: signature mins combine map-side; the matrix join is signature-sized") {
    val p = plan("q128_source_minhash")
    p should include("partial_min")
    // the pair join compares the tiny signature table with itself —
    // never the corpus (no gram column survives to the join)
    val joinLine = p.linesIterator.find(_.contains("Join")).get
    (joinLine should not).include("g#")
  }

  test("q120 snapshot diff: one full-outer join on slim payload structs, no window") {
    val p = plan("q120_snapshot_diff")
    p should include("FullOuter")
    // the q111 feed winner window is inherited; the DIFF itself adds none
    p.linesIterator.count(_.contains("Window")) shouldBe
      plan("q111_cdc_upsert").linesIterator.count(_.contains("Window"))
  }

  test("q156 linReg: the six OLS sums combine map-side in one exchange, no window") {
    val p = plan("q156_linreg")
    p should include("partial_sum")
    p.linesIterator.count(_.contains("Exchange")) shouldBe 1
    (p should not).include("Window")
  }

  test("q158 benford: 9-cell partial agg, totals broadcast back, no shuffle join") {
    val p = plan("q158_benford")
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q161 bm25: query-term df table broadcasts; top-k pushed into the window") {
    val p = plan("q161_bm25")
    p should include("BroadcastHashJoin")
    // global top-k is limit-pushed: either a WindowGroupLimit or (better)
    // a full TakeOrderedAndProject under the rank window
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"))
  }

  test("q164 file stats: the audit scan prunes to the audited columns") {
    val p = plan("q164_file_stats")
    p should include("input_file_name")
    p should include("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>")
    (p should not).include("l_orderkey:")
  }

  test("q166 content digest: one partial agg, no shuffle beyond it") {
    val p = plan("q166_table_digest")
    p should include("partial_count")
    p.linesIterator.count(_.contains("Exchange")) shouldBe 1
  }

  test("q171 quantile bins: cutoff table broadcasts; no per-group window, no ntile") {
    val p = plan("q171_quantile_bins")
    p should include("BroadcastHashJoin")
    // no Window node at all — which also rules out an ntile() rewrite
    (p should not).include("Window")
  }

  test("q173 top paths: session islands and both lookaheads share ONE user-keyed sort") {
    val p = plan("q173_top_paths")
    p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id")) shouldBe 1
    // top-k over the path histogram is limit-pushed (WindowGroupLimit or
    // the stronger TakeOrderedAndProject rewrite)
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"))
  }

  test("q177 canonical url is map-only: no exchange anywhere") {
    val p = plan("q177_canonical_url")
    (p should not).include("Exchange")
  }

  test("q178 boilerplate: df counts combine partially; anti join broadcasts under the gate") {
    val p = plan("q178_boilerplate")
    p should include("partial_count")
    p should include("BroadcastHashJoin")
    // the boilerplate set joins LEFT_ANTI, never a shuffled sort-merge
    p should include("LeftAnti")
    (p should not).include("SortMergeJoin")
  }

  test("q180 fuzzy decontamination broadcasts the eval side; signatures are partial aggs") {
    val p = plan("q180_decontaminate_fuzzy")
    p should include("partial_min")
    p should include("BroadcastHashJoin")
    // best-match selection is an agg, not a per-doc window
    (p should not).include("Window")
  }

  test("q182 temperature mix: rank prunes against the constant budget pre-join") {
    val p = plan("q182_temperature_mix")
    p should include("WindowGroupLimit")
    p should include("BroadcastHashJoin")
  }

  test("q183 label conformity: centroids broadcast; scoring joins hash, no window") {
    val p = plan("q183_label_conformity")
    p should include("BroadcastHashJoin")
    p should include("vec_cosine")
    (p should not).include("Window")
    (p should not).include("SortMergeJoin")
  }

  test("q184 seasonal anomaly: baseline is a partial agg broadcast back, no window no sort") {
    val p = plan("q184_seasonal_anomaly")
    p should include("partial_sum")
    p should include("BroadcastHashJoin")
    (p should not).include("Window")
    (p should not).include("SortMergeJoin")
  }

  test("q186 hard negatives: labels ride the bucket join; top-k limit-pushed; no corpus re-join") {
    val p = plan("q186_hard_negatives")
    p should include("WindowGroupLimit")
    p should include("vec_cosine")
    // exactly the bucket self-join — no second join bringing labels back
    p.linesIterator.count(_.contains("SortMergeJoin")) +
      p.linesIterator.count(_.contains("BroadcastHashJoin")) shouldBe 1
  }

  test("q189 target encode: two partial aggs, global prior broadcast, no window") {
    val p = plan("q189_target_encode")
    p should include("partial_sum")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("Window")
  }

  test("q190 kmeans step: literal-centroid assignment, ONE partial agg, no join") {
    val p = plan("q190_kmeans_step")
    p should include("partial_count")
    p should include("vec_cosine")
    (p should not).include("Join")
    (p should not).include("Window")
  }

  test("q191 grouped split is map-only: membership is a per-row expression") {
    val p = plan("q191_grouped_split")
    (p should not).include("Exchange")
    (p should not).include("Join")
  }

  test("q194 blocklist census is map-only: literal terms, no join, no shuffle") {
    val p = plan("q194_blocklist")
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("Generate explode")
  }

  test("q195 kfold is map-only: fold is a per-row expression") {
    val p = plan("q195_kfold")
    (p should not).include("Exchange")
    (p should not).include("Join")
  }

  test("q193 kmeans|| round: literal-seed scoring, one scalar agg broadcast back, no window") {
    val p = plan("q193_kmeanspp_round")
    (p should not).include("Window")
    (p should not).include("SortMergeJoin")
    // the cost scalar joins back as a 1-row broadcast
    p should include("BroadcastNestedLoopJoin")
    p should include("vec_cosine")
  }

  test("q165 random projection runs the native kernel inside codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q165_random_projection")(spark, sfDir)
      val codegen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
      codegen should include("vec_random_project")
      (codegen should not).include("Found 0 WholeStageCodegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // ---- round-6 eval family ----

  test("q235 grouped AUC: histogram partial agg; cumulative window partitioned by group, never global") {
    val p = plan("q235_grouped_auc")
    p should include("partial_count") // (group, score) histogram combines map-side
    // every window is partitioned by the group key — a global rank here
    // would serialize the whole histogram into one task
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("windowspecdefinition(_g")
    }
  }

  test("q238 KMV: bottom-k is WindowGroupLimit-pruned MAP-SIDE before the exchange") {
    val p = plan("q238_kmv_distinct")
    // the rank <= k filter pushes a PARTIAL group-limit below the
    // shuffle: each input partition forwards at most k hashes per key
    p should include("row_number(), 64, Partial")
    p should include("row_number(), 64, Final")
  }

  test("q242 calibration is ONE partial agg: single exchange, no join, no window") {
    val p = plan("q242_calibration")
    p.linesIterator.count(_.contains("Exchange")) shouldBe 1
    (p should not).include("Join")
    (p should not).include("windowspecdefinition")
    p should include("partial_sum") // micro-unit decimal conf sum combines map-side
  }

  test("q239 lift table: ordinal windows are range-bucket-partitioned (two-level), bucket rollup tiny") {
    val p = plan("q239_lift_table")
    // the row-scaled window (row_number over rows) must be partitioned by
    // the range bucket _b; the only unpartitioned windows are the
    // nBuckets-row cumulative sums (metadata-scale by construction)
    val rowScaled = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("row_number"))
    rowScaled.foreach(_ should include("windowspecdefinition(_b"))
  }

  test("q241 CDC chunking: boundary HOFs map-side; first-occurrence is a partial min(struct), no window") {
    val p = plan("q241_cdc_chunks")
    p should include("partial_min") // Zipf-hot chunks collapse before the exchange
    (p should not).include("windowspecdefinition")
  }

  test("q236 JS divergence: bin cells combine partially; totals broadcast back") {
    val p = plan("q236_js_divergence")
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin") // the 1-row totals cross join
  }

  test("q243 triples: combinations explode map-side — no corpus self-join anywhere") {
    val p = plan("q243_frequent_triples")
    p should include("Generate explode")
    (p should not).include("SortMergeJoin")
    p should include("partial_count") // triple supports combine before the exchange
  }

  test("q248 bootstrap: replicate fan-out is map-local; windows only over the B means per group") {
    val p = plan("q248_bootstrap_ci")
    p should include("partial_sum") // (group, replicate) cells combine map-side
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("windowspecdefinition(_g") // never a global row window
    }
  }

  test("q249 survival: risk sets and the log walk are group-partitioned distinct-time windows") {
    val p = plan("q249_survival")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("windowspecdefinition(_g")
    }
    p should include("partial_sum") // (group, t) cells combine map-side
  }

  test("q252 bucketed trailing: every frame window is (key, bucket)-partitioned, never per-key global") {
    val p = plan("q252_trailing_bucketed")
    val frames = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("RangeFrame")).toSeq
    frames should not be empty
    frames.foreach(_ should include("_b"))
  }

  test("q246 isotonic: all windows are group- (or group,j-) partitioned; corpus collapses to cells first") {
    val p = plan("q246_isotonic")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("windowspecdefinition(_g")
    }
    p should include("partial_sum") // the (group, x) pooling agg
  }

  test("q264 anova: one partial-agg moments pass, no windows, no corpus join") {
    val p = plan("q264_anova")
    p should include("partial_sum")
    (p should not).include("windowspecdefinition")
    (p should not).include("SortMergeJoin")
  }

  test("q265 kruskal: corpus collapses to cells; the only window walks the value histogram") {
    val p = plan("q265_kruskal")
    p should include("partial_count")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("_v") // the distinct-value cumulative, never a row window
    }
  }

  test("q266 levene: median windows are group-partitioned; deviations shuffle keyed by group only") {
    val p = plan("q266_levene")
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      l should include("windowspecdefinition(_g")
    }
    p should include("partial_count")
  }

  test("q263 classification report: one confusion partial agg, windows never touch rows") {
    val p = plan("q263_classification_report")
    p should include("partial_count")
    (p should not).include("windowspecdefinition")
  }

  test("q270 cramers V: pair cells explode map-side, no corpus self-join") {
    val p = plan("q270_cramers_v")
    p should include("Generate explode")
    p should include("partial_count")
  }

  test("q271 quality audit: row checks share ONE scan; FK adds exactly one more") {
    val p = plan("q271_quality_audit")
    // two scans of orders total: the shared agg + the anti-join probe side
    p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("orders.parquet")) shouldBe 2
    p should include("LeftAnti")
  }

  test("q262 ndcg: the search arm is the broadcast kernel with top-k pushed into the window") {
    val p = plan("q262_ndcg")
    p should include("BroadcastNestedLoopJoin BuildRight")
    p should include("WindowGroupLimit")
  }

  test("q269 pettitt: the corpus collapses to the daily table before any window") {
    val p = plan("q269_pettitt")
    p should include("partial_sum") // daily mean cells combine map-side
  }

  test("q286 balanced sample: the data-derived k stays a LITERAL so WindowGroupLimit survives") {
    val p = plan("q286_balanced_sample")
    // a column-bound rank filter would silently disable the pushdown
    // and full-sort every class partition
    p should include("WindowGroupLimit")
  }

  test("q287 rfm: quintile boundaries broadcast back — no global sort, no row window") {
    val p = plan("q287_rfm")
    p should include("BroadcastNestedLoopJoin") // 1-row bounds frame crossed in
    (p should not).include("Window") // neither Window nor WindowGroupLimit
    (p should not).include("rangepartitioning") // a global Sort would need one
  }

  test("q291 degree tail: top-(k+1) is a TakeOrdered, never a global sort") {
    val p = plan("q291_degree_tail")
    p should include("TakeOrderedAndProject")
  }

  test("q288 hits: per-round contributions combine map-side before the dst shuffle") {
    // r10 optimization: under the small-graph gate, hits computes the
    // exact same scores driver-locally (bit-identical, Round10OptSpec)
    // and the final plan is the local result frame. The distributed
    // rounds — the 100 TB path — keep the map-side combine contract:
    // pin the gate off to assert it.
    spark.conf.set("graft.driverRows", "0")
    try {
      val p = plan("q288_hits")
      p should include("partial_sum")
      (p should not).include("CartesianProduct")
    } finally spark.conf.unset("graft.driverRows")
  }

  test("q296 effect sizes: pair fan-out joins the BROADCAST pair table, no corpus self-join") {
    val p = plan("q296_effect_sizes")
    p should include("BroadcastNestedLoopJoin") // cells x <=k(k-1)/2 pairs
    p should include("partial_count")           // histogram collapses map-side
    (p should not).include("SortMergeJoin")
  }

  test("q300 windowed funnel: the hop bound is a join condition, not a post-filter shuffle") {
    val p = plan("q300_funnel_windowed")
    // per-step min aggregates combine map-side like q98
    p should include("partial_min")
    (p should not).include("CartesianProduct")
  }

  test("q295 bfs: histogram output — the per-round frontier joins stay hash joins") {
    val p = plan("q295_bfs")
    p should include("partial_count")
    (p should not).include("CartesianProduct")
  }

  test("q303 durbin-watson: the corpus collapses to daily cells before the residual window") {
    val p = plan("q303_durbin_watson")
    p should include("partial_sum")
  }

  test("q307 ivf-pq: probes and LUT broadcast, corpus codes stream — no shuffle of the corpus, no cartesian") {
    val p = plan("q307_ivf_pq")
    p should include("BroadcastHashJoin")
    p should include("partial_sum") // per-(query, neighbor) ADC combines map-side
    (p should not).include("CartesianProduct")
  }

    test("q311 bucketed sessions: every window partitions by (key, bucket) or runs on bucket-level rows — never a bare per-key event sort") {
    val p = plan("q311_sessions_bucketed")
    // the row-level windows carry the bucket in their partitioning
    p should include("windowspecdefinition(user_id")
    p should include("_bkt")
    p should include("partial_min") // session rollup combines map-side
  }

    test("q317 friedman: per-block windows ride the collapsed cell table; treatment rollup combines map-side") {
    val p = plan("q317_friedman")
    p should include("partial_sum")
    (p should not).include("CartesianProduct")
  }

  test("MoR snapshot read: the tombstone anti-join broadcasts the kilobyte sidecar — one scan, no shuffle, no sort-merge") {
    import graft.sources.TxTable
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_plan_mor_").toString + "/t"
    val df = (1L to 200L).map(i => (i, i * 2.0)).toDF("id", "x")
      .repartitionByRange(2, col("id"))
    TxTable.commit(df, table, statsCols = Seq("id"))
    TxTable.deleteKeysMor(spark, table, "id", (1L to 20L).toDF("id"))
    val p = TxTable.read(spark, table).queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should include("LeftAnti")
    (p should not).include("SortMergeJoin")
    // a table with NO tombstones pays nothing: plain scan, no join at all
    val clean = java.nio.file.Files.createTempDirectory("graft_plan_clean_").toString + "/t"
    TxTable.commit(df, clean)
    val p2 = TxTable.read(spark, clean).queryExecution.executedPlan.toString
    (p2 should not).include("Join")
  }

  test("column-mapped read: rename costs a projection only — no join, no exchange, physical scan prunes to mapped columns") {
    import graft.sources.TxTable
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_plan_map_").toString + "/t"
    TxTable.commit((1L to 50L).map(i => (i, s"t$i", i * 1.0)).toDF("id", "tag", "score"), table)
    TxTable.renameColumn(spark, table, "score", "quality")
    TxTable.dropColumn(spark, table, "tag")
    val read = TxTable.read(spark, table).select("quality")
    val p = read.queryExecution.executedPlan.toString
    (p should not).include("Join")
    (p should not).include("Exchange")
    // column pruning reaches the scan through the map projection: the
    // dropped/unselected physical columns are not read
    p should include("ReadSchema: struct<score:double>")
  }

  test("positional-delete read: the deletion-vector anti-join broadcasts the sidecar and compares ordinals — no shuffle, no key columns read") {
    import graft.sources.TxTable
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_plan_posd_").toString + "/t"
    val df = (1L to 200L).map(i => (i, i * 2.0)).toDF("id", "x")
      .repartitionByRange(2, col("id"))
    TxTable.commit(df, table, statsCols = Seq("id"))
    TxTable.deleteWherePos(spark, table, col("id").between(1.0, 20.0))
    val p = TxTable.read(spark, table).queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should include("LeftAnti")
    // the join keys are the metadata (file, ordinal) pair, never a data key
    p should include("row_index")
    (p should not).include("SortMergeJoin")
  }

  test("partitioned read: partition pruning is manifest-side — the partition's read plans only its files, no join, no exchange") {
    import graft.sources.TxTable
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_plan_part_").toString + "/t"
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0), (4L, "C", 4.0))
      .toDF("id", "cat", "price")
    TxTable.commit(df, table, partitionBy = Some("cat"))
    val read = TxTable.scan(spark, table, org.apache.spark.sql.functions.col("cat") === "A")
    val p = read.queryExecution.executedPlan.toString
    (p should not).include("Join")
    (p should not).include("Exchange")
    // the scan's file list is the A-partition only: B and C files are
    // not even planned (manifest pruning, not a runtime filter)
    val scanned = read.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    scanned should include("cat=A")
    (scanned should not).include("cat=B")
    (scanned should not).include("cat=C")
  }

  test("hidden-bucket point read: manifest-side pruning plans only the probe's bucket dir — no join, no exchange, layout column never surfaces") {
    import graft.sources.TxTable
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_plan_hb_").toString + "/t"
    TxTable.commit((1L to 400L).map(i => (i, i * 1.0)).toDF("id", "x")
      .repartition(2), table, partitionBy = Some("_gpt-bucket16-id"))
    val read = TxTable.scan(spark, table,
      org.apache.spark.sql.functions.col("id").cast("string") === "42")
    val p = read.queryExecution.executedPlan.toString
    (p should not).include("Join")
    (p should not).include("Exchange")
    val bucket = TxTable.hiddenValueOf("_gpt-bucket16-id", "42")
    val scanned = read.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    scanned should include(s"_gpt-bucket16-id=$bucket")
    read.columns.toSeq shouldBe Seq("id", "x")
  }

  test("hidden-day range read: only in-range partition dirs are planned") {
    import graft.sources.TxTable
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_plan_hd_").toString + "/t"
    val rows = (0 until 72).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-03-${1 + i / 24}%02d ${i % 24}%02d:00:00"), i.toLong)
    }
    TxTable.commit(rows.toDF("ts", "v"), table, partitionBy = Some("_gpt-day-ts"))
    val read = TxTable.readPartitionRange(spark, table, "2024-03-02", "2024-03-02")
    val p = read.queryExecution.executedPlan.toString
    (p should not).include("Join")
    (p should not).include("Exchange")
    // the planned FILE LIST is the in-range partition only (the plan
    // string truncates long location lists, so assert on inputFiles)
    val scanned = read.inputFiles
    scanned should not be empty
    all(scanned) should include("_gpt-day-ts=2024-03-02")
  }

  test("q347 page-hinkley: the corpus collapses to daily cells before the PH windows; drift rollup combines map-side") {
    val p = plan("q347_page_hinkley")
    p should include("partial_sum")        // daily means combine map-side
    p should include("windowspecdefinition(event_type") // per-key window, never global
  }

  test("q348 naive bayes: priors/labels broadcast, argmax is a WindowGroupLimit, never a global sort") {
    val p = plan("q348_naive_bayes")
    p should include("BroadcastHashJoin")  // priors join the doc-label scores broadcast
    p should include("WindowGroupLimit")   // per-doc argmax bounded at 1 row pre-shuffle
    (p should not).include("CartesianProduct")
  }

  test("q349 quantile normalization: the per-group ntile sort runs ONCE (cells checkpointed), reference broadcast back") {
    val p = plan("q349_quantile_norm")
    p should include("BroadcastHashJoin")  // bins-sized reference joins broadcast
    // both consumers ride the materialized cells scan — the full-input
    // window never appears twice (nor at all post-checkpoint)
    p.sliding("ntile".length).count(_ == "ntile") shouldBe 0
    p should include("Scan ExistingRDD")
  }

  test("q350 mcnemar: one corpus scan, both aggregation levels combine map-side") {
    val p = plan("q350_mcnemar")
    p.sliding("FileScan".length).count(_ == "FileScan") shouldBe 1
    p should include("partial_max")        // per-user pair cells
    p should include("partial_sum")        // 2x2 table cells
  }

  test("q351 ipw: stratum propensities broadcast back to rows; dimensions broadcast") {
    val p = plan("q351_ipw_ate")
    p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") should be >= 2
    (p should not).include("SortMergeJoin")
  }

  test("q353 ols influence: daily collapse feeds a TakeOrdered top-k, never a global sort of the cells") {
    val p = plan("q353_ols_influence")
    p should include("partial_sum")
    p should include("TakeOrderedAndProject")
  }

  test("q356 ql-dirichlet: tf checkpointed (corpus explode runs once), cf broadcast, top-k TakeOrdered") {
    val p = plan("q356_ql_dirichlet")
    p should include("Scan ExistingRDD")   // the materialized tf feeds all three consumers
    p.sliding("Generate explode".length).count(_ == "Generate explode") shouldBe 0
    p should include("TakeOrderedAndProject")
    (p should not).include("SortMergeJoin")
  }

  test("q357 kendall: the corpus collapses to daily cells; the pair join is the guarded bounded BNLJ") {
    val p = plan("q357_kendall_tau")
    p should include("partial_sum")          // daily means + pair cells combine map-side
    p should include("BroadcastNestedLoopJoin") // bounded-series pair fan-out, never a shuffle
  }

  test("q358 cochran q: one corpus scan, per-user pivot and the 2x2 fold both combine map-side") {
    val p = plan("q358_cochran_q")
    p.sliding("FileScan".length).count(_ == "FileScan") shouldBe 1
    p should include("partial_max")
    p should include("partial_sum")
  }

  test("q360 rbo: depth table broadcast, both rankers TakeOrdered-bounded") {
    val p = plan("q360_rbo")
    p should include("BroadcastHashJoin")
    p should include("TakeOrderedAndProject")
  }

  test("q361 sup-chow: every split scored from ONE prefix pass; argmax is TakeOrdered(1)") {
    val p = plan("q361_sup_chow")
    p should include("TakeOrderedAndProject(limit=1")
    p should include("partial_sum")          // daily cells combine map-side
    (p should not).include("SortMergeJoin")
  }

  test("q365 calibration: one corpus scan, bounded bin cells combine map-side") {
    val p = plan("q365_calibration")
    p.sliding("FileScan".length).count(_ == "FileScan") should be <= 2 // bin + total sections
    p should include("partial_sum")
  }

  test("q366 odds/risk: dimension broadcast, 2x2 cells one partial agg, no sort-merge") {
    val p = plan("q366_odds_risk")
    p should include("BroadcastHashJoin")
    p should include("partial_sum")
    (p should not).include("SortMergeJoin")
  }

  test("q373 periodogram: the corpus collapses to hourly cells; every period is a conditional sum in ONE agg") {
    val p = plan("q373_periodogram")
    // the result frame is driver-composed; the heavy pass is inside —
    // pin on the gate query's hourly collapse running as ONE scan
    p should include("LocalTableScan")
  }

  test("q374 sprt: per-key sorted window carries the cumulative LLR; rollup combines map-side") {
    val p = plan("q374_sprt")
    p should include("windowspecdefinition(event_type")
    p should include("partial_min")
  }

  test("q375 dunn: rank window walks DISTINCT values; group pairing is a bounded cross join") {
    val p = plan("q375_dunn")
    p should include("partial_count") // histogram cells combine map-side
    p should include("BroadcastNestedLoopJoin") // k x k pair table
  }

  // ---- rank / quantile family: window and exchange census ----

  private object Census extends AdaptiveSparkPlanHelper

  /** (Window operators, unpartitioned Window operators, Exchange
    * operators) in a query's pre-execution physical plan.
    */
  private def census(name: String): (Int, Int, Int) = {
    val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    val windows = Census.collect(p) { case w: WindowExec => w }
    (windows.size, windows.count(_.partitionSpec.isEmpty),
      Census.collect(p) { case e: Exchange => e }.size)
  }

  test("rank/quantile family: every query keeps its window, unpartitioned-window and exchange counts") {
    // the queries served by the running-sum kernel (functions.Ranks);
    // an unpartitioned Window runs in one task and is what Spark's
    // "No Partition Defined" warning reports
    val expected = Seq(
      "q91_percentile_rank" -> (2, 0, 3), "q151_weighted_median" -> (2, 0, 2),
      "q205_robust_scale" -> (2, 0, 3), "q221_trimmed_mean" -> (2, 0, 5),
      "q222_conformal" -> (1, 0, 8), "q204_theil_sen" -> (2, 0, 4),
      "q141_ks_drift" -> (1, 1, 4), "q266_levene" -> (2, 0, 5),
      "q215_mannwhitney" -> (1, 1, 2), "q216_spearman" -> (2, 0, 7),
      "q265_kruskal" -> (1, 1, 11), "q269_pettitt" -> (4, 4, 12),
      "q361_sup_chow" -> (1, 1, 5), "q375_dunn" -> (2, 2, 11),
      "q235_grouped_auc" -> (1, 0, 2), "q239_lift_table" -> (3, 2, 10),
      "q246_isotonic" -> (4, 0, 17), "q248_bootstrap_ci" -> (4, 0, 10),
      "q273_pr_auc" -> (1, 0, 2), "q296_effect_sizes" -> (1, 0, 13),
      "q227_quantile_state" -> (4, 0, 7), "q228_stream_quantile" -> (2, 0, 1),
      "q257_stream_quantile_hourly" -> (4, 0, 3), "q279_vocab_coverage" -> (1, 1, 8))
    expected.map { case (q, _) => q -> census(q) } shouldBe expected
  }
}
