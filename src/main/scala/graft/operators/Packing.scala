package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sizing.rebalance
import graft.functions.{TextFunctions => T}

/** Sequence packing for LLM training (SURVEY.md §2 #46): assign each
  * document to a fixed-capacity context-window chunk, the
  * concat-and-chunk layout training pipelines feed to the model. A
  * document's chunk is determined by the running token offset of the
  * documents before it, so chunk assignment is the prefix-sum of token
  * counts — fully declarative (one window over a shard), no sequential
  * driver state.
  *
  * Scale design: a single global prefix-sum would serialize the corpus
  * through one ordering. Instead documents are sharded by a key-derived
  * shard id and packed independently per shard — shards are
  * embarrassingly parallel (each is one window partition), and the only
  * cross-shard effect is at most one under-filled trailing chunk per
  * shard, negligible for any real shard size. At 100 TB, set `nShards`
  * to O(corpus tokens / desired tokens-per-writer-task).
  */
object Packing {

  /** Token offsets and chunk ids per document. Returns
    * (doc_id, shard, n_tokens, tok_offset, chunk): `tok_offset` is the
    * document's starting position in its shard's concatenated token
    * stream; `chunk` = floor(tok_offset / capacity) is the context window
    * its first token lands in.
    */
  def packSequences(docs: DataFrame, capacity: Int = 2048, nShards: Int = 8,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    packCounted(
      docs.select(col(idCol), size(T.tokens(col(textCol))).as("n_tokens")),
      capacity, nShards, idCol)

  /** Packing over PRE-COUNTED documents — the generalization that lets
    * any token counter denominate the capacity: feed it
    * `Bpe.bpeCount(docs).select(doc_id, n_bpe_tokens as n_tokens)` and
    * the context windows hold `capacity` REAL tokenizer tokens instead
    * of whitespace estimates. Same single-window shape as
    * [[packSequences]] (which delegates here).
    */
  def packCounted(counts: DataFrame, capacity: Int = 2048, nShards: Int = 8,
                  idCol: String = "doc_id", nTokensCol: String = "n_tokens"): DataFrame = {
    require(capacity > 0 && nShards > 0, s"bad capacity=$capacity / nShards=$nShards")
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        col(nTokensCol).cast("long").as("n_tokens"))
      .withColumn("tok_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("chunk", floor(col("tok_offset") / capacity.toDouble).cast("long"))
  }

  /** Chunk-level summary of a packing: per (shard, chunk), how many
    * documents start there and the total tokens they contribute —
    * `tokens > capacity` flags chunks whose trailing document spills
    * into the next window (the concat-and-chunk split point).
    */
  def chunkStats(packed: DataFrame): DataFrame =
    packed.groupBy("shard", "chunk")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))

  /** The MATERIALIZED packing: one row per (doc, context window) span.
    * A document occupying stream interval [off, off + n) intersects
    * every window `chunk` in [off div cap, (off + n - 1) div cap]; a
    * document longer than its window's remainder is CUT and the tail
    * spills into the next window(s) — the concat-and-chunk split a
    * trainer's loader actually performs. Returns (doc_id, shard, chunk,
    * chunk_offset, doc_tok_begin, span_tokens, span_text):
    * `chunk_offset` is the span's position inside its window,
    * `doc_tok_begin` the 0-based cut point inside the document.
    *
    * Scale shape: the q45-style prefix-sum window (one exchange on
    * shard) followed by a MAP-ONLY sequence-explode + slice — a doc
    * emits ceil(n/cap)+1 rows at most, and the token arrays never
    * shuffle again after the shard exchange. Chunk ids use integer
    * `div`, exact at any stream length (no double rounding).
    */
  def packSpans(docs: DataFrame, capacity: Int = 2048, nShards: Int = 8,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(capacity > 0 && nShards > 0, s"bad capacity=$capacity / nShards=$nShards")
    val cap = capacity.toLong
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        T.tokens(col(textCol)).as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("tok_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("n_tokens") > 0)
      .select(col(idCol), col("shard"), col("w"), col("n_tokens"), col("tok_offset"),
        explode(sequence(expr(s"tok_offset div $cap"),
          expr(s"(tok_offset + n_tokens - 1) div $cap"))).as("chunk"))
      .withColumn("gbeg", greatest(col("tok_offset"), col("chunk") * cap))
      .withColumn("gend", least(col("tok_offset") + col("n_tokens"), (col("chunk") + 1) * cap))
      .withColumn("chunk_offset", col("gbeg") - col("chunk") * cap)
      .withColumn("doc_tok_begin", col("gbeg") - col("tok_offset"))
      .withColumn("span_tokens", col("gend") - col("gbeg"))
      .withColumn("span_text", array_join(
        slice(col("w"), (col("doc_tok_begin") + 1).cast("int"), col("span_tokens").cast("int")), " "))
      .select(idCol, "shard", "chunk", "chunk_offset", "doc_tok_begin", "span_tokens", "span_text")
  }

  /** The packed context windows themselves — what a trainer reads: per
    * (shard, chunk) the ordered concatenation of its spans. Every chunk
    * holds exactly `capacity` tokens except the trailing chunk of each
    * shard. One aggregation over [[packSpans]]; the groupBy reuses the
    * shard exchange (hashpartitioning(shard) co-locates (shard, chunk))
    * so the whole materialization is a single shuffle end to end.
    */
  def packChunks(docs: DataFrame, capacity: Int = 2048, nShards: Int = 8,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    packSpans(docs, capacity, nShards, textCol, idCol)
      .groupBy("shard", "chunk")
      .agg(count(lit(1)).as("n_docs"),
           sum("span_tokens").as("n_tokens"),
           array_join(transform(
             array_sort(collect_list(struct(col("chunk_offset"), col("span_text")))),
             s => s.getField("span_text")), " ").as("packed_text"))

  /** Sliding-window chunking with overlap (the retrieval/embedding
    * chunker): each document cut into windows of `chunkTokens` tokens
    * advancing by `strideTokens` (overlap = chunk − stride preserves
    * context across cuts), the LAST window shortened to the tail
    * rather than padded or dropped. The packing family
    * ([[packSpans]]) fills fixed trainer contexts ACROSS documents;
    * this is the per-document form an embedding/RAG index consumes —
    * every token is covered, boundaries deterministic.
    *
    * Map-only at any scale: token array materialized across the
    * pinned rebalance (HOF lambdas re-evaluate inlined children per
    * element), chunk starts unrolled from one integer sequence, slice
    * + join per chunk — no shuffle after the rebalance, O(n_chunks ×
    * chunkTokens) per doc. Chunk count = ceil(max(n−C,0)/S) + 1 in
    * pure integer arithmetic, mirrored exactly by the oracle.
    */
  def slidingChunks(docs: DataFrame, chunkTokens: Int = 20, strideTokens: Int = 15,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens >= 1 && strideTokens >= 1 && strideTokens <= chunkTokens,
      s"need 1 <= strideTokens($strideTokens) <= chunkTokens($chunkTokens)")
    val base = rebalance(
        docs.select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("w")), "doc_id")
      .withColumn("n", size(col("w")))
      .filter(col("n") >= 1)
    val nch = floor((greatest(col("n") - chunkTokens, lit(0)) + lit(strideTokens - 1))
        / lit(strideTokens)).cast("int") + 1
    base
      .select(col("doc_id"), col("w"), col("n"),
        posexplode(transform(sequence(lit(0), nch - 1), i => i * strideTokens + 1)))
      .select(col("doc_id"),
        col("pos").as("chunk_idx"),
        col("col").as("start_tok"),
        least(lit(chunkTokens), col("n") - col("col") + 1).as("n_tok"),
        array_join(slice(col("w"), col("col"), lit(chunkTokens)), " ").as("chunk_text"))
  }
}
