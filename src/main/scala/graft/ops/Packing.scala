package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: assign documents to fixed
  * token-budget training sequences (the concat-then-chunk layout — documents
  * are concatenated in a deterministic order and the token stream is cut
  * every `budget` tokens; a document belongs to the chunk containing its
  * first token).
  *
  * Design for 100 TB:
  *  - Packing is per-BUCKET: documents are first hashed into `buckets`
  *    independent streams (same md5-bucket family as [[Corpus.hashBucket]],
  *    so the layout is reproducible across runs and engines), and the
  *    cumulative-sum window runs within each bucket. One shuffle on the
  *    bucket key, then embarrassingly parallel per-bucket windows — there is
  *    no global sort and no single-partition bottleneck. Pick `buckets` ≈
  *    total_tokens / (desired sequences per task × budget).
  *  - Ordering within a bucket is (md5(id), id) — deterministic under any
  *    input partitioning, and hash order doubles as a cheap document
  *    shuffle so consecutive training sequences don't correlate with the
  *    input's source order (the standard pretraining requirement).
  *  - The window computes a running token offset only; the rollup to one
  *    row per sequence is a partial-aggregable groupBy. Documents longer
  *    than `budget` simply span chunk boundaries, as in the real layout.
  */
object Packing {

  /** Overlapping token-window chunking (RAG / embedding prep): split each
    * document into windows of `window` tokens advancing by `stride`
    * (window > stride ⇒ consecutive chunks overlap by window − stride
    * tokens, the standard retrieval layout so no phrase is cut at a hard
    * boundary). Returns one row per chunk: (idCol, chunk_id,
    * n_chunk_tokens, chunk_fp) — the md5 fingerprint stands in for the
    * chunk body (embed/store happens downstream; the fingerprint is the
    * join key back).
    *
    * Shape: one narrow projection + one generator — NO shuffle; chunking
    * is a scan-side map at any scale. The token array is staged in its own
    * projection and only referenced (cheap bound attribute) inside the
    * chunk-slicing lambda; the chunks are built per row BEFORE the explode
    * so generated rows carry one chunk each, never the whole document. */
  def chunkTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int
  ): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)), lit(stride)),
          st => slice(col("__toks"), st + 1, lit(window))))
          .as(Seq("chunk_id", "__chunk")))
      .select(col(idCol), col("chunk_id"),
        size(col("__chunk")).as("n_chunk_tokens"),
        TextFunctions.md5Hex(concat_ws(" ", col("__chunk"))).as("chunk_fp"))
  }

  /** One row per packed sequence: (bucket, seq_id, n_docs, seq_tokens,
    * first_doc_id). `seq_id` numbers chunks within a bucket from 0;
    * `seq_tokens` counts the tokens of documents STARTING in the chunk (so
    * per-bucket seq_tokens sums to the bucket's total token count). */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budget: Int,
      buckets: Int
  ): DataFrame = {
    val keyed = df.select(
      col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens"),
      Corpus.hashBucket(col(idCol), buckets).as("bucket"),
      TextFunctions.md5Hex(col(idCol).cast("string")).as("__h"))
    val w = Window.partitionBy("bucket").orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", floor(col("__start") / budget).cast("long"))
      .groupBy(col("bucket"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col(idCol)).as("first_doc_id"))
  }
}
