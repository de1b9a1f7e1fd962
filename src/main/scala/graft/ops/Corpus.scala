package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Corpus-level operators for training-data pipelines: deterministic
  * sampling, TF-IDF term weighting, and train/test contamination checks.
  *
  * Design for 100 TB:
  *  - Sampling is hash-based, not RNG-based: membership depends only on the
  *    row id, so it is reproducible across runs, engines, partitionings and
  *    incremental re-runs, needs no seed plumbing or second pass (unlike
  *    `sampleBy`), and pushes down as a cheap scan filter.
  *  - TF-IDF is two partial-aggregable `groupBy`s plus one equi-join on the
  *    term (both sides shuffle-partitioned by term) and one broadcast
  *    scalar; nothing is collected to the driver.
  *  - Contamination reduces to a semi-join of test-set shingles against the
  *    distinct corpus shingle set — only shingles move through the shuffle,
  *    never document bodies.
  */
object Corpus {

  /** Deterministic bucket in [0, buckets): the 28-bit md5 prefix of the id,
    * modulo buckets — same hash28 family as MinHash, exactly reproducible
    * by the DuckDB oracle. */
  def hashBucket(id: Column, buckets: Int): Column =
    conv(substr(md5Hex(id.cast("string")), lit(1), lit(7)), 16, 10)
      .cast("long") % buckets

  /** Keeps rows whose id hashes into the first `keep` of `buckets` buckets —
    * a stable ~keep/buckets sample. The bucket column is retained so
    * downstream stages can sub-sample consistently (bucket < k' refines the
    * same sample). */
  def hashSample(
      df: DataFrame,
      idCol: String,
      keep: Int,
      buckets: Int = 10000
  ): DataFrame =
    df.withColumn("bucket", hashBucket(col(idCol), buckets))
      .filter(col("bucket") < keep)

  /** Stratified deterministic sampling: per-stratum keep rates (e.g. cap
    * the dominant language while keeping all of a rare one). Same hash
    * family as [[hashSample]], so membership is stable across runs and
    * engines, and refining a stratum's rate only adds/removes rows at the
    * bucket boundary — rows never churn between samples. The rate map is
    * compiled into the plan as a literal CASE chain (strata counts are
    * small); at 100 TB this is still a scan-side filter, no shuffle. */
  def stratifiedHashSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double,
      buckets: Int = 10000
  ): DataFrame = {
    val cutoff = rates.toSeq.sortBy(_._1).foldLeft(lit((defaultRate * buckets).toInt)) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit((rate * buckets).toInt)).otherwise(acc)
    }
    df.withColumn("bucket", hashBucket(col(idCol), buckets))
      .filter(col("bucket") < cutoff)
  }

  /** Deterministic train/val/test (or any named) split assignment: each
    * row's md5 bucket falls into one split's cumulative-fraction range.
    * Same bucket family as [[hashSample]], so splits are stable across
    * runs, engines and incremental re-runs (a new document never moves an
    * old one between splits), membership is a scan-side projection with no
    * shuffle, and refining fractions only moves rows at range boundaries.
    * Fractions must sum to 1. Pre-existing `bucket`/`split` columns are
    * REPLACED, so composing with [[hashSample]] (whose output keeps its
    * own `bucket` column) can't produce ambiguous duplicates. */
  def splitAssign(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      buckets: Int = 10000
  ): DataFrame = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "split fractions must sum to 1")
    val cutoffs = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => math.round(c * buckets))
    val assign = splits.map(_._1).zip(cutoffs).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, (name, cut)) =>
        when(col("bucket") < cut, lit(name)).otherwise(acc)
      }
    df.drop("bucket", "split")
      .withColumn("bucket", hashBucket(col(idCol), buckets))
      .withColumn("split", assign)
  }

  /** Deterministic stratified k-fold cross-validation manifest: every
    * row's fold is its stable md5 bucket mod k (the [[splitAssign]]
    * hash — rows never migrate between folds across runs or incremental
    * re-runs), and the report gives, per (stratum, fold), the held-out
    * size and its leave-one-out training complement within the stratum.
    * The md5 bucket is uniform WITHIN each stratum by construction, so
    * folds stay balanced per stratum without any stratified shuffling
    * machinery. One group-by; the shuffle carries one row per
    * (stratum, fold). */
  def kFoldAssign(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 2, s"k must be at least 2: $k")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
    df.withColumn("fold", hashBucket(col(idCol), k))
      .groupBy(col(strataCol), col("fold"))
      .agg(count(lit(1)).as("n_val"))
      .withColumn("n_train", sum(col("n_val")).over(w) - col("n_val"))
  }

  /** Dedup-aware train/val/test split: near-duplicate documents NEVER
    * straddle a split boundary (assigning a test doc whose near-copy sits
    * in train is silent eval contamination — the dedup-then-split rule).
    * Documents cluster by connected components over the supplied near-dup
    * pair frame (min-reachable-id labels, [[Components.connectedComponents]]);
    * the split hash is then taken on the CLUSTER id with the exact
    * [[splitAssign]] arithmetic, so every member of a dup family lands in
    * the same split, and singletons (cluster = own id) split exactly as
    * plain [[splitAssign]] would.
    *
    * Scale shape: label propagation is one shuffle per round with
    * lineage cut per round (see Components); the split itself is a
    * scan-side hash projection on the cluster label — no extra shuffle. */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      splits: Seq[(String, Double)],
      buckets: Int = 10000
  ): DataFrame = {
    val clustered = Components.connectedComponents(docs, idCol, pairs, aCol, bCol)
      .select(col(idCol), col("component").as("cluster_id"))
    splitAssign(clustered, "cluster_id", splits, buckets)
  }

  /** Deterministic weighted Bernoulli sample: each row is kept with
    * probability `weight / max(weight)` using EXACT integer arithmetic on
    * the 28-bit id hash — keep iff `hash28(id) * wMax < w * 2^28`.
    * Reproducible across engines, partitionings and re-runs like
    * [[hashSample]] (no RNG, no seed plumbing); heavier rows (e.g. token
    * counts for a token-budget-biased downsample) survive proportionally
    * more often. One scalar aggregate broadcast + a scan-side filter — no
    * shuffle of the data at any scale. Products stay below 2^28 * wMax,
    * exact in BIGINT for weights up to ~2^35. */
  def weightedHashSample(df: DataFrame, idCol: String, weightCol: String): DataFrame = {
    val wMax = df.agg(max(col(weightCol).cast("long")).as("__wmax"))
    val h28 = conv(substr(md5Hex(col(idCol).cast("string")),
      lit(1), lit(7)), 16, 10).cast("long")
    df.crossJoin(broadcast(wMax))
      .filter(h28 * col("__wmax") < col(weightCol).cast("long") * lit(1L << 28))
      .drop("__wmax")
  }

  /** Per-(document, term) TF-IDF over whitespace tokens:
    * tf/dl · (ln((N+1)/(df+1)) + 1) — the smoothed-idf form, so terms in
    * every document still get positive weight. Returns
    * (idCol, term, tf, df, tfidf[rounded to 6 decimals]). */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    tf.join(dl, idCol)
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round((col("tf") / col("dl")) *
          (log((col("n_docs") + 1) / (col("df") + 1)) + 1), 6).as("tfidf"))
  }

  /** Keyword extraction: each document's top-`k` terms by TF-IDF — the
    * cheap unsupervised tagger behind corpus browsing, topic sampling, and
    * per-document metadata. Ranks by the ROUNDED score with a term-text
    * tie-break, so the cut is deterministic across partitionings and
    * engines (the docs_topk_by_lang recipe). The rank filter is a
    * WindowGroupLimit: each map task keeps only its local top-k per doc
    * before the exchange, so per-doc state is bounded at k. */
  def topTfidfTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    tfidf(df, idCol, textCol)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rank"))
  }

  /** End-to-end corpus cleaning — the composed pipeline a training-data
    * build actually runs, in dependency order:
    *   1. quality gate (cheap scan-side filter first — everything
    *      downstream sees only survivors);
    *   2. exact dedup (md5-fingerprint groupBy, min-id keeper);
    *   3. near-dup clustering (MinHash-LSH pairs → connected components →
    *      one keeper per cluster);
    *   4. stratified down-sampling of the kept set.
    * Returns (idCol, strataCol, bucket) — the final kept sample. Every
    * stage is one of this package's primitives, so the 100 TB posture
    * (bucketed band joins, one-shuffle-per-round CC, scan-side sampling)
    * is inherited rather than re-derived. */
  def cleanPipeline(
      df: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      minTokens: Int,
      rates: Map[String, Double],
      defaultRate: Double,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val quality = df.filter(size(tokens(col(textCol))) >= minTokens)
    val keepers = quality
      .select(col(idCol), fingerprint(col(textCol)).as("__fp"))
      .groupBy("__fp").agg(min(col(idCol)).as("__keep"))
    // cached (the package's CacheScope pattern): three downstream
    // consumers (near-dup pairs, cluster components, the final sample
    // join) would otherwise each re-run the quality gate + dedup join —
    // at 100 TB, three full corpus scans where one materialization
    // serves all (guide §5: reuse + recompute-cost justify the cache)
    val exactKept = scope.cache(
      quality.join(keepers, col(idCol) === col("__keep"))
        .drop("__fp", "__keep"))
    val dupPairs = Dedup.minhashNearDupPairs(exactKept, idCol, textCol)
      .filter(col("is_dup"))
    val clusterKept = Components
      .dedupClusters(exactKept, idCol, dupPairs, "a_id", "b_id")
      .filter(col("is_keeper")).select(col(idCol))
    stratifiedHashSample(
      exactKept.join(clusterKept, idCol).select(col(idCol), col(strataCol)),
      idCol, strataCol, rates, defaultRate)
  }

  /** Gopher-style repetition signals — the cheap structural-quality gates a
    * pretraining corpus build runs before any model-based filtering
    * (Rae et al. 2021 §A1 use duplicate-line and top-n-gram fractions; this
    * is the token-level analogue for single-line documents):
    *   - top_token_frac:   occurrences of the most frequent token / tokens
    *   - top_bigram_frac:  occurrences of the most frequent bigram / bigram
    *                       positions
    *   - dup_trigram_frac: fraction of trigram positions whose trigram also
    *                       occurs elsewhere in the document (1 − distinct/total)
    * High values flag boilerplate, keyword stuffing, and degenerate
    * repetition. Fractions are NULL when the document is too short to have
    * any n-gram of that size.
    *
    * Scale shape: all three gram sizes ride ONE explode (tagged by n) into
    * one (id, n, gram) count aggregate and one per-document rollup — two
    * shuffles total, both with map-side partial aggregation, no joins. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def tag(n: Int): Column =
      transform(gramsAll(col("__toks"), n),
        g => struct(lit(n).as("n"), g.as("g")))
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(concat(tag(1), tag(2), tag(3))).as("x"))
      .select(col(idCol), col("x.n").as("n"), col("x.g").as("g"))
    grams
      .groupBy(col(idCol), col("n"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("n") === 1, col("c"))).as("n_tokens"),
        max(when(col("n") === 1, col("c"))).as("top1"),
        sum(when(col("n") === 2, col("c"))).as("tot2"),
        max(when(col("n") === 2, col("c"))).as("top2"),
        sum(when(col("n") === 3, col("c"))).as("tot3"),
        count(when(col("n") === 3, lit(1))).as("dist3"))
      .select(col(idCol), col("n_tokens"),
        round(col("top1") / col("n_tokens"), 6).as("top_token_frac"),
        round(col("top2") / col("tot2"), 6).as("top_bigram_frac"),
        round((col("tot3") - col("dist3")) / col("tot3"), 6).as("dup_trigram_frac"))
  }

  /** Corpus-unigram language-model scoring with add-one smoothing: each
    * document's mean token log-probability under the corpus's own unigram
    * distribution, p(t) = (count(t)+1) / (total_tokens + vocab). Low
    * scores flag gibberish/outlier documents (a standard cheap quality
    * signal before expensive LM-based filtering).
    *
    * Scale shape: one groupBy builds the term-count table, one scalar
    * cross-join broadcasts the (total, vocab) pair, one groupBy scores
    * documents. `broadcastVocab` picks the term-join strategy:
    *  - `true` (default): a word-level vocab is orders of magnitude smaller
    *    than the corpus — broadcast-hash-join it against the token stream.
    *  - `false`: a tokenizer-free / n-gram vocab can outgrow the driver and
    *    executors; shuffle-join on `term` instead. Both token stream and
    *    counts are already keyed by term, so this is one co-partitioned
    *    exchange — no driver-side collect anywhere.
    * Results are bit-identical in both modes: the per-token log-probs sum
    * through DECIMAL(27,12), so the mean is independent of join strategy
    * and partial-aggregation order. */
  def unigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      broadcastVocab: Boolean = true
  ): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("total"), count(lit(1)).as("vocab"))
    val decSum = sum(log((col("cnt") + 1) / (col("total") + col("vocab")))
      .cast(org.apache.spark.sql.types.DecimalType(27, 12)))
    val countsSide =
      if (broadcastVocab) broadcast(counts)
      else counts.hint("shuffle_hash") // big vocab: never ship it whole
    toks.join(countsSide, "term")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(decSum.cast("double") / count(lit(1)), 6).as("avg_logprob"))
  }

  /** Corpus vocabulary + out-of-vocabulary profiling: the vocabulary is
    * every token with corpus frequency >= `minCount`; each document gets
    * its OOV token count and rate under that vocabulary — the standard
    * check before committing a tokenizer/vocab to a training run (a high
    * corpus-wide OOV rate means the cutoff is wrong; a high per-doc rate
    * flags outlier documents).
    *
    * Same scale shape as [[unigramLogProb]]: one map-side-combinable
    * groupBy builds the counts, the token stream left-joins the vocab
    * (broadcast by default; `broadcastVocab = false` switches to a
    * shuffle-hash join on the term for vocabularies beyond broadcast),
    * one groupBy scores documents. */
  def vocabOovRate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5,
      broadcastVocab: Boolean = true
  ): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("term"), lit(1).as("__in"))
    val vocabSide =
      if (broadcastVocab) broadcast(vocab) else vocab.hint("shuffle_hash")
    toks.join(vocabSide, Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
  }

  /** Size of the contamination Bloom filter in 64-bit words: a power of two
    * <= 16384, because bit positions are 20-bit md5 substrings. One constant,
    * so an index can never be probed at a size other than the one it was
    * built with. */
  private val BloomWords = 16384

  /** Bits per shingle in the contamination Bloom filter; each draws 5 hex
    * chars from one md5, so at most 6. */
  private val BloomK = 4

  /** Train/test contamination via a PORTABLE Bloom filter: every corpus
    * shingle sets [[BloomK]] bits in an `m = 64·BloomWords`-bit array; a
    * test shingle is flagged when all its bits are set. Bit positions are
    * 20-bit md5 substrings modulo m (unbiased for power-of-two m), so the filter
    * CONTENTS — including its false positives — are bit-identical in any
    * engine: the oracle rebuilds the same filter and hash-matches exact
    * counts, not just a tolerance gate.
    *
    * Scale: the filter is a CONSTANT-size word table (2·[[BloomWords]] 32-bit
    * chunks, independent of corpus size) built by one map-side-combinable
    * `bit_or` aggregate and probed via a broadcast join — at query time the corpus
    * side never re-shuffles its shingle set the way [[contamination]]'s
    * semi-join does. The trade is a tunable false-positive rate
    * ((1-e^{-kn/m})^k); `no_false_neg` is structural. Returns
    * (idCol, n_shingles, n_exact, n_bloom, no_false_neg). */
  def contaminationBloom(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3
  ): DataFrame = {
    val (corpusGrams, bloom) = contaminationIndex(train, textCol, shingleN)
    contaminationProbe(corpusGrams, bloom, test, idCol, textCol, shingleN)
  }

  /** The benchmark side of [[contaminationBloom]], built ONCE: the
    * distinct shingle set and its Bloom words. A long-lived screen
    * (e.g. [[graft.streaming.StreamingOps.contamGateSink]]) persists
    * both and probes every batch against the cached frames instead of
    * re-deriving them. */
  def contaminationIndex(
      train: DataFrame,
      textCol: String,
      shingleN: Int = 3
  ): (DataFrame, DataFrame) = {
    val mBits = BloomWords.toLong * 64L
    def positions(g: Column): Column = array((0 until BloomK).map { j =>
      conv(substr(md5Hex(g), lit(1 + 5 * j), lit(5)), 16, 10)
        .cast("long") % mBits
    }: _*)
    val corpusGrams = train
      .select(explode(shingles(tokens(col(textCol)), shingleN)).as("g"))
      .distinct()
    // 32-bit chunks, not 64: a bit-63 mask is negative in one engine and
    // an overflow error in the other (DuckDB rejects 1::BIGINT << 63) —
    // chunked at 32 every mask is a positive BIGINT everywhere
    val bloom = corpusGrams
      .select(explode(positions(col("g"))).as("p"))
      .select(shiftright(col("p"), 5).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").as("mask"))
      .groupBy("word").agg(bit_or(col("mask")).as("bits"))
    (corpusGrams, bloom)
  }

  /** The probe side of [[contaminationBloom]] against a pre-built
    * [[contaminationIndex]]. Collects the Bloom word table — bounded,
    * constant-size state (≤ 2·[[BloomWords]] rows whatever the corpus) — and
    * delegates to [[contaminationProbeWords]]; a long-lived caller (the
    * streaming gate) should collect once and call that directly. */
  def contaminationProbe(
      corpusGrams: DataFrame,
      bloom: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3
  ): DataFrame =
    contaminationProbeWords(corpusGrams, collectBloomWords(bloom),
      test, idCol, textCol, shingleN)

  /** The Bloom word table as a dense driver-side array indexed by word
    * number — 2·[[BloomWords]] 32-bit chunks, the filter's constant full
    * size. */
  def collectBloomWords(bloom: DataFrame): IndexedSeq[Long] = {
    val arr = Array.fill(2 * BloomWords)(0L)
    bloom.select(col("word"), col("bits")).collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr.toIndexedSeq
  }

  /** [[contaminationProbe]] with the Bloom filter as a PLAN LITERAL
    * (r15 optimization round): the filter is a constant-size word array
    * (independent of corpus size, the class's stated contract), so the
    * per-shingle membership test is a ROW-LOCAL projection against the
    * literal — no k-way position explode, no broadcast join, and no
    * (id, shingle) re-aggregation (shingles are DISTINCT per document by
    * [[graft.ops.TextFunctions.shingles]], so that groupBy only ever
    * deduplicated k exploded copies of itself). Per probe batch: one
    * projection + one id-aggregate + the exact-truth semi-join — the
    * same values bit-for-bit (identical md5/position/bit arithmetic,
    * the codebooks-as-literals decision applied to the Bloom tier). */
  def contaminationProbeWords(
      corpusGrams: DataFrame,
      bloomWords: IndexedSeq[Long],
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3
  ): DataFrame = {
    val mBits = BloomWords.toLong * 64L
    require(bloomWords.length == 2 * BloomWords,
      s"bloomWords must hold the filter's full 2*$BloomWords chunks")
    val wordsLit = typedlit(bloomWords)
    // md5 referenced k times from one alias — evaluated once per shingle
    def hitOf(h: Column): Column = (0 until BloomK).map { j =>
      val p = conv(substr(h, lit(1 + 5 * j), lit(5)), 16, 10)
        .cast("long") % mBits
      val word = get(wordsLit, shiftright(p, 5).cast("int"))
      val mask = call_function("shiftleft", lit(1L),
        p.bitwiseAND(lit(31L)).cast("int"))
      word.bitwiseAND(mask) =!= 0
    }.reduce(_ && _)
    val tp = test
      .select(col(idCol),
        explode(shingles(tokens(col(textCol)), shingleN)).as("g"))
    val perDoc = tp
      .withColumn("__h", md5Hex(col("g")))
      .select(col(idCol), when(hitOf(col("__h")), 1L).otherwise(0L).as("hit"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), sum(col("hit")).as("n_bloom"))
    val exact = tp.join(corpusGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_exact"))
    perDoc.join(exact, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"), col("n_bloom"),
        (col("n_bloom") >= coalesce(col("n_exact"), lit(0L))).as("no_false_neg"))
  }

  /** Per-shard Bloom index + point-lookup probe — the file-skipping shape:
    * one constant-size Bloom filter per shard over the shard's doc ids,
    * so a point lookup touches only the shards whose filter MAY contain
    * the id instead of scanning all of them. Returns, per probed id, the
    * candidate-shard count (the skipping factor: nShards − candidates
    * shards are never opened) and the structural no-false-negative check
    * (the id's true hash shard is always among the candidates).
    *
    * Scale: the index is #shards × `words` longs built by one
    * map-side-combinable `bit_or` aggregate — independent of corpus size
    * — and the probe set is a literal frame crossed against the broadcast
    * index (probes × shards × k rows, all tiny). Same portable
    * md5-derived positions and 32-bit chunking as [[contaminationBloom]],
    * so an independent engine reproduces every bit. */
  def shardBloomProbe(
      df: DataFrame,
      idCol: String,
      probeIds: Seq[Long],
      nShards: Int = 8,
      words: Int = 1024,
      k: Int = 4
  ): DataFrame = {
    require(Integer.bitCount(words) == 1 && words <= (1 << 14),
      "words must be a power of two <= 16384 (bit positions are 20-bit)")
    require(k >= 1 && k <= 6, "k hashes draw 5 hex chars each from one md5")
    val spark = df.sparkSession
    val mBits = words.toLong * 64L
    def positions(g: Column): Column = array((0 until k).map { j =>
      conv(substr(md5Hex(g), lit(1 + 5 * j), lit(5)), 16, 10)
        .cast("long") % mBits
    }: _*)
    val index = df
      .select(hashBucket(col(idCol), nShards).as("shard"),
        explode(positions(col(idCol).cast("string"))).as("p"))
      .select(col("shard"), shiftright(col("p"), 5).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").as("mask"))
      .groupBy("shard", "word").agg(bit_or(col("mask")).as("bits"))
    val probes = spark.createDataFrame(
        probeIds.map(java.lang.Long.valueOf).map(Tuple1(_)))
      .toDF("probe_id")
      .select(col("probe_id"),
        hashBucket(col("probe_id"), nShards).as("true_shard"),
        explode(positions(col("probe_id").cast("string"))).as("p"))
      .select(col("probe_id"), col("true_shard"),
        shiftright(col("p"), 5).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").as("mask"))
    val perShard = probes
      .join(broadcast(index), Seq("word"))
      .filter(col("bits").bitwiseAND(col("mask")) =!= 0)
      .groupBy(col("probe_id"), col("true_shard"), col("shard"))
      .agg(count(lit(1)).as("n_set"))
      // a shard is a candidate only if ALL k probe bits are set in it
      // (explode preserves duplicate positions, so k rows survive exactly
      // when every one of the k bit tests passes)
      .filter(col("n_set") === k)
    perShard
      .groupBy(col("probe_id"), col("true_shard"))
      .agg(count(lit(1)).as("n_candidate_shards"),
        max(when(col("shard") === col("true_shard"), 1).otherwise(0))
          .as("true_hit"))
      .select(col("probe_id"), col("n_candidate_shards"),
        (col("true_hit") === 1).as("no_false_neg"))
  }

  /** Corpus-bigram language-model scoring with add-one smoothing: each
    * document's mean bigram log-probability, p(w2|w1) = (C(w1 w2)+1) /
    * (C(w1)+V). The bigram complement of [[unigramLogProb]] — catches
    * shuffled-word gibberish that unigram frequencies cannot (every token
    * common, every transition rare). Documents with fewer than 2 tokens
    * have no bigrams ([[TextFunctions.gramsAll]] yields an empty array,
    * no whole-text collapse) and are absent from the output.
    *
    * Scale shape: two map-side-combinable count tables and one scalar
    * broadcast (V). The UNIGRAM table follows the `broadcastVocab` switch
    * (a word vocab is orders of magnitude smaller than the corpus); the
    * BIGRAM count table is NEVER broadcast — distinct bigrams grow with
    * the corpus, so that join is always a shuffle-hash equi-join on the
    * bigram (both sides already keyed by it). Log-probs sum through
    * DECIMAL(27,12) — partial-aggregation-order independent. */
  def bigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      broadcastVocab: Boolean = true
  ): DataFrame = {
    val bigrams = df.select(col(idCol),
      explode(gramsAll(tokens(col(textCol)), 2)).as("bg"))
    val uni = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val bi = bigrams.groupBy("bg").agg(count(lit(1)).as("cb"))
    val biSide = bi.hint("shuffle_hash") // corpus-sized: never broadcast
    val uniSide = if (broadcastVocab) broadcast(uni) else uni.hint("shuffle_hash")
    val decSum = sum(log((col("cb") + 1) / (col("cu") + col("vocab")))
      .cast(org.apache.spark.sql.types.DecimalType(27, 12)))
    bigrams
      .join(biSide, "bg")
      .withColumn("term", substring_index(col("bg"), " ", 1))
      .join(uniSide, "term")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(decSum.cast("double") / count(lit(1)), 6).as("avg_logprob"))
  }

  /** Batch CDC merge (upsert, latest-wins): applies an updates batch to a
    * base table keyed by `keyCol`. Per key the surviving row is the one
    * with the highest (`versionCol`, side) — an update beats a base row
    * at the same version; new keys insert; untouched base rows pass
    * through. One shuffle on the key; per-key groups are 1 + the key's
    * update count, so the window sort is bounded by batch depth, not
    * table size. Both frames must share the schema, and (key, version)
    * must be unique within `updates` — two updates of one key at the
    * same version have no defined winner. */
  def mergeUpsert(
      base: DataFrame,
      updates: DataFrame,
      keyCol: String,
      versionCol: String
  ): DataFrame = {
    val all = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("_src").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** Per-language quality filter at a percentile threshold: the exact
    * interpolated (1−keepFrac) quality quantile is computed per language
    * (one map-side-combinable aggregate, rows = #languages), broadcast
    * back, and applied as a scan-side comparison — documents at or above
    * their language's threshold survive. The same shape as [[lengthBins]]:
    * no global sort, no per-row window; only #languages doubles cross the
    * cluster. The threshold comparison uses the UNROUNDED score, which
    * both engines compute bit-identically (operand order is pinned by
    * [[TextFunctions.qualityScore]]). */
  def qualityThresholdFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      keepFrac: Double = 0.5
  ): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = df.select(col(idCol), col(langCol),
      qualityScore(col(textCol), toks).as("q"))
    val thresholds = scored.groupBy(col(langCol))
      .agg(percentile(col("q"), lit(1.0 - keepFrac)).as("thr"))
    scored.join(broadcast(thresholds), Seq(langCol))
      .filter(col("q") >= col("thr"))
      .select(col(idCol), col(langCol), round(col("q"), 6).as("quality"))
  }

  /** Jelinek-Mercer interpolated bigram LM score: per document, the mean
    * over its bigrams of log(λ·P_bi(w2|w1) + (1−λ)·P_uni(w2)) with MLE
    * estimates P_bi = cb/cu(w1), P_uni = cu(w2)/N. The interpolation is
    * what production LM-quality filters actually run — pure bigram MLE
    * (see [[bigramLogProb]]'s add-one variant) over-penalizes rare but
    * valid continuations; the unigram back-off floor keeps them finite.
    *
    * Scale shape mirrors [[bigramLogProb]]: the bigram count table is
    * corpus-sized and NEVER broadcast (shuffle-hash equi-join on the
    * bigram); the unigram table joins twice (w1 denominator, w2 back-off)
    * under the `broadcastVocab` switch; N is a 1-row scalar broadcast.
    * Log-probs sum through DECIMAL(27,12). λ defaults to 0.5 so (1−λ) is
    * exact in binary floating point — the oracle mirrors the literal. */
  def interpolatedLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double = 0.5,
      broadcastVocab: Boolean = true,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val bigrams = df.select(col(idCol),
      explode(gramsAll(tokens(col(textCol)), 2)).as("bg"))
    // cached: the unigram table feeds THREE consumers (w1 denominator,
    // w2 back-off, the N scalar) and Spark does not dedup common
    // subplans — uncached each would re-run the full token aggregate.
    // Scope-owned — release after the result is materialized.
    val uni = scope.cache(df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cu")))
    val ntok = uni.agg(sum(col("cu")).as("ntok"))
    val bi = bigrams.groupBy("bg").agg(count(lit(1)).as("cb"))
    def uniSide(as: String, cuAs: String) = {
      val r = uni.select(col("term").as(as), col("cu").as(cuAs))
      if (broadcastVocab) broadcast(r) else r.hint("shuffle_hash")
    }
    val p = lit(lambda) * col("cb") / col("cu1") +
      (lit(1.0) - lit(lambda)) * col("cu2") / col("ntok")
    val decSum = sum(log(p).cast(org.apache.spark.sql.types.DecimalType(27, 12)))
    bigrams
      .join(bi.hint("shuffle_hash"), "bg") // corpus-sized: never broadcast
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uniSide("w1", "cu1"), "w1")
      .join(uniSide("w2", "cu2"), "w2")
      .crossJoin(broadcast(ntok))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(decSum.cast("double") / count(lit(1)), 6).as("avg_interp_logprob"))
  }

  /** Quartile binning by an integer weight column (curriculum/length
    * buckets): exact interpolated quartile boundaries computed ONCE
    * (1-row aggregate), then per-row bin assignment as a broadcast-join
    * projection — the scan-side scale path. A global-sort `ntile` would
    * put every row through one WindowExec task; here only three doubles
    * cross the cluster. `percentile` is exact and aggregates a
    * value→count map, fine for bounded-cardinality columns like lengths;
    * switch to `approx_percentile` for unbounded ones. Bin k holds rows
    * with weight <= boundary(k) (0-based; bin 3 = above p75). */
  def lengthBins(df: DataFrame, idCol: String, weightCol: String): DataFrame = {
    val b = df.agg(
      expr(s"percentile($weightCol, array(0.25D, 0.5D, 0.75D))").as("bs"))
    df.select(col(idCol), col(weightCol))
      .crossJoin(broadcast(b))
      .select(col(idCol), col(weightCol),
        when(col(weightCol) <= element_at(col("bs"), 1), 0)
          .when(col(weightCol) <= element_at(col("bs"), 2), 1)
          .when(col(weightCol) <= element_at(col("bs"), 3), 2)
          .otherwise(3).as("bin"))
  }

  /** Source-mixing plan: per source, the deterministic keep probability
    * that spends a total `budget` of `weightCol` units (chars/tokens)
    * UNIFORMLY across sources — the domain-reweighting step a pipeline
    * runs before sampling, so one giant crawl source can't drown the
    * curated ones. Over-budget sources get budget/k weight; sources
    * already under their share keep everything (prob 1.0). Pair with
    * [[weightedHashSample]]/[[hashSample]] to execute the plan.
    *
    * One partial-agg shuffle to per-source totals; the window that
    * counts sources runs over the aggregated frame (rows = #sources,
    * bounded by source cardinality — never the document count). All
    * arithmetic is IEEE double division + round(6), bit-identical across
    * engines. */
  def mixPlan(
      df: DataFrame,
      sourceCol: String,
      weightCol: String,
      budget: Long
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("w_total"))
      .withColumn("keep_prob",
        round(least(lit(1.0),
          (lit(budget).cast("double") / count(lit(1)).over(w)) / col("w_total")), 6))
      .select(col(sourceCol), col("n_docs"), col("w_total"), col("keep_prob"),
        floor(col("keep_prob") * col("w_total")).cast("long").as("projected_w"))
  }

  /** Temperature-scaled source mixing (the multilingual/multi-corpus
    * reweighting trick: sampling shares p_i ∝ w_i^α with α<1 flatten the
    * source distribution, so a giant crawl source stops drowning small
    * curated ones without discarding it entirely). Reports, per source,
    * the raw corpus share, the temperature share, and the boost factor a
    * sampler must apply — the plan [[weightedHashSample]] executes.
    *
    * Shape matches [[mixPlan]]: one partial-agg shuffle to per-source
    * totals, then windows over the aggregated frame (rows = #sources,
    * never the document count). `pow` on IEEE doubles is bit-identical
    * across engines for these inputs; shares round(6) at the edge. */
  def temperatureMix(
      df: DataFrame,
      sourceCol: String,
      weightCol: String,
      alpha: Double = 0.5
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("w_total"))
      .withColumn("raw_share",
        col("w_total").cast("double") / sum(col("w_total")).over(w))
      .withColumn("temp_w", pow(col("w_total").cast("double"), lit(alpha)))
      .withColumn("temp_share", col("temp_w") / sum(col("temp_w")).over(w))
      .select(col(sourceCol), col("n_docs"), col("w_total"),
        round(col("raw_share"), 6).as("raw_share"),
        round(col("temp_share"), 6).as("temp_share"),
        round(col("temp_share") / col("raw_share"), 6).as("boost"))
  }

  /** Deterministic training order: assign every document a (shard,
    * pos_in_shard) coordinate from the salted id hash — the global
    * shuffle a training run reads back shard-by-shard. Changing the salt
    * is a full reshuffle (new epoch); changing nothing reproduces the
    * exact order on any engine.
    *
    * This is the scale-correct shape for "shuffle 100 TB": a TOTAL order
    * by hash would need a global sort (or a single-partition window for
    * the rank); sharding first bounds every window partition to n/shards
    * rows, and shards are read in shard order — the composite
    * (shard, pos_in_shard) IS the total order, delivered with one hash
    * shuffle instead of a range-sampled global sort. */
  def trainingOrder(
      df: DataFrame,
      idCol: String,
      salt: String,
      nShards: Int = 8
  ): DataFrame = {
    val key = md5Hex(concat_ws(":", col(idCol).cast("string"), lit(salt)))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shuffle_key"), col(idCol))
    df.select(col(idCol), key.as("shuffle_key"))
      .withColumn("shard",
        (conv(substr(col("shuffle_key"), lit(1), lit(7)), 16, 10)
          .cast("long") % nShards).as("shard"))
      .withColumn("pos_in_shard", row_number().over(wp).cast("long"))
  }

  /** Inter-document boilerplate signal (the MassiveText/Gopher-style
    * cross-document repetition filter): per document, the fraction of its
    * DISTINCT shingles whose document frequency across the corpus exceeds
    * `dfThreshold` — near 1.0 flags template/boilerplate pages that
    * per-document repetition signals ([[repetitionSignals]]) cannot see.
    *
    * Shape at 100 TB: one shingle explode → one partial-agg df count →
    * one equi-join back on the shingle — the TF-IDF/contamination posture
    * (only shingle strings and counts shuffle, never document bodies).
    * Short texts collapse to a single whole-text shingle (same convention
    * as the MinHash shingler), so the fraction is always well-defined. */
  def boilerplateFraction(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      dfThreshold: Int = 10
  ): DataFrame = {
    val e = df.select(col(idCol).as("id"),
        explode(shingles(tokens(col(textCol)), shingleN)).as("s"))
    // shingle sets are distinct per doc, so df = plain row count per shingle
    val dfc = e.groupBy("s").agg(count(lit(1)).as("df"))
    e.join(dfc, "s")
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("df") > dfThreshold, 1)).as("n_common"))
      .select(col(idCol), col("n_shingles"), col("n_common"),
        round(col("n_common").cast("double") / col("n_shingles"), 6)
          .as("common_frac"))
  }

  /** PII scrubbing: redact email addresses, NNN-NNN-NNNN phone numbers and
    * long (4+) digit runs from the text, with per-document match counts
    * (counted on the ORIGINAL text, so a phone inside a scrubbed email
    * still counts). A mandatory hygiene pass before training-data release.
    *
    * Scan-side only: three codegen'd regexp projections, no shuffle, no
    * UDF. The patterns stick to the regex subset Java and RE2 interpret
    * identically, so the DuckDB oracle reproduces the scrub byte-for-byte.
    * At 100 TB this is the cheapest kind of operator — it rides whatever
    * scan partitioning the input already has. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val digits = "\\d{4,}"
    val t = col(textCol)
    df.select(
      col(idCol),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, email, "[EMAIL]"),
          phone, "[PHONE]"),
        digits, "[NUM]").as("clean_text"),
      regexp_count(t, lit(email)).cast("long").as("n_emails"),
      regexp_count(t, lit(phone)).cast("long").as("n_phones"),
      regexp_count(t, lit(digits)).cast("long").as("n_digit_runs"))
  }

  /** Train/test n-gram contamination: for each test document, the fraction
    * of its distinct `shingleN`-gram shingles that appear anywhere in the
    * training corpus (union containment — the standard decontamination
    * check). Returns (idCol, n_shingles, n_hit, containment, contaminated).
    */
  def contamination(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    val tsh = test.select(col(idCol),
      shingles(tokens(col(textCol)), shingleN).as("sh"))
    val corpusGrams = train
      .select(explode(shingles(tokens(col(textCol)), shingleN)).as("g"))
      .distinct()
    val hits = tsh.select(col(idCol), explode(col("sh")).as("g"))
      .join(corpusGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    tsh.select(col(idCol), size(col("sh")).as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("containment", round(col("n_hit") / col("n_shingles"), 6))
      .withColumn("contaminated", col("n_hit") / col("n_shingles") >= threshold)
  }

  /** Benchmark decontamination of the TRAINING set — the reverse direction
    * of [[contamination]] (which scores held-out docs against the corpus):
    * a training document is flagged when it shares ANY word `n`-gram with
    * the benchmark, the standard any-hit blocklist rule for eval-set
    * leakage (one verbatim benchmark fragment is disqualifying; no
    * containment threshold). Output is one row per training document with
    * its distinct-n-gram count, the number matched, and the flag.
    *
    * Scale: benchmarks are small by nature (eval sets, not corpora), so
    * the distinct benchmark-gram set broadcasts and the per-gram probe is
    * a broadcast semi-join — the training side never shuffles. With
    * `broadcastBenchmark=false` the probe is a shuffle semi-join on the
    * gram (both sides partial-aggregated first) for callers whose
    * blocklist outgrows a broadcast. */
  def ngramDecontaminate(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      broadcastBenchmark: Boolean = true
  ): DataFrame = {
    val tsh = train.select(col(idCol),
      shingles(tokens(col(textCol)), shingleN).as("sh"))
    val benchGrams = benchmark
      .select(explode(shingles(tokens(col(textCol)), shingleN)).as("g"))
      .distinct()
    val probeSide = if (broadcastBenchmark) broadcast(benchGrams) else benchGrams
    val hits = tsh.select(col(idCol), explode(col("sh")).as("g"))
      .join(probeSide, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_matched"))
    tsh.select(col(idCol), size(col("sh")).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contaminated", col("n_matched") > 0L)
  }

  /** Per-stratum fixed-COUNT deterministic sample: the `k` rows of each
    * stratum with the smallest (md5(id), id) — the count-quota complement
    * of the rate-based [[stratifiedSample]] ("exactly 10k docs per
    * language", the usual eval-set carve). Hash order makes the pick
    * reproducible across runs/engines/partitionings and stable under
    * corpus growth (a doc's rank only moves when smaller-hash docs arrive
    * in ITS stratum). One shuffle on the stratum; the rank is a
    * WindowGroupLimit, so each map task keeps only its local top-k before
    * the exchange — never a full per-stratum sort of all rows. */
  def fixedStratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rank_in_stratum", row_number().over(w).cast("long"))
      .filter(col("rank_in_stratum") <= k)
      .select(col(strataCol), col(idCol), col("rank_in_stratum"))
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus unigram LM ([[unigramLogProb]]), cut the score distribution at
    * exact terciles, and label each doc head / middle / tail (head = most
    * natural under the LM). The tercile boundaries are a 1-row aggregate
    * broadcast back as scan-side comparisons — no global sort, no per-row
    * window; the LM scan dominates, exactly as in the batch LM op. Both
    * engines interpolate percentiles identically (pinned by the
    * quantile-gate ops) over the SAME canonically rounded scores, so the
    * bucket labels are engine-portable. */
  def pplBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val lp = unigramLogProb(df, idCol, textCol)
    val cuts = lp.agg(
      percentile(col("avg_logprob"), lit(2.0 / 3)).as("t_head"),
      percentile(col("avg_logprob"), lit(1.0 / 3)).as("t_mid"))
    lp.crossJoin(broadcast(cuts))
      .select(col(idCol), col("avg_logprob"),
        when(col("avg_logprob") >= col("t_head"), "head")
          .when(col("avg_logprob") >= col("t_mid"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Zipf rank-frequency fit: least-squares slope/intercept of
    * ln(frequency) against ln(rank) over the corpus's top-`k` tokens — the
    * classic corpus-health check (natural text sits near slope −1;
    * templated/synthetic text drifts flat or cliff-shaped). Scale shape:
    * token counting is one map-side-combinable groupBy; the top-k cut is
    * TakeOrderedAndProject (per-partition heads, never a global sort) with
    * ties broken on the token so the ranked set is deterministic; the
    * closed-form regression then runs over k rows — the single-partition
    * window after `limit(k)` is bounded by construction. Float discipline:
    * each ln() routes through DECIMAL(27,12) before summing (the
    * [[unigramLogProb]] recipe — order-independent sums, sub-ulp noise
    * truncated), and the slope/intercept are scalar double arithmetic over
    * those exact sums, rounded to 6. */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      k: Int = 100
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = df
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(k)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    // ln values round-trip through DECIMAL(27,12) so both engines start the
    // regression from bit-identical canonicalized doubles; the PRODUCTS are
    // computed in double (a (27,12)×(27,12) decimal multiply would overflow
    // precision 38 — Spark silently rounds, DuckDB errors) and only then
    // routed back to DECIMAL for the order-independent sum.
    val lx = log(col("rank").cast("double")).cast(dec).cast("double")
    val ly = log(col("cnt").cast("double")).cast(dec).cast("double")
    ranked.agg(
        count(lit(1)).cast("double").as("n"),
        sum(lx.cast(dec)).cast("double").as("sx"),
        sum(ly.cast(dec)).cast("double").as("sy"),
        sum((lx * ly).cast(dec)).cast("double").as("sxy"),
        sum((lx * lx).cast(dec)).cast("double").as("sxx"))
      .select(
        col("n").cast("long").as("n_ranks"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
              col("n"), 6).as("intercept"))
  }

  /** Quality-vs-duplication calibration: exact quality quartiles × the
    * exact-dup rate inside each — the cross-signal sanity table ("do our
    * quality screens and our dedup screens agree about which slice is
    * junk?"). A dup rate flat across quartiles means the two signals are
    * independent and both earn their place; dups concentrated in the
    * bottom quartile means quality filtering already buys most of the
    * dedup win. Quartile cuts are the exact interpolated percentiles as a
    * 1-row broadcast ([[lengthBins]] recipe); dup membership is one
    * fingerprint total join ([[Dedup.dupRateBySource]] posture). */
  def qualityDupCalibration(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    // cached: the quality+fingerprint projection feeds the cut aggregate,
    // the fingerprint totals, and the final grouping
    val q = scope.cache(df.select(col(idCol).as("id"),
      qualityScore(col(textCol), tokens(col(textCol))).as("q"),
      fingerprint(col(textCol)).as("fp")))
    val tot = q.groupBy("fp").agg(count(lit(1)).as("tot"))
    val cuts = q.agg(expr("percentile(q, array(0.25D, 0.5D, 0.75D))").as("bs"))
    q.join(tot, "fp").crossJoin(broadcast(cuts))
      .select(
        when(col("q") <= element_at(col("bs"), 1), 0)
          .when(col("q") <= element_at(col("bs"), 2), 1)
          .when(col("q") <= element_at(col("bs"), 3), 2)
          .otherwise(3).as("quartile"),
        (col("tot") > 1).as("dup"))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("quartile"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs") / col("n_docs"), 6).as("dup_rate"))
  }

  /** Heaps'-law fit: vocabulary growth V(N) ≈ K·N^β estimated from 10
    * document-count checkpoints — the corpus-health number behind "is new
    * data still adding new language?" (β near the 0.4–0.6 natural-text
    * band; a collapsing β says the crawl is recycling itself). The
    * checkpoints are id-threshold prefixes t_i = ⌊max_id·i/10⌋; V(t) counts
    * terms whose FIRST-owning doc id ([[noveltyProfile]]'s ownership
    * aggregate at term granularity) is ≤ t — so the whole curve needs one
    * term-ownership aggregate plus two tiny checkpoint counts, never a
    * sequential scan. The ln-ln least squares is [[zipfFit]]'s
    * DECIMAL-canonicalized recipe over the 10-row checkpoint frame. */
  def heapsFit(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    val ids = df.select(col(idCol).cast("long").as("id"))
    val own = df.select(col(idCol).cast("long").as("id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(min(col("id")).as("first_id"))
    val mx = ids.agg(max(col("id")).as("mx"))
    def atCheckpoints(src: DataFrame, valueCol: String, outCol: String) =
      src.crossJoin(broadcast(mx))
        .select(col(valueCol), explode(sequence(lit(1), lit(10))).as("i"),
          col("mx"))
        .groupBy("i")
        .agg(sum(when(col(valueCol) <= col("mx") * col("i") / 10, 1L)
          .otherwise(0L)).as(outCol))
    val pts = atCheckpoints(ids, "id", "n_docs")
      .join(atCheckpoints(own, "first_id", "n_terms"), "i")
      .filter(col("n_docs") > 0 && col("n_terms") > 0)
    val lx = log(col("n_docs").cast("double")).cast(dec).cast("double")
    val ly = log(col("n_terms").cast("double")).cast(dec).cast("double")
    pts.agg(
        count(lit(1)).cast("double").as("n"),
        sum(lx.cast(dec)).cast("double").as("sx"),
        sum(ly.cast(dec)).cast("double").as("sy"),
        sum((lx * ly).cast(dec)).cast("double").as("sxy"),
        sum((lx * lx).cast(dec)).cast("double").as("sxx"))
      .select(
        col("n").cast("long").as("n_points"),
        // + 0.0 canonicalizes IEEE negative zero (a saturated vocabulary
        // puts the slope numerator at ±0; the engines disagree on the sign)
        (round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6) + 0.0).as("beta"),
        (round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
              col("n"), 6) + 0.0).as("ln_k"))
  }

  /** Model-ready quality blend: one composite score per document from
    * three independent signals — the heuristic quality score, token
    * Shannon entropy, and span UNIQUENESS (1 − duplicated-span fraction)
    * — each z-score-normalized against the corpus and averaged, plus a
    * keep flag at the exact corpus `p`-quantile of the blend (the
    * single-number filter a curation pipeline thresholds on).
    *
    * Scale shape: NO rank windows and no global sort — each signal's
    * mean/std is a 1-row DECIMAL-routed aggregate broadcast back (z-score
    * normalization is scan-side arithmetic), and the quantile cut is one
    * more 1-row aggregate over the cached blend frame (scope-owned).
    * Degenerate signals (σ = 0) contribute z = 0 instead of dividing by
    * zero. */
  def qualityBlend(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanN: Int = 8,
      p: Double = 0.9,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    val toks = tokens(col(textCol))
    val q = df.select(col(idCol).as("id"),
      qualityScore(col(textCol), toks).as("q"))
    val e = tokenEntropy(df, idCol, textCol)
      .select(col(idCol).as("id"), col("entropy").as("e"))
    val u = dupSpanProfile(df, idCol, textCol, spanN)
      .select(col(idCol).as("id"), (lit(1.0) - col("dup_span_frac")).as("u"))
    val sig = q.join(e, Seq("id")).join(u, Seq("id"))
    def mos(c: String) = Seq(
      sum(col(c).cast(dec)).cast("double").as(s"s_$c"),
      sum((col(c) * col(c)).cast(dec)).cast("double").as(s"ss_$c"))
    val aggs = mos("q") ++ mos("e") ++ mos("u")
    val stats = sig.agg(count(lit(1)).cast("double").as("n"), aggs: _*)
    def z(c: String): Column = {
      val mu = col(s"s_$c") / col("n")
      val sd = sqrt(col(s"ss_$c") / col("n") - mu * mu)
      when(sd > 0, (col(c) - mu) / sd).otherwise(lit(0.0))
    }
    val blended = scope.cache(sig.crossJoin(broadcast(stats))
      .select(col("id"),
        round((z("q") + z("e") + z("u")) / 3.0, 6).as("blend")))
    val cut = blended.agg(percentile(col("blend"), lit(p)).as("p_cut"))
    blended.crossJoin(broadcast(cut))
      .select(col("id").as(idCol), col("blend"),
        (col("blend") >= col("p_cut")).as("keep"))
  }

  /** BPE merge induction: learn the first `nMerges` byte-pair-encoding
    * merges from the corpus — the tokenizer-training step of an LLM data
    * pipeline, distributed. Words become '|'-delimited character symbol
    * strings; each round counts adjacent symbol pairs weighted by word
    * frequency, picks the most frequent (ties: lexicographically smallest
    * (left, right)), and rewrites every occurrence. Returns the merge
    * table (merge_idx, left_sym, right_sym, pair_count) — the artifact a
    * tokenizer ships.
    *
    * Scale shape: ONE corpus-sized aggregate (word counts) + ONE
    * corpus-sized pair-count seed; every round after that costs only the
    * words the winning merge TOUCHES — pair counts are maintained
    * incrementally on the driver and each round's delta aggregate
    * retracts/asserts pairs for touched words alone, with the winner
    * applied by a greedy-leftmost array fold (see [[learnMerges]]: the
    * incremental-trainer shape that reaches a real tokenizer's 32k
    * merges — 32k full recounts would not). Driver state is the bounded
    * (pair -> count) map every production BPE trainer keeps. Assumes
    * corpus text gives `nMerges` rounds of nonempty pair tables (true
    * for any real corpus). */
  def bpeMerges(
      df: DataFrame,
      textCol: String,
      nMerges: Int = 12
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    learnMerges(df, textCol, nMerges)
      .toDF("merge_idx", "left_sym", "right_sym", "pair_count")
  }

  /** The learned VOCABULARY with corpus frequencies — the second
    * artifact a tokenizer ships next to its merge table: every symbol
    * the corpus segments into after `nMerges` merges, weighted by word
    * frequency. Token-budget planning, OOV analysis, and embedding-table
    * sizing all read this, not the merge list.
    *
    * Scale shape: the trainer's induction, then the same rank-ordered
    * [[mergeFold]] chain over the (distinct word, frequency) frame with
    * the checkpoint cadence, one explode and one (token) aggregate. */
  def bpeVocabulary(
      df: DataFrame,
      textCol: String,
      nMerges: Int = 12
  ): DataFrame =
    bpeVocabularyWith(df, textCol, learnMerges(df, textCol, nMerges))

  /** [[bpeVocabulary]] with a PRECOMPUTED merge table (e.g. loaded from
    * a committed tokenizer registry) — the [[bpeSegmentWith]] companion:
    * ship the merges once, derive the weighted vocabulary anywhere
    * without retraining. */
  def bpeVocabularyWith(
      df: DataFrame,
      textCol: String,
      merges: Seq[(Int, String, String, Long)]
  ): DataFrame = {
    var words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(filter(split(col("w"), ""), x => x =!= "").as("sy"), col("n"))
    var applied = 0
    for ((_, a, b, _) <- merges) {
      words = words.select(mergeFold(col("sy"), a, b).as("sy"), col("n"))
      applied += 1
      if (applied % RepersistEvery == 0) words = words.localCheckpoint(true)
    }
    words.select(explode(col("sy")).as("token"), col("n"))
      .groupBy("token").agg(sum(col("n")).as("occurrences"))
  }

  /** [[bpeMerges]] as the driver-side merge table a tokenizer SHIPS —
    * the artifact [[bpeSegmentWith]] applies to any corpus without
    * retraining (train on a reference slice, segment everything). The
    * table is nMerges rows: bounded driver state by construction. */
  def bpeMergeTable(
      df: DataFrame,
      textCol: String,
      nMerges: Int = 12
  ): Seq[(Int, String, String, Long)] =
    learnMerges(df, textCol, nMerges)

  /** BPE segmentation with the merges [[bpeMerges]] learns: per document,
    * word-token and BPE-token counts plus tokens-per-word — the REAL
    * token-budget number a learned tokenizer yields (vs the regex
    * heuristic in `bpeishTokenCount`).
    *
    * Scale shape: merges apply to the DISTINCT-WORD vocabulary, not to
    * every occurrence — each merge is ONE greedy-leftmost array fold
    * ([[mergeFold]], the trainer's own application) over the vocab
    * frame, checkpointed every [[RepersistEvery]] rounds, so a real
    * tokenizer's 32k merges cost 32k O(word-length) row-local folds
    * with bounded plan depth — NOT the merges × chain-depth nested-`replace`
    * expression this replaced, whose single projection grew to ~192k
    * expression nodes at 32k merges and stopped being plannable long
    * before it stopped being correct. Documents then join the segmented
    * vocab on the word and aggregate per doc; segmenting occurrences
    * instead would multiply the string work by the corpus/vocab ratio
    * for identical results. `broadcastVocab` picks the join strategy
    * (the [[bigramLm]] switch): true broadcasts the segmented vocab —
    * right while the distinct-word table fits an executor; false
    * shuffle-hash-joins on the word — the escape hatch for web-scale
    * vocabularies, where an unconditional broadcast is an OOM, at the
    * price of one corpus-sized shuffle. Results are bit-identical either
    * way (plain equi-join on the word). */
  def bpeSegment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nMerges: Int = 12,
      broadcastVocab: Boolean = true
  ): DataFrame =
    bpeSegmentWith(df, idCol, textCol,
      learnMerges(df, textCol, nMerges), broadcastVocab)

  /** [[bpeSegment]] with a PRECOMPUTED merge table — the production
    * shape: a tokenizer trains once ([[bpeMerges]]) and ships its merge
    * list; corpora are then segmented with the shipped table, never by
    * retraining. Merges apply in rank order, each one [[mergeFold]]
    * over the distinct-word vocabulary with the trainer's checkpoint
    * cadence. */
  def bpeSegmentWith(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(Int, String, String, Long)],
      broadcastVocab: Boolean = true
  ): DataFrame = {
    var vocab = df.select(explode(tokens(col(textCol))).as("w")).distinct()
      .select(col("w"), filter(split(col("w"), ""), x => x =!= "").as("sy"))
    var applied = 0
    for ((_, a, b, _) <- merges) {
      vocab = vocab.select(col("w"), mergeFold(col("sy"), a, b).as("sy"))
      applied += 1
      if (applied % RepersistEvery == 0) vocab = vocab.localCheckpoint(true)
    }
    val seg = vocab.select(col("w"), size(col("sy")).as("nt"))
    df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(if (broadcastVocab) broadcast(seg) else seg.hint("shuffle_hash"), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_word_tokens"),
        sum(col("nt")).cast("int").as("n_bpe_tokens"))
      .select(col(idCol), col("n_word_tokens"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens") / col("n_word_tokens"), 6).as("bpe_per_word"))
  }

  /** The induction loop shared by [[bpeMerges]] and [[bpeSegment]]:
    * (merge_idx, left, right, pair_count) per round.
    *
    * Representation: the vocabulary lives as (symbol ARRAY, frequency)
    * rows; pair counts live INCREMENTALLY on the driver. ONE
    * corpus-sized aggregate seeds a (pair -> weighted count) map; every
    * round then (1) reads the top pair from an ordered view of that map
    * (O(log P)), (2) runs a DELTA aggregate over only the words that
    * CONTAIN the winning pair — each touched word retracts its old
    * adjacent-pair multiset and asserts its post-merge one — and folds
    * the collected delta back into the map, and (3) applies the merge by
    * ARRAY SURGERY: a greedy-leftmost fold (`aggregate` HOF, row-local)
    * guarded by a contains-the-pair predicate, so untouched rows pass
    * through unrewritten. A round therefore costs the TOUCHED words
    * (Sennrich's incremental trainer, distributed), not the vocabulary —
    * the previous full per-round pair recount priced 32k merges at 32k
    * vocabulary-sized shuffle jobs; this prices them at the sum of
    * touched-word sizes, which real corpora decay geometrically.
    *
    * Driver-state budget: the pair map is O(distinct adjacent pairs) —
    * the same bounded single-node state every production BPE trainer
    * keeps (a few million entries at web scale), NOT corpus-sized; the
    * corpus- and vocab-sized work (seed count, per-round deltas,
    * rewrites) all stays distributed. Per-round collects are one delta
    * frame of touched distinct pairs.
    *
    * Lineage discipline: the fold adds one plan node per round, so every
    * [[RepersistEvery]] rounds the frame is localCheckpointed (eager):
    * plan depth and executor-loss replay cost stay bounded by the
    * cadence (BpeChainScalingSpec proves round time flat through 1,024
    * merges and pins the shuffle volume to the touched words).
    * Checkpoint blocks from superseded rounds are reclaimed by the
    * ContextCleaner once unreferenced. Induction merges chains of ANY
    * length exactly. */
  private val RepersistEvery = 8

  /** Lexicographic comparison of UTF-8 byte sequences (unsigned) — the
    * collation Spark's UTF8String binary ordering and DuckDB's default
    * VARCHAR ordering share. Driver-side tie-breaks that feed or mirror
    * an engine ORDER BY must use this, not Scala's UTF-16 code-unit
    * String ordering (they disagree on supplementary-plane characters
    * vs U+E000–U+FFFF). */
  private def utf8Compare(x: String, y: String): Int = {
    val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(xb, yb)
  }

  /** Greedy-leftmost application of ONE merge (a, b) to a symbol array:
    * fold the array, coalescing [..., a] + b into [..., ab]; after a
    * coalesce the merged token is "ab", so an overlapping chain (a,a,a
    * with pair a·a) correctly yields [aa, a] — byte-pair semantics, all
    * chain lengths, one row-local pass. A no-op on rows without the
    * pair, so callers apply it UNCONDITIONALLY: guarding it
    * (when(touched, fold).otherwise(sy)) would reference `sy` five
    * times per round, and the optimizer's project collapsing then grows
    * the iterated plan ~5^k — the unconditional fold references `sy`
    * once, so plan size stays linear in the checkpoint cadence. Shared
    * by the trainer's round rewrite and [[bpeSegment]]'s vocabulary
    * application. */
  private def mergeFold(sy: Column, a: String, b: String): Column =
    aggregate(
      sy,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  private[ops] def learnMerges(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      onRound: (Int, Long) => Unit = (_, _) => ()
  ): Seq[(Int, String, String, Long)] = {
    var words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(filter(split(col("w"), ""), x => x =!= "").as("sy"), col("n"))
      .localCheckpoint(true)

    def adjPairs(sy: Column): Column = {
      val half = greatest(size(sy) - 1, lit(0))
      zip_with(slice(sy, lit(1), half), slice(sy, lit(2), half),
        (x, y) => struct(x.as("a"), y.as("b")))
    }

    // seed: the ONE full pair count; thereafter counts evolve by deltas.
    // `byCount` keeps the rows ordered (count desc, then lexicographic
    // (a, b)) so each round's winner is an O(log P) head read — the
    // tie-break compares UTF-8 BYTES ([[utf8Compare]]), matching how a
    // Spark `ORDER BY` (UTF8String) and the DuckDB oracle collate:
    // Scala's default String ordering compares UTF-16 code units, which
    // ranks supplementary-plane characters BELOW U+E000–U+FFFF — one
    // differently-resolved tie there and every subsequent merge diverges.
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val byCount = scala.collection.mutable.TreeSet
      .empty[(Long, String, String)](new Ordering[(Long, String, String)] {
        def compare(l: (Long, String, String), r: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(r._1, l._1) // count DESC
          if (c != 0) c
          else {
            val ca = utf8Compare(l._2, r._2)
            if (ca != 0) ca else utf8Compare(l._3, r._3)
          }
        }
      })
    words.select(explode(adjPairs(col("sy"))).as("p"), col("n"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("cnt"))
      .collect()
      .foreach { r =>
        counts((r.getString(0), r.getString(1))) = r.getLong(2)
        byCount += ((r.getLong(2), r.getString(0), r.getString(1)))
      }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var it = 1
    while (it <= nMerges) {
      val roundStart = System.nanoTime()
      require(byCount.nonEmpty,
        s"corpus exhausted adjacent pairs after ${it - 1} merges")
      val (cnt, a, b) = byCount.head
      merges += ((it, a, b, cnt))
      val touched = exists(adjPairs(col("sy")),
        p => p("a") === lit(a) && p("b") === lit(b))
      // greedy-leftmost merge application ([[mergeFold]]) — byte-pair
      // semantics, all chain lengths, one pass
      val stepped = mergeFold(col("sy"), a, b)
      // delta aggregate over ONLY the touched words: retract the old
      // pair multiset, assert the post-merge one; everything else in the
      // corpus provably kept its pairs and contributes nothing. The
      // touched guard lives INSIDE the projected array (untouched rows
      // yield an empty array explode drops) rather than in a Filter
      // node: a filter on this expression would be pushed through the
      // in-window fold projections, substituting the fold into the
      // predicate at every level and growing the plan ~3^cadence
      val pairDeltas = when(touched,
          concat(
            transform(adjPairs(col("sy")),
              p => struct(p("a").as("a"), p("b").as("b"), (-col("n")).as("d"))),
            transform(adjPairs(stepped),
              p => struct(p("a").as("a"), p("b").as("b"), col("n").as("d")))))
        .otherwise(array().cast("array<struct<a:string,b:string,d:bigint>>"))
      val delta = words.select(explode(pairDeltas).as("x"))
        .groupBy(col("x.a").as("a"), col("x.b").as("b"))
        .agg(sum(col("x.d")).as("d"))
        .collect()
      delta.foreach { r =>
        val k = (r.getString(0), r.getString(1))
        val old = counts.getOrElse(k, 0L)
        if (old != 0L) byCount -= ((old, k._1, k._2))
        val nv = old + r.getLong(2)
        if (nv > 0L) {
          counts(k) = nv
          byCount += ((nv, k._1, k._2))
        } else counts.remove(k): Unit
      }
      // the fold is a no-op on rows without the pair, so apply it
      // UNCONDITIONALLY: guarding it (when(touched, stepped)
      // .otherwise(sy)) would reference `sy` five times per round, and
      // the optimizer's project collapsing then grows the in-window
      // plan ~5^k — the unconditional fold references `sy` once, so
      // plan size stays linear in the checkpoint cadence
      words = words.select(stepped.as("sy"), col("n"))
      if (it % RepersistEvery == 0) words = words.localCheckpoint(true)
      onRound(it, System.nanoTime() - roundStart)
      it += 1
    }
    merges.toSeq
  }

  /** BPE vocabulary DRIFT between two corpus slices — the tokenizer-
    * governance check: train the first `nMerges` merges independently
    * on each slice and align them round by round. A retrained
    * tokenizer whose early merge table diverges from the production
    * one changes every downstream token count and sequence boundary —
    * this is the diff you review before shipping it. Output per round:
    * both sides' (left, right, weighted count) and whether the learned
    * pair agrees.
    *
    * Scale shape: two independent [[learnMerges]] runs (each the
    * incremental touched-words trainer); the alignment is a driver-side
    * zip of two nMerges-row tables. */
  def bpeVocabDrift(
      dfA: DataFrame,
      dfB: DataFrame,
      textCol: String,
      nMerges: Int = 12
  ): DataFrame =
    bpeVocabDriftWith(dfA.sparkSession,
      learnMerges(dfA, textCol, nMerges),
      learnMerges(dfB, textCol, nMerges))

  /** [[bpeVocabDrift]] over two PRECOMPUTED merge tables — the pure
    * comparison step, for merges loaded from committed tokenizer
    * registries instead of re-induced per diff. */
  def bpeVocabDriftWith(
      spark: org.apache.spark.sql.SparkSession,
      a: Seq[(Int, String, String, Long)],
      b: Seq[(Int, String, String, Long)]
  ): DataFrame = {
    import spark.implicits._
    a.zip(b).map { case ((i, al, ar, ac), (_, bl, br, bc)) =>
      (i, al, ar, ac, bl, br, bc, al == bl && ar == br)
    }.toDF("merge_idx", "a_left", "a_right", "a_count",
      "b_left", "b_right", "b_count", "same_pair")
  }

  /** Content-defined chunk dedup — the SHIFT-RESISTANT sub-document
    * signal: token streams cut where the `windowN`-gram hash ≡ 0 mod
    * `divisor` (the rsync/CDC boundary rule at token granularity), so an
    * insertion early in a document moves every fixed-span gram but leaves
    * all later CDC chunk boundaries — and therefore the chunk
    * fingerprints — unchanged. Output per document: chunk count, chunk
    * instances whose fingerprint recurs in the rest of the corpus, and
    * the dup fraction ([[dupSpanProfile]] semantics over variable-length
    * chunks; expected chunk length ≈ `divisor` tokens).
    *
    * Scale shape: boundary detection and chunk assembly are ROW-LOCAL
    * higher-order functions (lambda bodies touch only their own variables
    * and plain column attributes — the graft HOF invariant); the corpus
    * pays one (doc, fingerprint) aggregate, one per-fingerprint total,
    * and the equi-join back — identical posture to the span profile. */
  def cdcChunkDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowN: Int = 4,
      divisor: Int = 16
  ): DataFrame = {
    val prepped = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__gh",
        hash60Arr(gramsAll(col("__toks"), windowN)))
      .withColumn("__cuts", filter(
        transform(col("__gh"), (h, i) =>
          when(pmod(h, lit(divisor.toLong)) === 0L, i + lit(windowN - 1))
            .otherwise(lit(-1))),
        c => c >= 0))
    val prev = concat(array(lit(-1)), col("__cuts"))
    val nxt = concat(col("__cuts"), array(size(col("__toks")) - 1))
    val chunks = prepped.select(col(idCol).as("id"),
      explode(filter(
        zip_with(prev, nxt, (p, e) =>
          array_join(slice(col("__toks"), p + 2, e - p), " ")),
        s => s =!= "")).as("chunk"))
    val perDoc = chunks
      .select(col("id"), md5Hex(col("chunk")).as("fp"))
      .groupBy(col("id"), col("fp")).agg(count(lit(1)).as("c"))
    val totals = perDoc.groupBy(col("fp")).agg(sum(col("c")).as("tot"))
    val scored = perDoc.join(totals, "fp")
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_chunks"),
        sum(when(col("tot") > col("c"), col("c")).otherwise(0L)).as("n_dup_chunks"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        round(when(coalesce(col("n_chunks"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_dup_chunks") / col("n_chunks")), 6).as("dup_chunk_frac"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS local fingerprinting scheme): hash every overlapping
    * `k`-gram, slide a window of `w` consecutive hashes, and select each
    * window's minimum, ties to the RIGHTMOST occurrence (robust
    * winnowing). Adjacent windows mostly re-select the same gram, so the
    * distinct selections form a position-stable ~2/(w+1)-density sketch
    * that is guaranteed to share a fingerprint with any copy overlapping
    * by w+k−1 tokens — the local-match guarantee CDC boundaries
    * ([[cdcChunkDups]]) do not give. Output per document: gram count,
    * fingerprint count, xor-of-fingerprints (an order-independent sketch
    * checksum), selection density.
    *
    * Scale shape: entirely ROW-LOCAL — the rolling window minimum is a
    * chain of `w−1` shifted `zip_with` folds over (hash, position) pairs
    * (lambda bodies touch only their own variables, the graft HOF
    * invariant), so the whole operator is one narrow projection: no
    * shuffle, no join, no per-row window function. Texts shorter than `k`
    * tokens collapse to one whole-text gram ([[TextFunctions.shingles]]
    * convention); fewer grams than `w` means one window over them all. */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4
  ): DataFrame = {
    val toksC = tokens(col(textCol))
    val prepped = df
      .withColumn("__grams",
        when(size(toksC) < k, array(concat_ws(" ", toksC)))
          .otherwise(gramsAll(toksC, k)))
      .withColumn("__h", hash60Arr(col("__grams")))
      .withColumn("__s",
        zip_with(col("__h"), sequence(lit(0), size(col("__h")) - 1),
          (v, p) => struct(v.as("v"), p.as("p"))))
      .withColumn("__nw", greatest(size(col("__h")) - (w - 1), lit(1)))
    // rolling min of width w: fold of shifted pair arrays; the LATER
    // element wins ties (<=), giving the rightmost-minimum rule. Trailing
    // windows run short (zip_with pads with null -> keep the accumulator),
    // but only the first __nw entries are windows.
    val folded = (1 until w).foldLeft(col("__s")) { (acc, j) =>
      zip_with(acc, slice(col("__s"), lit(j + 1), size(col("__s"))), (a, b) =>
        when(b.isNotNull && b.getField("v") <= a.getField("v"), b).otherwise(a))
    }
    prepped
      .withColumn("__pos",
        array_distinct(transform(slice(folded, lit(1), col("__nw")),
          x => x.getField("p"))))
      .select(col(idCol),
        size(col("__h")).as("n_grams"),
        size(col("__pos")).as("n_fps"),
        aggregate(transform(col("__pos"), p => element_at(col("__h"), p + 1)),
          lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_xor"),
        round(size(col("__pos")) / col("__nw"), 6).as("density"))
  }

  /** Dataset version diff: per document id, its status between a base and
    * a revised corpus snapshot — `added` / `removed` / `changed` /
    * `unchanged` — the audit table behind dataset versioning and
    * incremental reprocessing ("rerun the pipeline only on changed+added").
    *
    * Scale shape: both sides reduce to (id, md5 fingerprint) BEFORE the
    * full-outer join, so the shuffle carries 40-ish bytes per document and
    * the text columns never leave their scans; change detection is one
    * fingerprint equality. */
  def versionDiff(
      base: DataFrame,
      revised: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val b = base.select(col(idCol).as("id"), fingerprint(col(textCol)).as("bfp"))
    val r = revised.select(col(idCol).as("id"), fingerprint(col(textCol)).as("rfp"))
    b.join(r, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("bfp").isNull, lit("added"))
          .when(col("rfp").isNull, lit("removed"))
          .when(col("bfp") === col("rfp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Top-k PMI collocations: bigrams whose pointwise mutual information
    * ln(c_bg·N / (c_w1·c_w2)) is highest among bigrams with at least
    * `minCount` occurrences — the classic collocation miner ("new york"
    * scores high because its parts rarely occur apart). Counts are exact
    * integers; the PMI argument is computed in double (products stay well
    * under 2^53 at any realistic count scale, so the division is exact
    * arithmetic on exactly-represented integers), ln is canonicalized
    * through DECIMAL(27,12) ([[zipfFit]] recipe), and the top-k cut is a
    * TakeOrderedAndProject with a bigram tie-break.
    *
    * Scale shape: one bigram aggregate + one unigram aggregate (both
    * map-side combinable), unigrams joined back twice (broadcast — vocab
    * scale), N as a 1-row broadcast. */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Int = 5,
      k: Int = 25
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    val uni = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cu"))
    val ntok = uni.agg(sum(col("cu")).as("ntok"))
    val bi = df.select(explode(gramsAll(tokens(col(textCol)), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val x = col("n_pair").cast("double") * col("ntok").cast("double") /
      (col("n_w1").cast("double") * col("n_w2").cast("double"))
    bi
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(broadcast(uni.select(col("term").as("w1"), col("cu").as("n_w1"))), "w1")
      .join(broadcast(uni.select(col("term").as("w2"), col("cu").as("n_w2"))), "w2")
      .crossJoin(broadcast(ntok))
      .select(col("bg"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log(x).cast(dec).cast("double"), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bg"))
      .limit(k)
  }

  /** Per-document token-level Shannon entropy (nats): low-entropy docs are
    * repetitive/templated (keyword stuffing, boilerplate), the classic
    * cheap quality screen next to [[repetitionSignals]]. Output
    * (id, n_tokens, n_distinct, entropy) with
    * H = ln(n) − Σ c·ln(c) / n over per-doc term counts.
    *
    * Determinism: ln values are canonicalized through DECIMAL(27,12)
    * before the product (the [[zipfFit]] recipe — libm ulp differences
    * truncated), products run in double, and the sum is DECIMAL-routed so
    * it is independent of partial-aggregation order. Two
    * map-side-combinable aggregates, one (id, term) shuffle. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    val counts = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("c"))
    val lc = log(col("c").cast("double")).cast(dec).cast("double")
    counts.groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum((col("c").cast("double") * lc).cast(dec)).cast("double").as("s"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens").cast("double")).cast(dec).cast("double")
          - col("s") / col("n_tokens"), 6).as("entropy"))
  }

  /** Flesch-style readability profile: words, sentence-final punctuation
    * runs, vowel-group syllable estimate, and the reading-ease score
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) — the
    * classic complexity screen next to [[quality]]'s stopword/punctuation
    * heuristics (too-easy text is boilerplate, too-hard is often OCR
    * noise or code). Three scan-side codegen'd regex/array projections,
    * no shuffle; both counts use patterns in the Java∩RE2 subset (the
    * piiScrub rule), so the oracle reproduces every number exactly.
    * Sentence count floors at 1 (fragments are one sentence). */
  def readability(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val words = size(tokens(col(textCol)))
    val sents = greatest(
      size(expr(s"regexp_extract_all($textCol, '[.!?]+', 0)")), lit(1))
    val syll = size(expr(s"regexp_extract_all(lower($textCol), '[aeiouy]+', 0)"))
    df.select(col(idCol), words.as("n_words"), sents.as("n_sentences"),
        syll.as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables") / col("n_words")), 6).as("flesch"))
  }

  /** Composition independence check: the (stratum A × stratum B) count
    * grid — e.g. language × source — with each cell's expected count
    * under independence and its chi-square contribution (o−e)²/e. The
    * corpus-composition drift table behind "is language mix uniform
    * across crawls?"; a hot cell names the slice that skews the mix.
    * Marginals and the grand total are exact longs, so expected counts
    * and contributions are deterministic double arithmetic — the oracle
    * agrees bit for bit.
    *
    * Scale shape: ONE (a, b) count shuffle (map-side combinable, grid
    * rows = |A|·|B| observed pairs); both marginal frames aggregate over
    * that grid (not the corpus) and broadcast back. Only OBSERVED cells
    * are emitted — a full test statistic additionally sums e over the
    * absent cells (a never-observed pair still has e > 0); the hot-cell
    * table is the operational readout either way. */
  def mixChiSquare(
      df: DataFrame,
      aCol: String,
      bCol: String
  ): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val aTot = cells.groupBy("a").agg(sum(col("n")).as("na"))
    val bTot = cells.groupBy("b").agg(sum(col("n")).as("nb"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    val e = col("na") * col("nb") / col("nn").cast("double")
    cells
      .join(broadcast(aTot), "a")
      .join(broadcast(bTot), "b")
      .crossJoin(broadcast(tot))
      .select(col("a").as(aCol), col("b").as(bCol), col("n"),
        round(e, 6).as("expected"),
        round((col("n") - e) * (col("n") - e) / e, 6).as("chi2"))
  }

  /** Per-source distribution drift: Jensen–Shannon divergence (nats)
    * between each source's token distribution and the REST of the corpus —
    * the standard bounded-symmetric distribution-shift monitor (ln 2 max)
    * behind mixture rebalancing and "did this crawl slice change?" alerts.
    * A term absent from the source contributes only through the rest-side
    * KL term (the same 2q/(p+q) formula — no special casing), so the
    * divergence is exact, not truncated to shared vocabulary.
    *
    * Scale shape: one (source, term) count shuffle (map-side combinable),
    * a per-term total over that frame, and the #sources-sized totals
    * broadcast back. Work is Σ_s |vocab_s| — NOT vocabulary × #sources:
    * terms ABSENT from a source each contribute exactly 0.5·q·ln 2 (the
    * 2q/(p+q) formula at p = 0), and their q mass sums to 1 − Σ_{t∈s} q —
    * so the whole absent-vocabulary side collapses to one closed-form
    * correction per source and only in-source terms are ever enumerated.
    * ln values are canonicalized through DECIMAL(27,12) (the
    * [[tokenEntropy]] recipe) and contribution sums are DECIMAL-routed, so
    * the divergence is partial-aggregation-order independent and
    * bit-replicable. A single-source corpus reports (ln 2)/2 against its
    * empty complement — only the p-side KL term carries mass (the q branch
    * and the correction gate on `n > n_s`, so no NaN ever forms). */
  def jsDivergenceBySource(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    // cached: the exploded (source, term) count frame feeds the per-term
    // totals, the per-source totals, and the scoring join — one explode
    // pass over the corpus instead of three
    val st = scope.cache(
      df.select(col(sourceCol).as("src"), explode(tokens(col(textCol))).as("term"))
        .groupBy("src", "term").agg(count(lit(1)).as("cs")))
    val termTot = st.groupBy("term").agg(sum(col("cs")).as("c_t"))
    val srcTot = st.groupBy("src").agg(sum(col("cs")).as("n_s"))
    val corpusTot = srcTot.agg(sum(col("n_s")).as("n"))
    val scored = st.join(termTot, "term")
      .join(broadcast(srcTot.crossJoin(corpusTot)), "src")
    val p = col("cs").cast("double") / col("n_s")
    val q = when(col("n") > col("n_s"),
      (col("c_t") - col("cs")).cast("double") / (col("n") - col("n_s")))
      .otherwise(lit(0.0))
    def lnD(x: Column) = log(x).cast(dec).cast("double")
    val contrib = p * lnD(lit(2.0) * p / (p + q)) +
      when(col("c_t") - col("cs") > 0, q * lnD(lit(2.0) * q / (p + q)))
        .otherwise(lit(0.0))
    scored.groupBy("src")
      .agg(first(col("n_s")).as("n_tokens"), first(col("n")).as("n"),
        count(lit(1)).as("n_terms"),
        sum((contrib * 0.5).cast(dec)).cast("double").as("s_in"),
        sum(q.cast(dec)).cast("double").as("t_in"))
      .select(col("src").as(sourceCol), col("n_tokens"), col("n_terms"),
        round(col("s_in") +
          when(col("n") > col("n_tokens"),
            lnD(lit(2.0)) * 0.5 * (lit(1.0) - col("t_in"))).otherwise(lit(0.0)),
          6).as("jsd"))
  }

  /** Duplicated-span profile — the substring-dedup signal: per document,
    * the fraction of its `spanN`-token positions whose n-gram ALSO occurs
    * somewhere else in the corpus (another document, or again elsewhere in
    * the same corpus stream beyond this document's own occurrences).
    * Output (id, n_spans, n_dup_spans, dup_span_frac) for EVERY input
    * document; docs shorter than `spanN` tokens report 0 spans.
    *
    * Scale shape: positional n-grams explode once; (doc, gram)
    * multiplicities aggregate map-side; per-gram corpus totals are a second
    * tiny aggregate over that frame (rows = distinct (doc, gram), not
    * positions); the total joins back on the gram key (equi-join — AQE
    * splits hot boilerplate grams) and the per-doc rollup is one more
    * map-side-combinable aggregate. A position is an external dup iff the
    * gram's corpus total exceeds this doc's own count — set arithmetic on
    * two longs, no pairwise doc comparison anywhere. */
  def dupSpanProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanN: Int = 8,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val pos = df.select(col(idCol).as("id"),
      explode(gramsAll(tokens(col(textCol)), spanN)).as("g"))
    // cached: the (doc, gram) counts feed the corpus totals AND the join
    // side — uncached, the positional explode + aggregate runs twice
    // (two full corpus passes at any scale where one suffices)
    val perDoc = scope.cache(
      pos.groupBy(col("id"), col("g")).agg(count(lit(1)).as("c")))
    val totals = perDoc.groupBy(col("g")).agg(sum(col("c")).as("tot"))
    val scored = perDoc.join(totals, "g")
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("tot") > col("c"), col("c")).otherwise(0L)).as("n_dup_spans"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_dup_spans") / col("n_spans")), 6).as("dup_span_frac"))
  }

  /** Novelty profile — [[dupSpanProfile]]'s complement under the corpus's
    * id order: per document, the fraction of its `spanN`-token positions
    * whose gram is INTRODUCED by this document (the corpus-wide minimum
    * doc id owning the gram is this doc). Orders documents by marginal
    * contribution: a late doc full of already-seen spans adds nothing
    * even if it is nobody's exact duplicate — the signal behind
    * dedup-value ranking and incremental-crawl triage. All positions of
    * an introduced gram inside the introducing document count as novel
    * (the gram is new to the corpus; within-doc repetition is
    * [[repetitionSignals]]' job).
    *
    * Scale shape: identical to the span profile — positional gram
    * explode, (doc, gram) map-side counts, per-gram MIN-id aggregate over
    * that frame, equi-join back, one rollup. Text never shuffles. */
  def noveltyProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanN: Int = 8
  ): DataFrame = {
    val pos = df.select(col(idCol).cast("long").as("id"),
      explode(gramsAll(tokens(col(textCol)), spanN)).as("g"))
    // NOT cached, unlike [[dupSpanProfile]]'s perDoc (r15 measured
    // negative result): the same two-consumer shape A/B'd flat-to-worse
    // here (1.56 -> 1.71 s) — the cache round-trip costs more than
    // recomputing the narrower min-id aggregate at bench scale
    val perDoc = pos.groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
    val firstOwner = perDoc.groupBy(col("g")).agg(min(col("id")).as("first_id"))
    val scored = perDoc.join(firstOwner, "g")
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("first_id") === col("id"), col("c")).otherwise(0L))
          .as("n_novel_spans"))
    df.select(col(idCol).cast("long").as("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_novel_spans"), lit(0L)).as("n_novel_spans"),
        round(when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_novel_spans") / col("n_spans")), 6).as("novelty_frac"))
  }

  /** Deterministic export-shard manifest: assign every document to one of
    * `nShards` shards by the stable id hash ([[hashBucket]] family), and
    * report per shard the doc count, token budget, and share of the
    * corpus — the layout step before writing training shards, with the
    * balance numbers that decide whether hash sharding suffices or a
    * size-aware packer ([[Packing]]) is needed. One map-side-combinable
    * aggregate; the corpus total is a 1-row aggregate over the #shards
    * frame broadcast back. */
  def shardManifest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int = 8
  ): DataFrame = {
    val perShard = df
      .select(hashBucket(col(idCol), nShards).as("shard"),
        size(tokens(col(textCol))).as("__nt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt").cast("long")).as("n_tokens"))
    val tot = perShard.agg(sum(col("n_docs")).as("total_docs"))
    perShard.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        round(col("n_docs") / col("total_docs"), 6).as("doc_share"))
  }

  /** Count-Min sketch gate over the corpus token stream: for the top `k`
    * tokens by exact count, the true count next to the CMS estimate
    * (min over `depth` seeded hash rows of `width`-bucket cell sums) and
    * the structural over-estimate gate (`n_cms >= n_true` always holds —
    * collisions only ADD). The gate makes the sketch ORACLE-CHECKABLE
    * bit-for-bit: buckets come from the portable md5-derived [[hash60]]
    * family, so an independent engine reproduces every cell.
    *
    * Scale shape: the sketch is built from the exact term-count table, not
    * the raw stream — cells are one tiny aggregate over distinct terms
    * (depth×width longs of state, mergeable by construction), broadcast
    * back for the estimate probe; top-k is TakeOrderedAndProject. At
    * 100 TB the term table itself is the only corpus-sized aggregate, and
    * it combines map-side. */
  def cmsTopkGate(
      df: DataFrame,
      textCol: String,
      depth: Int = 4,
      width: Int = 256,
      k: Int = 20
  ): DataFrame = {
    val terms = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_true"))
    val jb = terms.select(col("term"), col("n_true"),
      explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"),
          (hash60(col("term"), j) % width).as("b"))): _*)).as("jb"))
      .select(col("term"), col("n_true"),
        col("jb.j").as("j"), col("jb.b").as("b"))
    val cells = jb.groupBy(col("j"), col("b")).agg(sum(col("n_true")).as("cell"))
    jb.join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("term"))
      .agg(max(col("n_true")).as("n_true"), min(col("cell")).as("n_cms"))
      .orderBy(col("n_true").desc, col("term").asc)
      .limit(k)
      .select(col("term"), col("n_true"), col("n_cms"),
        (col("n_cms") - col("n_true")).as("overest"),
        (col("n_cms") >= col("n_true")).as("ok_ge"))
  }

  /** BM25 relevance scoring of the corpus against a literal query-term
    * set — the retrieval-grade ranking TF-IDF approximates (length
    * normalization + tf saturation). The inverted-index shape: tokens
    * explode, filter to the query terms AT THE SCAN (the posting list is
    * #matches-sized, never corpus-sized), per-(doc, term) tf counts, the
    * #terms-sized df frame and the 1-row (N, Σdl) stats broadcast back.
    * idf = ln(1 + (N − df + ½)/(df + ½)) (the always-positive variant)
    * canonicalizes through DECIMAL; per-doc term-score sums are
    * DECIMAL-routed so aggregation order cannot move a score. The k1/b
    * literals fold at plan time with the same IEEE arithmetic in both
    * engines (the oracle spells them as the same expressions). */
  def bm25Score(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val lens  = base.select(col("id"), size(col("toks")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = base.select(col("id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("dfc") + lit(0.5)) /
      (col("dfc") + lit(0.5))).cast(dec).cast("double")
    val s = (idf * (col("tf") * (lit(k1) + lit(1.0)))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(dfq), "term")
      .join(lens, "id")
      .crossJoin(broadcast(stats))
      .select(col("id"), s.as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        round(sum(col("s").cast(dec)).cast("double"), 6).as("bm25"))
      .select(col("id").as(idCol), col("n_terms_matched"), col("bm25"))
  }

  /** Source-cap downsample (the RefinedWeb-style domain cap): no single
    * source may exceed `maxShare` of the corpus — per-source budgets are
    * min(source size, ⌊maxShare · total⌋), survivors picked by the stable
    * (md5(id), id) order so the cut is a uniform, rerun-deterministic
    * subsample of the over-represented source. One count aggregate + a
    * 1-row total broadcast builds the #sources-sized budget frame.
    *
    * Two rank plans, IDENTICAL output:
    *  - default: one per-source window — simplest, but a web corpus is
    *    domain-skewed, and a source holding 30% of rows funnels 30% of
    *    the corpus through one window-sort task;
    *  - `skewSafe = true`: the [[rangedPrefixSum]] recipe specialised to
    *    per-source ranks — range-partition on (source, md5(id), id) so a
    *    huge source SPANS many partitions in global order, rank locally
    *    per (partition, source) — every window is bounded by the
    *    PARTITION size, never a source's — and add back per-source
    *    prefix offsets from a broadcast (partition, source) count frame
    *    (≤ #partitions + #sources rows: each source's partitions are
    *    contiguous in range order). Exact, deterministic, and no task
    *    ever sorts more than one range partition — the 100 TB shape
    *    (an md5-threshold cut would be the approximate fallback; the
    *    range rank makes it unnecessary). DomainCapSkewSpec proves mode
    *    agreement on a skewed fixture. */
  def domainCapSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      maxShare: Double,
      skewSafe: Boolean = false
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_src"))
    val total  = counts.agg(sum(col("n_src")).as("n_total"))
    val budgets = counts.crossJoin(broadcast(total))
      .select(col(sourceCol),
        least(col("n_src"), floor(lit(maxShare) * col("n_total"))).as("budget"))
    val ranked =
      if (!skewSafe) {
        val w = Window.partitionBy(col(sourceCol))
          .orderBy(md5(col(idCol).cast("string")), col(idCol))
        df.withColumn("src_rank", row_number().over(w).cast("long"))
      } else {
        val spark = df.sparkSession
        val nParts = spark.sessionState.conf.numShufflePartitions
        val parts = df
          .select(col(idCol), col(sourceCol),
            md5(col(idCol).cast("string")).as("__k"))
          .repartitionByRange(nParts, col(sourceCol), col("__k"), col(idCol))
          .withColumn("__pid", spark_partition_id())
        val wLocal = Window.partitionBy(col("__pid"), col(sourceCol))
          .orderBy(col("__k"), col(idCol))
        val cnts = parts.groupBy(col("__pid"), col(sourceCol))
          .agg(count(lit(1)).as("__n"))
        val offsets = cnts.as("a")
          .join(cnts.as("b"),
            col(s"a.$sourceCol") === col(s"b.$sourceCol") &&
              col("b.__pid") < col("a.__pid"), "left")
          .groupBy(col("a.__pid").as("__pid"), col(s"a.$sourceCol").as(sourceCol))
          .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__offset"))
        parts
          .withColumn("__lr", row_number().over(wLocal).cast("long"))
          .join(broadcast(offsets), Seq("__pid", sourceCol))
          .withColumn("src_rank", col("__lr") + col("__offset"))
          .drop("__k", "__pid", "__lr", "__offset")
      }
    ranked
      .join(broadcast(budgets), Seq(sourceCol))
      .filter(col("src_rank") <= col("budget"))
      .select(col(idCol), col(sourceCol), col("src_rank"), col("budget"))
  }

  /** Generic confusion matrix with per-actual-class shares: one
    * (actual, predicted) count shuffle (map-side combinable), the
    * #classes-sized per-actual totals broadcast back. The evaluation
    * readout for any classifier-shaped op — language ID against labeled
    * data, quality gates against human labels, dedup flags against a
    * golden set. */
  def confusionMatrix(
      df: DataFrame,
      actualCol: String,
      predCol: String
  ): DataFrame = {
    val counts = df.groupBy(col(actualCol), col(predCol))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col(actualCol)).agg(sum(col("n")).as("total"))
    counts.join(broadcast(totals), Seq(actualCol))
      .select(col(actualCol), col(predCol), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"))
  }

  /** Hashing-trick document embeddings (Weinberger et al. 2009 — feature
    * hashing): each token lands in slot `hash60(w) mod dim` with sign
    * `±1` from an independent hash bit, summed per document — a
    * fixed-`dim` bag-of-words vector with NO vocabulary state anywhere
    * (the property that makes it work on an unbounded token stream). The
    * components are exact INTEGER sums, so the embedding — and its L2
    * norm — is bit-reproducible by any engine.
    *
    * Scale shape: one doc-key shuffle with map-side-combinable
    * conditional sums (the `dim` slots are a FIXED agg width, not a
    * pivot); hashing is scan-side. Output: per doc, token count, the L2
    * norm, and the first four components (the full vector assembles the
    * same way at any `dim`). */
  def hashedBowEmbed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 16
  ): DataFrame = {
    require(dim >= 4, s"dim=$dim too small")
    val toks = df.select(col(idCol),
      explode(tokens(col(textCol))).as("w"))
    val slot = pmod(hash60(col("w")), lit(dim.toLong))
    val sign = when(pmod(hash60(col("w"), 1), lit(2L)) === 0L, 1L)
      .otherwise(-1L)
    val comps = (0 until dim).map(i =>
      coalesce(sum(when(slot === i.toLong, sign)), lit(0L)).as(s"__c$i"))
    val allAggs = count(lit(1)).as("n_tokens") +: comps
    val aggd = toks.groupBy(col(idCol))
      .agg(allAggs.head, allAggs.tail: _*)
    val norm = sqrt((0 until dim)
      .map(i => (col(s"__c$i") * col(s"__c$i")).cast("double")).reduce(_ + _))
    aggd.select(col(idCol), col("n_tokens"), round(norm, 6).as("l2_norm"),
      col("__c0").as("c0"), col("__c1").as("c1"),
      col("__c2").as("c2"), col("__c3").as("c3"))
  }

  /** Greedy token-budget selection: the highest-quality documents, in
    * (quality desc, id) order, until the cumulative token count exceeds
    * the budget — the "fill the training-mix slot with the best `B`
    * tokens" curation primitive. Quality is
    * [[TextFunctions.qualityScore]], bit-replicated by the oracle, so
    * the order — and therefore the cut — is engine-portable.
    *
    * Scale shape: the running sum is the classic DISTRIBUTED prefix sum,
    * never a single-partition global window. Pass 1 range-partitions the
    * #docs-sized stat frame on (quality desc, id) — so partition i's
    * rows all precede partition j's (i < j) in the global order — and
    * cumsums WITHIN each partition (a window partitioned by
    * `spark_partition_id()`, parallel across partitions). Pass 2 turns
    * the per-partition token totals (one row per partition) into prefix
    * offsets with a tiny triangular self-join and broadcasts them back;
    * global cumsum = local cumsum + own partition's offset. The plan
    * contains NO `Exchange SinglePartition` anywhere (RangeRankSpec
    * pins this), so the op survives a 100× scale-up where the
    * one-ordered-partition version stalls on a single core. */
  def tokenBudgetSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budgetTokens: Long
  ): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = df.select(col(idCol), size(toks).cast("long").as("n_tokens"),
      qualityScore(col(textCol), toks).as("q"))
    rangedPrefixSum(scored, Seq(col("q").desc, col(idCol).asc), col("n_tokens"))
      .filter(col("__cum") <= budgetTokens)
      .select(col(idCol), col("n_tokens"), round(col("q"), 6).as("quality"),
        col("__cum").as("cum_tokens"))
  }

  /** Distributed ordered prefix sum: the input plus a `__cum` column =
    * the running total of `valueCol` over the TOTAL order `sortCols`
    * (which must be a total order — add a unique tiebreak column).
    * Range-partition on the order, cumsum locally, offset by the
    * triangular prefix of per-partition totals. No single-partition
    * exchange at any width; the offset join is a broadcast of one row
    * per partition. Shared by [[tokenBudgetSelect]] and
    * [[graft.ops.EventOps.giniConcentration]]'s ranker. */
  private[ops] def rangedPrefixSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: Column
  ): DataFrame = {
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = df.repartitionByRange(nParts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = parts.groupBy(col("__pid")).agg(sum(valueCol).as("__tot"))
    // triangular self-join instead of an ordered window: P² pairs over a
    // #partitions-sized frame is noise, and it keeps the WHOLE plan free
    // of Exchange SinglePartition
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__tot")), lit(0L)).as("__offset"))
    parts
      .withColumn("__cum_local", sum(valueCol).over(wLocal))
      .join(broadcast(offsets), "__pid")
      .withColumn("__cum", col("__cum_local") + col("__offset"))
      .drop("__pid", "__cum_local", "__offset")
  }

  /** Data Selection via Importance Resampling (DSIR, Xie et al. 2023 —
    * arXiv:2302.03169): pick the `n` raw documents that look most like a
    * TARGET slice, by importance weights over hashed unigram features.
    *
    *  1. Two bucket histograms (target rows vs the whole corpus) over
    *     `d` md5-hash buckets, add-1 smoothed into probabilities;
    *  2. per-document log importance weight = Σ over tokens of
    *     ln(p_target[bucket] / p_raw[bucket]);
    *  3. GUMBEL TOP-K resampling — key = logweight − ln(−ln(u)) with
    *     u ∈ (0,1) a deterministic md5 hash of the id, so the draw is
    *     a reproducible sample ∝ exp(logweight), not a hard top-k (the
    *     paper's resampling, de-randomized).
    *
    * Scale shape: each histogram is one explode + d-key map-side-combinable
    * groupBy collected as d doubles (bounded driver state, the codebook
    * precedent); the log-ratio vector then rides the plan as a LITERAL, so
    * scoring is a codegen'd per-row fold — no vocabulary join, no shuffle
    * — and the cut is a TakeOrderedAndProject (map-side partial top-n),
    * never a global sort. Every ln() is canonicalized to 12 decimals so an
    * external engine replays keys bit-identically (the unigram-LM recipe).
    */
  def dsirSample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetFilter: Column,
      d: Int = 64,
      n: Int = 50
  ): DataFrame = {
    require(d > 0 && n > 0, s"d=$d and n=$n must be positive")
    def hist(rows: DataFrame): Map[Int, Long] =
      rows.select(explode(tokens(col(textCol))).as("__t"))
        .select((hash60(col("__t")) % d).cast("int").as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def smooth(h: Map[Int, Long]): Seq[Double] = {
      val tot = h.values.sum.toDouble + d
      (0 until d).map(j => (h.getOrElse(j, 0L) + 1L) / tot)
    }
    val round12 = (x: Double) =>
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pT = smooth(hist(df.filter(targetFilter)))
    val pR = smooth(hist(df))
    val logRatio = typedlit((0 until d).map(j => round12(math.log(pT(j) / pR(j)))))
    val u = (hash60(col(idCol).cast("string")) + 1L) / lit(1152921504606846977.0)
    val gumbel = -round(log(-round(log(u), 12)), 12)
    val scored = df.select(col(idCol),
        aggregate(transform(tokens(col(textCol)), t =>
            element_at(logRatio, (hash60(t) % d).cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x).as("log_weight"))
      .withColumn("pick_key", col("log_weight") + gumbel)
    scored.orderBy(col("pick_key").desc, col(idCol).asc).limit(n)
      .select(col(idCol), round(col("log_weight"), 6).as("log_weight"),
        round(col("pick_key"), 6).as("pick_key"))
  }

  /** Expected calibration error (the reliability-diagram readout) of
    * the quality score read as a confidence that a document is UNIQUE
    * (fingerprint occurs once) — the eval-harness companion to
    * [[qualityDupCalibration]]'s quartile view: per equal-width
    * confidence bin, mean confidence vs realized uniqueness rate, plus
    * the ECE = Σ_b (n_b/N)·|acc_b − conf_b| repeated on every row.
    * A well-calibrated score has conf ≈ acc in every bin; ECE near 0.
    *
    * Determinism: binning is floor on the exact score double (both
    * engines compute the identical q); bin sums of q and the ECE terms
    * route through DECIMAL(27,12) so every reduction is aggregation-
    * order-independent. One fingerprint aggregate + one bin aggregate;
    * the ECE total is an unbounded-window sum over #bins rows. */
  def calibrationEce(
      df: DataFrame,
      textCol: String,
      bins: Int = 10,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(27, 12)
    // cached: the score+fingerprint projection feeds the totals and the
    // binned join (Spark does not dedup common subplans)
    val q = scope.cache(df.select(
      qualityScore(col(textCol), tokens(col(textCol))).as("q"),
      fingerprint(col(textCol)).as("fp")))
    val tot = q.groupBy("fp").agg(count(lit(1)).as("tot"))
    val binned = q.join(tot, "fp").select(
      least(lit(bins - 1), floor(col("q") * bins)).cast("int").as("bin"),
      col("q"), (col("tot") === 1).as("uniq"))
    val agg = binned.groupBy("bin").agg(
      count(lit(1)).as("n_docs"),
      sum(col("q").cast(dec)).as("sq"),
      sum(when(col("uniq"), 1L).otherwise(0L)).as("su"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    agg
      .withColumn("ntot", sum(col("n_docs")).over(w))
      .withColumn("term",
        ((col("n_docs").cast("double") / col("ntot")) *
          abs(col("su").cast("double") / col("n_docs") -
            col("sq").cast("double") / col("n_docs"))).cast(dec))
      .select(col("bin"), col("n_docs"),
        round(col("sq").cast("double") / col("n_docs"), 6).as("avg_conf"),
        round(col("su").cast("double") / col("n_docs"), 6).as("uniq_rate"),
        round(sum(col("term")).over(w).cast("double"), 6).as("ece"))
  }

  /** Split-conformal quality gate: calibrate a distribution-free
    * keep-threshold on a held-out slice, then gate the rest with a
    * finite-sample coverage guarantee — the statistically honest version
    * of "keep the top (1−α) by quality score". The calibration slice is
    * the deterministic id-hash split (`id % calMod == 0`); the threshold
    * τ is the k-th SMALLEST calibration score with k = max(1,
    * ⌊α·(n_cal+1)⌋) — an exact order statistic (ties broken by id), so
    * if test scores are exchangeable with calibration scores,
    * P(score ≥ τ) ≥ 1−α·(1+1/n_cal) up to discreteness. Reports the
    * realized test coverage next to the target so drift between the
    * slices is visible in one row.
    *
    * Scale shape: scoring is a scan-side projection ([[TextFunctions
    * .qualityScore]] — codegen, no shuffle); the order statistic is a
    * per-partition top-k-free rank over ONLY the calibration slice
    * (row_number window over a single ordered partition of n_cal score
    * doubles — at 100 TB run calibration at a fixed sample size, which
    * is what split conformal prescribes anyway); the gate itself is a
    * 1-row broadcast and a scan-side comparison on the UNROUNDED score,
    * which both engines compute bit-identically. */
  def conformalGate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      calMod: Int = 5,
      alpha: Double = 0.1
  ): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = df.select(col(idCol).as("id"),
      qualityScore(col(textCol), toks).as("q"),
      (col(idCol) % calMod === 0).as("is_cal"))
    val cal = scored.filter(col("is_cal"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val byQ = org.apache.spark.sql.expressions.Window
      .orderBy(col("q").asc, col("id").asc)
    val tau = cal.withColumn("rn", row_number().over(byQ))
      .crossJoin(broadcast(nCal))
      .filter(col("rn") ===
        greatest(lit(1L), floor(lit(alpha) * (col("n_cal") + 1))))
      .select(col("n_cal"), col("rn").cast("long").as("k"), col("q").as("tau"))
    val test = scored.filter(!col("is_cal"))
      .crossJoin(broadcast(tau))
      .agg(first(col("n_cal")).as("n_cal"), first(col("k")).as("k"),
        round(first(col("tau")), 6).as("tau"),
        count(lit(1)).as("n_test"),
        sum(when(col("q") >= col("tau"), 1L).otherwise(0L)).as("n_pass"))
    test.select(col("n_cal"), col("k"), col("tau"), col("n_test"), col("n_pass"),
      round(col("n_pass").cast("double") / col("n_test"), 6).as("coverage"))
  }
}
