package graft.ops

import graft.ext.{MinHashSig, SimHash60}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanAccess.{column, expression}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Deduplication operators for large-scale corpus cleaning.
  *
  * Design for 100 TB:
  *  - Exact dedup groups on an md5 fingerprint, never on the raw text — the
  *    shuffle carries 32-byte keys instead of document bodies.
  *  - Near-dup never does an O(n²) cross join: MinHash-LSH banding and
  *    SimHash chunk-bucketing both reduce to equi-joins on small keys, which
  *    Spark executes as shuffle hash/sort-merge joins partitioned by bucket.
  *  - Signatures are computed with md5-derived hashes (so the DuckDB
  *    oracle replicates them exactly) in a single projection — codegen'd
  *    graft.ext kernels, no UDFs.
  */
object Dedup {

  /** Exact dedup by normalized-text fingerprint: one row per distinct
    * fingerprint with the surviving (minimum) id and the duplicate count. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Per-source duplication rate: for each source, the share of its
    * documents whose normalized-text fingerprint recurs ANYWHERE in the
    * corpus — the "which crawl slice is dirtiest" diagnostic that decides
    * where dedup budget goes (a source can be internally clean yet be a
    * wholesale copy of another). One fingerprint projection, a per-
    * fingerprint total over it, and the equi-join back — the dupSpanProfile
    * posture at document granularity; text never shuffles. */
  def dupRateBySource(
      df: DataFrame,
      textCol: String,
      sourceCol: String
  ): DataFrame = {
    val fps = df.select(col(sourceCol).as("src"),
      fingerprint(col(textCol)).as("fp"))
    val tot = fps.groupBy("fp").agg(count(lit(1)).as("tot"))
    fps.join(tot, "fp")
      .groupBy("src")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tot") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("src").as(sourceCol), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs") / col("n_docs"), 6).as("dup_rate"))
  }

  /** Truncation-duplicate screen: documents that are an exact PREFIX of a
    * longer document — the crawl/ingestion artifact shingle-set near-dup
    * misses by construction (a 100-word prefix of a 10k-word page has
    * near-zero Jaccard). Blocking: a prefix pair of length ≥ `probeLen`
    * shares its first `probeLen` chars, so candidates reduce to an
    * equi-join on md5(first probeLen chars) — never all-pairs; bucket
    * population is the family sharing a probeLen-char prefix, and the
    * full prefix relation is verified exactly within the bucket. Docs
    * shorter than probeLen are out of scope by contract (lower probeLen
    * to catch them at the cost of key selectivity). Output is a 1-row
    * summary — a healthy corpus legitimately reports zero pairs. */
  def prefixDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      probeLen: Int = 64
  ): DataFrame = {
    val eligible = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(length(col("t")) >= probeLen)
    val keyed = eligible.select(col("id"), col("t"),
      md5(substring(col("t"), 1, probeLen)).as("pk"))
    val pairs = keyed.as("s")
      .join(keyed.as("l"),
        col("s.pk") === col("l.pk") &&
          length(col("s.t")) < length(col("l.t")) &&
          expr("left(l.t, length(s.t)) = s.t"))
      .select(col("s.id").as("short_id"), col("l.id").as("long_id"))
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("short_id")).as("n_truncated"))
      .crossJoin(broadcast(eligible.agg(count(lit(1)).as("n_checked"))))
      .select(col("n_checked"), col("n_pairs"), col("n_truncated"))
  }

  /** MinHash signature of a shingle set by the graft_minhash_sig kernel:
    * per shingle, the two 28-bit halves h1, h2 of its md5 feed the
    * Kirsch-Mitzenmacher family h_i = h1 + i*h2 (one md5 per shingle instead
    * of one per (shingle, seed); values stay < 2^33 so every engine computes
    * them in plain 64-bit arithmetic), and slot i keeps the running minimum.
    * Null-propagating. */
  private[graft] def minhashSig(sh: Column, k: Int): Column =
    column(MinHashSig(expression(sh), k))

  /** LSH band keys for a signature: `bands` structs of (band index, md5 of
    * the band's signature slice). */
  private def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      struct(
        j.as("band"),
        // coalesce marks the key non-nullable: otherwise the bucket join
        // infers an IsNotNull(key) constraint and predicate pushdown clones
        // the ENTIRE signature expression into a pre-exchange Filter —
        // doubling the heavy compute and pinning it to the input partitioning.
        coalesce(md5Hex(concat(j.cast("string"), lit(":"),
          concat_ws(",", transform(
            slice(sig, j * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string"))))), lit("")).as("key")))

  /** Exact dedup with QUALITY-based survivor selection: one row per
    * distinct fingerprint keeping the id of the highest-`scoreCol`
    * duplicate (ties → smallest id). The release-pipeline variant of
    * [[exactDedup]]: when duplicates differ only in truncation or
    * boilerplate, keep the best-scoring copy, not an arbitrary one.
    * Still ONE shuffle on the 32-byte fingerprint, and the survivor pick
    * is a `max_by` aggregate with a totally-ordered key (map-side
    * combinable) — not a per-group window sort. */
  def exactDedupBest(
      df: DataFrame, idCol: String, textCol: String, scoreCol: String): DataFrame = {
    // the tie-break negates the id, which silently casts a non-numeric id
    // to null and makes the survivor partition-order-dependent — fail the
    // contract instead ([[exactDedup]] remains the any-id-type sibling)
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"exactDedupBest needs a numeric id column for its deterministic " +
        s"tie-break; '$idCol' is ${df.schema(idCol).dataType.simpleString}")
    df.select(fingerprint(col(textCol)).as("fp"),
        col(idCol), col(scoreCol))
      .groupBy("fp")
      .agg(
        // (score, -id) is unique per row, so max_by is deterministic
        max_by(col(idCol), struct(col(scoreCol), -col(idCol))).as("keep_id"),
        max(col(scoreCol)).cast("long").as("best_score"),
        count(lit(1)).as("n_dupes"))
  }

  /** The (id, sh, sig) shingle+signature frame every MinHash operator
    * starts from — THE single definition of the signature scheme; the
    * pair/index/incremental paths must all derive from it or they would
    * silently diverge. */
  private def sigFrame(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    df.select(
        col(idCol).as("id"),
        shingles(tokens(col(textCol)), shingleN).as("sh"))
      .withColumn("sig", minhashSig(col("sh"), numHashes))

  /** The exploded (id, band, key) band-key frame of a [[sigFrame]]. */
  private def bandFrameOf(sigDf: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigDf
      .select(col("id"),
        explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle(n) → signature(k) → band(b) explode → equi-join on
    * (band, key) → exact-Jaccard verification of candidates. Returns
    * (a_id, b_id, jaccard, is_dup) for every candidate pair; filter on
    * `is_dup` (jaccard >= threshold) for the dedup decision.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // The shingle+signature frame is read three times (band explode + both
    // sides of the verification join). Cached so the shingling/minhash
    // work runs ONCE — at 100 TB recomputing signatures three times is the
    // dominant cost. MEMORY_AND_DISK spills instead of recomputing; a
    // production pipeline would typically write signatures to a table
    // first. Scope-owned — release after the result is materialized.
    val sh = scope.cache(sigFrame(df, idCol, textCol, shingleN, numHashes))

    val bandsDf = bandFrameOf(sh, bands, r)

    val cand = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()

    val sets = sh.select(col("id"), col("sh"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(sets.withColumnRenamed("sh", "sa"), col("a_id") === col("id")).drop("id")
      .join(sets.withColumnRenamed("sh", "sb"), col("b_id") === col("id")).drop("id")
      .select(col("a_id"), col("b_id"),
        (inter / (size(col("sa")) + size(col("sb")) - inter)).as("jaccard"))
      .withColumn("is_dup", col("jaccard") >= threshold)
  }

  /** Edit-distance near-duplicates: the same banded MinHash candidate
    * generation as [[minhashNearDupPairs]] (equi-join on band keys, never
    * all-pairs), but verification swaps Jaccard for a Levenshtein
    * distance over the document PREFIX. Token-set Jaccard is blind to
    * ordering and character-level edits; edit distance catches
    * typo-variants and template fills Jaccard over-merges. The prefix cap
    * (`prefixChars`) bounds the O(len²) DP cell count per candidate pair
    * to a constant — full-document Levenshtein at 100 TB is not a thing —
    * and the pair join carries only the capped prefixes, never full
    * text. The DP is additionally THRESHOLD-BOUNDED (Spark's 3-arg
    * `levenshtein` explores only the ±maxDist diagonal band — O(len·k)
    * instead of O(len²) per pair), so far-apart candidates exit early
    * and report a null `edit_dist`. Returns every candidate pair;
    * `is_dup` flags distance ≤ `maxDist`. */
  def editDistanceNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      prefixChars: Int = 200,
      maxDist: Int = 20,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val bandsDf = scope.cache(bandFrameOf(
      sigFrame(df, idCol, textCol, shingleN, numHashes), bands, numHashes / bands))
    val cand = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
      // EXPLICIT cluster-width repartition (r15, measured): the candidate
      // pairs are a few BYTES each, so AQE's bytes-based coalescing
      // collapses the post-distinct exchange read to ONE partition — and
      // with the prefix side broadcast, the whole O(len·maxDist)
      // Levenshtein verify then ran in a SINGLE 1.5 s task at sf0.1 (the
      // same under-provisioning at any scale: per-row DP cost is
      // invisible to byte-based sizing). REPARTITION_BY_NUM is exempt
      // from AQE coalescing; the key is a_id ALONE — on the full pair
      // key this partitioning equals the distinct's own and the planner
      // elides the exchange entirely. Hash-on-key, so no
      // sort-before-repartition cost.
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("a_id"))
    val prefixes = df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixChars).as("p"))
    cand
      .join(prefixes.withColumnRenamed("p", "pa"), col("a_id") === col("id")).drop("id")
      .join(prefixes.withColumnRenamed("p", "pb"), col("b_id") === col("id")).drop("id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("pa"), col("pb"), maxDist).as("d"))
      .select(col("a_id"), col("b_id"),
        when(col("d") >= 0, col("d")).as("edit_dist"),
        (col("d") >= 0 && col("d") <= maxDist).as("is_dup"))
  }

  /** The persisted corpus index for incremental dedup: the shingle-set
    * table `(id, sh)` the Jaccard verification joins, and the exploded
    * band-key table `(id, band, key)` the candidate join probes. Write
    * both through [[Bucketing.writeBucketed]] — `shingles` bucketed by
    * `id`, `bands` bucketed by `(band, key)` — and every nightly
    * [[minhashNearDupsAgainstIndex]] probe joins them with ZERO
    * corpus-side shuffle (BucketingSpec asserts the plan property with a
    * live bucketed round-trip). */
  final case class MinhashIndex(shingles: DataFrame, bands: DataFrame)

  /** Builds the [[MinhashIndex]] frames for a corpus. Writing both frames
    * scans the corpus twice (once per table) — the once-at-index-build
    * cost that buys every later probe its shuffle-free corpus side. */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8
  ): MinhashIndex = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sh = sigFrame(df, idCol, textCol, shingleN, numHashes)
    MinhashIndex(sh.select(col("id"), col("sh")),
      bandFrameOf(sh, bands, numHashes / bands))
  }

  /** Incremental near-dup screening against a PRE-BUILT corpus index
    * (typically [[MinhashIndex]] frames read back from bucketed tables):
    * band keys of the new batch equi-join the corpus band table, and
    * candidates verify exact Jaccard against the corpus shingle table.
    * Returns (new_id, corpus_id, jaccard, is_dup) for every banding
    * candidate. With the index tables bucketed as [[MinhashIndex]]
    * documents, the corpus side of BOTH joins is co-located by layout —
    * only the (orders-of-magnitude smaller) new batch and the candidate
    * pairs ever shuffle. */
  def minhashNearDupsAgainstIndex(
      newDf: DataFrame,
      corpusShingles: DataFrame,
      corpusBands: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // the new batch's shingle+signature frame feeds the band explode AND
    // the verification join — cached so the minhash work runs once
    val shNew = scope.cache(sigFrame(newDf, idCol, textCol, shingleN, numHashes))
    val bandNew = bandFrameOf(shNew, bands, r)
    val cand = bandNew.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"))
      .distinct()
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(shNew.select(col("id"), col("sh").as("sa")), col("new_id") === col("id")).drop("id")
      .join(corpusShingles.select(col("id"), col("sh").as("sb")), col("corpus_id") === col("id")).drop("id")
      .select(col("new_id"), col("corpus_id"),
        (inter / (size(col("sa")) + size(col("sb")) - inter)).as("jaccard"))
      .withColumn("is_dup", col("jaccard") >= threshold)
  }

  /** Incremental near-dup screening: candidate matches of a NEW batch of
    * documents against an EXISTING corpus — the shape a production pipeline
    * runs daily (band keys of the new batch join against the corpus's band
    * keys; nothing is ever self-joined). Builds the corpus index inline
    * and persists it for the two reads; a production pipeline stores the
    * [[MinhashIndex]] frames bucketed instead and calls
    * [[minhashNearDupsAgainstIndex]] so the corpus side never shuffles. */
  def minhashNearDupsAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val shOld = scope.cache(sigFrame(corpusDf, idCol, textCol, shingleN, numHashes))
    minhashNearDupsAgainstIndex(newDf, shOld.select(col("id"), col("sh")),
      bandFrameOf(shOld, bands, numHashes / bands),
      idCol, textCol, shingleN, numHashes, bands, threshold, scope)
  }

  /** Exact n-gram-Jaccard near-dup pairs within a blocking column (for
    * bounded blocks — metadata like source/shard; use MinHash-LSH when no
    * natural block exists).
    *
    * Inverted-index shape, not a pairwise array compare: explode the
    * distinct shingles, equi-join on (block, shingle) so only documents that
    * actually share a shingle ever meet, and count the intersection with a
    * hash aggregate. Everything stays in whole-stage codegen; per-pair work
    * is O(shared shingles), not O(|a|·|b|). */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxShingleDf: Int = 64
  ): DataFrame =
    sharedShingles(df, idCol, textCol, blockCol, shingleN, maxShingleDf)
      .select(col("a_id"), col("b_id"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Dedup-threshold sweep: for each candidate Jaccard threshold, how many
    * MinHash-verified pairs would be declared duplicates — the one-pass
    * knob-pricing table an operator reads before committing a threshold
    * (the companion to [[lshRecallEval]], which prices bands/rows). All
    * candidate pairs are scored ONCE (threshold 0 keeps every candidate);
    * the sweep is a tiny literal explode + conditional count over the pair
    * frame. Always returns one row per threshold, zeros included. */
  def thresholdSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleN, numHashes,
      bands, threshold = 0.0, scope)
    pairs
      .select(col("jaccard"), explode(typedlit(thresholds)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L)).as("n_pairs"))
      .unionByName(
        // keep every asked threshold present even when no pair qualifies
        // (or no candidates exist at all)
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(thresholds.map(t => org.apache.spark.sql.Row(t, 0L)): _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("threshold",
              org.apache.spark.sql.types.DoubleType, nullable = false),
            org.apache.spark.sql.types.StructField("n_pairs",
              org.apache.spark.sql.types.LongType, nullable = false)))))
      .groupBy(col("threshold"))
      .agg(sum(col("n_pairs")).as("n_pairs"))
  }

  /** Containment near-dup pairs: the ASYMMETRIC companion to
    * [[ngramJaccardPairs]] — score = |A∩B| / min(|A|, |B|), which flags a
    * document whose shingle set is (nearly) a subset of another's: a copy
    * with added boilerplate, a quoted excerpt, a superset rewrite. Jaccard
    * misses these when the size ratio is large (|A∩B|/|A∪B| stays small);
    * containment is the standard screen for them. Same inverted-index /
    * hot-shingle-cap core and scale posture as [[ngramJaccardPairs]];
    * returns (a_id, b_id, containment, jaccard) for pairs at or above
    * `threshold` containment — jaccard rides along so callers can split
    * symmetric dups from true containments. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.6,
      maxShingleDf: Int = 64
  ): DataFrame =
    sharedShingles(df, idCol, textCol, blockCol, shingleN, maxShingleDf)
      .select(col("a_id"), col("b_id"),
        (col("inter") / least(col("na"), col("nb"))).as("containment"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("containment") >= threshold)

  /** Inverted-index core shared by the blocked pair scorers: candidate
    * pairs that share at least one non-hot shingle within a block, with
    * the shared-shingle count and both full set sizes —
    * (a_id, b_id, inter, na, nb). */
  private def sharedShingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleN: Int,
      maxShingleDf: Int
  ): DataFrame = {
    val sh = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      shingles(tokens(col(textCol)), shingleN).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val posting = sh.select(col("id"), col("blk"), explode(col("sh")).as("g"))
    // Hot-shingle defense: a shingle shared by f documents in a block emits
    // f² candidate rows from the self-join — one boilerplate shingle at
    // 100 TB is a blowup. Drop postings whose in-block document frequency
    // exceeds the cap BEFORE the join (an anti-join against the tiny hot
    // set, which Spark broadcasts). Pairs whose only shared shingles are
    // hot ones are missed — the standard recall/robustness trade; the
    // Jaccard denominator still uses the full set sizes, so reported
    // similarity for surviving pairs is a (tight) lower bound.
    val hot = posting.groupBy(col("blk"), col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select(col("blk"), col("g"))
    val capped = posting.join(hot, Seq("blk", "g"), "left_anti")
    val inter = capped.as("a")
      .join(capped.as("b"),
        col("a.blk") === col("b.blk") && col("a.g") === col("b.g") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("n", "na"), col("a_id") === col("id")).drop("id")
      .join(sizes.withColumnRenamed("n", "nb"), col("b_id") === col("id")).drop("id")
  }

  /** 60-bit SimHash over the token multiset: bit i is set when at least half
    * the tokens have bit i set in their 60-bit [[hash60]] (graft_simhash60
    * kernel over graft_hash60_arr). The kernel is null-propagating; the
    * `coalesce(_, 0)` gives a null input the result 0 and marks the hash
    * non-nullable — see the note on bandKeys: without it the chunk join's
    * inferred IsNotNull clones the whole hash into a pre-exchange Filter. */
  private[graft] def simhash(toks: Column): Column =
    coalesce(column(SimHash60(expression(hash60Arr(toks)))), lit(0L))

  /** SimHash near-dup pairs via chunk bucketing: the 60-bit simhash splits
    * into 4 15-bit chunks; by pigeonhole, pairs within hamming distance 3
    * share at least one chunk. Candidates equi-join on (chunk index, chunk
    * value) and are verified with the exact hamming distance. */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8
  ): DataFrame = {
    val hashed = df.select(col(idCol).as("id"),
      simhash(tokens(col(textCol))).as("simhash"))
    val chunks = hashed.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("chunk"),
          shiftright(col("simhash"), 15 * j).bitwiseAND(lit(0x7FFFL)).as("value"))): _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.value").as("value"))

    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.value") === col("b.value") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Evaluation harness for the MinHash-LSH banding knob: recall of the
    * candidate generator against EXHAUSTIVE exact-Jaccard ground truth,
    * plus candidate precision (what fraction of generated candidates
    * verify). The banding trade (more bands → higher recall, more
    * candidates) is otherwise set blind; this row prices it the way
    * `sim_proj_recall` prices the projection.
    *
    * The ground-truth side enumerates every pair sharing at least one
    * shingle (an inverted-index self-join with NO df cap — complete for
    * any threshold > 0 because positive Jaccard requires a shared
    * shingle, and quadratic in hot-shingle document frequency). That is
    * an EVAL-ONLY posture: run it on a sample, never the corpus — the
    * production candidate path stays [[minhashNearDupPairs]].
    * Verified candidates are exact-Jaccard-checked, so they are a subset
    * of the truth set and recall = n_verified / n_true_pairs. */
  def lshRecallEval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val sh = scope.cache(df.select(col(idCol).as("id"),
      shingles(tokens(col(textCol)), shingleN).as("sh")))
    val grams = sh.select(col("id"), explode(col("sh")).as("g"))
    // Shingle lists are distinct, so the per-pair shared-gram COUNT from
    // the exploded self-join IS |intersection| — no per-pair array
    // rejoin/intersect; the (id, size) frame joins back (AQE picks the
    // strategy) and the Jaccard denominator is exact integer arithmetic.
    val sizes = sh.select(col("id"), size(col("sh")).as("sz"))
    val jac = col("inter") / (col("sa") + col("sb") - col("inter"))
    val truth = grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("sz", "sa"), col("a_id") === col("id")).drop("id")
      .join(sizes.withColumnRenamed("sz", "sb"), col("b_id") === col("id")).drop("id")
      .filter(jac >= threshold)
      .select(col("a_id"), col("b_id"), lit(1L).as("is_true"))
    val predicted = minhashNearDupPairs(df, idCol, textCol, shingleN, numHashes,
      bands, threshold, scope)
      .select(col("a_id"), col("b_id"), lit(1L).as("is_cand"),
        when(col("is_dup"), 1L).otherwise(0L).as("is_ver"))
    truth.join(predicted, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(coalesce(col("is_true"), lit(0L))).as("n_true_pairs"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_candidates"),
        sum(coalesce(col("is_ver"), lit(0L))).as("n_verified"))
      .select(col("n_true_pairs"), col("n_candidates"), col("n_verified"),
        round(col("n_verified") / col("n_true_pairs"), 6).as("recall"),
        round(col("n_verified") / col("n_candidates"), 6).as("precision"))
  }

  /** Duplicate-cluster size histogram — the corpus-health summary every
    * dedup decision starts from: for each exact-duplicate cluster size,
    * how many clusters and how many documents. Two chained map-side-
    * combinable aggregates ([[exactDedup]]'s fingerprint groupBy, then a
    * groupBy on the tiny size domain); the second shuffle carries one
    * long per cluster. Output rows = #distinct sizes (a handful). */
  def dupSizeHistogram(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedup(df, idCol, textCol)
      .groupBy(col("n_dupes").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
}
