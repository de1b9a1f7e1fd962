package graft.ops

import graft.ext.{CosineSimilarity, SignLshBucket}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanAccess.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Design for 100 TB:
  *  - All arithmetic is in double precision and codegen'd, with no UDFs:
  *    cosine and sign-LSH buckets are graft.ext kernels, the dot product a
  *    built-in higher-order fold (`zip_with` + `aggregate`). Each is a
  *    strict left fold in element order, so the DuckDB oracle's
  *    `list_reduce` reproduces it bit for bit.
  *  - Brute-force top-k broadcasts the query set (small side) and relies on
  *    Spark's InferWindowGroupLimit (3.5+) to push `rank <= k` into partial
  *    per-partition top-k before the shuffle — no full sort of the scored
  *    cross product.
  *  - The scale path is sign-LSH bucketing: candidate generation is an
  *    equi-join on an 8-bit bucket key, never an O(n²) cross join. Planes
  *    are deterministic md5-parity ±1 vectors so every engine derives the
  *    identical bucketing.
  */
object Similarity {

  /** Double-precision dot product: strict left fold in element order. */
  def dotDouble(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), _ + _)

  /** Cosine similarity by the one-pass graft_cosine kernel: it accumulates
    * left to right in double precision, like [[dotDouble]] and the DuckDB
    * oracle's `list_reduce`. */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Exact top-k cosine neighbors of each query vector.
    * `queries` must be small (it is broadcast); both frames need
    * (idCol, vecCol). Self-matches are excluded; ties break on neighbor id. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** RADIUS (range) search: every corpus vector within cosine ≥ `minSim`
    * of each probe vector — the fixed-threshold neighbor-set primitive
    * (DBSCAN-style density clustering, dedup-by-similarity-threshold,
    * "find everything close to these exemplars" curation sweeps) that
    * top-k cannot express when the true neighbor count varies per query.
    * Self-matches are excluded.
    *
    * Scale shape: strictly cheaper than [[bruteForceTopK]] — the probe
    * batch broadcasts and the threshold filter cuts MAP-SIDE inside the
    * corpus scan's projection, so there is no per-query window, no
    * shuffle at all: output size is the only thing that leaves the
    * scan. At 100 TB this is one pass over the corpus regardless of how
    * many probes ride the broadcast. */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      minSim: Double
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Hard-negative mining — for each anchor, the top-`k` most similar
    * corpus vectors with a DIFFERENT label: the contrastive-training
    * negatives that actually move a model (easy negatives are
    * uninformative; same-label false negatives are excluded by the
    * label guard). Output: (query_id, anchor_label, neighbor_id,
    * neg_label, sim, rank).
    *
    * Scale shape: identical to [[bruteForceTopK]] — the anchor set
    * broadcasts (it must be small: a training batch, not the corpus)
    * and the corpus shuffles only its per-anchor candidate rows into
    * the top-k window. Web-scale mining swaps the exact corpus side for
    * the IVF/PQ probe with the same contract. */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(labelCol).cast("long").as("neg_label"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).cast("long").as("anchor_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("neg_label") =!= col("anchor_label"))
      .select(col("query_id"), col("anchor_label"), col("neighbor_id"),
        col("neg_label"), cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF index BUILD half — the codebook plus the inverted file as a
    * frame to persist: (neighbor_id, nvec, cell). Splitting build from
    * probe is the real index lifecycle: the corpus-sized assignment
    * runs ONCE, the inverted file commits to a table clustered by cell,
    * and every later query opens only its probed cells via the table's
    * file stats — the query-time cost decouples from corpus size. */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      coarse: Option[Seq[(Long, Seq[Double])]] = None
  ): (Seq[(Long, Seq[Double])], DataFrame) = {
    // a pre-trained codebook (e.g. the committed quantizer registry)
    // skips the seed + Lloyd jobs; values are identical by determinism
    val cent = coarse.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, numCentroids, lloydRounds))
    (cent, assignCells(corpus, idCol, vecCol, cent))
  }

  /** Cell assignment under a FROZEN codebook — the O(delta) maintenance
    * half of the persisted-index lifecycle: after a corpus append, only
    * the NEW vectors need assigning (the codebook and every existing
    * inverted-file entry are untouched); the index table then appends
    * the delta and rebinds to the new corpus snapshot
    * ([[graft.sources.ManifestTable.appendIndex]]). A pure projection
    * over plan-literal centroids: no join, no shuffle, cost = the
    * delta, never the corpus. */
  def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cent: Seq[(Long, Seq[Double])]
  ): DataFrame = {
    df.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .withColumn("cell", nearestCell(col("nvec"), cent))
  }

  /** The distinct cells a probe batch opens (each query's `nprobe`
    * nearest centroids) — the point-lookup list a persisted inverted
    * file is pruned by. Queries must be small (one tiny job). */
  def probeCells(
      cent: Seq[(Long, Seq[Double])],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int
  ): Seq[Long] = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val candArr = array(cent.map { case (cid, cv) =>
      struct(cosine(col("qvec"), typedlit(cv)).as("csim"), lit(cid).as("cent_id"))
    }: _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cand.csim").desc, col("cand.cent_id").asc)
    q.select(col("query_id"), explode(candArr).as("cand"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
      .select(col("cand.cent_id").as("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  /** IVF probe over a PREBUILT index frame — e.g. the persisted
    * inverted file read back restricted to [[probeCells]] — with
    * ranking identical to [[ivfTopK]] (same probes, same tie-breaks).
    * `index` needs (neighbor_id, nvec, cell). */
  def ivfTopKFromIndex(
      index: DataFrame,
      cent: Seq[(Long, Seq[Double])],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val candArr = array(cent.map { case (cid, cv) =>
      struct(cosine(col("qvec"), typedlit(cv)).as("csim"), lit(cid).as("cent_id"))
    }: _*)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cand.csim").desc, col("cand.cent_id").asc)
    val probes = q.select(col("query_id"), col("qvec"), explode(candArr).as("cand"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cand.cent_id").as("cell"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(index.select(col("neighbor_id"), col("nvec"), col("cell")), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("nvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
  }

  /** kNN label-prediction evaluation — the embedding-quality probe: for
    * each query vector, predict its label by MAJORITY VOTE among its
    * top-`k` cosine neighbors (self excluded; vote ties break to the
    * smaller label) and compare to the true label. The resulting
    * accuracy is the standard "are these embeddings linearly useful"
    * eval a pipeline runs before trusting them for curation. Output:
    * (query_id, true_label, predicted_label, n_votes, correct).
    *
    * Scale shape: the [[bruteForceTopK]] broadcast nested loop over the
    * probe batch, one (query, label) vote count, one 1-row-per-query
    * window cut. */
  def knnLabelEval(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(labelCol).cast("long").as("nl"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).cast("long").as("true_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("true_label"), col("neighbor_id"), col("nl"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val wk = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val votes = scored.withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .groupBy(col("query_id"), col("true_label"), col("nl"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("nl").asc)
    votes.withColumn("rv", row_number().over(wv)).filter(col("rv") === 1)
      .select(col("query_id"), col("true_label"),
        col("nl").as("predicted_label"), col("n_votes"),
        (col("nl") === col("true_label")).as("correct"))
  }

  /** Triplet mining — per anchor, the hardest POSITIVE (most similar
    * same-label vector) and hardest NEGATIVE (most similar
    * different-label vector), with the triplet margin `pos_sim -
    * neg_sim`: the (anchor, positive, negative) batches metric-learning
    * losses train on, and the margin histogram is the curriculum signal
    * (near-zero or negative margins are the informative triplets).
    * Anchors whose label has no other member yield no row (no positive
    * exists). Output: (query_id, anchor_label, positive_id, negative_id,
    * pos_sim, neg_sim, margin).
    *
    * Scale shape: one broadcast nested loop over the anchor batch (see
    * [[hardNegatives]]), one window partitioned by (anchor, same-label
    * flag), and a tiny anchor-sized self-join at the end. */
  def tripletMine(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("other_id"), col(vecCol).as("cvec"),
      col(labelCol).cast("long").as("other_label"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).cast("long").as("anchor_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("other_id"))
      .select(col("query_id"), col("anchor_label"), col("other_id"),
        cosine(col("qvec"), col("cvec")).as("sim"),
        (col("other_label") === col("anchor_label")).as("same"))
    val w = Window.partitionBy("query_id", "same")
      .orderBy(col("sim").desc, col("other_id").asc)
    val best = scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
    val pos = best.filter(col("same")).select(col("query_id"), col("anchor_label"),
      col("other_id").as("positive_id"), col("sim").as("ps"))
    val neg = best.filter(!col("same")).select(col("query_id"),
      col("other_id").as("negative_id"), col("sim").as("ns"))
    pos.join(neg, "query_id")
      .select(col("query_id"), col("anchor_label"), col("positive_id"),
        col("negative_id"), round(col("ps"), 6).as("pos_sim"),
        round(col("ns"), 6).as("neg_sim"),
        round(col("ps") - col("ns"), 6).as("margin"))
  }

  /** Fixed-k deterministic k-means centroids — the IVF coarse quantizer.
    *
    * Seeds are the `k` corpus vectors with the smallest `(md5(id), id)` —
    * a map-side partial top-k (TakeOrderedAndProject), so the result is
    * O(k) no matter the corpus size, and every engine picks the identical
    * seed set. Each Lloyd round then:
    *   1. assigns every vector to its nearest current centroid with a
    *      narrow PROJECTION — centroids are plan literals, so assignment
    *      has no join, no broadcast exchange, and no shuffle; and
    *   2. recomputes per-cell component means with one map-side-combinable
    *      aggregate whose shuffle carries only k·dim partial sums.
    * Component sums are DECIMAL(27,12)-routed, so they are independent of
    * partial-aggregation order and bit-replicable by the DuckDB oracle;
    * the mean is `CAST(sum AS DOUBLE) / count` in both engines.
    *
    * The driver materializes k·dim doubles per round — the same shape
    * Spark MLlib's KMeans uses between iterations — O(k·dim), never O(n).
    * Cells that lose every member drop out (deterministic in both
    * engines); ties in the assignment argmax break to the smallest
    * centroid id, matching `ORDER BY csim DESC, cent_id ASC LIMIT 1`.
    *
    * Input contract: every vector must have EXACTLY `dim` components.
    * Ragged input is REFUSED with an actionable error — including
    * vectors LONGER than `dim`, which the pre-r13 element_at formulation
    * silently prefix-summed (a deliberate tightening: a longer vector in
    * an IVF corpus is a corrupt row, not a valid prefix). */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2
  ): Seq[(Long, Seq[Double])] = {
    import org.apache.spark.sql.types.DecimalType
    val vecs = corpus
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)
    var cent: Seq[(Long, Seq[Double])] = vecs
      .orderBy(md5(col("id").cast("string")), col("id")).limit(k)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    var round = 0
    val dim = cent.headOption.map(_._2.size).getOrElse(0)
    while (round < rounds && cent.nonEmpty) {
      // Re-center as ONE hash aggregate with a per-position sum column
      // per dimension, grouped directly on the nearest-cell expression.
      // NOT a posexplode: Catalyst collapses a pre-Generate projection
      // into the post-Generate one, so an exploded shape re-evaluates
      // the k-cosine cell assignment on every (row, pos) pair — dim×
      // the necessary work (measured 64× on the 64-d embeddings; this
      // shape cut each Lloyd job ~1 s → ~0.15 s). Here the assignment
      // runs once per row as the grouping key; the shuffle carries
      // k·(dim+1) partial sums and the driver still holds k·dim doubles.
      // DECIMAL sums are order-independent, so the centroids are
      // bit-identical to the exploded formulation (and the oracle's).
      // try_element_at, not element_at: under ANSI an out-of-bounds index
      // throws mid-aggregate with an opaque error; the null lets the
      // size check below refuse with the actionable message instead
      // (identical arithmetic for well-formed fixed-dim input).
      val sumCols = (1 to dim).map(i =>
        sum(try_element_at(col("v"), lit(i)).cast(DecimalType(27, 12))).as(s"s$i"))
      // min/max vector size ride the SAME aggregate (no extra job): a
      // ragged vector shorter than dim yields null components — skipped
      // by sum but still counted in n — silently skewing that centroid
      // component. Refuse ragged input instead of averaging it wrong
      // (r12 ADVICE); the contract is fixed-dim embeddings.
      val sums = vecs
        .groupBy(nearestCell(col("v"), cent).as("cell"))
        .agg(count(lit(1)).as("n"),
          (min(size(col("v"))).as("minsz") +: max(size(col("v"))).as("maxsz") +:
            sumCols): _*)
        .collect()
      sums.foreach { r =>
        // all-null vectors in a cell leave min/max(size) null — that is
        // the same contract breach as a ragged vector, and getInt on a
        // null would throw an unhelpful NPE instead of this message
        // (r13 ADVICE)
        val szOk = !r.isNullAt(2) && !r.isNullAt(3) &&
          r.getInt(2) == dim && r.getInt(3) == dim
        require(szOk,
          s"ragged embedding in cell ${if (r.isNullAt(0)) "null" else r.getLong(0)}: vector sizes " +
            s"${if (r.isNullAt(2)) "null" else r.getInt(2).toString}.." +
            s"${if (r.isNullAt(3)) "null" else r.getInt(3).toString} != dim $dim — a short (or null) vector " +
            "would skew its centroid (null components skipped by sum but " +
            "counted in n); fix the corpus or project a fixed-dim slice")
      }
      cent = sums.toSeq
        .map(r => (r.getLong(0),
          (0 until dim).map(i => r.getDecimal(4 + i).doubleValue() / r.getLong(1)): Seq[Double]))
        .sortBy(_._1)
      round += 1
    }
    cent
  }

  /** Nearest-centroid cell id as a pure projection over literal centroids:
    * `max(struct(csim, -cent_id)).(-neg)` — highest cosine, ties to the
    * smallest centroid id. No join, no shuffle, non-degenerate for k >= 1. */
  def nearestCell(vec: Column, cent: Seq[(Long, Seq[Double])]): Column = {
    val cands = cent.map { case (cid, cv) =>
      struct(cosine(vec, typedlit(cv)).as("csim"), lit(-cid).as("neg"))
    }
    -array_max(array(cands: _*)).getField("neg")
  }

  /** Greedy k-center coreset (Gonzalez's 2-approximation) — the
    * DIVERSE-SUBSET selector: seed with the smallest (md5(id), id)
    * vector (the [[kmeansCentroids]] seed rule), then k-1 times add the
    * point FARTHEST from the chosen set (smallest max-cosine to any
    * chosen center, ties to the smaller id). Unlike density-seeking
    * k-means, k-center covers the EDGES of the distribution — the
    * curation pick when you want every mode represented in a small
    * training subset. Output: every point with its nearest chosen
    * center, the cosine to it (the per-point coverage number whose
    * minimum is the coreset radius), and a `selected` flag.
    *
    * Scale shape: chosen centers are PLAN LITERALS (k·dim driver
    * doubles, the kmeansCentroids budget); each round is one narrow
    * projection + a 1-row TakeOrderedAndProject — no join, no shuffle —
    * and the final assignment is the same literal projection. k rounds
    * total, independent of corpus size. */
  def kcenterCoreset(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val vecs = corpus
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)
    var cent: Seq[(Long, Seq[Double])] = vecs
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    var it = cent.size
    while (it < k) {
      val maxSim = cent.map { case (_, cv) => cosine(col("v"), typedlit(cv)) }
        .reduce(greatest(_, _))
      val far = vecs.filter(!col("vec_id").isInCollection(cent.map(_._1)))
        .select(col("vec_id"), col("v"), maxSim.as("ms"))
        .orderBy(col("ms").asc, col("vec_id").asc)
        .limit(1).collect()
      require(far.nonEmpty, s"k-center: corpus exhausted after $it centers")
      cent = cent :+ ((far(0).getLong(0), far(0).getSeq[Double](1)))
      it += 1
    }
    val best = array_max(array(cent.map { case (cid, cv) =>
      struct(cosine(col("v"), typedlit(cv)).as("csim"), lit(-cid).as("neg"))
    }: _*))
    vecs.select(col("vec_id"),
      (-best.getField("neg")).as("center_id"),
      round(best.getField("csim"), 6).as("center_sim"),
      col("vec_id").isInCollection(cent.map(_._1)).as("selected"))
  }

  /** Per-label mean-pooled prototypes (class centroids) with cohesion:
    * one row per label — member count, centroid L2 norm, and the mean
    * cosine of members to their own centroid (the intra-class tightness
    * number behind prototype classifiers and drift monitors).
    *
    * Scale shape: component sums shuffle only (label, pos) partial sums
    * (map-side combinable, #labels·dim rows regardless of corpus size) and
    * are DECIMAL-routed so the centroid is independent of partial-agg
    * order; the #labels-sized centroid frame broadcasts back for the
    * cohesion pass, so the corpus never shuffles beyond its own
    * aggregates. The DECIMAL-routed cosine mean keeps the cohesion number
    * order-independent too. */
  def labelCentroids(
      df: DataFrame,
      vecCol: String,
      labelCol: String
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(27, 12)
    val vecs = df.select(col(labelCol).cast("long").as("label"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val cents = vecs
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast(dec)).cast("double") / count(lit(1))).as("mu"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("mu")))),
        _.getField("mu")).as("cv"))
    vecs.join(broadcast(cents), "label")
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        (sum(cosine(col("v"), col("cv")).cast(dec)).cast("double") /
          count(lit(1))).as("mc"),
        first(col("cv")).as("cv"))
      .select(col("label"), col("n_vecs"),
        round(sqrt(aggregate(transform(col("cv"), x => x * x),
          lit(0.0), (a, x) => a + x)), 6).as("centroid_norm"),
        round(col("mc"), 6).as("mean_cos"))
  }

  /** IVF index HEALTH telemetry: per-cell occupancy, share of the
    * corpus, and imbalance vs the uniform ideal (n·k/total — 1.0 means
    * perfectly balanced). Hot cells are the real probe-latency risk of
    * an inverted file (a probe pays its cells' occupancy, not the
    * average), and the re-train trigger: imbalance drifting up as the
    * corpus grows means the frozen codebook no longer fits the data.
    *
    * Scale shape: one k-row aggregate over the assignment projection;
    * the share/imbalance window runs over the k-row frame only. */
  def ivfCellStats(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      coarse: Option[Seq[(Long, Seq[Double])]] = None
  ): DataFrame = {
    val (_, assigned) =
      ivfIndex(corpus, idCol, vecCol, numCentroids, lloydRounds, coarse)
    val w = Window.partitionBy(lit(0))
    assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") / sum(col("n_vecs")).over(w), 6).as("share"),
        round(col("n_vecs") * lit(numCentroids) / sum(col("n_vecs")).over(w), 6)
          .as("imbalance"))
  }

  /** IVF REBALANCE advice — the ACTUATOR on [[ivfCellStats]]' readout:
    * decide retrain-vs-keep from measured cell occupancy, one verdict
    * row per policy threshold. A probe pays its cells' occupancy, so
    * the policy is an absolute hottest-cell budget expressed against
    * the CURRENT k's uniform occupancy: candidate k meets threshold τ%
    * iff `max_cell_n · curK · 100 <= τ · n` (integer arithmetic — the
    * comparison is exact on any engine). The verdict per threshold is
    * the SMALLEST candidate k that meets it (candidates ordered; `keep`
    * when that is the current k, `retrain` otherwise); if none meets,
    * the candidate with the smallest hottest cell (ties to smaller k).
    *
    * Cost & scale shape: candidate indexes train LAZILY, smallest k
    * first, memoized across thresholds — a healthy index answers every
    * threshold from its own stats with zero retrains. Each training is
    * [[kmeansCentroids]] (k·dim driver doubles) plus one cell-count
    * aggregate; the verdict itself is computed from k-sized driver
    * state. */
  def ivfRebalanceAdvice(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      curK: Int = 16,
      candidates: Seq[Int] = Seq(16, 24, 32),
      thresholdsPct: Seq[Int] = Seq(125, 110),
      lloydRounds: Int = 2,
      coarseByK: Map[Int, Seq[(Long, Seq[Double])]] = Map.empty
  ): DataFrame = {
    require(candidates.contains(curK), s"candidates must include curK=$curK")
    val spark = corpus.sparkSession
    val memo = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    def statsOf(k: Int): (Long, Long) = memo.getOrElseUpdate(k, {
      val (_, assigned) =
        ivfIndex(corpus, idCol, vecCol, k, lloydRounds, coarseByK.get(k))
      val r = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head()
      (r.getLong(0), r.getLong(1))
    })
    val rows = thresholdsPct.map { tau =>
      val (curMax, total) = statsOf(curK)
      def meets(k: Int): Boolean =
        statsOf(k)._1 * curK * 100L <= tau.toLong * total
      val chosen = candidates.find(meets).getOrElse(
        candidates.map(k => (statsOf(k)._1, k)).min._2)
      (tau, curK, curMax,
        if (chosen == curK) "keep" else "retrain",
        chosen, statsOf(chosen)._1)
    }
    import spark.implicits._
    rows.toDF("threshold_pct", "cur_k", "cur_max_n",
      "decision", "chosen_k", "chosen_max_n")
  }

  /** ACT on [[ivfRebalanceAdvice]] — the full health loop closed:
    * evaluate the verdict at ONE threshold, train the chosen k (the
    * current k when the verdict is `keep` — the committed index must
    * exist either way), commit the inverted file to `indexDir` as a
    * transactional index commit bound to the corpus snapshot
    * ([[graft.sources.ManifestTable.commitIndex]] — `#indexof` staleness
    * gate included), and PROVE the policy in the returned row: the
    * committed index's hottest cell re-measured from the committed
    * table itself, with the integer-exact budget check as a column, not
    * a narration. One retrain maximum beyond the advice's own lazy
    * candidates (memoized — `keep` pays zero extra training). */
  def ivfRebalanceApply(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      corpusDir: String,
      indexDir: String,
      curK: Int = 16,
      candidates: Seq[Int] = Seq(16, 24, 32),
      thresholdPct: Int = 110,
      lloydRounds: Int = 2,
      coarseByK: Map[Int, Seq[(Long, Seq[Double])]] = Map.empty
  ): DataFrame = {
    require(candidates.contains(curK), s"candidates must include curK=$curK")
    val spark = corpus.sparkSession
    val mt = graft.sources.ManifestTable
    val corpusV = mt.commit(spark, corpusDir, corpus).version
    // the advice loop inlined so the CHOSEN candidate's assignment frame
    // is reused for the commit — calling the advice then retraining the
    // winner would pay the chosen k's Lloyd rounds twice
    val memo = scala.collection.mutable.Map
      .empty[Int, (DataFrame, Long, Long)]
    def eval(k: Int): (DataFrame, Long, Long) = memo.getOrElseUpdate(k, {
      val (_, assigned) =
        ivfIndex(corpus, idCol, vecCol, k, lloydRounds, coarseByK.get(k))
      val r = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head()
      (assigned, r.getLong(0), r.getLong(1))
    })
    val (_, curMax, total) = eval(curK)
    def meets(k: Int): Boolean =
      eval(k)._2 * curK * 100L <= thresholdPct.toLong * total
    val chosenK = candidates.find(meets).getOrElse(
      candidates.map(k => (eval(k)._2, k)).min._2)
    val decision = if (chosenK == curK) "keep" else "retrain"
    // commit CELL-CLUSTERED (the inverted-file layout the ivfIndex
    // scaladoc promises): each file covers a disjoint cell range, so a
    // probe's readWhereIn opens only its cells' files at any index size
    mt.commitIndex(spark, indexDir,
      eval(chosenK)._1.repartitionByRange(4, col("cell"))
        .sortWithinPartitions(col("cell")),
      corpusDir, corpusV,
      meta = Map("ivf.k" -> chosenK.toString))
    // the PROOF re-measures from the committed table itself, not the
    // in-flight frame — what a later reader of the index will see
    val post = mt.read(spark, indexDir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head()
    val (postMax, postTotal) = (post.getLong(0), post.getLong(1))
    import spark.implicits._
    Seq((thresholdPct, decision, chosenK, curMax, postMax,
      postMax * curK * 100L <= thresholdPct.toLong * postTotal))
      .toDF("threshold_pct", "decision", "chosen_k", "cur_max_n",
        "post_max_n", "fits_budget")
  }

  /** Per-label EMBEDDING-DISTRIBUTION DRIFT between two corpus slices —
    * the embedding-space twin of the PSI text drift check: each side's
    * per-label centroid (component means, DECIMAL-routed so the result
    * is arrival-order-independent), compared by cosine. A retrained
    * encoder, a pipeline change, or genuine distribution shift shows up
    * as centroid_cos dropping below ~1 for the affected labels — the
    * review you run before mixing a new embedding batch into curation
    * decisions calibrated on the old one.
    *
    * Scale shape: two posexplode aggregates (labels × dim rows each —
    * map-side combinable, never vector-count-sized) and one join of two
    * label-sized frames. */
  def centroidDrift(
      dfA: DataFrame,
      dfB: DataFrame,
      vecCol: String,
      labelCol: String
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(27, 12)
    def cents(df: DataFrame): DataFrame =
      df.select(col(labelCol).cast("long").as("label"),
          transform(col(vecCol), _.cast("double")).as("v"))
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(dec)).cast("double") / count(lit(1))).as("mu"),
          count(lit(1)).as("n"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("mu")))),
          _.getField("mu")).as("cv"), max(col("n")).as("n"))
    val a = cents(dfA).select(col("label"), col("n").as("n_a"), col("cv").as("cva"))
    val b = cents(dfB).select(col("label"), col("n").as("n_b"), col("cv").as("cvb"))
    a.join(b, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(cosine(col("cva"), col("cvb")), 6).as("centroid_cos"))
  }

  /** Product-quantization reconstruction — the MEMORY-side ANN scale path
    * next to [[ivfTopK]]'s compute-side path. The `dim`-space splits into
    * `m` subspaces; each learns `k` centroids with the SAME deterministic
    * Lloyd recipe as IVF ([[kmeansCentroids]] on the sliced subvectors —
    * md5-ordered seeds, DECIMAL-routed means, ties to the smallest id);
    * every vector's subspace code is its nearest subcentroid, and the
    * returned frame carries the code-concatenated reconstruction v̂. An
    * index stores m·log₂(k) BITS per vector (m=4, k=16 → 2 bytes) instead
    * of dim floats — 128× smaller at dim=64 — and ranks by similarity
    * against v̂ (asymmetric distance: full-precision query, quantized
    * corpus).
    *
    * Scale shape: the m codebooks are m·k·(dim/m) = k·dim literal doubles
    * of driver state (same budget as IVF's quantizer — nothing grows with
    * the corpus); encode + reconstruct is ONE narrow projection per vector
    * against those literals — no join, no shuffle anywhere in the build. */
  def pqReconstruct(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 4,
      k: Int = 16,
      lloydRounds: Int = 2,
      pqBooks: Option[IndexedSeq[Seq[(Long, Seq[Double])]]] = None
  ): DataFrame = {
    // pre-trained books (e.g. a committed quantizer registry) skip the
    // seed + Lloyd jobs entirely — raw-vector books are the paired
    // trainer's flat arm, bit-identical to training here
    val books = pqBooks.getOrElse(
      pqCodebooks(corpus, idCol, vecCol, dim, m, k, lloydRounds))
    corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)
      .select(col("id").as(idCol), pqReconCol(books, dim)(col("v")).as("pq_vec"))
  }

  /** The code-reconstruction column v̂ for one vector column against
    * learned [[pqCodebooks]] — a narrow projection over codebook
    * literals, shareable with other per-vector projections (cell
    * assignment, norms) so an index build stays one pass. */
  def pqReconCol(
      books: IndexedSeq[Seq[(Long, Seq[Double])]],
      dim: Int)(v: Column): Column = {
    val m = books.size
    val sub = dim / m
    concat((0 until m).map { j =>
      val sv = slice(v, j * sub + 1, sub)
      element_at(typedlit(books(j).toMap), nearestCell(sv, books(j)))
    }: _*)
  }

  /** The m deterministic subspace codebooks behind [[pqReconstruct]] —
    * exposed so composed indexes ([[ivfPqTopK]]) can encode cells and
    * codes in one projection. */
  private[ops] def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 4,
      k: Int = 16,
      lloydRounds: Int = 2
  ): IndexedSeq[Seq[(Long, Seq[Double])]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    import org.apache.spark.sql.types.DecimalType
    val sub = dim / m
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)
    // Seeds: ONE corpus pass for every subspace — the k md5-smallest
    // vectors (the ordering ignores the subspace, so each subspace's seed
    // set is the same ids, sliced). Identical to running
    // [[kmeansCentroids]] per sliced subspace, 1 job instead of m.
    val seedRows = vecs.orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    var books: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map { j =>
      seedRows.map { case (cid, v) => (cid, v.slice(j * sub, (j + 1) * sub)) }
    }
    var round = 0
    while (round < lloydRounds) {
      // ONE aggregate re-centers every subspace per round (vs m separate
      // k-means: m× fewer corpus passes, same math): per-subspace cell
      // ids are narrow projections against the codebook literals, then
      // the posexploded components group by (subspace, cell, pos) with
      // DECIMAL-routed map-side-combinable sums — the shuffle carries
      // m·k·(dim/m) = k·dim partial sums, the driver holds k·dim doubles.
      // (Catalyst collapses the cells projection above the Generate, so
      // the cell assignments re-evaluate per exploded component — dim×
      // redundant map-side cosine compute. A generator-internal struct
      // explode that assigns cells once per row was tried and MEASURED
      // SLOWER at every scale tested: the per-row struct/array
      // allocations cost more than the redundant fused multiply-adds,
      // which stay cheap precisely because they are collapse-inlined
      // into one codegen stage. Keep this shape unless a measurement
      // says otherwise.)
      val cells = (0 until m).map { j =>
        nearestCell(slice(col("v"), j * sub + 1, sub), books(j)).as(s"c$j")
      }
      val sums = vecs.select(col("v") +: cells: _*)
        .select(array((0 until m).map(j => col(s"c$j")): _*).as("cs"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select((col("pos") / sub).cast("int").as("j"),
          element_at(col("cs"), (col("pos") / sub).cast("int") + 1).as("cell"),
          pmod(col("pos"), lit(sub)).as("pos"), col("x"))
        .groupBy("j", "cell", "pos")
        .agg(sum(col("x").cast(DecimalType(27, 12))).as("s"), count(lit(1)).as("n"))
        .collect()
      books = (0 until m).map { j =>
        sums.filter(_.getInt(0) == j).toSeq
          .map(r => (r.getLong(1), r.getInt(2),
            r.getDecimal(3).doubleValue() / r.getLong(4)))
          .groupBy(_._1).toSeq
          .map { case (cell, xs) => (cell, xs.sortBy(_._2).map(_._3)) }
          .sortBy(_._1)
      }
      round += 1
    }
    books
  }

  /** Train the `by_residual=false` AND `by_residual=true` PQ codebooks
    * in the SAME Spark jobs — the eval-harness companion to
    * [[ivfPqTopK]]/[[ivfPqResidualTopK]]: a flat-vs-residual comparison
    * needs both books over one corpus, and training them separately
    * doubles the seed job and every Lloyd round. Here each corpus vector
    * contributes two training rows (its raw self and its residual
    * against `coarse`) built INSIDE one explode's generator — evaluated
    * once per row — so one seed job and one aggregate per round train
    * both arms. Seeds and per-(arm, subspace, cell, pos) DECIMAL sums
    * are exactly those of two separate [[pqCodebooks]] runs, so the
    * returned (flat, residual) books are bit-identical to separate
    * training at the same parameters.
    *
    * Scale shape: 2× the training rows through the same
    * map-side-combinable aggregate; driver state stays 2·m·pqK·(dim/m)
    * doubles. */
  def pqCodebooksPaired(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[(Long, Seq[Double])],
      dim: Int,
      m: Int = 4,
      pqK: Int = 16,
      lloydRounds: Int = 2
  ): (IndexedSeq[Seq[(Long, Seq[Double])]], IndexedSeq[Seq[(Long, Seq[Double])]]) = {
    require(m > 0 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    import org.apache.spark.sql.types.DecimalType
    val sub = dim / m
    val centMap = typedlit(coarse.toMap)
    val raw = corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)
    // arm 0 = raw vector, arm 1 = residual vs the shared coarse cell;
    // both rows come out of ONE generator evaluation per corpus vector
    val both = raw.select(col("id"), explode(array(
        struct(lit(0).as("arm"), col("v").as("v")),
        struct(lit(1).as("arm"),
          zip_with(col("v"),
            element_at(centMap, nearestCell(col("v"), coarse)),
            (x, c) => x - c).as("v"))
      )).as("e"))
      .select(col("id"), col("e.arm").as("arm"), col("e.v").as("v"))
    // one seed job for both arms: the pqK md5-smallest ids per arm are
    // the SAME ids, ranked exactly as pqCodebooks' orderBy-limit
    val wSeed = Window.partitionBy("arm")
      .orderBy(md5(col("id").cast("string")), col("id"))
    val seedRows = both.withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= pqK)
      .select(col("arm"), col("id"), col("v")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    def seedBooks(arm: Int): IndexedSeq[Seq[(Long, Seq[Double])]] = {
      val rows = seedRows.filter(_._1 == arm).map(t => (t._2, t._3))
        .sortBy(_._1).toSeq
      (0 until m).map { j =>
        rows.map { case (cid, v) => (cid, v.slice(j * sub, (j + 1) * sub)) }
      }
    }
    var books = IndexedSeq(seedBooks(0), seedBooks(1))
    var round = 0
    while (round < lloydRounds) {
      // one aggregate re-centers both arms × every subspace (the
      // pqCodebooks shape with `arm` joining the group key; the same
      // collapse-inlined cell recompute tradeoff applies — see there)
      val cells = (0 until m).map { j =>
        when(col("arm") === 0,
            nearestCell(slice(col("v"), j * sub + 1, sub), books(0)(j)))
          .otherwise(
            nearestCell(slice(col("v"), j * sub + 1, sub), books(1)(j)))
          .as(s"c$j")
      }
      val sums = both.select(col("arm") +: col("v") +: cells: _*)
        .select(col("arm"),
          array((0 until m).map(j => col(s"c$j")): _*).as("cs"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("arm"), (col("pos") / sub).cast("int").as("j"),
          element_at(col("cs"), (col("pos") / sub).cast("int") + 1).as("cell"),
          pmod(col("pos"), lit(sub)).as("pos"), col("x"))
        .groupBy("arm", "j", "cell", "pos")
        .agg(sum(col("x").cast(DecimalType(27, 12))).as("s"), count(lit(1)).as("n"))
        .collect()
      books = IndexedSeq(0, 1).map { arm =>
        (0 until m).map { j =>
          sums.filter(r => r.getInt(0) == arm && r.getInt(1) == j).toSeq
            .map(r => (r.getLong(2), r.getInt(3),
              r.getDecimal(4).doubleValue() / r.getLong(5)))
            .groupBy(_._1).toSeq
            .map { case (cell, xs) => (cell, xs.sortBy(_._2).map(_._3)) }
            .sortBy(_._1)
        }
      }
      round += 1
    }
    (books(0), books(1))
  }

  /** Flatten a trained quantizer set (coarse centroids + flat and
    * residual PQ codebooks) into rows for a committed quantizer registry
    * — (kind, sub, cent_id, cv) with `sub = -1` for the coarse rows.
    * The inverse of [[pqBooksFromRows]]; together they let the PQ-family
    * queries train ONCE per corpus version, commit the ~k·(1+2m) rows as
    * an `#indexof`-gated index table, and rebuild the plan literals from
    * the committed values (exact doubles through parquet, so probing a
    * committed registry is bit-identical to inline training). */
  def pqBooksToRows(
      cent: Seq[(Long, Seq[Double])],
      flat: IndexedSeq[Seq[(Long, Seq[Double])]],
      resid: IndexedSeq[Seq[(Long, Seq[Double])]]
  ): Seq[(String, Int, Long, Seq[Double])] = {
    def enc(kind: String, books: IndexedSeq[Seq[(Long, Seq[Double])]]) =
      books.zipWithIndex.flatMap { case (bk, j) =>
        bk.map { case (cid, v) => (kind, j, cid, v) }
      }
    cent.map { case (cid, v) => ("coarse", -1, cid, v) } ++
      enc("flat", flat) ++ enc("resid", resid)
  }

  /** Rebuild (coarse, flat books, residual books) from registry rows —
    * subspaces and cells re-sort by id, matching the training output
    * order of [[kmeansCentroids]]/[[pqCodebooks]] exactly. */
  def pqBooksFromRows(
      rows: Seq[(String, Int, Long, Seq[Double])]
  ): (Seq[(Long, Seq[Double])],
      IndexedSeq[Seq[(Long, Seq[Double])]],
      IndexedSeq[Seq[(Long, Seq[Double])]]) = {
    def dec(kind: String): IndexedSeq[Seq[(Long, Seq[Double])]] = {
      val r = rows.filter(_._1 == kind)
      require(r.nonEmpty, s"quantizer registry has no '$kind' rows")
      (0 to r.map(_._2).max).map { j =>
        r.filter(_._2 == j).map(x => (x._3, x._4)).sortBy(_._1)
      }
    }
    val cent = rows.filter(_._1 == "coarse").map(x => (x._3, x._4)).sortBy(_._1)
    require(cent.nonEmpty, "quantizer registry has no coarse rows")
    (cent, dec("flat"), dec("resid"))
  }

  /** IVF (inverted-file) approximate top-k — the classic ANN scale shape.
    *
    * Build: `numCentroids` fixed-k deterministic k-means centroids
    * ([[kmeansCentroids]] — O(k·dim) driver state, independent of corpus
    * size). Each corpus vector is assigned to its nearest centroid (its
    * "cell") by a narrow projection against the centroid literals — no
    * join, no broadcast, no shuffle in the assignment.
    * Search: each query probes only its `nprobe` nearest cells and ranks
    * exact cosine inside them — per-query work is O(k + n·nprobe/k)
    * instead of O(n), and recall is tuned by `nprobe`.
    *
    * At 100 TB: the plan ships only k·dim literal doubles (k is FIXED —
    * nothing grows with the corpus); the assigned frame is the partitioned
    * inverted file (in production, written bucketed by cell so the probe
    * join is co-located); the probe join shuffles only on cell ids. Ties
    * break on centroid/neighbor id so results are deterministic across
    * partitionings and engines.
    *
    * `corpusFilter` is FILTERED ANN (the "top-k among lang='en'" query):
    * the quantizer trains on the FULL corpus — the index is built once,
    * predicates arrive at query time — and the predicate applies to the
    * inverted file BEFORE the probe join, so pruned rows never enter the
    * shuffle. The classic filtered-recall caveat applies (a probe cell
    * may hold few survivors; raise `nprobe` under selective filters). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      nprobe: Int = 4,
      corpusFilter: Column = lit(true),
      coarse: Option[Seq[(Long, Seq[Double])]] = None
  ): DataFrame = {
    // see ivfIndex: a registry-loaded codebook skips training outright
    val cent = coarse.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, numCentroids, lloydRounds))
    // empty corpus → no centroids, no neighbors (schema-preserving)
    if (cent.isEmpty)
      return queries.limit(0).select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(0.0).as("sim"), lit(0).as("rank"))

    // cell assignment: narrow projection, centroids are plan literals;
    // the query-time predicate prunes the inverted file at its scan
    val assigned = corpus
      .filter(corpusFilter)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .withColumn("cell", nearestCell(col("nvec"), cent))

    // probes: nprobe nearest centroids per query (queries are small; the
    // explode adds k rows per query and the rank window shuffles only that)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val candArr = array(cent.map { case (cid, cv) =>
      struct(cosine(col("qvec"), typedlit(cv)).as("csim"), lit(cid).as("cent_id"))
    }: _*)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cand.csim").desc, col("cand.cent_id").asc)
    val probes = q.select(col("query_id"), col("qvec"), explode(candArr).as("cand"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cand.cent_id").as("cell"))

    // exact cosine within probed cells, deterministic top-k
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("nvec")).as("sim"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
  }

  /** IVF-PQ composed approximate top-k — the production ANN index shape
    * (FAISS `IVFPQ` with `by_residual=false`): the COARSE quantizer
    * ([[kmeansCentroids]]) prunes compute — each query probes `nprobe`
    * cells instead of the corpus — while PRODUCT QUANTIZATION
    * ([[pqCodebooks]]) prunes memory — the index ranks against
    * code-reconstructed vectors (asymmetric distance: full-precision
    * query, m·log₂(pqK)-bit corpus codes), so the inverted file holds
    * bytes per vector, not floats.
    *
    * Scale shape: BOTH quantizers are plan literals (k·dim + pqK·dim
    * doubles of driver state, independent of corpus size); cell id and
    * PQ reconstruction ride ONE narrow projection per corpus vector — no
    * build-side join or shuffle; the probe join shuffles only on cell
    * ids, exactly [[ivfTopK]]'s posture. Every tie breaks on ids, so
    * results are deterministic across partitionings and engines. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      nprobe: Int = 4,
      m: Int = 4,
      pqK: Int = 16,
      coarse: Option[Seq[(Long, Seq[Double])]] = None,
      pqBooks: Option[IndexedSeq[Seq[(Long, Seq[Double])]]] = None,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    // `coarse`/`pqBooks` let an eval harness train the quantizers ONCE
    // and share them across index variants (the sweep/tuner precedent):
    // the Lloyd rounds are driver-collected jobs over the corpus,
    // identical for every variant that shares the training parameters.
    val cent = coarse.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, numCentroids, lloydRounds))
    if (cent.isEmpty)
      return queries.limit(0).select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(0.0).as("sim"), lit(0).as("rank"))
    val books = pqBooks.getOrElse(
      pqCodebooks(corpus, idCol, vecCol, dim, m, pqK, lloydRounds))

    // one projection builds the whole inverted file: cell + code —
    // CACHED (r15 optimization round): the probe join below matches each
    // indexed row against every probe of its cell, and an uncached
    // projection re-evaluates the m·k-cosine reconstruction PER MATCHED
    // PAIR, not per vector (measured 3-5x the whole query's task time at
    // any probe batch > 1). The inverted file is exactly the artifact a
    // production deployment persists as a table (sim_ivf_persisted);
    // MEMORY_AND_DISK is that decision in-session.
    val assigned = scope.cache(corpus
      .select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), _.cast("double")).as("nv"))
      .filter(col("nv").isNotNull)
      .select(col("neighbor_id"),
        nearestCell(col("nv"), cent).as("cell"),
        pqReconCol(books, dim)(col("nv")).as("pq_vec")))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val candArr = array(cent.map { case (cid, cv) =>
      struct(cosine(col("qvec"), typedlit(cv)).as("csim"), lit(cid).as("cent_id"))
    }: _*)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cand.csim").desc, col("cand.cent_id").asc)
    val probes = q.select(col("query_id"), col("qvec"), explode(candArr).as("cand"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cand.cent_id").as("cell"))

    val wRank = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("pq_vec")).as("sim"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
  }

  /** IVF-PQ with RESIDUAL encoding (FAISS `by_residual=true`, the
    * production default): PQ codebooks train on `v − coarse_centroid`
    * instead of raw vectors, and reconstruction adds the coarse
    * centroid back. Residuals concentrate around zero with far less
    * variance than raw vectors, so the same code budget quantizes much
    * finer — the standard recall win over [[ivfPqTopK]]'s
    * `by_residual=false` at identical m/k.
    *
    * Scale shape mirrors [[ivfPqTopK]]: both quantizers are plan
    * literals (k·dim + m·k·(dim/m) driver doubles), the inverted file
    * is ONE projection (cell + coarse-plus-residual reconstruction),
    * probes prune compute by nprobe. The residual frame is a pure
    * projection over the corpus (cell lookup against a map literal, one
    * `zip_with`) — at index-build scale you'd persist it across the
    * codebook's Lloyd rounds; the rounds themselves shuffle only
    * k·dim partial sums either way. */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      nprobe: Int = 4,
      m: Int = 4,
      pqK: Int = 16,
      coarse: Option[Seq[(Long, Seq[Double])]] = None,
      pqBooks: Option[IndexedSeq[Seq[(Long, Seq[Double])]]] = None,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    // see ivfPqTopK: a shared pre-trained coarse quantizer makes flat-vs-
    // residual comparisons differ ONLY in the PQ encoding, and halves the
    // eval bill; `pqBooks` takes residual-trained books (e.g. from
    // [[pqCodebooksPaired]]) and skips training entirely
    val cent = coarse.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, numCentroids, lloydRounds))
    if (cent.isEmpty)
      return queries.limit(0).select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(0.0).as("sim"), lit(0).as("rank"))
    val centMap = typedlit(cent.toMap)
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)
    // cell + residual in one projection — CACHED through `scope` when
    // codebook training will re-read it (once per seed/Lloyd job plus
    // the inverted-file assignment; at index-build scale you'd persist
    // it to a table, and MEMORY_AND_DISK is the same decision
    // in-session). With pre-trained books the frame has exactly one
    // consumer and caching would be pure overhead.
    val residPlain = vecs
      .select(col("id"), nearestCell(col("v"), cent).as("cell"), col("v"))
      .select(col("id"), col("cell"),
        zip_with(col("v"), element_at(centMap, col("cell")),
          (x, c) => x - c).as("rv"))
    val resid = if (pqBooks.isEmpty) scope.cache(residPlain) else residPlain
    // the PQ codebooks train on the RESIDUALS
    val books = pqBooks.getOrElse(
      pqCodebooks(resid, "id", "rv", dim, m, pqK, lloydRounds))
    // inverted file: reconstruction = coarse centroid + residual recon —
    // cached for the same reason as ivfPqTopK's `assigned` (the probe
    // join would otherwise re-run cell assignment + residual + recon per
    // matched pair instead of per vector)
    val assigned = scope.cache(
      resid.select(col("id").as("neighbor_id"), col("cell"),
        zip_with(element_at(centMap, col("cell")),
          pqReconCol(books, dim)(col("rv")), (c, r) => c + r).as("pq_vec")))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val candArr = array(cent.map { case (cid, cv) =>
      struct(cosine(col("qvec"), typedlit(cv)).as("csim"), lit(cid).as("cent_id"))
    }: _*)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cand.csim").desc, col("cand.cent_id").asc)
    val probes = q.select(col("query_id"), col("qvec"), explode(candArr).as("cand"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cand.cent_id").as("cell"))

    val wRank = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("pq_vec")).as("sim"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
  }

  /** Hubness report: the top in-degree nodes of the approximate kNN graph
    * — high-dimensional embedding spaces concentrate neighborhoods onto a
    * few "hub" points (the hubness phenomenon), which silently dominate
    * retrieval results and poison kNN-based dedup/classification; this is
    * the diagnostic read before trusting an ANN index. Per hub: in-degree
    * (how many nodes list it) and how many of those edges are mutual
    * (low mutual share = asymmetric hub = the pathological kind).
    * Composes [[knnGraph]]; the cut is a TakeOrderedAndProject over the
    * #nodes-sized in-degree aggregate — never a global sort. */
  def hubnessReport(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 8,
      bands: Int = 2,
      k: Int = 5,
      topN: Int = 10,
      scope: CacheScope = new CacheScope
  ): DataFrame =
    knnGraph(df, idCol, vecCol, dim, planes, bands, k, scope)
      .groupBy(col("dst"))
      .agg(count(lit(1)).as("in_degree"),
        sum(when(col("mutual"), 1L).otherwise(0L)).as("n_mutual"))
      .orderBy(col("in_degree").desc, col("dst").asc)
      .limit(topN)
      .select(col("dst").as("node_id"), col("in_degree"), col("n_mutual"))

  /** Deterministic random-projection compression: `dim` → `proj`
    * dimensions via the md5-parity ±1 hyperplane family (an
    * Achlioptas-style database-friendly projection — no stored matrix, the
    * planes are plan literals; `firstPlane` offsets the family so the
    * projection is independent of the sign-LSH buckets). A narrow
    * scan-side map: no shuffle, no UDF, `proj`·`dim` multiply-adds per
    * row, and every engine derives the identical planes — the compressed
    * vectors are bit-reproducible. Johnson–Lindenstrauss distortion decays
    * with `proj`, so this is the standard cheap pre-filter before exact
    * re-ranking on the full vectors. */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      proj: Int,
      firstPlane: Int = 64
  ): DataFrame = {
    val signs = hyperplaneSigns(firstPlane + proj, dim)
    df.select(col(idCol),
      array((0 until proj).map(j =>
        dotDouble(col(vecCol), typedlit(signs(firstPlane + j)))): _*).as("pvec"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * storage/bandwidth shape for ANN at scale (4× smaller vectors; dot
    * products run on int8 with one final rescale). Per vector:
    * scale = max|x|/127, q_i = floor(x_i/scale + 0.5) (explicit
    * round-half-up — `floor` is engine-portable where native rounding modes
    * differ). Returns (idCol, scale, qmin, qmax, qsum, max_err) with qsum a
    * checksum of the quantized vector and max_err the worst absolute
    * reconstruction error — everything a data-quality gate needs without
    * shipping the arrays. Pure codegen'd higher-order functions, one
    * projection, no shuffle. */
  def quantizeInt8Profile(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Staged projections: `scale` is an O(dim) fold and is referenced from
    // inside the per-element lambdas below — inlining it there would make
    // each row O(dim²). Aliasing it in its own Project keeps it evaluated
    // once per row (CollapseProject never duplicates non-cheap aliases).
    df.select(col(idCol), transform(col(vecCol), _.cast("double")).as("__v"))
      .withColumn("__scale",
        greatest(array_max(transform(col("__v"), abs(_))), lit(1e-12)) / 127d)
      .withColumn("__q",
        transform(col("__v"), x => floor(x / col("__scale") + 0.5d).cast("int")))
      .select(col(idCol),
        round(col("__scale"), 9).as("scale"),
        array_min(col("__q")).as("qmin"),
        array_max(col("__q")).as("qmax"),
        aggregate(col("__q"), lit(0L), (a, x) => a + x).as("qsum"),
        round(array_max(zip_with(col("__q"), col("__v"),
          (qi, x) => abs(qi * col("__scale") - x))), 9).as("max_err"))
  }

  /** Binary-quantization (sign-bit) codes: bit i set iff x_i > 0, packed
    * into ⌈dim/32⌉ longs of 32 bits each. 32-bit words keep every shift
    * strictly positive, so the packing arithmetic is portable to any
    * engine with signed-64 integers (no sign-bit overflow cases). The
    * pack is a literal fold unrolled at PLAN time — `dim` CASE/OR terms
    * of constant shifts, fully codegen'd, no interpreted higher-order
    * function on the hot path. */
  def bqCodes(vec: Column, dim: Int): Seq[Column] = {
    require(dim > 0, "dim must be positive")
    (0 until (dim + 31) / 32).map { w =>
      ((w * 32) until math.min(dim, w * 32 + 32)).map { i =>
        when(element_at(vec, i + 1) > lit(0f), lit(1L << (i - w * 32)))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
  }

  /** Binary-quantization approximate top-k: rank corpus vectors by
    * HAMMING distance between sign-bit codes (ascending, neighbor-id
    * tiebreak) — the 32×-under-float32 memory point of the compression
    * ladder (int8 → PQ → BQ), and the cheapest distance there is: two
    * XORs and two popcounts per candidate, all codegen'd.
    *
    * Scale shape mirrors [[bruteForceTopK]]: the query codes broadcast,
    * the corpus side is a narrow projection over its own scan (codes are
    * computed on the fly here; a real deployment materializes them once
    * — the expression is the same either way), and the per-query top-k
    * is a WindowGroupLimit, never a global sort. */
  def bqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int
  ): DataFrame = {
    val bc = call_function("bit_count", _: Column)
    val words = bqCodes(col("cvec"), dim).zipWithIndex
      .map { case (c, w) => c.as(s"c$w") }
    val qWords = bqCodes(col("qvec"), dim).zipWithIndex
      .map { case (c, w) => c.as(s"q$w") }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .select(col("neighbor_id") +: words: _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .select(col("query_id") +: qWords: _*)
    val hamming = (0 until (dim + 31) / 32)
      .map(w => bc(col(s"c$w").bitwiseXOR(col(s"q$w"))))
      .reduce(_ + _).cast("int")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), hamming.as("hamming"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** TWO-STAGE retrieval — the production ANN serving shape: a cheap
    * Hamming pass over the sign-bit codes shortlists `shortlist`
    * candidates per query ([[bqTopK]]), then ONLY those pairs are
    * re-scored with the exact cosine and cut to `k`. The compressed pass
    * touches every corpus code (2 XOR+popcounts each); the float pass
    * touches `queries × shortlist` vectors — at 100 TB that is the whole
    * point: full-precision vectors are read for a few dozen rows per
    * query, not the corpus. The re-fetch joins the (tiny) shortlist back
    * to the corpus as a BROADCAST hash join on id, so the corpus side
    * stays a single narrow scan with no shuffle in either stage; recall
    * is tuned by `shortlist` (eval it with the recall harness, as
    * sim_bq_recall does for the raw Hamming ranking). */
  def bqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      shortlist: Int,
      k: Int
  ): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = bqTopK(corpus, queries, idCol, vecCol, dim, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val qvec = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = cvec.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** MAXIMAL MARGINAL RELEVANCE rerank (Carbonell & Goldstein, SIGIR'98)
    * over the Hamming shortlist — the diversity-aware serving cut: k
    * greedy picks of argmax λ·rel(d) − (1−λ)·max_{s∈picked} cos(d, s),
    * so near-duplicate neighbors don't crowd the result page. Ties break
    * to the smaller neighbor id.
    *
    * Scale shape: stage 1 is [[bqTopK]] (compressed pass over every
    * corpus code); the greedy runs PER QUERY over its own ≤`shortlist`
    * candidates, collected into one bounded array column and folded by
    * plan-time-unrolled HOF steps (k literal iterations) — no iterative
    * jobs, no driver loop, one shuffle to group the shortlist. */
  def mmrRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      shortlist: Int,
      k: Int,
      lambdaRel: Double = 0.7
  ): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val spark = corpus.sparkSession
    val cand = bqTopK(corpus, queries, idCol, vecCol, dim, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val qvec = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    import spark.implicits._
    val perQ = cvec.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"),
        struct(col("neighbor_id").as("nid"),
          cosine(col("qvec"), col("cvec")).as("rel"),
          transform(col("cvec"), _.cast("double")).as("v")).as("c"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(col("c"))).as("cands"))
      .as[(Long, Seq[(Long, Double, Seq[Double])])]
    // The greedy is a bounded per-row fold (≤ shortlist candidates), so
    // it runs as plain executor-side JVM code — an HOF-unrolled plan
    // version duplicates the growing selected-set expression at every
    // step and explodes. Arithmetic mirrors the relational cosine
    // exactly: strict left folds, dot/(√·√), so the recursive-CTE
    // oracle replays it bit-for-bit.
    def cosD(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val oneMinus = 1.0 - lambdaRel
    perQ.flatMap { case (qid, cands) =>
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      var i = 1
      while (i <= k && sel.size < cands.size) {
        var bestScore = Double.NegativeInfinity
        var bestNid = Long.MaxValue
        var bestVec: Seq[Double] = null
        cands.foreach { case (nid, rel, v) =>
          if (!sel.exists(_._1 == nid)) {
            val pen =
              if (sel.isEmpty) 0.0
              else sel.iterator.map(s => cosD(v, s._2)).max
            val score = lambdaRel * rel - oneMinus * pen
            if (score > bestScore || (score == bestScore && nid < bestNid)) {
              bestScore = score; bestNid = nid; bestVec = v
            }
          }
        }
        sel += ((bestNid, bestVec))
        picks += ((qid, bestNid, i, bestScore))
        i += 1
      }
      picks
    }.toDF("query_id", "neighbor_id", "rank", "score")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** Deterministic ±1 hyperplane components: sign_{j,i} = +1 iff the 60-bit
    * md5 hash of "j:i" is odd — the same family TextFunctions.hash60 /
    * the DuckDB oracle computes. */
  def hyperplaneSigns(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map { j =>
      (0 until dim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
        if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1.0 else -1.0
      }
    }

  /** Sign-LSH bucket id in [0, 2^planes) from plane family `firstPlane ..
    * firstPlane+planes-1`: bit j set iff dot(v, plane_{firstPlane+j}) >= 0,
    * by the one-pass graft_lsh_bucket kernel over the [[hyperplaneSigns]]
    * planes. NULL and wrong-length vectors map to bucket -1, which keeps
    * the bucket non-nullable: the bucket equi-join then can't infer an
    * IsNotNull constraint that would clone the dot products into a
    * pre-exchange Filter (see Dedup.bandKeys). */
  def lshBucket(vec: Column, planes: Int, dim: Int, firstPlane: Int = 0): Column =
    column(SignLshBucket(expression(vec), planes, dim, firstPlane))

  /** Approximate cosine near-dup pairs: banded sign-LSH with OR-amplification.
    *
    * Each of the `bands` tables hashes with its own `planes` hyperplanes;
    * a pair is a candidate when it collides in ANY band (union → distinct).
    * Candidates are verified with the exact cosine. This is the scale shape:
    *  - recall is tuned by adding bands (OR), precision by adding planes per
    *    band (AND) — at corpus size n, pick `planes ≈ log2(n / target bucket
    *    size)` so bucket population, and with it the per-bucket self-join,
    *    stays bounded as n grows; a fixed bucket count would be O(n²/buckets).
    *  - candidate generation is an equi-join on (band, bucket) — never a
    *    cross join — and verification joins fetch vectors by id only for
    *    surviving pairs.
    */
  def lshCosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 8,
      bands: Int = 1,
      threshold: Double = 0.3
  ): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = vecs.select(col("id"), col("v"),
      explode(array((0 until bands).map(t =>
        struct(lit(t).as("band"),
          lshBucket(col("v"), planes, dim, t * planes).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("tb.band").as("band"), col("tb.bucket").as("bucket"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    cand
      .join(vecs.withColumnRenamed("v", "va"), col("a_id") === col("id")).drop("id")
      .join(vecs.withColumnRenamed("v", "vb"), col("b_id") === col("id")).drop("id")
      .select(col("a_id"), col("b_id"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells bound the candidate set, then a vector
    * is PRUNED when any LOWER-id cell-mate sits within cosine `tau` — the
    * deterministic stand-in for the paper's keep-one-per-duplicate-group
    * rule (lowest id survives every pairwise relation, so the kept set is
    * unique and engine-independent; no connected-components pass needed).
    *
    * Scale shape: the quantizer is [[kmeansCentroids]] — O(k·dim) driver
    * state, cell assignment a narrow projection against centroid literals.
    * The only join is the within-cell self-join, an equi-join on the cell
    * id whose per-cell cost is (n/k)² — k grows with the corpus exactly
    * like the LSH plane count ([[lshCosineNearDupPairs]]), keeping cell
    * population (and with it per-cell pair work) bounded. The prune check
    * is a left-semi join, so no pair list is ever materialized wider than
    * the candidate equi-join output.
    *
    * Returns one row per input vector: (idCol, cell, kept). */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      tau: Double = 0.95,
      coarse: Option[Seq[(Long, Seq[Double])]] = None,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    // registry-loaded codebook skips training outright (see ivfIndex)
    val cent = coarse.getOrElse(
      kmeansCentroids(df, idCol, vecCol, numCentroids, lloydRounds))
    // cached: the assignment projection (k cosines per row) feeds three
    // plan references — both self-join sides and the final keep-flag join
    val assigned = scope.cache(df
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("cell", nearestCell(col("v"), cent)))
    val pruned = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("b.id") < col("a.id") &&
          cosine(col("a.v"), col("b.v")) >= tau,
        "left_semi")
      .select(col("id").as("pid"))
    assigned.join(pruned, col("id") === col("pid"), "left")
      .select(col("id").as(idCol), col("cell"), col("pid").isNull.as("kept"))
  }

  /** Out-of-distribution score per vector: 1 − max cosine to any of the
    * deterministic k-means centroids — the standard cheap embedding-space
    * outlier/novelty gate (vectors far from every density center are OOD
    * candidates; low scores sit inside a cluster). Flags the top fraction
    * by a quantile cut computed as a 1-row aggregate broadcast back — no
    * global sort, no per-row window. Scoring itself is a narrow projection
    * against the centroid literals (no join/shuffle), identical in shape to
    * IVF cell assignment. The cut uses the exact interpolated percentile
    * (bit-replicable by the oracle, same recipe as Corpus.lengthBins); at
    * 100 TB swap it for approx_percentile — the flag is the only consumer.
    * Caveat (inherent to k-means OOD): keep k well below the outlier count,
    * or Lloyd convergence hands extreme loners their own centroid. */
  def centroidOodScores(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      flagQuantile: Double = 0.9,
      coarse: Option[Seq[(Long, Seq[Double])]] = None,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // registry-loaded codebook skips training outright (see ivfIndex)
    val cent = coarse.getOrElse(
      kmeansCentroids(df, idCol, vecCol, numCentroids, lloydRounds))
    val best = array_max(array(cent.map { case (_, cv) =>
      cosine(col("v"), typedlit(cv))
    }: _*))
    // canonicalize through DECIMAL so the quantile cut (an interpolation
    // over sorted values) sees identical inputs in both engines; cached —
    // the k-cosine scoring scan feeds both the cut aggregate and the output
    val scored = scope.cache(df
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .select(col("id"),
        (lit(1.0) - best).cast(DecimalType(20, 12)).cast("double").as("ood")))
    val cut = scored.agg(expr(s"percentile(ood, $flagQuantile)").as("c"))
    scored.crossJoin(broadcast(cut))
      .select(col("id").as(idCol), round(col("ood"), 6).as("ood_score"),
        (col("ood") > col("c")).as("flagged"))
  }

  /** Diversity-preserving downsample: up to `perCell` vectors from EACH
    * k-means cell, picked by the stable (md5(id), id) order — uniform
    * sampling keeps the embedding-space density profile (dense clusters
    * stay dominant); sampling per CELL flattens it, so rare modes survive
    * a hard budget cut (the coverage-first selection behind diverse
    * training subsets, evaluation probes, and labeling queues).
    *
    * Scale shape: cell assignment is the usual narrow projection against
    * the centroid literals; the per-cell cut is a WindowGroupLimit over
    * the md5 hash order — each map task keeps at most `perCell` rows per
    * cell before the exchange, so the shuffle carries O(k·perCell) rows
    * per task, never the corpus. Membership is stable under corpus growth
    * the way [[graft.ops.Corpus.fixedStratifiedSample]] is: adding
    * vectors only displaces from the hash-order boundary. */
  def cellBalancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      perCell: Int = 10,
      coarse: Option[Seq[(Long, Seq[Double])]] = None
  ): DataFrame = {
    // registry-loaded codebook skips training outright (see ivfIndex)
    val cent = coarse.getOrElse(
      kmeansCentroids(df, idCol, vecCol, numCentroids, lloydRounds))
    val assigned = df
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("cell", nearestCell(col("v"), cent))
    val w = Window.partitionBy("cell")
      .orderBy(md5(col("id").cast("string")), col("id"))
    assigned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCell)
      .select(col("id").as(idCol), col("cell"), col("rank"))
  }

  /** Approximate kNN graph: banded sign-LSH candidate pairs (the scalable
    * generator — an equi-join on (band, bucket), never all-pairs), each
    * pair scored ONCE with the exact cosine, symmetrized into directed
    * edges, then per-node top-k by (sim desc, neighbor asc). The `mutual`
    * flag marks edges present in BOTH endpoints' top-k — the standard
    * mutual-kNN pruning for graph clustering. Output is O(n·k) edges;
    * nodes whose buckets yield fewer than k candidates emit fewer edges
    * (recall is tuned by adding bands, like [[lshCosineNearDupPairs]]).
    * The rank filter is a WindowGroupLimit, so per-node state during the
    * window pass is bounded at k. */
  def knnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 8,
      bands: Int = 2,
      k: Int = 5,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    // threshold −2 keeps every scored candidate (cosine ∈ [−1, 1]);
    // cached so candidate generation + cosine scoring run ONCE — the
    // symmetrizing union reads both directions from the same pass instead
    // of recomputing the LSH join per branch. Scope-owned (release after
    // the result is materialized).
    val pairs = scope.cache(
      lshCosineNearDupPairs(df, idCol, vecCol, dim, planes, bands, threshold = -2.0))
    val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"), col("sim"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"), col("sim")))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    // also cached: the mutual check reads the ranked edge set twice
    // (as itself and reversed) — one window pass, two cached reads
    val ranked = scope.cache(
      sym.withColumn("rank", row_number().over(w)).filter(col("rank") <= k))
    val reversed = ranked.select(col("dst").as("src"), col("src").as("dst"), lit(1).as("m"))
    ranked.join(reversed, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rank"),
        round(col("sim"), 6).as("sim"), col("m").isNotNull.as("mutual"))
  }

  /** Bounded-degree graph ANN — the HNSW-family design point (r12
    * VERDICT ask #4): BEAM SEARCH over the [[knnGraph]] proximity graph
    * from a deterministic entry point, the flat (single-layer)
    * navigable-graph shape of HNSW/NSG with the hierarchy traded for a
    * fixed round budget.
    *
    * Why this shape and not literal HNSW: HNSW's insert path is a
    * sequential, mutation-heavy pointer chase — the worst possible fit
    * for a distributed, immutable-dataset engine — while its QUERY-side
    * value (navigate a bounded-degree graph toward the target, touching
    * O(beam·degree·rounds) nodes instead of the corpus) ports cleanly:
    * the graph builds as one declarative LSH+window plan (the existing
    * [[knnGraph]] op, cached once per search batch), and navigation
    * chains the rounds LAZILY into one job — the frontier never leaves
    * the cluster, driver state is the O(entries) seed selection only.
    * At 100 TB the graph build is the one shuffle-heavy pass (same cost
    * family as the IVF train), and each chained search round is an
    * id-keyed equi-join over ≤ beam·degree·|probes| rows.
    *
    * Determinism contract (the oracle replays every step): entry = the
    * corpus vector with the smallest (md5(id), id) — the k-means seed
    * rule; each round expands the beam along top-`degree` edges, scores
    * candidates with the shared cosine, and keeps top-`beam` by
    * (sim DESC, id ASC); after `rounds` rounds the beam's top-k
    * (self-matches excluded) is the answer. */
  def graphAnnTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 8,
      bands: Int = 2,
      degree: Int = 5,
      beam: Int = 12,
      rounds: Int = 4,
      k: Int = 5,
      entries: Int = 1,
      scope: CacheScope = new CacheScope
  ): DataFrame =
    graphAnnTopKFromEdges(corpus, probes,
      knnGraph(corpus, idCol, vecCol, dim, planes, bands, degree, scope)
        .select(col("src"), col("dst")),
      idCol, vecCol, beam, rounds, k, entries, scope)

  /** [[graphAnnTopK]]'s navigation DECOUPLED from the graph build — the
    * persisted-index shape (r13 VERDICT ask #5): `edges` is a prebuilt
    * bounded-degree edge set (`src`, `dst` — [[knnGraph]]'s output,
    * typically read back from a [[graft.sources.ManifestTable.commitIndex]]-
    * committed table whose `#indexof` binding the probe gates on), so the
    * shuffle-heavy build runs ONCE per corpus version and every probe
    * batch pays only the navigation rounds. Batch tier reads the O(n·k)
    * edge table in one scan amortized over the probe batch; a
    * serving-tier deployment would cluster the committed table by `src`
    * and swap this scan for per-round `readWhereIn` point-lookups — the
    * navigation itself is unchanged either way. */
  def graphAnnTopKFromEdges(
      corpus: DataFrame,
      probes: DataFrame,
      edgeSet: DataFrame,
      idCol: String,
      vecCol: String,
      beam: Int = 12,
      rounds: Int = 4,
      k: Int = 5,
      entries: Int = 1,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    val vecs = scope.cache(corpus.select(
      col(idCol).cast("long").as("node"),
      transform(col(vecCol), _.cast("double")).as("nv")))
    val edges = scope.cache(edgeSet.select(col("src"), col("dst")))
    val probeVecs = scope.cache(probes.select(
      col(idCol).cast("long").as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv")))
    // the committed entry points: deterministic seed rule (multi-entry is
    // the standard flat-graph mitigation for the hierarchy HNSW would
    // bring — E independent starting neighborhoods), O(entries) driver
    // state
    val entryIds = corpus
      .select(col(idCol).cast("long").as("id"))
      .orderBy(md5(col("id").cast("string")), col("id")).limit(entries)
      .collect().map(_.getLong(0)).toSeq
    def scored(cand: DataFrame): DataFrame =
      cand.join(vecs, "node").join(probeVecs, "query_id")
        .select(col("query_id"), col("node"), cosine(col("qv"), col("nv")).as("sim"))
    val wBeam = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("node").asc)
    // LAZY navigation: the rounds chain as ONE declarative plan — the
    // frontier never leaves the cluster, so the whole search is a single
    // Spark job instead of one collect round-trip per round (the r13
    // driver-coordinated version paid ~a job latency × rounds, which at
    // harness scale was most of the query's wall; at production scale a
    // driver round-trip per round is pure coordination overhead the plan
    // doesn't need). Per-round data stays ≤ |probes|·beam·(1+degree)
    // rows; driver state is the O(entries) seed selection above, nothing
    // else. Determinism is unchanged: the same cosine, the same
    // (sim DESC, node ASC) beam cut, whether the frontier round-trips
    // through the driver or not.
    //
    // PLAN-SHAPE INVARIANT: each round must reference the previous
    // frontier EXACTLY ONCE. The natural `frontier ∪ (frontier ⋈ edges)`
    // references it twice, which doubles the logical plan TREE per round
    // — 2^rounds copies of the seed subtree by round 8 (measured: 7 MiB
    // task binaries and ~100x wall). The left-outer join + explode below
    // yields the identical candidate set (a frontier node survives its
    // own expansion even with no out-edges) from a single reference, so
    // the plan grows LINEARLY in rounds.
    var frontier: DataFrame = probeVecs.select(col("query_id"))
      .withColumn("node", explode(typedlit(entryIds)))
    var r = 0
    while (r < rounds) {
      val cand = frontier
        .join(edges, col("node") === col("src"), "left_outer")
        .select(col("query_id"),
          explode(array(col("node"), col("dst"))).as("cnode"))
        .filter(col("cnode").isNotNull)
        .select(col("query_id"), col("cnode").as("node"))
        .distinct()
      frontier = scored(cand)
        .withColumn("br", row_number().over(wBeam)).filter(col("br") <= beam)
        .select(col("query_id"), col("node"))
      r += 1
    }
    scored(frontier)
      .filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wBeam)).filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Reciprocal-rank fusion of per-query rankings: score(q, n) =
    * Σ_rankings 1/(rrfK + rank) over the rankings that surface n — the
    * standard zero-tuning way to merge heterogeneous retrievers (dense ANN
    * + a cheaper proxy, or ANN + keyword BM25) that beats either alone.
    * Each input needs (query_id, neighbor_id, rank). The fuse is one
    * union + one (query, neighbor) sum (DECIMAL-routed, so the addition
    * order of contributing rankings cannot move a score) + a per-query
    * top-k window — all over #rankings·k rows per query, nothing
    * corpus-sized. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int,
      rrfK: Int = 60
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val dec = DecimalType(27, 12)
    val contrib = rankings.map(_.select(col("query_id"), col("neighbor_id"),
        (lit(1.0) / (lit(rrfK) + col("rank"))).cast(dec).as("c")))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    contrib.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("c")).cast("double").as("rrf_score"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("rrf_score"), 6).as("rrf_score"), col("rank"))
  }

  /** Local Outlier Factor over the approximate kNN graph — the
    * density-ratio outlier score (LOF ≈ 1 inlier, ≫ 1 outlier) that
    * catches points whose NEIGHBORHOOD is sparse relative to their
    * neighbors' neighborhoods, which a global distance cut
    * ([[centroidOodScores]]) cannot see. Composes [[knnGraph]]: cosine
    * distance d = 1 − sim on the ranked edge set, k-distance = each
    * node's max neighbor distance, reachability = max(kdist(neighbor),
    * d), local reachability density = degree / Σreach, LOF = mean
    * neighbor-lrd / own lrd. Every aggregation routes through DECIMAL so
    * partial-aggregation order cannot move a score; the Σreach
    * denominator floors at 1e-12 (documented LOF duplicate-point guard —
    * co-located points otherwise divide by zero). Three joins, all on
    * node ids over #edges-sized frames — the vectors never travel past
    * the knnGraph pass. */
  def lofScores(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int = 8,
      bands: Int = 2,
      k: Int = 5,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val edges = scope.cache(knnGraph(df, idCol, vecCol, dim, planes, bands, k, scope)
      .select(col("src"), col("dst"),
        (lit(1.0) - col("sim")).cast(DecimalType(20, 12)).as("d")))
    val kdist = edges.groupBy(col("src")).agg(max(col("d")).as("kdist"))
      .select(col("src").as("o"), col("kdist"))
    val reach = edges.join(kdist, col("dst") === col("o"))
      .select(col("src"), col("dst"), greatest(col("kdist"), col("d")).as("rd"))
    val lrd = scope.cache(reach.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"), sum(col("rd")).as("srd"))
      .select(col("src").as("node"),
        (col("deg").cast("double") /
          greatest(col("srd").cast("double"), lit(1e-12))).as("lrd")))
    edges.join(lrd.withColumnRenamed("lrd", "lrd_o"), col("dst") === col("node"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"),
        sum(col("lrd_o").cast(DecimalType(27, 12))).as("slo"))
      .join(lrd, col("src") === col("node"))
      .select(col("src").as(idCol),
        round(col("lrd"), 6).as("lrd"),
        round(col("slo").cast("double") / col("n") / col("lrd"), 6).as("lof"))
  }

  /** Within-cell pairwise cosine histogram: the "how separable is my
    * embedding space" diagnostic — a mass near 1.0 says near-dup
    * saturation, a flat spread says the space is healthy, and the shape
    * prices the [[semDedup]] τ knob before committing to it. Candidate
    * pairs are bounded by the same k-means cells as semDedup (within-cell
    * equi-join, never all-pairs); cosines canonicalize through
    * DECIMAL(20,12) before binning so the floor arithmetic lands both
    * engines in the same bin. Output is #bins rows: bin index, inclusive
    * lower edge, pair count. */
  def cellPairHistogram(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 16,
      lloydRounds: Int = 2,
      nBins: Int = 10,
      coarse: Option[Seq[(Long, Seq[Double])]] = None,
      scope: CacheScope = new CacheScope
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // registry-loaded codebook skips training outright (see ivfIndex)
    val cent = coarse.getOrElse(
      kmeansCentroids(df, idCol, vecCol, numCentroids, lloydRounds))
    val assigned = scope.cache(df
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("cell", nearestCell(col("v"), cent)))
    val width = 2.0 / nBins
    val sim = cosine(col("a.v"), col("b.v")).cast(DecimalType(20, 12)).cast("double")
    assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell") && col("b.id") < col("a.id"))
      .select(least(floor((sim + lit(1.0)) / width), lit(nBins - 1)).cast("int").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"), round(col("bin") * width - lit(1.0), 6).as("bin_lo"),
        col("n_pairs"))
  }
}
