package graft
package entry

import Fixtures._
import org.apache.spark.sql.functions._

/** Document-level data-pipeline operators: sampling, mixing, quality
  * filters, splits, packing and ranking metrics. */
private[graft] object DocsQueries {

  val all: Seq[Query] = Seq(
    // Extension: schema-evolution union — two snapshot schema versions
    // union by name with null-filled missing columns, no shuffle.
    Query("docs_union_evolve", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.sources.Ingest.unionEvolved(Seq(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), col("lang")),
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("source"), col("n_chars"))))
    },
      """SELECT doc_id, text, lang, CAST(NULL AS VARCHAR) AS source,
        |  CAST(NULL AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang, source, n_chars
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin),

    // Extension: batch CDC merge (latest-wins upsert) — every 10th doc
    // updated at version 1, an inserted slice keyed NEGATIVE (-id-1, so
    // insert keys are structurally disjoint from the non-negative natural
    // ids at ANY corpus size — a fixed offset could collide and create
    // the same-(key,version,side) tie the operator's contract forbids);
    // fingerprints prove which side survived per key.
    Query("docs_merge_upsert", (s, dir) => {
      val base = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), lit(0L).as("version"))
      val updates = table(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(lit("UPDATED: "), col("text")).as("text"),
          lit(1L).as("version"))
        .unionByName(table(s, dir, "documents")
          .filter(col("doc_id") % 97 === 3)
          .select((-col("doc_id") - 1L).as("doc_id"), col("text"),
            lit(1L).as("version")))
      graft.ops.Corpus.mergeUpsert(base, updates, "doc_id", "version")
        .select(col("doc_id"), col("version"), md5(col("text")).as("fp"))
    },
      // Latest-wins merge: version 1 updates beat version 0 base rows;
      // negative-keyed rows insert (disjoint from natural ids at any
      // corpus size); fingerprints prove the surviving side.
      """WITH base AS (SELECT doc_id, text, 0::BIGINT AS version, 0 AS src FROM documents),
        |upd AS (SELECT doc_id, 'UPDATED: ' || text AS text, 1::BIGINT AS version, 1 AS src
        |        FROM documents WHERE doc_id % 10 = 0
        |        UNION ALL
        |        SELECT -doc_id - 1, text, 1::BIGINT, 1 FROM documents WHERE doc_id % 97 = 3),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT doc_id, text, version,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY version DESC, src DESC) AS rn
        |      FROM u)
        |SELECT doc_id, version, md5(text) AS fp FROM r WHERE rn = 1""".stripMargin),

    // Extension: deterministic hash sampling (10% = first 1000 of 10000
    // md5 buckets) — reproducible across engines and partitionings.
    Query("docs_hash_sample", (s, dir) =>
      graft.ops.Corpus.hashSample(
        table(s, dir, "documents").select("doc_id", "lang", "source"),
        "doc_id", keep = 1000),
      """SELECT doc_id, lang, source, bucket FROM (
        |  SELECT doc_id, lang, source,
        |    (('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 10000 AS bucket
        |  FROM documents)
        |WHERE bucket < 1000""".stripMargin),

    // Extension: deterministic weighted Bernoulli sample — keep probability
    // proportional to n_chars via exact integer arithmetic on the 28-bit id
    // hash (token-budget-biased downsample; scan-side, no RNG).
    Query("docs_weighted_sample", (s, dir) =>
      graft.ops.Corpus.weightedHashSample(
        table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars"),
      """WITH w AS (SELECT max(n_chars) AS wmax FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, w
        |WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::UBIGINT)::BIGINT * wmax
        |      < n_chars * (1::BIGINT << 28)""".stripMargin),

    // Extension: per-language quality filter at the median threshold —
    // exact per-lang quantile (rows = #languages) broadcast back as a
    // scan-side comparison; no global sort, no per-row window.
    Query("docs_quality_filter", (s, dir) =>
      graft.ops.Corpus.qualityThresholdFilter(
        table(s, dir, "documents"), "doc_id", "text", "lang"),
      // The q replication is text_quality's (bit-exact, unrounded); the
      // per-lang median threshold interpolates identically in both engines.
      """WITH t AS (SELECT doc_id, lang, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id, lang,
        |  least(len(toks) / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3
        |    + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3 AS q
        |  FROM t),
        |thr AS (SELECT lang, quantile_cont(q, 0.5) AS thr FROM q GROUP BY 1)
        |SELECT q.doc_id, q.lang, round(q.q, 6) AS quality
        |FROM q JOIN thr ON q.lang = thr.lang
        |WHERE q.q >= thr.thr""".stripMargin),

    // Extension: greedy token-budget curation — best-quality docs until
    // the cumulative token budget is spent.
    Query("docs_budget_pick", (s, dir) =>
      graft.ops.Corpus.tokenBudgetSelect(
        spread(s, table(s, dir, "documents")), "doc_id", "text", 10000L),
      // The docs_quality_filter scoring CTE + an ordered running token sum.
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id, len(toks) AS n_tokens,
        |  least(len(toks) / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3
        |    + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3 AS q
        |  FROM t),
        |c AS (SELECT doc_id, n_tokens, q,
        |    sum(n_tokens) OVER (ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM q)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, round(q, 6) AS quality,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum <= 10000""".stripMargin),

    // Extension: source-cap downsample — no source may exceed 30% of the
    // corpus; survivors are the stable md5-order subsample.
    Query("docs_source_cap", (s, dir) =>
      graft.ops.Corpus.domainCapSample(
        table(s, dir, "documents"), "doc_id", "source", 0.3),
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_src) AS n_total FROM c),
        |b AS (SELECT source, least(n_src, CAST(floor(0.3 * n_total) AS BIGINT)) AS budget FROM c, t),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS src_rank, b.budget
        |FROM r JOIN b ON r.source = b.source
        |WHERE r.rk <= b.budget""".stripMargin),

    // Extension: curriculum-style length binning — exact quartile
    // boundaries once, scan-side bin assignment (never a global ntile).
    Query("docs_length_bins", (s, dir) =>
      graft.ops.Corpus.lengthBins(table(s, dir, "documents"), "doc_id", "n_chars"),
      // quantile_cont interpolates identically to Spark's exact percentile
      // (both a + (b-a)*frac in IEEE doubles — the events_value_profile p50
      // precedent), so the boundary comparisons agree bit-for-bit.
      """WITH b AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS bs FROM documents)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars <= bs[1] THEN 0
        |       WHEN n_chars <= bs[2] THEN 1
        |       WHEN n_chars <= bs[3] THEN 2
        |       ELSE 3 END AS bin
        |FROM documents, b""".stripMargin),

    // Extension: source-mixing plan — per-source keep probabilities that
    // spend a 100k-char budget uniformly across sources (the
    // domain-reweighting step before sampling).
    Query("docs_mix_plan", (s, dir) =>
      graft.ops.Corpus.mixPlan(
        table(s, dir, "documents"), "source", "n_chars", budget = 100000L),
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS w_total
        |  FROM documents GROUP BY 1),
        |k AS (SELECT count(*) AS k FROM per)
        |SELECT source, n_docs, w_total,
        |  round(least(1.0, (100000.0 / k.k) / w_total), 6) AS keep_prob,
        |  CAST(floor(round(least(1.0, (100000.0 / k.k) / w_total), 6) * w_total) AS BIGINT) AS projected_w
        |FROM per, k""".stripMargin),

    // Extension: temperature-scaled source mixing — p_i ∝ w_i^α flattens
    // the source distribution; reports raw/temperature shares + the boost
    // a sampler applies. Windows run over the #sources aggregate only.
    Query("docs_temperature_mix", (s, dir) =>
      graft.ops.Corpus.temperatureMix(
        table(s, dir, "documents"), "source", "n_chars", alpha = 0.5),
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS w_total
        |  FROM documents GROUP BY 1),
        |t AS (SELECT *,
        |    CAST(w_total AS DOUBLE) / sum(w_total) OVER () AS raw_share,
        |    pow(CAST(w_total AS DOUBLE), 0.5) AS temp_w
        |  FROM per)
        |SELECT source, n_docs, w_total,
        |  round(raw_share, 6) AS raw_share,
        |  round(temp_w / sum(temp_w) OVER (), 6) AS temp_share,
        |  round((temp_w / sum(temp_w) OVER ()) / raw_share, 6) AS boost
        |FROM t""".stripMargin),

    // Extension: DSIR importance resampling (Xie et al. 2023) — pick the
    // raw documents that look most like the 'en' target slice: hashed-
    // unigram importance weights (two 64-bucket histograms → a literal
    // log-ratio vector → one codegen'd fold per row), then deterministic
    // Gumbel top-k so the draw samples ∝ exp(weight) reproducibly. Cut is
    // a TakeOrderedAndProject, never a global sort.
    Query("docs_dsir_sample", (s, dir) =>
      graft.ops.Corpus.dsirSample(spread(s, table(s, dir, "documents")),
        "doc_id", "text", col("lang") === "en", d = 64, n = 50),
      // The same two smoothed 64-bucket histograms, the same 12-decimal-
      // canonicalized log-ratio vector, the same per-token fold in list
      // order, and the same deterministic Gumbel keys.
      """WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |tb AS (SELECT lang, ((('0x'||substr(md5(tok),1,15))::UBIGINT)::BIGINT % 64) AS b
        |  FROM (SELECT lang, unnest(toks) AS tok FROM t)),
        |ht AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tb WHERE lang = 'en' GROUP BY 1),
        |hr AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY 1),
        |tots AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ht) AS tt,
        |               (SELECT CAST(sum(c) AS BIGINT) FROM hr) AS tr),
        |lr AS (SELECT g.j AS b,
        |    round(ln(((COALESCE(ht.c, 0) + 1) / (tots.tt + 64.0)) /
        |             ((COALESCE(hr.c, 0) + 1) / (tots.tr + 64.0))), 12) AS w
        |  FROM generate_series(0, 63) g(j) CROSS JOIN tots
        |  LEFT JOIN ht ON ht.b = g.j LEFT JOIN hr ON hr.b = g.j),
        |warr AS (SELECT list(w ORDER BY b) AS ws FROM lr),
        |scored AS (SELECT doc_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(toks,
        |      x -> ws[CAST((('0x'||substr(md5(x),1,15))::UBIGINT)::BIGINT % 64 AS INTEGER) + 1])),
        |      (a, v) -> a + v) AS log_weight,
        |    ((('0x'||substr(md5(doc_id::VARCHAR),1,15))::UBIGINT)::BIGINT + 1) / 1152921504606846977.0 AS u
        |  FROM t CROSS JOIN warr),
        |keyed AS (SELECT doc_id, log_weight,
        |    log_weight + (-round(ln(-round(ln(u), 12)), 12)) AS pick_key
        |  FROM scored)
        |SELECT doc_id, round(log_weight, 6) AS log_weight, round(pick_key, 6) AS pick_key
        |FROM keyed ORDER BY pick_key DESC, doc_id LIMIT 50""".stripMargin),

    // Extension: deterministic training order — (shard, pos_in_shard)
    // from the salted id hash; sharding first bounds every rank window to
    // n/shards rows, so "shuffle 100 TB" never needs a global sort.
    Query("docs_training_order", (s, dir) =>
      graft.ops.Corpus.trainingOrder(
        table(s, dir, "documents"), "doc_id", salt = "epoch1", nShards = 8),
      // Same md5-prefix bucket arithmetic as docs_hash_sample, salted.
      """WITH h AS (SELECT doc_id,
        |    md5(concat(doc_id::VARCHAR, ':', 'epoch1')) AS shuffle_key
        |  FROM documents),
        |s AS (SELECT doc_id, shuffle_key,
        |    (('0x'||substr(shuffle_key,1,7))::UBIGINT)::BIGINT % 8 AS shard
        |  FROM h)
        |SELECT doc_id, shuffle_key, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS pos_in_shard
        |FROM s""".stripMargin),

    // Extension: reproducible Laplace-noised count release — the DP
    // mechanism (sensitivity-1 counts, Laplace(1/ε) via inverse CDF)
    // with the uniform drawn from a seeded hash of the group key, so
    // the release replays bit-identically; true counts never emitted.
    Query("docs_dp_release", (s, dir) =>
      graft.ops.Quality.dpNoisyCounts(
        table(s, dir, "documents"), "lang", seed = "r7", epsilon = 1.0),
      // The same seeded inverse-CDF draw: u from the md5 hex prefix, then
      // the Laplace quantile with identical float expressions.
      """WITH g AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |u AS (SELECT lang, n,
        |    (((('0x'||substr(md5(lang || 'r7'), 1, 7))::UBIGINT)::BIGINT % 1000000)::DOUBLE
        |      + 0.5) / 1000000.0 AS uu
        |  FROM g)
        |SELECT lang,
        |  round(n + (-1.0 / 1.0) * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)), 6)
        |    AS noisy_count
        |FROM u""".stripMargin),

    // Extension: k-anonymity census — the release-readiness privacy
    // check on the documents quasi-identifier (lang, source): groups
    // under k rows are re-identifiable; the report is one group-by plus
    // a one-row summary, shuffling one row per GROUP.
    Query("docs_k_anonymity", (s, dir) =>
      graft.ops.Quality.kAnonymityReport(
        table(s, dir, "documents"), Seq("lang", "source"), k = 12L),
      // Group census arithmetic; k matches the Scala call.
      """WITH g AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT CAST(12 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |  CAST(sum(CASE WHEN n < 12 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(min(n) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin),

    // Extension: stratified deterministic sampling — down-sample the
    // dominant language (en: 10%) while keeping 40% of the rest; same md5
    // bucket family as docs_hash_sample, so samples are stable and nested.
    Query("docs_stratified_sample", (s, dir) =>
      graft.ops.Corpus.stratifiedHashSample(
        table(s, dir, "documents").select("doc_id", "lang", "source"),
        "doc_id", "lang", Map("en" -> 0.1), defaultRate = 0.4),
      """SELECT doc_id, lang, source, bucket FROM (
        |  SELECT doc_id, lang, source,
        |    (('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 10000 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 1000 ELSE 4000 END""".stripMargin),

    // Extension: fixed-COUNT per-stratum sample (exactly 25 docs per
    // language by hash order) — the count-quota complement of the
    // rate-based sampler; rank is a WindowGroupLimit (map-side top-k).
    Query("docs_fixed_sample", (s, dir) =>
      graft.ops.Corpus.fixedStratifiedSample(
        table(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", k = 25),
      // row_number over the same (md5(id), id) hash order — DuckDB's window
      // is a full per-stratum sort; the Spark side's WindowGroupLimit must
      // pick the identical 25 rows.
      """SELECT lang, doc_id, rank_in_stratum FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rank_in_stratum
        |  FROM documents)
        |WHERE rank_in_stratum <= 25""".stripMargin),

    // Extension: CCNet-style perplexity bucketing — unigram-LM scores cut
    // at exact terciles, each doc labeled head/middle/tail; the cuts are a
    // 1-row broadcast, the labels a scan-side comparison.
    Query("docs_ppl_buckets", (s, dir) =>
      graft.ops.Corpus.pplBuckets(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      // Same LM recipe as text_unigram_logprob; quantile_cont matches
      // Spark's exact interpolated percentile over the canonically rounded
      // scores (ties interpolate to themselves; a cut strictly between two
      // rounded scores classifies identically regardless of FP detail).
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM c),
        |lp AS (SELECT t.doc_id,
        |    round(CAST(sum(CAST(ln((c.cnt + 1) / (tot.total + tot.vocab)) AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6) AS avg_logprob
        |  FROM t JOIN c USING (term) CROSS JOIN tot GROUP BY 1),
        |cuts AS (SELECT quantile_cont(avg_logprob, 2.0/3) AS t_head,
        |    quantile_cont(avg_logprob, 1.0/3) AS t_mid FROM lp)
        |SELECT doc_id, avg_logprob,
        |  CASE WHEN avg_logprob >= t_head THEN 'head'
        |       WHEN avg_logprob >= t_mid THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM lp CROSS JOIN cuts""".stripMargin),

    // Extension: the COMPOSED corpus-cleaning pipeline (quality gate →
    // exact dedup → MinHash near-dup clustering → stratified sample) —
    // the end-to-end integration of the ops above, oracle-checked as one
    // unit so stage wiring bugs can't hide between per-op checks.
    Query("docs_clean_pipeline", (s, dir) =>
      graft.ops.Corpus.cleanPipeline(
        spread(s, table(s, dir, "documents")), "doc_id", "text", "lang",
        minTokens = 40, rates = Map("en" -> 0.5), defaultRate = 1.0),
      // The composed pipeline, assembled from the same proven CTE fragments
      // as the per-op oracles (fingerprint, minhash banding, recursive
      // closure, bucket sampling).
      """WITH RECURSIVE
        |q AS (SELECT doc_id, lang, text FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 40),
        |fp AS (SELECT doc_id, lang, text, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f FROM q),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
        |ek AS (SELECT fp.doc_id, fp.lang, fp.text FROM fp JOIN keep USING (doc_id)),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM ek),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |p AS (SELECT c.a_id, c.b_id, len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |      FROM cand c JOIN sh sa ON c.a_id=sa.doc_id JOIN sh sb ON c.b_id=sb.doc_id),
        |e AS (SELECT a_id AS s, b_id AS d FROM p WHERE jaccard >= 0.7
        |      UNION ALL SELECT b_id, a_id FROM p WHERE jaccard >= 0.7),
        |reach AS (SELECT doc_id AS id, doc_id AS r FROM ek
        |          UNION SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
        |ck AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id)
        |SELECT doc_id, lang, bucket FROM (
        |  SELECT ek.doc_id, ek.lang,
        |    (('0x'||substr(md5(ek.doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 10000 AS bucket
        |  FROM ek JOIN ck USING (doc_id))
        |WHERE bucket < CASE WHEN lang = 'en' THEN 5000 ELSE 10000 END""".stripMargin),

    // Extension: concat-then-chunk sequence packing — documents hash into
    // independent bucket streams, order deterministically within each, and
    // land in the fixed 512-token training sequence containing their first
    // token (per-bucket window cumsum; no global sort).
    Query("docs_pack_seqs", (s, dir) =>
      graft.ops.Packing.packSequences(
        spread(s, table(s, dir, "documents")), "doc_id", "text",
        budget = 512, buckets = 32),
      """WITH d AS (SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    (('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 32 AS bucket,
        |    md5(doc_id::VARCHAR) AS h
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens, bucket,
        |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
        |  FROM d)
        |SELECT bucket, CAST(floor(start_off / 512) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  min(doc_id) AS first_doc_id
        |FROM p GROUP BY 1, 2""".stripMargin),

    // Extension: overlapping token-window chunking (RAG/embedding prep) —
    // 32-token windows advancing by 16 (50% overlap), fingerprint per
    // chunk; pure scan-side generator, no shuffle.
    Query("docs_chunk", (s, dir) =>
      graft.ops.Packing.chunkTokens(
        table(s, dir, "documents"), "doc_id", "text", window = 32, stride = 16),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(0, CAST(floor((len(toks)-1)/16) AS BIGINT)),
        |    k -> struct_pack(chunk_id := k, ch := toks[k*16+1 : k*16+32]))) AS u
        |  FROM t)
        |SELECT doc_id, CAST(u.chunk_id AS INTEGER) AS chunk_id,
        |  CAST(len(u.ch) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(u.ch, ' ')) AS chunk_fp
        |FROM c""".stripMargin),

    // Extension: range-sorted parquet layout — repartitionByRange +
    // sortWithinPartitions write, so every file covers a DISJOINT doc_id
    // range (row-group min/max file skipping: the high-cardinality
    // complement to directory partitioning). The query reads the layout
    // back and proves per-file ranges are disjoint and complete. The
    // single-partition window is over one row per FILE (4 rows), not data.
    Query("docs_range_layout", (s, dir) => {
      val out = scratch("range")
      graft.ops.Bucketing.writeRangeSorted(
        table(s, dir, "documents"), out, "doc_id", numFiles = 4)
      val perFile = s.read.parquet(out)
        .select(col("doc_id"), input_file_name().as("f"))
        .groupBy("f")
        .agg(min("doc_id").as("lo"), max("doc_id").as("hi"), count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("lo")
      perFile
        .select(col("n"), (col("lo") > lag(col("hi"), 1, -1L).over(w)).as("ok"))
        .agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_docs"),
          min(col("ok")).as("all_disjoint"))
    },
      """SELECT CAST(4 AS BIGINT) AS n_files, count(*) AS n_docs, true AS all_disjoint
        |FROM documents""".stripMargin),

    // Extension: deterministic train/val/test split assignment — stable
    // md5-bucket ranges (80/10/10); documents never migrate between splits
    // across runs or incremental re-runs.
    Query("docs_split_assign", (s, dir) =>
      graft.ops.Corpus.splitAssign(
        table(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      """SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 8000 THEN 'train'
        |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |  (('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 10000 AS bucket
        |  FROM documents)""".stripMargin),

    // Extension: stratified k-fold cross-validation manifest — fold =
    // stable md5 bucket mod 5 (rows never migrate across runs); per
    // (lang, fold) the held-out size and its leave-one-out train
    // complement. Uniform within each stratum by construction.
    Query("docs_kfold_assign", (s, dir) =>
      graft.ops.Corpus.kFoldAssign(
        table(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", k = 5),
      // The split_assign md5 bucket taken mod 5; leave-one-out complement
      // via a per-stratum total.
      """WITH f AS (SELECT lang,
        |    (('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 5 AS fold
        |  FROM documents),
        |g AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_val FROM f GROUP BY 1, 2)
        |SELECT lang, fold, n_val,
        |  CAST(sum(n_val) OVER (PARTITION BY lang) - n_val AS BIGINT) AS n_train
        |FROM g""".stripMargin),

    // Extension: dedup-aware split — near-dup clusters (MinHash pairs →
    // connected components) are split as UNITS by hashing the cluster id,
    // so a test document can never have a near-copy in train (the
    // dedup-then-split eval-contamination rule). Singletons split exactly
    // as docs_split_assign.
    Query("docs_leakage_split", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = graft.ops.Dedup
        .minhashNearDupPairs(spread(s, docs), "doc_id", "text")
        .filter(col("is_dup"))
      graft.ops.Corpus.leakageSafeSplit(docs.select("doc_id"), "doc_id",
        pairs, "a_id", "b_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },
      // The dedup_cluster_cc recursive closure (same MinHash banding + 0.7
      // Jaccard verify), then the docs_split_assign bucket arithmetic taken
      // on the CLUSTER id instead of the doc id.
      """WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |p AS (SELECT c.a_id, c.b_id,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand c JOIN sh sa ON c.a_id = sa.doc_id JOIN sh sb ON c.b_id = sb.doc_id),
        |e AS (SELECT a_id AS s, b_id AS d FROM p WHERE jaccard >= 0.7
        |      UNION ALL SELECT b_id, a_id FROM p WHERE jaccard >= 0.7),
        |reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
        |          UNION SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id, bucket,
        |  CASE WHEN bucket < 8000 THEN 'train'
        |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster_id,
        |  (('0x'||substr(md5(cluster_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 10000 AS bucket
        |  FROM cl)""".stripMargin),

    // Extension: dataset version diff — per-doc added/removed/changed/
    // unchanged status between the corpus and a derived revision (10%
    // dropped, every 7th edited, 25 appended); both sides reduce to
    // (id, fingerprint) before the full-outer join so text never shuffles.
    Query("docs_version_diff", (s, dir) => {
      val docs = table(s, dir, "documents")
      val revised = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") < 25)
          .withColumn("doc_id", col("doc_id") + 1000000))
      graft.ops.Corpus.versionDiff(spread(s, docs), revised, "doc_id", "text")
    },
      """WITH b AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp FROM documents),
        |rv AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 10 != 0
        |       UNION ALL
        |       SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25),
        |r AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp FROM rv)
        |SELECT COALESCE(b.doc_id, r.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN r.doc_id IS NULL THEN 'removed'
        |       WHEN b.fp = r.fp THEN 'unchanged' ELSE 'changed' END AS status
        |FROM b FULL OUTER JOIN r ON b.doc_id = r.doc_id""".stripMargin),

    // Extension: model-ready quality blend — z-score-normalized composite
    // of quality + entropy + span uniqueness with a p90 keep flag; all
    // normalization constants are 1-row broadcast aggregates (no rank
    // windows, no global sort).
    Query("docs_quality_blend", (s, dir) =>
      graft.ops.Corpus.qualityBlend(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |qq AS (SELECT doc_id,
        |  least(len(toks) / 100.0, 1.0) * 0.4 + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3 + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3 AS q
        |  FROM t),
        |ec AS (SELECT doc_id, term, count(*) AS c FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
        |ee AS (SELECT doc_id, round(CAST(CAST(ln(sum(c)) AS DECIMAL(27,12)) AS DOUBLE)
        |    - CAST(SUM(CAST(c * CAST(CAST(ln(c) AS DECIMAL(27,12)) AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) / sum(c), 6) AS e
        |  FROM ec GROUP BY 1),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))) AS g FROM t),
        |pd AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT g, sum(c) AS tot FROM pd GROUP BY 1),
        |du AS (SELECT d.doc_id, 1.0 - round(CASE WHEN coalesce(s.n_spans, 0) = 0 THEN 0.0 ELSE s.n_dup / s.n_spans END, 6) AS u
        |  FROM documents d LEFT JOIN (SELECT pd.doc_id, sum(c) AS n_spans, sum(CASE WHEN tot > c THEN c ELSE 0 END) AS n_dup
        |    FROM pd JOIN tot USING (g) GROUP BY 1) s ON d.doc_id = s.doc_id),
        |sig AS (SELECT qq.doc_id, qq.q, ee.e, du.u FROM qq JOIN ee USING (doc_id) JOIN du USING (doc_id)),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(q AS DECIMAL(27,12))) AS DOUBLE) AS s_q, CAST(SUM(CAST(q*q AS DECIMAL(27,12))) AS DOUBLE) AS ss_q,
        |  CAST(SUM(CAST(e AS DECIMAL(27,12))) AS DOUBLE) AS s_e, CAST(SUM(CAST(e*e AS DECIMAL(27,12))) AS DOUBLE) AS ss_e,
        |  CAST(SUM(CAST(u AS DECIMAL(27,12))) AS DOUBLE) AS s_u, CAST(SUM(CAST(u*u AS DECIMAL(27,12))) AS DOUBLE) AS ss_u
        |  FROM sig),
        |bl AS (SELECT doc_id, round((
        |    (CASE WHEN sqrt(ss_q/n - (s_q/n)*(s_q/n)) > 0 THEN (q - s_q/n) / sqrt(ss_q/n - (s_q/n)*(s_q/n)) ELSE 0.0 END) +
        |    (CASE WHEN sqrt(ss_e/n - (s_e/n)*(s_e/n)) > 0 THEN (e - s_e/n) / sqrt(ss_e/n - (s_e/n)*(s_e/n)) ELSE 0.0 END) +
        |    (CASE WHEN sqrt(ss_u/n - (s_u/n)*(s_u/n)) > 0 THEN (u - s_u/n) / sqrt(ss_u/n - (s_u/n)*(s_u/n)) ELSE 0.0 END)
        |  ) / 3.0, 6) AS blend FROM sig CROSS JOIN st),
        |cut AS (SELECT quantile_cont(blend, 0.9) AS p_cut FROM bl)
        |SELECT doc_id, blend, blend >= (SELECT p_cut FROM cut) AS keep FROM bl""".stripMargin),

    // Extension: linear classifier INFERENCE over hashed bag-of-words —
    // the fastText-style quality scorer applied at scan speed: weights
    // are plan literals, scoring is one codegen'd fold per row (no
    // vocabulary join, no shuffle). Weights here are the deterministic
    // md5-derived pseudo-model so the oracle re-derives them; a trained
    // model drops in as the same literal vector.
    Query("docs_quality_lr", (s, dir) =>
      graft.ops.Quality.linearScore(spread(s, table(s, dir, "documents")),
          "doc_id", "text", graft.ops.Quality.pseudoWeights(64),
          bias = 0.1, threshold = 0.55)
        .select(col("doc_id"), col("n_tokens"),
          round(col("score"), 6).as("score"), col("accept")),
      // Same hashed-unigram fold: per token, the md5-derived weight at
      // bucket hash60(token) mod 64; mean-pooled in list order, sigmoid,
      // thresholded. Weight derivation replays Quality.pseudoWeights.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, len(toks) AS n_tokens,
        |    0.1::DOUBLE + list_reduce(list_prepend(0.0::DOUBLE, list_transform(toks,
        |      x -> (((('0x'||substr(md5('w:' || ((('0x'||substr(md5(x),1,15))::UBIGINT)::BIGINT % 64)::VARCHAR),1,15))::UBIGINT)::BIGINT % 2001 - 1000) / 1000.0)::DOUBLE)),
        |      (a, v) -> a + v) / len(toks) AS zval
        |  FROM t),
        |sc AS (SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |    1.0 / (1.0 + exp(-zval)) AS score FROM z)
        |SELECT doc_id, n_tokens, round(score, 6) AS score,
        |  CAST(score >= 0.55 AS INTEGER) AS accept FROM sc""".stripMargin),

    // Extension: inference from a SHIPPED model artifact (r11 VERDICT
    // ask) — the weights round-trip through a manifest-table model
    // registry as canonical bytes (magic | d | bias | weights, big-
    // endian) and scoring loads them back from the committed artifact:
    // the tested model-distribution path (one pointer swap ships or
    // rolls back a model; readVersion pins what scored what). The
    // oracle re-derives the identical weights from the same
    // deterministic derivation, so a parse/serialize drift would
    // hash-mismatch.
    Query("docs_quality_lr_shipped", (s, dir) => {
      val reg = scratch("model_registry")
      graft.ops.Quality.commitLinearModel(s, reg, "quality-lr",
        graft.ops.Quality.pseudoWeights(32), bias = -0.05)
      graft.ops.Quality.linearScoreFromArtifact(
          spread(s, table(s, dir, "documents")), "doc_id", "text",
          reg, "quality-lr", threshold = 0.5)
        .select(col("doc_id"), col("n_tokens"),
          round(col("score"), 6).as("score"), col("accept"))
    },
      // Same fold as docs_quality_lr at d=32 / bias=-0.05 / threshold 0.5:
      // the Spark side scored with weights parsed back out of the
      // committed artifact bytes, so equality here proves the
      // serialize-commit-load round trip, not just the math.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, len(toks) AS n_tokens,
        |    -0.05::DOUBLE + list_reduce(list_prepend(0.0::DOUBLE, list_transform(toks,
        |      x -> (((('0x'||substr(md5('w:' || ((('0x'||substr(md5(x),1,15))::UBIGINT)::BIGINT % 32)::VARCHAR),1,15))::UBIGINT)::BIGINT % 2001 - 1000) / 1000.0)::DOUBLE)),
        |      (a, v) -> a + v) / len(toks) AS zval
        |  FROM t),
        |sc AS (SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |    1.0 / (1.0 + exp(-zval)) AS score FROM z)
        |SELECT doc_id, n_tokens, round(score, 6) AS score,
        |  CAST(score >= 0.5 AS INTEGER) AS accept FROM sc""".stripMargin),

    // Extension: l-diversity census — k-anonymity's complement: a large
    // quasi-group still leaks if every member shares one sensitive
    // value; groups need >= l DISTINCT sensitive values. One group-by
    // (a row per group through the shuffle) + a one-row summary.
    Query("docs_l_diversity", (s, dir) =>
      graft.ops.Quality.lDiversityReport(
        table(s, dir, "documents")
          .withColumn("band", floor(col("n_chars") / 128).cast("long")),
        Seq("lang", "band"), "source", l = 3L),
      // Same group census: distinct sensitive values per quasi-group.
      """WITH g AS (SELECT lang, CAST(floor(n_chars / 128) AS BIGINT) AS band,
        |    CAST(count(DISTINCT source) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(3 AS BIGINT) AS l,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(COALESCE(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violating_groups,
        |  CAST(COALESCE(sum(CASE WHEN d < 3 THEN n ELSE 0 END), 0) AS BIGINT) AS n_rows_at_risk,
        |  min(d) AS min_distinct_sensitive
        |FROM g""".stripMargin),

    // Extension: PSI feature-drift monitor between two corpus versions —
    // per-language fixed-width bins of n_chars, add-1-smoothed shares,
    // Σ (p−q)·ln(p/q); the alarm a pipeline fires before a model
    // silently degrades (<0.1 stable, >0.25 shifted).
    Query("docs_psi_drift", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Quality.psiDrift(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "lang", "n_chars", binWidth = 64.0, nBins = 10)
    },
      // The same smoothed shares over the full bin domain, ln canonicalized
      // to 12 dp, terms DECIMAL-routed.
      """WITH o AS (SELECT lang, CAST(least(floor(n_chars/64.0), 9) AS INTEGER) AS bin
        |  FROM documents WHERE doc_id % 7 != 0),
        |n AS (SELECT lang, CAST(least(floor(n_chars/64.0), 9) AS INTEGER) AS bin
        |  FROM documents WHERE doc_id % 5 != 0),
        |oc AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
        |nc AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS c FROM n GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT lang FROM (SELECT lang FROM oc UNION ALL SELECT lang FROM nc)),
        |dom AS (SELECT lang, j AS bin FROM keys, generate_series(0, 9) g(j)),
        |jj AS (SELECT dom.lang, dom.bin, COALESCE(oc.c, 0) AS co, COALESCE(nc.c, 0) AS cn
        |  FROM dom LEFT JOIN oc ON oc.lang = dom.lang AND oc.bin = dom.bin
        |  LEFT JOIN nc ON nc.lang = dom.lang AND nc.bin = dom.bin),
        |sh AS (SELECT lang, co, cn,
        |    (co + 1) / (sum(co) OVER (PARTITION BY lang) + 10.0) AS p,
        |    (cn + 1) / (sum(cn) OVER (PARTITION BY lang) + 10.0) AS q
        |  FROM jj)
        |SELECT lang, CAST(sum(co) AS BIGINT) AS n_old, CAST(sum(cn) AS BIGINT) AS n_new,
        |  round(CAST(sum(CAST(round((p - q) * round(ln(p / q), 12), 12) AS DECIMAL(27,12))) AS DOUBLE), 6) AS psi
        |FROM sh GROUP BY 1""".stripMargin),

    // Extension: END-TO-END LANDING PIPELINE — the composed path a batch
    // actually takes into a governed corpus: (1) the constraint gate must
    // pass (uniqueness + ranges; a failing batch would never land),
    // (2) exact dedup keeps the best copy per fingerprint, (3) survivors
    // land as TWO manifest append transactions, (4) the summary reads the
    // committed table — every subsystem touches the same bytes.
    Query("docs_landing_pipeline", (s, dir) => {
      val out = scratch("landing")
      val docs = table(s, dir, "documents")
      require(graft.ops.Quality.passes(docs, Seq(
        graft.ops.Quality.NotNull("doc_id"),
        graft.ops.Quality.Unique(Seq("doc_id")),
        graft.ops.Quality.InRange("n_chars", 1, 1000000))),
        "landing gate failed — batch must not land")
      val keep = graft.ops.Dedup
        .exactDedupBest(docs, "doc_id", "text", "n_chars")
        .select(col("keep_id").as("doc_id"))
      val landed = docs.join(keep, "doc_id")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out,
        landed.filter(col("doc_id") % 2 === 0))
      graft.sources.ManifestTable.append(s, out,
        landed.filter(col("doc_id") % 2 === 1))
      graft.sources.ManifestTable.read(s, out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // Survivors = best copy per normalized-text fingerprint; both append
      // batches land, so the committed table is exactly the survivor set.
      """WITH f AS (SELECT doc_id, source, n_chars,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM f)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM r WHERE rn = 1 GROUP BY source""".stripMargin),

    // Extension: per-shard Bloom point-lookup index — the file-skipping
    // shape: a probe opens only the shards whose constant-size filter MAY
    // contain the id; present ids always include their true hash shard.
    Query("docs_shard_bloom_probe", (s, dir) =>
      graft.ops.Corpus.shardBloomProbe(
        table(s, dir, "documents"), "doc_id",
        probeIds = (0L to 9L) ++ (1000001L to 1000005L),
        nShards = 8, words = 1024, k = 4),
      // Same md5 position family as text_contam_bloom (5 hex chars per
      // hash, 32-bit chunking) over the id strings; 1024 words → 65536 bits.
      """WITH ids AS (SELECT doc_id::VARCHAR AS s,
        |    CAST((('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT) % 8 AS BIGINT) AS shard
        |  FROM documents),
        |ipos AS (SELECT shard, CAST(('0x'||substr(md5(s), 1+5*j, 5))::UBIGINT % 65536 AS BIGINT) AS p
        |  FROM ids, range(4) r(j)),
        |bloom AS (SELECT shard, p // 32 AS word,
        |    bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
        |  FROM ipos GROUP BY 1, 2),
        |probe AS (SELECT CAST(v AS BIGINT) AS probe_id FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),
        |    (1000001),(1000002),(1000003),(1000004),(1000005)) t(v)),
        |pr AS (SELECT probe_id,
        |    CAST((('0x'||substr(md5(probe_id::VARCHAR),1,7))::UBIGINT) % 8 AS BIGINT) AS true_shard,
        |    CAST(('0x'||substr(md5(probe_id::VARCHAR), 1+5*j, 5))::UBIGINT % 65536 AS BIGINT) AS p
        |  FROM probe, range(4) r(j)),
        |cand AS (SELECT probe_id, true_shard, b.shard
        |  FROM pr JOIN bloom b ON pr.p // 32 = b.word
        |    AND (b.bits & (1::BIGINT << CAST(pr.p % 32 AS INTEGER))) != 0
        |  GROUP BY 1, 2, 3 HAVING count(*) = 4)
        |SELECT probe_id, count(*) AS n_candidate_shards,
        |  max(CASE WHEN shard = true_shard THEN 1 ELSE 0 END) = 1 AS no_false_neg
        |FROM cand GROUP BY probe_id, true_shard""".stripMargin),

    // Extension: quality-quartile × exact-dup calibration — do the
    // quality and dedup screens agree about which slice is junk?
    Query("docs_quality_calibration", (s, dir) =>
      graft.ops.Corpus.qualityDupCalibration(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      // The docs_quality_blend quality replication + docs_split_assign-style
      // exact quartile cuts + the dedup_rate_by_source fingerprint totals.
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |qq AS (SELECT doc_id,
        |  least(len(toks) / 100.0, 1.0) * 0.4 + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3 + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3 AS q,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM t),
        |tot AS (SELECT fp, count(*) AS tot FROM qq GROUP BY 1),
        |b AS (SELECT quantile_cont(q, [0.25, 0.5, 0.75]) AS bs FROM qq),
        |g AS (SELECT CASE WHEN q <= bs[1] THEN 0 WHEN q <= bs[2] THEN 1
        |    WHEN q <= bs[3] THEN 2 ELSE 3 END AS quartile,
        |    (tot.tot > 1) AS dup
        |  FROM qq JOIN tot USING (fp), b)
        |SELECT quartile, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  round(sum(CASE WHEN dup THEN 1 ELSE 0 END) / count(*), 6) AS dup_rate
        |FROM g GROUP BY 1""".stripMargin),

    // Extension: composition chi-square — the language × source count
    // grid with expected-under-independence and per-cell chi2
    // contribution (which crawl slice skews the language mix).
    Query("docs_mix_chi2", (s, dir) =>
      graft.ops.Corpus.mixChiSquare(table(s, dir, "documents"), "lang", "source"),
      """WITH c AS (SELECT lang AS a, source AS b, count(*) AS n FROM documents GROUP BY 1, 2),
        |at AS (SELECT a, sum(n) AS na FROM c GROUP BY 1),
        |bt AS (SELECT b, sum(n) AS nb FROM c GROUP BY 1),
        |t AS (SELECT sum(n) AS nn FROM c)
        |SELECT c.a AS lang, c.b AS source, c.n,
        |  round(at.na * bt.nb / CAST(t.nn AS DOUBLE), 6) AS expected,
        |  round((c.n - at.na * bt.nb / CAST(t.nn AS DOUBLE)) * (c.n - at.na * bt.nb / CAST(t.nn AS DOUBLE)) / (at.na * bt.nb / CAST(t.nn AS DOUBLE)), 6) AS chi2
        |FROM c JOIN at USING (a) JOIN bt USING (b) CROSS JOIN t""".stripMargin),

    // Extension: export-shard manifest — 8 deterministic hash shards with
    // doc counts, token budgets, and corpus share (the pre-write balance
    // check for training-shard layout).
    Query("docs_shard_manifest", (s, dir) =>
      graft.ops.Corpus.shardManifest(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH p AS (SELECT (('0x'||substr(md5(doc_id::VARCHAR),1,7))::UBIGINT)::BIGINT % 8 AS shard,
        |    len(string_split_regex(trim(text), '\s+')) AS nt
        |  FROM documents),
        |s AS (SELECT shard, count(*) AS n_docs, sum(nt) AS n_tokens FROM p GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS total_docs FROM s)
        |SELECT shard, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(n_docs / t.total_docs, 6) AS doc_share
        |FROM s, t""".stripMargin),

    // Extension: one-row corpus summary — the dataset card numbers
    // (volume, token budget, language spread) in one partial-agg pass.
    Query("docs_corpus_summary", (s, dir) => {
      import graft.ops.TextFunctions._
      table(s, dir, "documents")
        .select(tokenCount(col("text")).as("nt"), col("lang"), col("n_chars"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          round(sum(col("nt")) / count(lit(1)), 6).as("mean_tokens"),
          percentile(col("nt"), lit(0.5)).as("p50_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
    },
      """WITH t AS (SELECT lang, n_chars,
        |    len(string_split_regex(trim(text), '\s+')) AS nt FROM documents)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(nt) AS BIGINT) / count(*), 6) AS mean_tokens,
        |  quantile_cont(nt, 0.5) AS p50_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM t""".stripMargin),

    // Extension: per-group top-k — the 5 highest-quality documents per
    // language (rank <= k pushes a partial WindowGroupLimit before the
    // exchange, so only k rows per group per partition shuffle — the
    // map-side-combine of top-k).
    Query("docs_topk_by_lang", (s, dir) => {
      import graft.ops.TextFunctions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("quality").desc, col("doc_id").asc)
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          round(qualityScore(col("text"), tokens(col("text"))), 6).as("quality"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },
      """WITH t AS (SELECT doc_id, lang, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id, lang,
        |  round(least(len(toks) / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3
        |    + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3, 6) AS quality
        |  FROM t),
        |r AS (SELECT doc_id, lang, quality,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rk FROM q)
        |SELECT doc_id, lang, quality, CAST(rk AS INTEGER) AS "rank" FROM r WHERE rk <= 5""".stripMargin),

    // Extension: Hive-partitioned parquet SINK — write documents
    // partitioned by lang, then profile the read-back layout (scans
    // filtering on lang prune to one directory; BucketingSpec asserts the
    // PartitionFilters plan shape).
    Query("docs_part_sink", (s, dir) => {
      val out = scratch("sink")
      graft.ops.Bucketing.writePartitioned(
        table(s, dir, "documents"), out, Seq("lang"))
      s.read.parquet(out).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    },
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin),

    // Extension: split-conformal quality gate — calibrate the keep
    // threshold on the doc_id%5==0 slice at α = 0.1 (k-th smallest
    // calibration score, an exact order statistic), gate the rest, and
    // report realized coverage next to the target. The
    // distribution-free version of "keep the top 90% by quality".
    Query("docs_conformal_gate", (s, dir) =>
      graft.ops.Corpus.conformalGate(
        table(s, dir, "documents"), "doc_id", "text", calMod = 5, alpha = 0.1),
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id,
        |  least(len(toks) / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3
        |    + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3 AS q,
        |  doc_id % 5 = 0 AS is_cal FROM t),
        |nc AS (SELECT count(*) AS n_cal FROM q WHERE is_cal),
        |kq AS (SELECT n_cal, greatest(1, CAST(floor(0.1::DOUBLE * (n_cal + 1)) AS BIGINT)) AS k FROM nc),
        |tau AS (SELECT kq.n_cal, kq.k, s.q AS tau FROM
        |  (SELECT q, row_number() OVER (ORDER BY q ASC, doc_id ASC) AS rn FROM q WHERE is_cal) s, kq
        |  WHERE s.rn = kq.k),
        |agg AS (SELECT t2.n_cal, t2.k, t2.tau, count(*) AS n_test,
        |    CAST(sum(CASE WHEN q.q >= t2.tau THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |  FROM q, tau t2 WHERE NOT q.is_cal GROUP BY 1, 2, 3)
        |SELECT n_cal, k, round(tau, 6) AS tau, n_test, n_pass,
        |  round(CAST(n_pass AS DOUBLE) / n_test, 6) AS coverage
        |FROM agg""".stripMargin),

    // Extension: expected calibration error — the reliability-diagram
    // eval of the quality score read as P(document is unique): per
    // confidence bin, mean confidence vs realized uniqueness, plus the
    // Σ (n_b/N)·|acc−conf| total. The probability-calibration view next
    // to docs_quality_calibration's quartile agreement.
    Query("docs_quality_ece", (s, dir) =>
      graft.ops.Corpus.calibrationEce(
        spread(s, table(s, dir, "documents")), "text"),
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |qq AS (SELECT
        |  least(len(toks) / 100.0, 1.0) * 0.4 + (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)) * 0.3 + (len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) / greatest(len(toks), 1)) * 0.3 AS q,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM t),
        |tot AS (SELECT fp, count(*) AS tot FROM qq GROUP BY 1),
        |bn AS (SELECT CAST(least(9, CAST(floor(q * 10) AS BIGINT)) AS INTEGER) AS bin, q, (tot.tot = 1) AS uniq
        |  FROM qq JOIN tot USING (fp)),
        |ag AS (SELECT bin, count(*) AS n_docs, sum(CAST(q AS DECIMAL(27,12))) AS sq,
        |    CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS su FROM bn GROUP BY 1),
        |wg AS (SELECT bin, n_docs, sq, su, sum(n_docs) OVER () AS ntot FROM ag),
        |tm AS (SELECT bin, n_docs, sq, su, ntot,
        |    CAST((CAST(n_docs AS DOUBLE) / ntot) * abs(CAST(su AS DOUBLE) / n_docs - CAST(sq AS DOUBLE) / n_docs) AS DECIMAL(27,12)) AS term FROM wg)
        |SELECT bin, n_docs, round(CAST(sq AS DOUBLE) / n_docs, 6) AS avg_conf,
        |  round(CAST(su AS DOUBLE) / n_docs, 6) AS uniq_rate,
        |  round(CAST(sum(term) OVER () AS DOUBLE), 6) AS ece
        |FROM tm""".stripMargin)
  )
}
