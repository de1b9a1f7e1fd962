package graft
package entry

import Fixtures._
import org.apache.spark.sql.functions._

/** Exact and near-duplicate detection over the documents table. */
private[graft] object DedupQueries {

  val all: Seq[Query] = Seq(
    // Extension: exact dedup by md5 fingerprint (hash-groupBy, 32-byte keys).
    Query("dedup_exact", (s, dir) =>
      graft.ops.Dedup.exactDedup(table(s, dir, "documents"), "doc_id", "text"),
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_dupes
        |FROM documents GROUP BY 1""".stripMargin),

    // Extension: exact dedup with quality-based survivor selection — keep
    // the longest copy per fingerprint (max_by aggregate, still one
    // 32-byte-key shuffle, no per-group window sort).
    Query("dedup_exact_best", (s, dir) =>
      graft.ops.Dedup.exactDedupBest(
        table(s, dir, "documents"), "doc_id", "text", "n_chars"),
      // Window formulation of the survivor pick — a different algorithm
      // than Spark's max_by aggregate, agreeing exactly because the
      // (score, -id) order is total.
      """WITH f AS (SELECT doc_id, n_chars,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |r AS (SELECT fp, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY fp) AS n_dupes
        |  FROM f)
        |SELECT fp, doc_id AS keep_id, CAST(n_chars AS BIGINT) AS best_score, n_dupes
        |FROM r WHERE rn = 1""".stripMargin),

    // Extension: duplicate-cluster size histogram — clusters and docs per
    // exact-duplicate cluster size; the corpus-health summary a dedup
    // decision starts from (two chained map-side-combinable aggregates).
    Query("dedup_size_hist", (s, dir) =>
      graft.ops.Dedup.dupSizeHistogram(table(s, dir, "documents"), "doc_id", "text"),
      """WITH d AS (SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |    count(*) AS n_dupes
        |  FROM documents GROUP BY 1)
        |SELECT n_dupes AS cluster_size, count(*) AS n_clusters,
        |  n_dupes * count(*) AS n_docs
        |FROM d GROUP BY 1""".stripMargin),

    // Extension: truncation-duplicate screen — prefix pairs blocked on the
    // first-64-chars hash, verified exactly in-bucket; 1-row summary (a
    // healthy corpus legitimately reports zero pairs).
    Query("dedup_prefix", (s, dir) =>
      graft.ops.Dedup.prefixDups(table(s, dir, "documents"), "doc_id", "text"),
      // Same first-64-chars blocking as the Spark side; the exact prefix
      // verify runs only within buckets in both engines.
      """WITH e AS (SELECT doc_id AS id, text AS t FROM documents WHERE length(text) >= 64),
        |k AS (SELECT id, t, md5(substr(t, 1, 64)) AS pk FROM e),
        |p AS (SELECT s.id AS short_id FROM k s JOIN k l
        |      ON s.pk = l.pk AND length(s.t) < length(l.t) AND left(l.t, length(s.t)) = s.t)
        |SELECT (SELECT count(*) FROM e) AS n_checked,
        |  count(*) AS n_pairs, count(DISTINCT short_id) AS n_truncated
        |FROM p""".stripMargin),

    // Extension: MinHash+LSH near-dup (shingle→minhash→band→bucket-join).
    Query("dedup_minhash_lsh", (s, dir) =>
      graft.ops.Dedup.minhashNearDupPairs(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id)
        |SELECT c.a_id, c.b_id,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.7 AS is_dup
        |FROM cand c JOIN sh sa ON c.a_id = sa.doc_id JOIN sh sb ON c.b_id = sb.doc_id""".stripMargin),

    // Extension: exact n-gram Jaccard within metadata blocks.
    Query("dedup_ngram_jaccard", (s, dir) =>
      graft.ops.Dedup.ngramJaccardPairs(spread(s, table(s, dir, "documents")), "doc_id", "text", "source"),
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |post AS (SELECT doc_id, source, unnest(sh) AS g FROM sh),
        |hot AS (SELECT source, g FROM post GROUP BY source, g HAVING count(*) > 64),
        |capped AS (SELECT p.doc_id, p.source, p.g FROM post p ANTI JOIN hot h ON p.source = h.source AND p.g = h.g),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |          FROM capped a JOIN capped b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh)
        |SELECT i.a_id, i.b_id, i.inter / (sa.n + sb.n - i.inter) AS jaccard
        |FROM inter i JOIN sz sa ON i.a_id = sa.doc_id JOIN sz sb ON i.b_id = sb.doc_id
        |WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5""".stripMargin),

    // Extension: containment near-dup screen — the asymmetric score
    // |A∩B| / min(|A|,|B|) that catches excerpts/supersets Jaccard's
    // union normalization hides. Same inverted-index + hot-shingle-cap
    // core as the Jaccard screen.
    Query("dedup_containment", (s, dir) =>
      graft.ops.Dedup.containmentPairs(spread(s, table(s, dir, "documents")), "doc_id", "text", "source"),
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |post AS (SELECT doc_id, source, unnest(sh) AS g FROM sh),
        |hot AS (SELECT source, g FROM post GROUP BY source, g HAVING count(*) > 64),
        |capped AS (SELECT p.doc_id, p.source, p.g FROM post p ANTI JOIN hot h ON p.source = h.source AND p.g = h.g),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |          FROM capped a JOIN capped b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh)
        |SELECT i.a_id, i.b_id, i.inter / least(sa.n, sb.n) AS containment,
        |  i.inter / (sa.n + sb.n - i.inter) AS jaccard
        |FROM inter i JOIN sz sa ON i.a_id = sa.doc_id JOIN sz sb ON i.b_id = sb.doc_id
        |WHERE i.inter / least(sa.n, sb.n) >= 0.6""".stripMargin),

    // Extension: SimHash near-dup via 15-bit chunk bucketing.
    Query("dedup_simhash", (s, dir) =>
      graft.ops.Dedup.simhashNearDupPairs(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id, list_transform(toks, x -> (('0x'||substr(md5(x),1,15))::UBIGINT)::BIGINT) AS th FROM t),
        |sh AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,59), i ->
        |  CASE WHEN 2*len(list_filter(th, v -> (v & (1::BIGINT << i)) != 0)) >= len(th) THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash FROM h),
        |chunks AS (SELECT doc_id, simhash, j AS chunk, (simhash >> (15*j)) & 32767 AS value FROM sh, range(4) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.simhash AS ha, b.simhash AS hb
        |         FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.value = b.value AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 8""".stripMargin),

    // Extension: connected-components clustering over verified MinHash
    // near-dup pairs — pairwise verdicts → per-document cluster id + the
    // keeper flag (min-label propagation, one shuffle per round).
    Query("dedup_cluster_cc", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = graft.ops.Dedup
        .minhashNearDupPairs(spread(s, docs), "doc_id", "text")
        .filter(col("is_dup"))
      graft.ops.Components.dedupClusters(docs, "doc_id", pairs, "a_id", "b_id")
    },
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
        |          UNION SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s)
        |SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS is_keeper
        |FROM reach GROUP BY id""".stripMargin),

    // Extension: MinHash-LSH banding evaluation — candidate recall and
    // precision against EXHAUSTIVE exact-Jaccard ground truth (the
    // eval-only inverted-index enumeration; prices the bands/rows knob
    // the way sim_proj_recall prices the projection).
    Query("dedup_lsh_eval", (s, dir) =>
      graft.ops.Dedup.lshRecallEval(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      // Ground truth brute-forces ALL pairs (affordable for DuckDB at the
      // verify sf); pairs sharing no shingle have Jaccard 0 and drop, so it
      // equals the Spark side's shared-gram enumeration.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |ver AS (SELECT count(*) AS n FROM cand c JOIN sh sa ON c.a_id = sa.doc_id JOIN sh sb ON c.b_id = sb.doc_id
        |  WHERE len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.7),
        |truth AS (SELECT count(*) AS n FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7),
        |nc AS (SELECT count(*) AS n FROM cand)
        |SELECT truth.n AS n_true_pairs, nc.n AS n_candidates, ver.n AS n_verified,
        |  round(ver.n / truth.n, 6) AS recall, round(ver.n / nc.n, 6) AS precision
        |FROM truth, nc, ver""".stripMargin),

    // Extension: PageRank over the verified near-dup pair graph — hub
    // centrality within duplicate families (GraphX static convention,
    // 3 iterations; DECIMAL-routed contribution sums).
    Query("dedup_pagerank", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = graft.ops.Dedup
        .minhashNearDupPairs(spread(s, docs), "doc_id", "text")
        .filter(col("is_dup"))
      graft.ops.Components.pageRank(docs, "doc_id", pairs, "a_id", "b_id")
    },
      // The PageRank recurrence is replayed bit-for-bit: pr/deg is the same
      // IEEE double in both engines, per-edge contributions are cast to
      // DECIMAL(28,15) so the incoming sum is exact (order-independent),
      // and (1-d)/d arithmetic is forced to DOUBLE (DuckDB's bare numeric
      // literals are DECIMAL and would compute an exact 0.15 instead of
      // the double 1.0-0.85 the Scala side folds).
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |p AS (SELECT c.a_id, c.b_id,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand c JOIN sh sa ON c.a_id = sa.doc_id JOIN sh sb ON c.b_id = sb.doc_id),
        |e AS (SELECT a_id AS s, b_id AS d FROM p WHERE jaccard >= 0.7
        |      UNION ALL SELECT b_id, a_id FROM p WHERE jaccard >= 0.7),
        |dg AS (SELECT s, count(*) AS deg FROM e GROUP BY 1),
        |pr0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS pr FROM documents),
        |c1 AS (SELECT e.d AS id, CAST(pr0.pr / dg.deg AS DECIMAL(28,15)) AS c
        |       FROM e JOIN dg ON e.s = dg.s JOIN pr0 ON e.s = pr0.id),
        |pr1 AS (SELECT p0.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * coalesce(CAST(x.cs AS DOUBLE), CAST(0.0 AS DOUBLE)) AS pr
        |        FROM pr0 p0 LEFT JOIN (SELECT id, sum(c) AS cs FROM c1 GROUP BY 1) x ON p0.id = x.id),
        |c2 AS (SELECT e.d AS id, CAST(pr1.pr / dg.deg AS DECIMAL(28,15)) AS c
        |       FROM e JOIN dg ON e.s = dg.s JOIN pr1 ON e.s = pr1.id),
        |pr2 AS (SELECT p1.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * coalesce(CAST(x.cs AS DOUBLE), CAST(0.0 AS DOUBLE)) AS pr
        |        FROM pr1 p1 LEFT JOIN (SELECT id, sum(c) AS cs FROM c2 GROUP BY 1) x ON p1.id = x.id),
        |c3 AS (SELECT e.d AS id, CAST(pr2.pr / dg.deg AS DECIMAL(28,15)) AS c
        |       FROM e JOIN dg ON e.s = dg.s JOIN pr2 ON e.s = pr2.id),
        |pr3 AS (SELECT p2.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * coalesce(CAST(x.cs AS DOUBLE), CAST(0.0 AS DOUBLE)) AS pr
        |        FROM pr2 p2 LEFT JOIN (SELECT id, sum(c) AS cs FROM c3 GROUP BY 1) x ON p2.id = x.id)
        |SELECT id AS doc_id, round(pr, 6) AS pagerank FROM pr3""".stripMargin),

    // Extension: triangle count + global clustering coefficient over the
    // verified near-dup graph — distinguishes chain-shaped dup clusters
    // (template drift, cc≈0) from clique-shaped ones (true copy families);
    // degree-ordered orientation bounds wedge-join out-degrees at O(√m).
    Query("dedup_triangles", (s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = graft.ops.Dedup
        .minhashNearDupPairs(spread(s, docs), "doc_id", "text")
        .filter(col("is_dup"))
      graft.ops.Components.triangleStats(pairs, "a_id", "b_id")
    },
      // Same verified near-dup edge CTE as dedup_pagerank; the triangle join
      // is the NAIVE ordered 3-way (a<b<c), independent of the Spark side's
      // degree-ordered orientation — the hash match proves the orientation.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |p AS (SELECT c.a_id, c.b_id,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand c JOIN sh sa ON c.a_id = sa.doc_id JOIN sh sb ON c.b_id = sb.doc_id),
        |e AS (SELECT a_id AS u, b_id AS v FROM p WHERE jaccard >= 0.7),
        |deg AS (SELECT x, count(*) AS d FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY 1),
        |tri AS (SELECT count(*) AS n_triangles FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |wd AS (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges FROM deg)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |  tri.n_triangles, wd.n_wedges,
        |  round(CASE WHEN wd.n_wedges = 0 THEN 0.0
        |             ELSE 3.0 * tri.n_triangles / wd.n_wedges END, 6) AS global_cc
        |FROM tri, wd""".stripMargin),

    // Extension: edit-distance near-dup verify over the SAME banded
    // MinHash candidates — catches character-level variants token-set
    // Jaccard misreads.
    Query("dedup_edit_distance", (s, dir) =>
      graft.ops.Dedup.editDistanceNearDups(
        spread(s, table(s, dir, "documents")), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 8,
        prefixChars = 200, maxDist = 60),
      // The dedup_minhash_lsh banding CTE; verification swaps Jaccard for
      // Levenshtein over the 200-char prefixes.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |px AS (SELECT doc_id, substr(text, 1, 200) AS p FROM documents)
        |SELECT c.a_id, c.b_id,
        |  CASE WHEN levenshtein(pa.p, pb.p) <= 60 THEN CAST(levenshtein(pa.p, pb.p) AS INTEGER) END AS edit_dist,
        |  levenshtein(pa.p, pb.p) <= 60 AS is_dup
        |FROM cand c JOIN px pa ON c.a_id = pa.doc_id JOIN px pb ON c.b_id = pb.doc_id""".stripMargin),

    // Extension: incremental dedup — a simulated daily batch (every 10th
    // document) screened for near-dups against the standing corpus. Band
    // keys join across the two sets; nothing self-joins.
    Query("dedup_incremental", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Dedup.minhashNearDupsAgainst(
        spread(s, docs.filter(col("doc_id") % 10 === 0)),
        spread(s, docs.filter(col("doc_id") % 10 =!= 0)),
        "doc_id", "text")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id FROM bands a JOIN bands b
        |         ON a.j = b.j AND a.key = b.key AND a.doc_id % 10 = 0 AND b.doc_id % 10 != 0)
        |SELECT c.new_id, c.corpus_id,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard,
        |  len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.7 AS is_dup
        |FROM cand c JOIN sh sa ON c.new_id = sa.doc_id JOIN sh sb ON c.corpus_id = sb.doc_id""".stripMargin),

    // Extension: per-source duplication rate — share of each source's docs
    // whose corpus-wide fingerprint recurs (where the dedup budget goes).
    Query("dedup_rate_by_source", (s, dir) =>
      graft.ops.Dedup.dupRateBySource(
        spread(s, table(s, dir, "documents")), "text", "source"),
      """WITH f AS (SELECT source, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp FROM documents),
        |tot AS (SELECT fp, count(*) AS tot FROM f GROUP BY 1)
        |SELECT f.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN tot.tot > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  round(sum(CASE WHEN tot.tot > 1 THEN 1 ELSE 0 END) / count(*), 6) AS dup_rate
        |FROM f JOIN tot ON f.fp = tot.fp GROUP BY 1""".stripMargin),

    // Extension: dedup-threshold sweep — pair counts at five candidate
    // Jaccard thresholds from ONE scoring pass (the knob-pricing table
    // next to dedup_lsh_eval's bands/rows eval).
    Query("dedup_threshold_sweep", (s, dir) =>
      graft.ops.Dedup.thresholdSweep(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 15), k -> list_min(list_transform(sh, x -> (('0x'||substr(md5(x),1,7))::UBIGINT)::BIGINT + k * (('0x'||substr(md5(x),8,7))::UBIGINT)::BIGINT))) AS sig FROM sh),
        |bands AS (SELECT doc_id, j, md5(j::VARCHAR||':'||array_to_string(sig[j*2+1:j*2+2], ',')) AS key FROM sig, range(8) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a JOIN bands b ON a.j=b.j AND a.key=b.key AND a.doc_id<b.doc_id),
        |p AS (SELECT len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
        |  FROM cand c JOIN sh sa ON c.a_id = sa.doc_id JOIN sh sb ON c.b_id = sb.doc_id),
        |th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
        |SELECT th.threshold, CAST(COALESCE(SUM(CASE WHEN p.jaccard >= th.threshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
        |FROM th LEFT JOIN p ON true GROUP BY 1""".stripMargin)
  )
}
