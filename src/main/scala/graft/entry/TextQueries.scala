package graft
package entry

import Fixtures._
import org.apache.spark.sql.functions._
import SimQueries.cosSql

/** Text operators: token statistics, BPE, inverted indexes, language
  * models, decontamination and text-quality signals. */
private[graft] object TextQueries {

  // Shared fragments of the inverted-index oracles. Every float literal
  // pins ::DOUBLE (a bare decimal parses as DECIMAL here, and these
  // queries rank by the EXACT decimal score sum, so the per-posting
  // double must be bit-identical to the Spark side — same IEEE ops in the
  // same order, not merely equal after round(6)).
  private val invidxQueries3 =
    "(0, 'spark'), (0, 'table'), (0, 'window'), (1, 'join'), (1, 'filter'), " +
      "(2, 'vector'), (2, 'stream'), (2, 'hash')"

  private val invidxQueries2 =
    "(0, 'spark'), (0, 'table'), (0, 'window'), (1, 'join'), (1, 'filter')"

  // The tf-side factor — graft.ops.Retrieval.tfFactor's exact op order:
  // (tf·(k1+1)) / (tf + k1·(1−b+b·dl/avgdl)), avgdl = total_dl/n_docs.
  private val invidxImpactSql =
    "(tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf.tf + 1.2::DOUBLE * " +
      "(1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * l.dl / " +
      "(CAST(st.total_dl AS DOUBLE) / st.n_docs)))"

  // idf (DECIMAL-canonicalized) × tf-factor — Retrieval.bm25TopK's s.
  private val invidxScoreSql =
    "CAST(CAST(ln(1.0::DOUBLE + (st.n_docs - dfq.dfc + 0.5::DOUBLE) / " +
      s"(dfq.dfc + 0.5::DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE) * $invidxImpactSql AS s"

  /** The BPE induction CTE chain: 12 rounds of (pair count → top-1 →
    * 6-deep literal replace), mirroring Corpus.bpeMerges(nMerges = 12)
    * bit-for-bit — the merge pair each round comes from the
    * data via 1-row scalar subqueries. */
  private lazy val bpeChainSql: String = {
    val out = (1 to 12).map(k =>
      s"SELECT $k AS merge_idx, a AS left_sym, b AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM p$k")
      .mkString("\nUNION ALL\n")
    s"$bpeCtes\n$out"
  }

  /** The w0/p1..w11/p12 CTE list shared by the induction and application
    * oracles. */
  private lazy val bpeCtes: String = bpeCtesFor("", "")

  /** The BPE chain parameterized by a CTE-name prefix and a source
    * filter, so two independent inductions (the drift oracle's corpus
    * halves) coexist in one statement. */
  private def bpeCtesFor(pfx: String, where: String): String = {
    val n = 12
    // every CTE is MATERIALIZED: the chain is 12 rounds deep and each
    // round references its predecessor several times (scalar subqueries
    // inside the nested replaces) — default CTE inlining would expand the
    // tree exponentially and re-open the parquet 2^12 times
    val w0 =
      s"""${pfx}w0 AS MATERIALIZED (SELECT '|' || array_to_string(string_split(w, ''), '|') || '|' AS s, n FROM (
        |  SELECT w, count(*) AS n FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents$where) GROUP BY 1))""".stripMargin
    val rounds = (1 to n).map { k =>
      val rep = (1 to 6).foldLeft("s") { (e, _) =>
        s"replace($e, (SELECT '|'||a||'|'||b||'|' FROM ${pfx}p$k), (SELECT '|'||a||b||'|' FROM ${pfx}p$k))"
      }
      val pCte =
        s"""${pfx}p$k AS MATERIALIZED (SELECT a, b, cnt FROM (
           |  SELECT string_split(pr, chr(1))[1] AS a, string_split(pr, chr(1))[2] AS b, sum(n) AS cnt
           |  FROM (SELECT n, unnest(list_transform(generate_series(1, len(sy)-1), i -> sy[i] || chr(1) || sy[i+1])) AS pr
           |        FROM (SELECT list_filter(string_split(s, '|'), x -> x != '') AS sy, n FROM ${pfx}w${k - 1}))
           |  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1))""".stripMargin
      if (k < n) pCte + s",\n${pfx}w$k AS MATERIALIZED (SELECT $rep AS s, n FROM ${pfx}w${k - 1})"
      else pCte
    }.mkString(",\n")
    s"$w0,\n$rounds"
  }

  /** The same 12-round chain, applied: segments the distinct-word vocab
    * with the learned merges (72 nested scalar-subquery replaces) and
    * aggregates per document — mirrors Corpus.bpeSegment. */
  private lazy val bpeSegmentSql: String = {
    val ctes = bpeCtes
    val appliedExpr = (1 to 12).foldLeft(
      "'|' || array_to_string(string_split(w, ''), '|') || '|'") { (e, k) =>
      (1 to 6).foldLeft(e) { (e2, _) =>
        s"replace($e2, (SELECT '|'||a||'|'||b||'|' FROM p$k), (SELECT '|'||a||b||'|' FROM p$k))"
      }
    }
    s"""$ctes,
       |voc AS MATERIALIZED (SELECT w, len(list_filter(string_split($appliedExpr, '|'), x -> x != '')) AS nt
       |  FROM (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)),
       |occ AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
       |SELECT occ.doc_id, CAST(count(*) AS INTEGER) AS n_word_tokens,
       |  CAST(sum(voc.nt) AS INTEGER) AS n_bpe_tokens,
       |  round(sum(voc.nt) / count(*), 6) AS bpe_per_word
       |FROM occ JOIN voc USING (w) GROUP BY 1""".stripMargin
  }

  /** The shipped-tokenizer chain: merges learned on the even-doc_id half
    * only (tr-prefixed CTEs), applied to the FULL corpus's vocabulary —
    * mirrors Corpus.bpeSegmentWith(bpeMergeTable(half), all). */
  private lazy val bpeApplySql: String = {
    val ctes = bpeCtesFor("tr", " WHERE doc_id % 2 = 0")
    val appliedExpr = (1 to 12).foldLeft(
      "'|' || array_to_string(string_split(w, ''), '|') || '|'") { (e, k) =>
      (1 to 6).foldLeft(e) { (e2, _) =>
        s"replace($e2, (SELECT '|'||a||'|'||b||'|' FROM trp$k), (SELECT '|'||a||b||'|' FROM trp$k))"
      }
    }
    s"""$ctes,
       |voc AS MATERIALIZED (SELECT w, len(list_filter(string_split($appliedExpr, '|'), x -> x != '')) AS nt
       |  FROM (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)),
       |occ AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
       |SELECT occ.doc_id, CAST(count(*) AS INTEGER) AS n_word_tokens,
       |  CAST(sum(voc.nt) AS INTEGER) AS n_bpe_tokens,
       |  round(sum(voc.nt) / count(*), 6) AS bpe_per_word
       |FROM occ JOIN voc USING (w) GROUP BY 1""".stripMargin
  }

  /** Full-corpus BM25 top-5 for the three probe queries: the truth for
    * the batch-built index (`text_invidx_topk`) and the streamed one
    * (`stream_invidx_maintain`). */
  private[entry] lazy val invidxTopkOracleSql: String =
    s"""WITH q(query_id, term) AS (VALUES $invidxQueries3),
      |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
      |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM
      |  (SELECT doc_id, unnest(toks) AS term FROM t)
      |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
      |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
      |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
      |  JOIN l ON tf.doc_id = l.doc_id, st),
      |ag AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
      |  sum(CAST(s AS DECIMAL(27,12))) AS sd FROM sc GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rk FROM ag)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rk AS INTEGER) AS rank,
      |  n_terms_matched, round(CAST(sd AS DOUBLE), 6) AS bm25
      |FROM r WHERE rk <= 5""".stripMargin

  val all: Seq[Query] = Seq(
    // Extension: token counting + document fingerprinting (rolling md5).
    Query("text_token_stats", (s, dir) => {
      import graft.ops.TextFunctions._
      val nTokens = tokenCount(col("text"))
      table(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        nTokens.as("n_tokens"),
        (length(regexp_replace(col("text"), "\\s+", "")) / greatest(nTokens, lit(1)))
          .as("avg_token_len"),
        fingerprint(col("text")).as("fp"))
    },
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  length(regexp_replace(text, '\s+', '', 'g')) / greatest(len(toks), 1) AS avg_token_len,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM t""".stripMargin),

    // Extension: quality scoring (length/punct/stopword ratios).
    Query("text_quality", (s, dir) => {
      import graft.ops.TextFunctions._
      val toks = tokens(col("text"))
      table(s, dir, "documents").select(
        col("doc_id"),
        (punctCount(col("text")) / greatest(length(col("text")), lit(1))).as("punct_ratio"),
        (stopwordCount(toks) / greatest(size(toks), lit(1))).as("stop_ratio"),
        qualityScore(col("text"), toks).as("quality"))
    },
      """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |q AS (SELECT doc_id, text, toks,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct,
        |  len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this'], x))) AS stops
        |  FROM t)
        |SELECT doc_id,
        |  punct / greatest(length(text), 1) AS punct_ratio,
        |  stops / greatest(len(toks), 1) AS stop_ratio,
        |  least(len(toks) / 100.0, 1.0) * 0.4 + (1.0 - punct / greatest(length(text), 1)) * 0.3 + (stops / greatest(len(toks), 1)) * 0.3 AS quality
        |FROM q""".stripMargin),

    // Extension: n-gram-heuristic language ID (marker-word argmax).
    Query("text_lang_id", (s, dir) => {
      import graft.ops.TextFunctions._
      table(s, dir, "documents").select(
        col("doc_id"), col("lang"), langId(tokens(col("text"))).as("lang_pred"))
    },
      """WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is'], x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(['le','la','les','et','est','pas'], x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(['el','los','las','y','es','no'], x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x))) AS s_zh
        | FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_en > 0 THEN 'en'
        |       WHEN s_de >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_de > 0 THEN 'de'
        |       WHEN s_fr >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_fr > 0 THEN 'fr'
        |       WHEN s_es >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_es > 0 THEN 'es'
        |       WHEN s_zh >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_zh > 0 THEN 'zh'
        |       ELSE 'und' END AS lang_pred
        |FROM sc""".stripMargin),

    // Extension: language-ID confusion matrix — the classifier-eval
    // readout (per-actual-language prediction shares).
    Query("text_lang_confusion", (s, dir) => {
      import graft.ops.TextFunctions._
      graft.ops.Corpus.confusionMatrix(
        table(s, dir, "documents").select(
          col("lang"), langId(tokens(col("text"))).as("lang_pred")),
        "lang", "lang_pred")
    },
      // The text_lang_id CASE chain grouped into (actual, pred) cells with
      // per-actual shares.
      """WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is'], x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(['le','la','les','et','est','pas'], x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(['el','los','las','y','es','no'], x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x))) AS s_zh
        | FROM t),
        |pr AS (SELECT lang,
        |  CASE WHEN s_en >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_en > 0 THEN 'en'
        |       WHEN s_de >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_de > 0 THEN 'de'
        |       WHEN s_fr >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_fr > 0 THEN 'fr'
        |       WHEN s_es >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_es > 0 THEN 'es'
        |       WHEN s_zh >= greatest(s_en,s_de,s_fr,s_es,s_zh) AND s_zh > 0 THEN 'zh'
        |       ELSE 'und' END AS lang_pred
        |FROM sc),
        |c AS (SELECT lang, lang_pred, count(*) AS n FROM pr GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(n) AS total FROM c GROUP BY 1)
        |SELECT c.lang, c.lang_pred, c.n,
        |  round(CAST(c.n AS DOUBLE) / tot.total, 6) AS share
        |FROM c JOIN tot ON c.lang = tot.lang""".stripMargin),

    // Extension: corpus token frequency (shuffle agg + deterministic top-k).
    Query("text_token_freq", (s, dir) => {
      import graft.ops.TextFunctions._
      table(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100)
    },
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin),

    // Extension: BPE-ish pre-tokenization counts next to whitespace counts.
    Query("text_bpeish_tokens", (s, dir) => {
      import graft.ops.TextFunctions._
      table(s, dir, "documents").select(
        col("doc_id"),
        size(bpeishTokens(col("text"))).as("n_bpe_tokens"),
        tokenCount(col("text")).as("n_word_tokens"))
    },
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_word_tokens
        |FROM documents""".stripMargin),

    // Extension: per-(document, term) TF-IDF with smoothed idf.
    Query("text_tfidf", (s, dir) =>
      graft.ops.Corpus.tfidf(table(s, dir, "documents"), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |x AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  round((tf.tf / dl.dl) * (ln((n.n_docs + 1) / (dfq.df + 1)) + 1), 6) AS tfidf
        |FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN dfq ON tf.term = dfq.term CROSS JOIN n""".stripMargin),

    // Extension: keyword extraction — top-3 terms per document by TF-IDF
    // (rounded-score ordering with term tie-break; WindowGroupLimit keeps
    // per-doc state at k).
    Query("text_keywords", (s, dir) =>
      graft.ops.Corpus.topTfidfTerms(table(s, dir, "documents"), "doc_id", "text"),
      // The text_tfidf chain + per-doc rounded-score ranking.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |x AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term,
        |    round((tf.tf / dl.dl) * (ln((n.n_docs + 1) / (dfq.df + 1)) + 1), 6) AS tfidf
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM sc)
        |SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS "rank" FROM r WHERE rk <= 3""".stripMargin),

    // Extension: train/test n-gram contamination (every 20th doc is the
    // held-out set; union containment against the rest of the corpus).
    Query("text_contamination", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Corpus.contamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |test AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 = 0),
        |corpus AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 != 0),
        |tp AS (SELECT doc_id, unnest(sh) AS g FROM test),
        |hits AS (SELECT doc_id, count(*) AS n_hit FROM tp
        |         WHERE g IN (SELECT g FROM corpus) GROUP BY 1)
        |SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_shingles,
        |  COALESCE(h.n_hit, 0) AS n_hit,
        |  round(COALESCE(h.n_hit, 0) / len(s.sh), 6) AS containment,
        |  COALESCE(h.n_hit, 0) / len(s.sh) >= 0.8 AS contaminated
        |FROM test s LEFT JOIN hits h ON s.doc_id = h.doc_id""".stripMargin),

    // Extension: any-hit 5-gram decontamination of the TRAINING slice
    // against the held-out benchmark slice — the reverse direction of
    // text_contamination (one verbatim benchmark fragment flags the doc;
    // no containment threshold). Benchmark grams broadcast-semi-join.
    Query("text_contam_ngram", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Corpus.ngramDecontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-5, 0)), i -> array_to_string(toks[i+1:i+5], ' '))) AS sh FROM t),
        |train AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 != 0),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 = 0),
        |tp AS (SELECT doc_id, unnest(sh) AS g FROM train),
        |hits AS (SELECT doc_id, count(*) AS n_matched FROM tp
        |         WHERE g IN (SELECT g FROM bench) GROUP BY 1)
        |SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_grams,
        |  COALESCE(h.n_matched, 0) AS n_matched,
        |  COALESCE(h.n_matched, 0) > 0 AS contaminated
        |FROM train s LEFT JOIN hits h ON s.doc_id = h.doc_id""".stripMargin),

    // Extension: corpus-bigram LM scoring — mean log p(w2|w1) with
    // add-one smoothing (the bigram complement of the unigram scorer;
    // flags shuffled-word gibberish).
    Query("text_bigram_lm", (s, dir) =>
      graft.ops.Corpus.bigramLogProb(table(s, dir, "documents"), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
        |x AS (SELECT unnest(toks) AS term FROM t),
        |uni AS (SELECT term, count(*) AS cu FROM x GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |bic AS (SELECT bg, count(*) AS cb FROM bg GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(CAST(ln((bic.cb + 1) / (uni.cu + v.vocab)) AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6) AS avg_logprob
        |FROM bg b
        |JOIN bic ON b.bg = bic.bg
        |JOIN uni ON split_part(b.bg, ' ', 1) = uni.term
        |CROSS JOIN v
        |GROUP BY 1""".stripMargin),

    // Extension: Jelinek-Mercer interpolated bigram LM — λ·P_bi + (1−λ)·
    // P_uni with MLE estimates; the corpus-sized bigram table is never
    // broadcast, the unigram table joins twice (denominator + back-off).
    Query("text_interp_lm", (s, dir) =>
      graft.ops.Corpus.interpolatedLogProb(table(s, dir, "documents"), "doc_id", "text"),
      // Same count tables as text_bigram_lm plus the token total N; the
      // interpolation literal λ=0.5 keeps (1−λ) exact in both engines, and
      // the operand order mirrors the Scala expression exactly.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
        |x AS (SELECT unnest(toks) AS term FROM t),
        |uni AS (SELECT term, count(*) AS cu FROM x GROUP BY 1),
        |n AS (SELECT CAST(sum(cu) AS BIGINT) AS ntok FROM uni),
        |bic AS (SELECT bg, count(*) AS cb FROM bg GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(CAST(ln(0.5 * bic.cb / u1.cu + (1.0 - 0.5) * u2.cu / n.ntok) AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6) AS avg_interp_logprob
        |FROM bg b
        |JOIN bic ON b.bg = bic.bg
        |JOIN uni u1 ON string_split(b.bg, ' ')[1] = u1.term
        |JOIN uni u2 ON string_split(b.bg, ' ')[2] = u2.term
        |CROSS JOIN n
        |GROUP BY 1""".stripMargin),

    // Extension: corpus vocabulary + OOV profiling — vocab = tokens with
    // frequency >= 5; per-doc OOV rate under it (the pre-training vocab
    // commit check).
    Query("text_vocab_oov", (s, dir) =>
      graft.ops.Corpus.vocabOovRate(
        table(s, dir, "documents"), "doc_id", "text", minCount = 5),
      """WITH x AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |v AS (SELECT term FROM x GROUP BY term HAVING count(*) >= 5)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN term IN (SELECT term FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  round(CAST(sum(CASE WHEN term IN (SELECT term FROM v) THEN 0 ELSE 1 END) AS BIGINT) / count(*), 6) AS oov_rate
        |FROM x GROUP BY 1""".stripMargin),

    // Extension: contamination via a PORTABLE Bloom filter (md5-derived bit
    // positions, constant-size bit_or word table) — the oracle rebuilds the
    // identical filter, so even the false positives hash-match.
    Query("text_contam_bloom", (s, dir) => {
      val docs = table(s, dir, "documents")
      graft.ops.Corpus.contaminationBloom(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |test AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 = 0),
        |corpus AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 != 0),
        |cpos AS (SELECT CAST(('0x'||substr(md5(g), 1+5*j, 5))::UBIGINT % 1048576 AS BIGINT) AS p FROM corpus, range(4) r(j)),
        |bloom AS (SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits FROM cpos GROUP BY 1),
        |tp AS (SELECT doc_id, unnest(sh) AS g FROM test),
        |probes AS (SELECT doc_id, g, CAST(('0x'||substr(md5(g), 1+5*j, 5))::UBIGINT % 1048576 AS BIGINT) AS p FROM tp, range(4) r(j)),
        |pergram AS (SELECT doc_id, g,
        |    min(CASE WHEN (COALESCE(b.bits, 0) & (1::BIGINT << CAST(p % 32 AS INTEGER))) != 0 THEN 1 ELSE 0 END) AS hit
        |  FROM probes LEFT JOIN bloom b ON probes.p // 32 = b.word GROUP BY 1, 2),
        |perdoc AS (SELECT doc_id, count(*) AS n_shingles, CAST(sum(hit) AS BIGINT) AS n_bloom FROM pergram GROUP BY 1),
        |hits AS (SELECT doc_id, count(*) AS n_exact FROM tp WHERE g IN (SELECT g FROM corpus) GROUP BY 1)
        |SELECT p.doc_id, p.n_shingles, COALESCE(h.n_exact, 0) AS n_exact, p.n_bloom,
        |  p.n_bloom >= COALESCE(h.n_exact, 0) AS no_false_neg
        |FROM perdoc p LEFT JOIN hits h ON p.doc_id = h.doc_id""".stripMargin),

    // Extension: BM25 relevance of every matching document against a
    // literal query-term set — retrieval-grade ranking with length
    // normalization and tf saturation.
    Query("text_bm25", (s, dir) =>
      graft.ops.Corpus.bm25Score(spread(s, table(s, dir, "documents")),
        "doc_id", "text", Seq("spark", "table", "window")),
      // The inverted-index BM25 chain with the same literal-folded k1/b
      // expressions and DECIMAL-canonicalized idf.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN ('spark', 'table', 'window') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |  (CAST(CAST(ln(1.0 + (st.n_docs - dfq.dfc + 0.5) / (dfq.dfc + 0.5)) AS DECIMAL(27,12)) AS DOUBLE)
        |    * (tf.tf * (1.2 + 1.0)))
        |  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (CAST(st.total_dl AS DOUBLE) / st.n_docs))) AS s
        |  FROM tf JOIN dfq ON tf.term = dfq.term JOIN l ON tf.doc_id = l.doc_id, st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
        |  round(CAST(sum(CAST(s AS DECIMAL(27,12))) AS DOUBLE), 6) AS bm25
        |FROM sc GROUP BY 1""".stripMargin),

    // Extension: HYBRID RETRIEVAL — the modern RAG stack's fusion: for
    // each query document, a DENSE ranking (embedding cosine top-10) and
    // a LEXICAL ranking (BM25 of the document's own distinct terms over
    // the corpus, self excluded — more-like-this) combine by reciprocal-
    // rank fusion. Neither arm sees the other's scores — RRF needs only
    // ranks, which is what makes fusing a cosine scale and a BM25 scale
    // principled. Both arms and the fusion are rank/DECIMAL-deterministic.
    Query("text_hybrid_rrf", (s, dir) => {
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      val emb = table(s, dir, "embeddings")
      val dense = graft.ops.Similarity
        .bruteForceTopK(spread(s, emb), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val (n, dl) = R.corpusStats(docs, "text")
      val post = R.buildPostings(docs, "doc_id", "text")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(graft.ops.TextFunctions.tokens(col("text"))).as("term"))
        .distinct()
      val lex = R.bm25TopK(post, queries, n, dl, k = 10, excludeSelf = true)
        .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
      graft.ops.Similarity.rrfFuse(Seq(dense, lex), k = 5)
    },
      // Both hybrid arms rebuilt independently (the cosine chain and the
      // BM25 chain with self-exclusion), fused by the same rank-only RRF
      // arithmetic as sim_rrf_fusion.
      s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |q AS MATERIALIZED (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term FROM t WHERE doc_id < 5),
        |l AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS MATERIALIZED (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |dfq AS MATERIALIZED (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term AND tf.doc_id != q.query_id
        |  JOIN dfq ON tf.term = dfq.term JOIN l ON tf.doc_id = l.doc_id, st),
        |lex AS MATERIALIZED (SELECT query_id, doc_id AS neighbor_id, rk FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sum(CAST(s AS DECIMAL(27,12))) DESC, doc_id) AS rk
        |  FROM sc GROUP BY 1, 2) WHERE rk <= 10),
        |e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |qv AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
        |dense AS MATERIALIZED (SELECT query_id, neighbor_id, rk FROM (
        |  SELECT qv.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY qv.vec_id ORDER BY ${cosSql("qv.v", "c.v")} DESC, c.vec_id) AS rk
        |  FROM qv, e c WHERE c.vec_id != qv.vec_id) WHERE rk <= 10),
        |u AS (SELECT query_id, neighbor_id, CAST(1.0 / (60 + rk) AS DECIMAL(27,12)) AS c FROM dense
        |      UNION ALL SELECT query_id, neighbor_id, CAST(1.0 / (60 + rk) AS DECIMAL(27,12)) AS c FROM lex),
        |g AS (SELECT query_id, neighbor_id, CAST(sum(c) AS DOUBLE) AS rrf_score FROM u GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, round(rrf_score, 6) AS rrf_score, CAST(rk AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rk FROM g)
        |WHERE rk <= 5""".stripMargin),

    // Extension: PERSISTED INVERTED INDEX — the lexical analogue of the
    // persisted IVF tier, full lifecycle: the corpus is a governed
    // manifest table; the posting lists commit ONCE with the corpus
    // stats riding the #meta header and the #indexof staleness binding;
    // compactSorted range-clusters by term so the probe is a string-
    // stats-pruned readWhereIn opening only the query terms' files (the
    // in-query assert proves files were actually skipped); BM25 scores
    // come from the index + header stats alone — the corpus is never
    // rescanned at query time. Three queries ranked in one probe batch.
    Query("text_invidx_topk", (s, dir) => {
      import s.implicits._
      val M = graft.sources.ManifestTable
      val R = graft.ops.Retrieval
      val corpusDir = fixDocsText(s, dir) // staged RO fixture, never mutated
      val v = M.currentVersion(s, corpusDir)
      val corpus = M.read(s, corpusDir)
      val out = scratch("retr_index")
      // one tokenization pass, one term-clustered commit (see
      // commitInvIndex) — same files-disjoint-by-term layout the old
      // commit + compactSorted pair produced
      commitInvIndex(s, "retr_toks", corpus, out, corpusDir, v): Unit
      M.requireIndexFresh(s, out)
      val (kept, total) = M.pruneByEquals(s, out, "term", "join")
      require(kept.size < total,
        s"term-clustered prune must skip files: kept ${kept.size} of $total")
      val queries = Seq(
        0L -> "spark", 0L -> "table", 0L -> "window",
        1L -> "join", 1L -> "filter",
        2L -> "vector", 2L -> "stream", 2L -> "hash"
      ).toDF("query_id", "term")
      val props = M.properties(s, out)
      val post = M.readWhereIn(s, out, "term",
        Seq("spark", "table", "window", "join", "filter",
          "vector", "stream", "hash"))
      R.bm25TopK(post, queries,
        props(R.MetaDocs).toLong, props(R.MetaTotalDl).toLong, k = 5)
    },
      // Full-corpus BM25 top-5 per query — what the index-served probe must
      // equal exactly. Float literals pin ::DOUBLE (bare decimals parse as
      // DECIMAL here) and the op order mirrors the Spark side's
      // idf * (tf-factor) composition, so the per-posting double s is
      // bit-identical in both engines; ranking compares the exact DECIMAL
      // score sum with doc-id ties, never the rounded display value.
      invidxTopkOracleSql),

    // Extension: O(delta) inverted-index maintenance — the sim_ivf_delta
    // lifecycle for lexical search: a corpus append makes the probe gate
    // refuse the stale index; maintenance tokenizes ONLY the appended
    // documents (readChangesSince) and lands their postings with
    // appendIndex, the #meta corpus totals advancing in the SAME pointer
    // move. Document frequency re-aggregates from the (complete) pruned
    // read at probe time, so split posting lists stay exact — the probe's
    // scores equal a from-scratch full-corpus BM25 bit-for-bit (the
    // oracle), and the in-query assert recounts the corpus to prove the
    // maintained header stats are the true totals.
    Query("text_invidx_delta", (s, dir) => {
      import s.implicits._
      val M = graft.sources.ManifestTable
      val R = graft.ops.Retrieval
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpusDir = fixDocsText80Copy(s, "retrd_corpus", dir) // private copy: appended below
      val v0 = M.currentVersion(s, corpusDir)
      val corpus0 = M.read(s, corpusDir)
      val out = scratch("retrd_index")
      val (n0, dl0) = commitInvIndex(s, "retrd_toks", corpus0, out, corpusDir, v0)
      // corpus grows; the stale index must refuse probes...
      M.append(s, corpusDir, docs.filter(col("doc_id") % 5 === 0))
      val staleRefused =
        try { M.requireIndexFresh(s, out); false }
        catch { case _: IllegalStateException => true }
      require(staleRefused, "probe gate must refuse the stale index")
      // ...until the delta postings land with the advanced #meta totals
      val delta = M.readChangesSince(s, corpusDir, fromVersion = v0)
      val (dn, ddl) = R.corpusStats(delta, "text")
      M.appendIndex(s, out,
        R.buildPostings(delta, "doc_id", "text").repartition(4),
        corpusDir, M.currentVersion(s, corpusDir),
        meta = Map(R.MetaDocs -> (n0 + dn).toString,
          R.MetaTotalDl -> (dl0 + ddl).toString))
      M.requireIndexFresh(s, out)
      val props = M.properties(s, out)
      val (nF, dlF) = R.corpusStats(M.read(s, corpusDir), "text")
      require(props(R.MetaDocs).toLong == nF &&
        props(R.MetaTotalDl).toLong == dlF,
        "maintained #meta corpus stats must equal the true totals")
      val queries = Seq(
        0L -> "spark", 0L -> "table", 0L -> "window",
        1L -> "join", 1L -> "filter"
      ).toDF("query_id", "term")
      val post = M.readWhereIn(s, out, "term",
        Seq("spark", "table", "window", "join", "filter"))
      R.bm25TopK(post, queries, nF, dlF, k = 5)
    },
      // The delta-maintained index must serve the FULL corpus exactly — the
      // oracle is a from-scratch whole-corpus BM25, proving the appended
      // posting lists + advanced #meta totals reconstruct the truth.
      s"""WITH q(query_id, term) AS (VALUES $invidxQueries2),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
        |  JOIN l ON tf.doc_id = l.doc_id, st),
        |ag AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
        |  sum(CAST(s AS DECIMAL(27,12))) AS sd FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rk FROM ag)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rk AS INTEGER) AS rank,
        |  n_terms_matched, round(CAST(sd AS DOUBLE), 6) AS bm25
        |FROM r WHERE rk <= 5""".stripMargin),

    // Extension: inverted-index DELETE maintenance — the lexical twin of
    // sim_ivf_delete: GDPR-erasing documents (a corpus DV, no file
    // rewritten) closes the probe gate; maintenance drops the erased
    // docs' posting rows with a DV on the INDEX plus the #indexof rebind
    // AND the shrunken #meta corpus totals in one pointer move, all
    // computed from the delete batch alone. Document frequency
    // re-aggregates from the (DV-subtracted) pruned read at probe time,
    // so the served BM25 equals a from-scratch surviving-corpus ranking
    // bit-for-bit (the oracle); the in-query asserts prove the
    // maintained totals equal a true recount and no erased doc ranks.
    Query("text_invidx_delete", (s, dir) => {
      import s.implicits._
      val M = graft.sources.ManifestTable
      val R = graft.ops.Retrieval
      val corpusDir = fixDocsTextCopy(s, "retrdel_corpus", dir) // private copy: DV-erased below
      val v0 = M.currentVersion(s, corpusDir)
      val corpus0 = M.read(s, corpusDir)
      val out = scratch("retrdel_index")
      val (n0, dl0) = commitInvIndex(s, "retrdel_toks", corpus0, out, corpusDir, v0)
      M.deleteVectorWhere(s, corpusDir, "doc_id", 100.0, 149.0)
      val staleRefused =
        try { M.requireIndexFresh(s, out); false }
        catch { case _: IllegalStateException => true }
      require(staleRefused, "probe gate must refuse the stale index")
      // one bounded collect answers both the erased-id list and the
      // shrunken corpus totals (erasure batches are queue-sized by
      // contract; the two separate actions each re-evaluated the
      // DV-position join behind readDeletesSince)
      val erased = M.readDeletesSince(s, corpusDir, fromVersion = v0)
      val er = erased.select(col("doc_id"),
        size(graft.ops.TextFunctions.tokens(col("text"))).cast("long").as("__dl"))
        .collect()
      val (dn, ddl) = (er.length.toLong, er.map(_.getLong(1)).sum)
      val ids = er.map(_.getLong(0)).toSeq
      M.deleteIndexVectorIn(s, out, "id", ids,
        corpusDir, M.currentVersion(s, corpusDir),
        meta = Map(R.MetaDocs -> (n0 - dn).toString,
          R.MetaTotalDl -> (dl0 - ddl).toString))
      M.requireIndexFresh(s, out)
      val props = M.properties(s, out)
      val (nF, dlF) = R.corpusStats(M.read(s, corpusDir), "text")
      require(props(R.MetaDocs).toLong == nF &&
        props(R.MetaTotalDl).toLong == dlF,
        "maintained #meta corpus stats must equal the true surviving totals")
      val queries = Seq(
        0L -> "spark", 0L -> "table", 0L -> "window",
        1L -> "join", 1L -> "filter"
      ).toDF("query_id", "term")
      val post = M.readWhereIn(s, out, "term",
        Seq("spark", "table", "window", "join", "filter"))
      // staged once: the erasure assert and the returned frame share
      // one probe evaluation
      val topk = stageScratch("retrdel_topk", R.bm25TopK(post, queries, nF, dlF, k = 5))
      require(topk.filter(col("doc_id").between(100, 149)).isEmpty,
        "an erased document ranked from the maintained index")
      topk
    },
      // The delete-maintained index must serve the SURVIVING corpus
      // exactly — a from-scratch BM25 over documents minus the erased
      // range, document frequency and corpus totals recounted over the
      // survivors.
      s"""WITH q(query_id, term) AS (VALUES $invidxQueries2),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents WHERE doc_id NOT BETWEEN 100 AND 149),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
        |  JOIN l ON tf.doc_id = l.doc_id, st),
        |ag AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
        |  sum(CAST(s AS DECIMAL(27,12))) AS sd FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rk FROM ag)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rk AS INTEGER) AS rank,
        |  n_terms_matched, round(CAST(sd AS DOUBLE), 6) AS bm25
        |FROM r WHERE rk <= 5""".stripMargin),

    // Extension: CONJUNCTIVE (boolean-AND) ranked retrieval — only
    // documents matching EVERY query term rank, the filter applied
    // before ranking so ranks stay contiguous over the conjunctive
    // result. Same exact-DECIMAL BM25 rank keys as the disjunctive path.
    Query("text_invidx_conjunctive", (s, dir) => {
      import s.implicits._
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      val (n, dl) = R.corpusStats(docs, "text")
      val post = R.buildPostings(docs, "doc_id", "text")
        .filter(col("term").isin("spark", "table", "window", "join", "filter"))
      val queries = Seq(
        0L -> "spark", 0L -> "table", 0L -> "window",
        1L -> "join", 1L -> "filter"
      ).toDF("query_id", "term")
      R.bm25TopK(post, queries, n, dl, k = 5, requireAllTerms = true)
    },
      // The conjunctive gate is a HAVING over matched-term counts before
      // the ranking window — ranks contiguous over the AND result.
      s"""WITH q(query_id, term) AS (VALUES $invidxQueries2),
        |qn AS (SELECT query_id, count(DISTINCT term) AS nq FROM q GROUP BY 1),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
        |  JOIN l ON tf.doc_id = l.doc_id, st),
        |ag AS (SELECT sc.query_id, sc.doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
        |  sum(CAST(s AS DECIMAL(27,12))) AS sd FROM sc GROUP BY 1, 2),
        |cj AS (SELECT ag.* FROM ag JOIN qn ON ag.query_id = qn.query_id
        |  WHERE ag.n_terms_matched = qn.nq),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rk FROM cj)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rk AS INTEGER) AS rank,
        |  n_terms_matched, round(CAST(sd AS DOUBLE), 6) AS bm25
        |FROM r WHERE rk <= 5""".stripMargin),

    // Extension: champion-list static pruning PRICED — keep only the 8
    // highest-impact postings per term (the impact-ordered / quantized-
    // impact index shape; per-term top-c runs as a map-side partial
    // group-limit, so no term's full posting list ever sorts in one
    // task), freeze each term's true document frequency into the
    // artifact, and score recall@5 against full-postings BM25 as truth —
    // the nprobe-sweep pricing pattern applied to lexical search.
    Query("text_invidx_pruned", (s, dir) => {
      import s.implicits._
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      val (n, dl) = R.corpusStats(docs, "text")
      val post = R.buildPostings(docs, "doc_id", "text")
      val queries = Seq(
        0L -> "spark", 0L -> "table", 0L -> "window",
        1L -> "join", 1L -> "filter",
        2L -> "vector", 2L -> "stream", 2L -> "hash"
      ).toDF("query_id", "term")
      val exact = R.bm25TopK(post, queries, n, dl, k = 5)
        .select(col("query_id"), col("doc_id"))
      val champ = R.championPostings(post, n, dl, c = 8)
      val approx = R.bm25TopKChampion(champ, queries, 5, n, dl)
        .select(col("query_id"), col("doc_id"))
      val hits = exact.join(approx, Seq("query_id", "doc_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      queries.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / lit(5.0), 6).as("recall"))
    },
      // Champion-list recall: rebuild the identical impact-ordered top-8
      // prune (the impact double is the same bit-exact expression as the
      // Spark tf-factor), score both arms, and count the exact-arm top-5
      // hits the champion arm retains per query.
      s"""WITH q(query_id, term) AS (VALUES $invidxQueries3),
        |t AS MATERIALIZED (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |l AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS MATERIALIZED (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfq AS MATERIALIZED (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |imp AS MATERIALIZED (SELECT tf.doc_id, tf.term, $invidxImpactSql AS impact
        |  FROM tf JOIN l ON tf.doc_id = l.doc_id, st),
        |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
        |  JOIN l ON tf.doc_id = l.doc_id, st),
        |ex AS MATERIALIZED (SELECT query_id, doc_id FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sum(CAST(s AS DECIMAL(27,12))) DESC, doc_id) AS rk
        |  FROM sc GROUP BY 1, 2) WHERE rk <= 5),
        |champ AS MATERIALIZED (SELECT doc_id, term FROM (
        |  SELECT doc_id, term, row_number() OVER (PARTITION BY term
        |    ORDER BY impact DESC, doc_id) AS cr FROM imp) WHERE cr <= 8),
        |sca AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term
        |  JOIN champ ON tf.term = champ.term AND tf.doc_id = champ.doc_id
        |  JOIN dfq ON tf.term = dfq.term JOIN l ON tf.doc_id = l.doc_id, st),
        |ap AS MATERIALIZED (SELECT query_id, doc_id FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sum(CAST(s AS DECIMAL(27,12))) DESC, doc_id) AS rk
        |  FROM sca GROUP BY 1, 2) WHERE rk <= 5),
        |hits AS (SELECT ex.query_id, count(*) AS n_hit FROM ex
        |  SEMI JOIN ap ON ex.query_id = ap.query_id AND ex.doc_id = ap.doc_id GROUP BY 1)
        |SELECT qq.query_id, COALESCE(h.n_hit, 0) AS n_hit,
        |  round(COALESCE(h.n_hit, 0) / 5.0::DOUBLE, 6) AS recall
        |FROM (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id FROM q) qq
        |LEFT JOIN hits h ON qq.query_id = h.query_id""".stripMargin),

    // Extension: BLOCK-MAX pruned top-k — batch WAND/BMW: range-aligned
    // per-block score ceilings (a #terms × #ranges metadata frame) plus a
    // champion-derived threshold θ drop docid ranges that PROVABLY cannot
    // hold a top-5 document before any posting row is scored; the
    // surviving ranges score exactly, so the result is bit-identical to
    // the exhaustive ranking (the oracle — unlike champion lists, which
    // trade recall). The in-query assert proves ranges were actually
    // pruned; postings stage through scratch parquet so the probe frames
    // (df census, champion lists, block index, scoring) share one
    // tokenization pass, as a persisted index would.
    Query("text_invidx_blockmax", (s, dir) => {
      import s.implicits._
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      val (n, dl) = R.corpusStats(docs, "text")
      // One query mixes the corpus's RARE term (high idf) with common
      // ones — the shape block-max exists for: ranges without the rare
      // term bound far below θ and drop. The other two are common-only,
      // proving exactness when nothing can be pruned.
      val terms = Seq("dup", "spark", "table", "join", "filter",
        "vector", "stream", "hash")
      val post = stageScratch("bmx_postings", R.buildPostings(docs, "doc_id", "text")
        .filter(col("term").isin(terms: _*)))
      val queries = Seq(
        0L -> "dup", 0L -> "spark", 0L -> "table",
        1L -> "join", 1L -> "filter",
        2L -> "vector", 2L -> "stream", 2L -> "hash"
      ).toDF("query_id", "term")
      val W = 32L
      val bidx = R.blockIndex(post, n, dl, W)
      val surv = R.blockMaxSurvivors(post, bidx, queries, n, dl, k = 5)
      val candidates = bidx
        .join(queries.select(col("query_id"), col("term")).distinct(), "term")
        .select(col("query_id"), col("blk")).distinct().count()
      val kept = surv.count()
      require(kept < candidates,
        s"block-max must prune ranges: kept $kept of $candidates")
      R.bm25TopKBlockMax(post, queries, n, dl, k = 5, surv, W)
    },
      // Block-max pruning is EXACT by construction — the oracle is the
      // same exhaustive whole-corpus BM25 ranking as text_invidx_topk: the
      // pruned probe must reproduce it bit-for-bit at any pruning rate.
      s"""WITH q(query_id, term) AS (VALUES (0, 'dup'), (0, 'spark'), (0, 'table'),
        |  (1, 'join'), (1, 'filter'), (2, 'vector'), (2, 'stream'), (2, 'hash')),
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
        |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
        |  JOIN l ON tf.doc_id = l.doc_id, st),
        |ag AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
        |  sum(CAST(s AS DECIMAL(27,12))) AS sd FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rk FROM ag)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rk AS INTEGER) AS rank,
        |  n_terms_matched, round(CAST(sd AS DOUBLE), 6) AS bm25
        |FROM r WHERE rk <= 5""".stripMargin),

    // Extension: SUBSTRING SEARCH from a character-trigram index (the
    // pg_trgm / trigram code-search design): a LIKE '%spark table%'
    // answered by intersecting the pattern's trigram posting lists into
    // a candidate set and verifying ONLY candidates row-level — the
    // corpus is never scanned at query time. The in-query assert proves
    // the index actually pruned (candidates < corpus).
    Query("text_trigram_search", (s, dir) => {
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      val post = stageScratch("tri_postings", R.buildTrigramPostings(docs, "doc_id", "text"))
      val pattern = "spark table"
      val tris = pattern.sliding(3).toSeq.distinct
      val nCand = post.filter(col("tri").isin(tris: _*))
        .groupBy(col("id"))
        .agg(countDistinct(col("tri")).as("n"))
        .filter(col("n") === tris.size).count()
      val nDocs = docs.count()
      require(nCand < nDocs,
        s"trigram index must prune: $nCand candidates of $nDocs docs")
      R.substringSearch(post, docs, "doc_id", "text", pattern)
    },
      // The trigram-index search is exact: candidates that fail row-level
      // verification drop, so the result equals the plain LIKE scan.
      """SELECT doc_id,
        |  (len(text) - len(replace(text, 'spark table', ''))) // 11 AS n_hits
        |FROM documents WHERE text LIKE '%spark table%'""".stripMargin),

    // Extension: PHRASE QUERY from positional postings — "table hash"
    // matches where an occurrence of the first term is immediately
    // followed by the second, computed as an array intersection over the
    // stored token offsets of the two pruned posting lists. No text
    // rescan: the probe reads two term ranges and joins them on doc id.
    Query("text_invidx_phrase", (s, dir) => {
      val M = graft.sources.ManifestTable
      val R = graft.ops.Retrieval
      val corpusDir = fixDocsText(s, dir) // staged RO fixture, never mutated
      val v = M.currentVersion(s, corpusDir)
      val corpus = M.read(s, corpusDir)
      val out = scratch("retrp_index")
      commitInvIndex(s, "retrp_toks", corpus, out, corpusDir, v): Unit
      M.requireIndexFresh(s, out)
      val post = M.readWhereIn(s, out, "term", Seq("table", "hash"))
      R.phraseMatch(post, "table", "hash")
    },
      // Phrase match from token offsets: an occurrence of 'table' at p and
      // 'hash' at p+1 — the zipped-unnest position lists intersect exactly
      // like the Spark side's stored positional postings.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos FROM t),
        |a AS (SELECT doc_id, list(pos ORDER BY pos) AS pa FROM p WHERE term = 'table' GROUP BY 1),
        |b AS (SELECT doc_id, list(pos ORDER BY pos) AS pb FROM p WHERE term = 'hash' GROUP BY 1),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |m AS (SELECT a.doc_id, l.dl,
        |  CAST(len(list_intersect(list_transform(pa, x -> x + 1), pb)) AS INTEGER) AS n_phrase
        |  FROM a JOIN b ON a.doc_id = b.doc_id JOIN l ON a.doc_id = l.doc_id)
        |SELECT doc_id, dl, n_phrase FROM m WHERE n_phrase > 0""".stripMargin),

    // Extension: N-TERM phrase retrieval — the trigram "slow hash batch"
    // from the same positional postings: #terms lists equi-join on doc
    // id, one nested higher-order position test, never a text rescan.
    Query("text_invidx_phrase3", (s, dir) => {
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      // staged: phraseMatchAll equi-joins the lists per term, and each
      // join leg would otherwise re-tokenize the corpus (r14)
      R.phraseMatchAll(stageScratch("phrase3_post", R.buildPostings(docs, "doc_id", "text")
        .filter(col("term").isin("slow", "hash", "batch"))), Seq("slow", "hash", "batch"))
    },
      // The trigram re-derived with the zipped-unnest positions and the
      // same nested position test.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos FROM t),
        |a AS (SELECT doc_id, list(pos ORDER BY pos) AS p0 FROM p WHERE term = 'slow' GROUP BY 1),
        |b AS (SELECT doc_id, list(pos ORDER BY pos) AS p1 FROM p WHERE term = 'hash' GROUP BY 1),
        |c AS (SELECT doc_id, list(pos ORDER BY pos) AS p2 FROM p WHERE term = 'batch' GROUP BY 1),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |m AS (SELECT a.doc_id, l.dl,
        |  CAST(len(list_filter(p0, x ->
        |    len(list_filter(p1, y -> y = x + 1)) > 0 AND
        |    len(list_filter(p2, z -> z = x + 2)) > 0)) AS INTEGER) AS n_phrase
        |  FROM a JOIN b ON a.doc_id = b.doc_id JOIN c ON a.doc_id = c.doc_id
        |  JOIN l ON a.doc_id = l.doc_id)
        |SELECT doc_id, dl, n_phrase FROM m WHERE n_phrase > 0""".stripMargin),

    // Extension: ordered PROXIMITY retrieval — "table" followed by "hash"
    // within 3 tokens, counted per document from the stored positional
    // postings (nested higher-order functions over the offset arrays —
    // codegen'd, never a text rescan; phrase is the window=1 special
    // case). The posting read stays two terms' lists.
    Query("text_invidx_proximity", (s, dir) => {
      val R = graft.ops.Retrieval
      val docs = spread(s, table(s, dir, "documents").select("doc_id", "text"))
      R.proximityMatch(stageScratch("prox_post", R.buildPostings(docs, "doc_id", "text")
        .filter(col("term").isin("table", "hash"))), "table", "hash", window = 3)
    },
      // Proximity from the same position lists: nested list lambdas count
      // 'table' occurrences with a 'hash' within the 3-token window.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos FROM t),
        |a AS (SELECT doc_id, list(pos ORDER BY pos) AS pa FROM p WHERE term = 'table' GROUP BY 1),
        |b AS (SELECT doc_id, list(pos ORDER BY pos) AS pb FROM p WHERE term = 'hash' GROUP BY 1),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |m AS (SELECT a.doc_id, l.dl,
        |  CAST(len(list_filter(pa, x -> len(list_filter(pb, y -> y - x >= 1 AND y - x <= 3)) > 0)) AS INTEGER) AS n_near
        |  FROM a JOIN b ON a.doc_id = b.doc_id JOIN l ON a.doc_id = l.doc_id)
        |SELECT doc_id, dl, n_near FROM m WHERE n_near > 0""".stripMargin),

    // Extension: inter-document boilerplate fraction — per doc, the share
    // of its distinct shingles that are corpus-common (df > 10); the
    // cross-document repetition filter per-doc signals can't see.
    Query("text_boilerplate", (s, dir) =>
      graft.ops.Corpus.boilerplateFraction(
        table(s, dir, "documents"), "doc_id", "text"),
      // Same shingle construction as the MinHash oracle CTE (distinct
      // trigrams, short texts collapse to one whole-text shingle).
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, greatest(len(toks)-3, 0)), i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |dfc AS (SELECT s, count(*) AS df FROM e GROUP BY 1)
        |SELECT e.doc_id, count(*) AS n_shingles,
        |  count(*) FILTER (dfc.df > 10) AS n_common,
        |  round(count(*) FILTER (dfc.df > 10) / count(*), 6) AS common_frac
        |FROM e JOIN dfc USING (s) GROUP BY 1""".stripMargin),

    // Extension: PII scrubbing — redact emails / phone numbers / long digit
    // runs with per-document match counts; pure scan-side regexp
    // projections both engines interpret identically.
    Query("text_pii_scrub", (s, dir) =>
      graft.ops.Corpus.piiScrub(table(s, dir, "documents"), "doc_id", "text"),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
        |    '\d{4,}', '[NUM]', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '\d{4,}')) AS BIGINT) AS n_digit_runs
        |FROM documents""".stripMargin),

    // Extension: corpus-unigram LM scoring (add-one smoothing) — the cheap
    // gibberish/outlier quality signal; DECIMAL-routed sums keep the mean
    // log-prob independent of partial-aggregation order.
    Query("text_unigram_logprob", (s, dir) =>
      graft.ops.Corpus.unigramLogProb(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM c)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(CAST(ln((c.cnt + 1) / (tot.total + tot.vocab)) AS DECIMAL(27,12))) AS DOUBLE) / count(*), 6) AS avg_logprob
        |FROM t JOIN c USING (term) CROSS JOIN tot GROUP BY 1""".stripMargin),

    // Extension: Zipf rank-frequency fit — least-squares slope/intercept
    // of ln(freq) vs ln(rank) over the top-100 tokens, the corpus-health
    // check for templated/synthetic text (natural text ≈ slope −1). The
    // top-k cut is TakeOrderedAndProject; the regression runs over k rows.
    Query("text_zipf", (s, dir) =>
      graft.ops.Corpus.zipfFit(table(s, dir, "documents"), "text", 100),
      // ln values round-trip through DECIMAL(27,12) (canonicalized doubles,
      // order-independent sums — the unigram-LM recipe); products stay in
      // double because a (27,12)×(27,12) decimal multiply overflows width 38.
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
        |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 100),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM top),
        |l AS (SELECT
        |    CAST(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE) AS lx,
        |    CAST(CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE) AS ly
        |  FROM r),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(lx AS DECIMAL(27,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ly AS DECIMAL(27,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(lx * ly AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(lx * lx AS DECIMAL(27,12))) AS DOUBLE) AS sxx
        |  FROM l)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM s""".stripMargin),

    // Extension: Gopher-style repetition signals (top token/bigram
    // fractions, duplicate-trigram fraction) — the structural-quality
    // gates a corpus build runs before any model-based filtering.
    Query("text_repetition", (s, dir) =>
      graft.ops.Corpus.repetitionSignals(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, 1 AS n, unnest(toks) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, 2, unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])) FROM t
        |  UNION ALL
        |  SELECT doc_id, 3, unnest(list_transform(generate_series(1, len(toks)-2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) FROM t),
        |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id,
        |    sum(CASE WHEN n=1 THEN c END) AS n_tokens,
        |    max(CASE WHEN n=1 THEN c END) AS top1,
        |    sum(CASE WHEN n=2 THEN c END) AS tot2,
        |    max(CASE WHEN n=2 THEN c END) AS top2,
        |    sum(CASE WHEN n=3 THEN c END) AS tot3,
        |    count(CASE WHEN n=3 THEN 1 END) AS dist3
        |  FROM c GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(top1 / n_tokens, 6) AS top_token_frac,
        |  round(top2 / tot2, 6) AS top_bigram_frac,
        |  round((tot3 - dist3) / tot3, 6) AS dup_trigram_frac
        |FROM a""".stripMargin),

    // Extension: heavy hitters via the Misra-Gries sketch
    // (DataFrameStatFunctions.freqItems — constant memory, one pass; the
    // third sketch family next to HLL cardinality and GK quantiles).
    // Sketch contents are engine-specific, so the oracle gates the sketch
    // CONTRACT instead: every token above the exact support threshold must
    // be captured (emitted as a literal-true `in_sketch`).
    Query("text_heavy_hitters", (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(explode(graft.ops.TextFunctions.tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      val sketch = toks.stat.freqItems(Seq("token"), 0.01)
      counts.crossJoin(broadcast(total))
        .filter(col("cnt") > col("total") * 0.034)
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("cnt"),
          array_contains(col("token_freqItems"), col("token")).as("in_sketch"))
    },
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT token, cnt, true AS in_sketch FROM c, tot
        |WHERE cnt > total * 0.034""".stripMargin),

    // Extension: BPE merge induction — the first 12 byte-pair merges
    // learned from the corpus (one corpus aggregate, then vocab-sized
    // rounds; the merge table is the tokenizer artifact).
    // Extension: hashing-trick document embeddings — fixed-16-dim signed
    // bag-of-words with ZERO vocabulary state (feature hashing); integer
    // components, bit-reproducible norm. One doc-key shuffle with a fixed
    // agg width.
    Query("text_hash_embed", (s, dir) =>
      graft.ops.Corpus.hashedBowEmbed(
        table(s, dir, "documents"), "doc_id", "text", dim = 16),
      // Same hash60 md5-prefix arithmetic as the dedup family; components
      // are exact integer sums, the norm a deterministic sqrt.
      {
        val sums = (0 until 16).map(i =>
          s"COALESCE(sum(CASE WHEN slot=$i THEN sgn END),0) AS c$i").mkString(", ")
        val sq = (0 until 16).map(i => s"c$i*c$i").mkString(" + ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
           |s AS (SELECT doc_id,
           |  (('0x'||substr(md5(w),1,15))::UBIGINT)::BIGINT % 16 AS slot,
           |  CASE WHEN (('0x'||substr(md5('1:'||w),1,15))::UBIGINT)::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn
           |FROM t),
           |a AS (SELECT doc_id, count(*) AS n_tokens, $sums FROM s GROUP BY doc_id)
           |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  round(sqrt($sq), 6) AS l2_norm,
           |  CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
           |  CAST(c2 AS BIGINT) AS c2, CAST(c3 AS BIGINT) AS c3
           |FROM a""".stripMargin
      }),

    // Extension: BPE vocabulary drift — the first 12 merges trained
    // independently on the two corpus halves, aligned round by round;
    // the diff reviewed before shipping a retrained tokenizer.
    // The five text_bpe_* queries share the committed tokenizer registry
    // (loadBpeMerges) since r14: induction runs once per (corpus
    // version, slice) and every query pays application only. Oracles
    // still replay the induction in full — committed merges are
    // value-identical to inline training.
    Query("text_bpe_drift", (s, dir) =>
      graft.ops.Corpus.bpeVocabDriftWith(s,
        loadBpeMerges(s, dir, "even", col("doc_id") % 2 === 0),
        loadBpeMerges(s, dir, "odd", col("doc_id") % 2 === 1)),
      // Two independent 12-round inductions over the halves, aligned.
      {
        val aOut = (1 to 12).map(k =>
          s"SELECT $k AS merge_idx, a AS a_left, b AS a_right, CAST(cnt AS BIGINT) AS a_count FROM xap$k")
          .mkString("\nUNION ALL\n")
        val bOut = (1 to 12).map(k =>
          s"SELECT $k AS merge_idx, a AS b_left, b AS b_right, CAST(cnt AS BIGINT) AS b_count FROM xbp$k")
          .mkString("\nUNION ALL\n")
        s"""WITH ${bpeCtesFor("xa", " WHERE doc_id % 2 = 0")},
          |${bpeCtesFor("xb", " WHERE doc_id % 2 = 1")},
          |ma AS ($aOut),
          |mb AS ($bOut)
          |SELECT ma.merge_idx, ma.a_left, ma.a_right, ma.a_count,
          |  mb.b_left, mb.b_right, mb.b_count,
          |  (ma.a_left = mb.b_left AND ma.a_right = mb.b_right) AS same_pair
          |FROM ma JOIN mb ON ma.merge_idx = mb.merge_idx""".stripMargin
      }),

    Query("text_bpe_merges", (s, dir) => {
      import s.implicits._
      loadBpeMerges(s, dir, "full", lit(true))
        .toDF("merge_idx", "left_sym", "right_sym", "pair_count")
    },
      s"WITH $bpeChainSql"),

    // Extension: BPE segmentation — per-doc token counts under the
    // LEARNED merges; the rewrite chain runs once per distinct vocab
    // word and documents join the segmented vocab (broadcast), never
    // re-segmenting occurrences.
    Query("text_bpe_segment", (s, dir) =>
      graft.ops.Corpus.bpeSegmentWith(
        spread(s, table(s, dir, "documents")), "doc_id", "text",
        loadBpeMerges(s, dir, "full", lit(true))),
      s"WITH $bpeSegmentSql"),

    // Extension: the learned VOCABULARY with corpus frequencies — the
    // second shipped tokenizer artifact next to the merge table (what
    // token-budget planning, OOV analysis and embedding-table sizing
    // actually read).
    Query("text_bpe_vocab", (s, dir) =>
      graft.ops.Corpus.bpeVocabularyWith(
        spread(s, table(s, dir, "documents")), "text",
        loadBpeMerges(s, dir, "full", lit(true))),
      // The chain's w11 plus merge 12's replace pass = the fully-merged
      // frequency-weighted symbol stream; unnest and sum per token.
      {
        val rep12 = (1 to 6).foldLeft("s") { (e, _) =>
          s"replace($e, (SELECT '|'||a||'|'||b||'|' FROM p12), (SELECT '|'||a||b||'|' FROM p12))"
        }
        s"""WITH $bpeCtes,
          |fin AS (SELECT $rep12 AS s, n FROM w11)
          |SELECT token, CAST(sum(n) AS BIGINT) AS occurrences FROM (
          |  SELECT unnest(list_filter(string_split(s, '|'), x -> x != '')) AS token, n FROM fin)
          |GROUP BY token""".stripMargin
      }),

    // Extension: SHIPPED-TOKENIZER segmentation — train the merge table
    // on the even-doc_id half only, then segment the WHOLE corpus with
    // the shipped table (bpeSegmentWith: no retraining) — the production
    // shape, and the governance-relevant one: token budgets for new data
    // are only comparable when counted under the frozen production
    // tokenizer, not one retrained per batch.
    Query("text_bpe_apply", (s, dir) => {
      val docs = spread(s, table(s, dir, "documents"))
      val merges = loadBpeMerges(s, dir, "even", col("doc_id") % 2 === 0)
      graft.ops.Corpus.bpeSegmentWith(docs, "doc_id", "text", merges)
    },
      s"WITH $bpeApplySql"),

    // Extension: content-defined chunk dedup — shift-resistant
    // sub-document dup fractions (CDC boundaries where the 4-gram hash
    // ≡ 0 mod 16, so early insertions don't move later chunk
    // fingerprints the way they move every fixed-span gram).
    Query("text_cdc_dups", (s, dir) =>
      graft.ops.Corpus.cdcChunkDups(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks, list_transform(generate_series(0, len(toks)-4), i -> array_to_string(toks[i+1:i+4], ' ')) AS grams FROM t),
        |cu AS (SELECT doc_id, toks, list_filter(list_transform(generate_series(0, len(grams)-1), p ->
        |    CASE WHEN ('0x'||substr(md5(grams[p+1]),1,15))::UBIGINT % 16 = 0 THEN p + 3 ELSE -1 END), c -> c >= 0) AS cuts FROM g),
        |ch AS (SELECT doc_id, unnest(list_filter(list_transform(generate_series(1, len(cuts)+1), i ->
        |    array_to_string(toks[(CASE WHEN i = 1 THEN -1 ELSE cuts[i-1] END)+2 :
        |                         (CASE WHEN i <= len(cuts) THEN cuts[i] ELSE len(toks)-1 END)+1], ' ')), s -> s != '')) AS chunk FROM cu),
        |pd AS (SELECT doc_id, md5(chunk) AS fp, count(*) AS c FROM ch GROUP BY 1, 2),
        |tot AS (SELECT fp, sum(c) AS tot FROM pd GROUP BY 1),
        |s AS (SELECT pd.doc_id, sum(c) AS n_chunks,
        |    sum(CASE WHEN tot > c THEN c ELSE 0 END) AS n_dup
        |  FROM pd JOIN tot USING (fp) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(s.n_dup, 0) AS BIGINT) AS n_dup_chunks,
        |  round(CASE WHEN coalesce(s.n_chunks, 0) = 0 THEN 0.0
        |        ELSE s.n_dup / s.n_chunks END, 6) AS dup_chunk_frac
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin),

    // Extension: winnowing fingerprints (MOSS local fingerprinting) —
    // rightmost-minimum selection over a w=4 window of 3-gram hashes;
    // position-stable ~2/(w+1)-density sketch with the guaranteed-match
    // property for overlaps of w+k−1 tokens. Entirely row-local (rolling
    // min = shifted zip_with fold): one narrow projection, no shuffle.
    Query("text_winnowing", (s, dir) =>
      graft.ops.Corpus.winnowingFingerprints(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      // Same positional 3-gram hash60 arithmetic as the Spark side; the
      // rolling rightmost-minimum is replicated per window with
      // list_min + a rightmost list_filter/list_max argmax.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' ')) END AS grams FROM t),
        |h AS (SELECT doc_id, list_transform(grams, x -> (('0x'||substr(md5(x),1,15))::UBIGINT)::BIGINT) AS h FROM g),
        |n AS (SELECT doc_id, h, greatest(len(h) - 3, 1) AS nw FROM h),
        |sel AS (SELECT doc_id, h, nw, list_distinct(list_transform(generate_series(0, nw-1), i ->
        |    list_max(list_filter(generate_series(i, least(i+3, len(h)-1)), j -> h[j+1] = list_min(h[i+1:i+4]))))) AS pos FROM n)
        |SELECT doc_id, CAST(len(h) AS INTEGER) AS n_grams, CAST(len(pos) AS INTEGER) AS n_fps,
        |  CAST(list_reduce(list_prepend(0::BIGINT, list_transform(pos, p -> h[p+1])), (a,x) -> xor(a,x)) AS BIGINT) AS fp_xor,
        |  round(len(pos) / nw, 6) AS density
        |FROM sel""".stripMargin),

    // Extension: top-25 PMI collocations (bigrams whose parts rarely
    // occur apart) at minCount 5 — exact counts, canonicalized ln.
    Query("text_pmi", (s, dir) =>
      graft.ops.Corpus.pmiCollocations(spread(s, table(s, dir, "documents")), "text"),
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |u AS (SELECT unnest(toks) AS term FROM t),
        |c AS (SELECT term, count(*) AS cu FROM u GROUP BY 1),
        |n AS (SELECT sum(cu) AS ntok FROM c),
        |bg AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
        |cb AS (SELECT bg, count(*) AS n_pair FROM bg GROUP BY 1 HAVING count(*) >= 5),
        |j AS (SELECT cb.bg, cb.n_pair, c1.cu AS n_w1, c2.cu AS n_w2,
        |    round(CAST(CAST(ln(CAST(cb.n_pair AS DOUBLE) * CAST(n.ntok AS DOUBLE) / (CAST(c1.cu AS DOUBLE) * CAST(c2.cu AS DOUBLE))) AS DECIMAL(27,12)) AS DOUBLE), 6) AS pmi
        |  FROM cb CROSS JOIN n
        |  JOIN c c1 ON string_split(cb.bg, ' ')[1] = c1.term
        |  JOIN c c2 ON string_split(cb.bg, ' ')[2] = c2.term)
        |SELECT bg, CAST(n_pair AS BIGINT) AS n_pair, CAST(n_w1 AS BIGINT) AS n_w1,
        |  CAST(n_w2 AS BIGINT) AS n_w2, pmi
        |FROM j ORDER BY pmi DESC, bg LIMIT 25""".stripMargin),

    // Extension: per-doc token Shannon entropy — the cheap repetitiveness
    // quality screen (ln values canonicalized through DECIMAL so both
    // engines agree bit-for-bit).
    Query("text_entropy", (s, dir) =>
      graft.ops.Corpus.tokenEntropy(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
        |a AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
        |    CAST(SUM(CAST(c * CAST(CAST(ln(c) AS DECIMAL(27,12)) AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) AS s
        |  FROM c GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(nd AS BIGINT) AS n_distinct,
        |  round(CAST(CAST(ln(n) AS DECIMAL(27,12)) AS DOUBLE) - s / n, 6) AS entropy
        |FROM a""".stripMargin),

    // Extension: per-source distribution drift — Jensen–Shannon divergence
    // between each source's token distribution and the rest of the corpus
    // (bounded at ln 2; DECIMAL-canonicalized ln + DECIMAL-routed sums).
    Query("text_js_drift", (s, dir) =>
      graft.ops.Corpus.jsDivergenceBySource(
        spread(s, table(s, dir, "documents")), "text", "source"),
      // Same (source, term) counts; p/q ratios are IEEE double divisions of
      // exact longs, ln canonicalized through DECIMAL(27,12), contribution
      // sums DECIMAL-routed, and the absent-vocabulary side folded into the
      // same 0.5·ln2·(1−Σq) closed-form correction as the Spark side.
      """WITH t AS (SELECT source AS src, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |st AS (SELECT src, term, count(*) AS cs FROM t GROUP BY 1, 2),
        |tt AS (SELECT term, sum(cs) AS c_t FROM st GROUP BY 1),
        |stot AS (SELECT src, sum(cs) AS n_s FROM st GROUP BY 1),
        |nn AS (SELECT sum(n_s) AS n FROM stot),
        |j AS (SELECT st.src, st.cs, tt.c_t, s.n_s, nn.n
        |  FROM st JOIN tt USING (term) JOIN stot s ON st.src = s.src CROSS JOIN nn),
        |pq AS (SELECT src, n_s, n, c_t, cs,
        |    CAST(cs AS DOUBLE) / n_s AS p,
        |    CASE WHEN n > n_s THEN CAST(c_t - cs AS DOUBLE) / (n - n_s) ELSE 0.0 END AS q
        |  FROM j),
        |k AS (SELECT src, n_s, n, q,
        |    p * CAST(CAST(ln(2.0 * p / (p + q)) AS DECIMAL(27,12)) AS DOUBLE)
        |  + CASE WHEN c_t - cs > 0 THEN q * CAST(CAST(ln(2.0 * q / (p + q)) AS DECIMAL(27,12)) AS DOUBLE) ELSE 0.0 END AS contrib
        |  FROM pq),
        |a AS (SELECT src, CAST(MIN(n_s) AS BIGINT) AS n_tokens, MIN(n) AS n, count(*) AS n_terms,
        |    CAST(SUM(CAST(contrib * 0.5 AS DECIMAL(27,12))) AS DOUBLE) AS s_in,
        |    CAST(SUM(CAST(q AS DECIMAL(27,12))) AS DOUBLE) AS t_in
        |  FROM k GROUP BY 1)
        |SELECT src AS source, n_tokens, n_terms,
        |  round(s_in + CASE WHEN n > n_tokens
        |    THEN CAST(CAST(ln(2.0) AS DECIMAL(27,12)) AS DOUBLE) * 0.5 * (1.0 - t_in)
        |    ELSE 0.0 END, 6) AS jsd
        |FROM a""".stripMargin),

    // Extension: Heaps'-law vocabulary growth fit over 10 id-prefix
    // checkpoints (one term-ownership aggregate, no sequential scan) —
    // "is new data still adding new language?"
    Query("text_heaps_fit", (s, dir) =>
      graft.ops.Corpus.heapsFit(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      // One term-ownership aggregate + two checkpoint counts + the text_zipf
      // DECIMAL-canonicalized least-squares recipe.
      """WITH own AS (SELECT term, min(doc_id) AS first_id FROM
        |    (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents)
        |  GROUP BY 1),
        |mx AS (SELECT max(doc_id) AS mx FROM documents),
        |nd AS (SELECT i, sum(CASE WHEN doc_id <= mx.mx * i / 10 THEN 1 ELSE 0 END) AS n_docs
        |  FROM documents, mx, range(1, 11) r(i) GROUP BY 1),
        |nt AS (SELECT i, sum(CASE WHEN first_id <= mx.mx * i / 10 THEN 1 ELSE 0 END) AS n_terms
        |  FROM own, mx, range(1, 11) r(i) GROUP BY 1),
        |p AS (SELECT nd.n_docs, nt.n_terms FROM nd JOIN nt USING (i)
        |  WHERE nd.n_docs > 0 AND nt.n_terms > 0),
        |l AS (SELECT
        |    CAST(CAST(ln(CAST(n_docs AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE) AS lx,
        |    CAST(CAST(ln(CAST(n_terms AS DOUBLE)) AS DECIMAL(27,12)) AS DOUBLE) AS ly
        |  FROM p),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(lx AS DECIMAL(27,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ly AS DECIMAL(27,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(lx * ly AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(lx * lx AS DECIMAL(27,12))) AS DOUBLE) AS sxx
        |  FROM l)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS beta,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) + 0.0 AS ln_k
        |FROM s""".stripMargin),

    // Extension: Flesch readability profile — words, sentence runs,
    // vowel-group syllables, reading-ease score; three scan-side regex
    // projections, no shuffle.
    Query("text_readability", (s, dir) =>
      graft.ops.Corpus.readability(table(s, dir, "documents"), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INTEGER) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER) AS n_syllables,
        |  round(206.835
        |    - 1.015 * (len(string_split_regex(trim(text), '\s+')) / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |    - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+')) / len(string_split_regex(trim(text), '\s+'))), 6) AS flesch
        |FROM documents""".stripMargin),

    // Extension: novelty profile — per doc, the fraction of its 8-token
    // positions whose gram is INTRODUCED by this doc under id order (the
    // marginal-contribution ranking; dupSpanProfile's complement).
    Query("text_novelty", (s, dir) =>
      graft.ops.Corpus.noveltyProfile(
        spread(s, table(s, dir, "documents")), "doc_id", "text"),
      // The dup-spans CTE with min(doc_id) gram ownership instead of
      // recurrence totals.
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))) AS g FROM t),
        |pd AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |own AS (SELECT g, min(doc_id) AS first_id FROM pd GROUP BY 1),
        |s AS (SELECT pd.doc_id, sum(c) AS n_spans,
        |    sum(CASE WHEN own.first_id = pd.doc_id THEN c ELSE 0 END) AS n_novel
        |  FROM pd JOIN own USING (g) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(s.n_novel, 0) AS BIGINT) AS n_novel_spans,
        |  round(CASE WHEN coalesce(s.n_spans, 0) = 0 THEN 0.0
        |        ELSE s.n_novel / s.n_spans END, 6) AS novelty_frac
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin),

    // Extension: duplicated-span profile — per doc, the fraction of its
    // 8-token positions whose n-gram recurs elsewhere in the corpus (the
    // substring-dedup signal; set arithmetic on gram counts, no pairwise
    // doc comparison).
    Query("text_dup_spans", (s, dir) =>
      graft.ops.Corpus.dupSpanProfile(spread(s, table(s, dir, "documents")), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))) AS g FROM t),
        |pd AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT g, sum(c) AS tot FROM pd GROUP BY 1),
        |s AS (SELECT pd.doc_id, sum(c) AS n_spans,
        |    sum(CASE WHEN tot > c THEN c ELSE 0 END) AS n_dup
        |  FROM pd JOIN tot USING (g) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(s.n_dup, 0) AS BIGINT) AS n_dup_spans,
        |  round(CASE WHEN coalesce(s.n_spans, 0) = 0 THEN 0.0
        |        ELSE s.n_dup / s.n_spans END, 6) AS dup_span_frac
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin),

    // Extension: Count-Min sketch gate — top-20 tokens' exact counts next
    // to the md5-seeded CMS estimate with the structural n_cms >= n_true
    // gate; the portable hash family makes every cell oracle-replicable.
    Query("text_cms_gate", (s, dir) =>
      graft.ops.Corpus.cmsTopkGate(spread(s, table(s, dir, "documents")), "text"),
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS n_true FROM t GROUP BY 1),
        |jb AS (SELECT term, n_true, j,
        |    CAST((('0x' || substr(md5(j::VARCHAR || ':' || term), 1, 15))::UBIGINT % 256) AS BIGINT) AS b
        |  FROM c, range(4) r(j)),
        |cells AS (SELECT j, b, sum(n_true) AS cell FROM jb GROUP BY 1, 2),
        |e AS (SELECT jb.term, max(jb.n_true) AS n_true, min(cells.cell) AS n_cms
        |  FROM jb JOIN cells ON jb.j = cells.j AND jb.b = cells.b GROUP BY 1)
        |SELECT term, CAST(n_true AS BIGINT) AS n_true, CAST(n_cms AS BIGINT) AS n_cms,
        |  CAST(n_cms - n_true AS BIGINT) AS overest, n_cms >= n_true AS ok_ge
        |FROM e ORDER BY n_true DESC, term ASC LIMIT 20""".stripMargin),

    // Extension: nDCG@10 of the BM25 ranking vs term-frequency
    // pseudo-relevance — the graded retrieval-quality eval next to the
    // ANN tier's recall@k rows, over the established 3-query term set.
    // Gains are an exact integer map (no libm pow); the log2 discount
    // canonicalizes through DECIMAL like the BM25 idf.
    Query("text_ndcg", (s, dir) => {
      import s.implicits._
      val queries = Seq(0L -> "spark", 0L -> "table", 0L -> "window",
        1L -> "join", 1L -> "filter",
        2L -> "vector", 2L -> "stream", 2L -> "hash")
        .toDF("query_id", "term")
      graft.ops.Retrieval.ndcgAtK(
        spread(s, table(s, dir, "documents")), "doc_id", "text", queries,
        k = 10)
    },
      {
        val gainOf = (g: String) =>
          s"(CASE $g WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 END)"
        val logC = (x: String) => s"CAST(CAST(log2($x) AS DECIMAL(27,12)) AS DOUBLE)"
        s"""WITH q(query_id, term) AS (VALUES $invidxQueries3),
          |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
          |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
          |st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM l),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM
          |  (SELECT doc_id, unnest(toks) AS term FROM t)
          |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
          |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
          |sc AS (SELECT q.query_id, tf.doc_id, $invidxScoreSql
          |  FROM q JOIN tf ON q.term = tf.term JOIN dfq ON tf.term = dfq.term
          |  JOIN l ON tf.doc_id = l.doc_id, st),
          |ag AS (SELECT query_id, doc_id, sum(CAST(s AS DECIMAL(27,12))) AS sd FROM sc GROUP BY 1, 2),
          |r AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rk FROM ag),
          |rel AS (SELECT q.query_id, d.doc_id, least(3, count(*)) AS grade
          |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) d JOIN q ON q.term = d.term
          |  GROUP BY 1, 2),
          |dcg AS (SELECT r.query_id, sum(CAST(CAST(${gainOf("coalesce(rel.grade, 0)")} AS DOUBLE) / ${logC("r.rk + 1")} AS DECIMAL(27,12))) AS dcg_d
          |  FROM r LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
          |  WHERE r.rk <= 10 GROUP BY 1),
          |ir AS (SELECT query_id, grade, row_number() OVER (PARTITION BY query_id ORDER BY grade DESC, doc_id ASC) AS rn FROM rel),
          |idcg AS (SELECT query_id, sum(CAST(CAST(${gainOf("grade")} AS DOUBLE) / ${logC("rn + 1")} AS DECIMAL(27,12))) AS idcg_d
          |  FROM ir WHERE rn <= 10 GROUP BY 1),
          |qs AS (SELECT DISTINCT query_id FROM q)
          |SELECT CAST(qs.query_id AS BIGINT) AS query_id,
          |  round(coalesce(CAST(dcg_d AS DOUBLE), 0.0::DOUBLE), 6) AS dcg,
          |  round(coalesce(CAST(idcg_d AS DOUBLE), 0.0::DOUBLE), 6) AS idcg,
          |  round(CASE WHEN coalesce(idcg_d, 0) = 0 THEN 0.0::DOUBLE
          |    ELSE CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE) END, 6) AS ndcg
          |FROM qs LEFT JOIN dcg ON dcg.query_id = qs.query_id
          |LEFT JOIN idcg ON idcg.query_id = qs.query_id""".stripMargin
      })
  )
}
