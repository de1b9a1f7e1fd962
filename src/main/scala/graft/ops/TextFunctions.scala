package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is built from codegen'd Spark SQL built-ins — no UDFs, no
  * codegen fences — so the expressions inline into whole-stage codegen and
  * scale linearly with the scan. Hashes are md5-derived so a DuckDB oracle
  * can replicate them bit-for-bit (`('0x' || substr(md5(s),1,15))::UBIGINT`).
  */
object TextFunctions {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Lowercased, whitespace-collapsed canonical form for fingerprinting. */
  def normalized(text: Column): Column = regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Deterministic document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** md5-hex dispatch: the graft_md5hex kernel when the session extension is
    * installed (identical output to the built-in `md5()`, but no per-row
    * `MessageDigest.getInstance`/ThreadLocal acquisition — see
    * graft.ext.HashKernels.md5Hex), else the built-in. */
  def md5For(spark: org.apache.spark.sql.SparkSession)(c: Column): Column =
    if (spark.catalog.functionExists("graft_md5hex")) call_function("graft_md5hex", c)
    else md5(c)

  /** fingerprint via the kernel-dispatched md5 — output-identical. */
  def fingerprintFor(spark: org.apache.spark.sql.SparkSession)(text: Column): Column =
    md5For(spark)(normalized(text))

  /** Per-element hash60 dispatch: graft_hash60_arr kernel when installed,
    * else `transform(toks, hash60)` (interpreted, one digest per element). */
  def hash60ArrFor(spark: org.apache.spark.sql.SparkSession)(toks: Column): Column =
    if (spark.catalog.functionExists("graft_hash60_arr"))
      call_function("graft_hash60_arr", toks)
    else transform(toks, hash60(_))

  /** Portable 60-bit hash: first 15 hex chars of md5, as a positive Long.
    * 60 bits keeps it inside a signed 64-bit range on every engine. */
  def hash60(c: Column): Column = conv(substr(md5(c), lit(1), lit(15)), 16, 10).cast("long")

  /** Seeded hash family for MinHash: h_k(s) = hash60(k ++ ":" ++ s). */
  def hash60(c: Column, seed: Int): Column = hash60(concat(lit(s"$seed:"), c))

  /** Distinct word n-gram shingles; texts shorter than n tokens collapse to
    * one whole-text shingle.
    *
    * PERFORMANCE INVARIANT (applies to every function in graft.ops): Spark
    * higher-order functions are CodegenFallback and re-evaluate any
    * non-lambda subtree embedded in a lambda BODY once per element. Heavy
    * arrays must therefore only ever appear in HOF *argument* position
    * (evaluated once per row). This implementation builds the sliding
    * n-grams as a chain of shifted `zip_with`s — no lambda body references
    * anything but its own variables — so cost stays O(n·m) per row even if
    * the optimizer inlines the whole chain into one projection. */
  def shingles(toks: Column, n: Int): Column = {
    val joined = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    val full = slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(full))
  }

  /** ALL word n-gram positions in order, duplicates kept — repetition
    * counters need multiplicity, unlike the distinct [[shingles]]. Texts
    * shorter than n tokens yield an EMPTY array (there is no full n-gram),
    * not a whole-text collapse. Same shifted-`zip_with` chain as
    * [[shingles]], so the performance invariant above holds: heavy arrays
    * appear only in HOF argument position. */
  def gramsAll(toks: Column, n: Int): Column = {
    val joined = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    slice(joined, lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** Kernel dispatch for [[gramsAll]]: the codegen'd graft_grams when the
    * session extension is installed (one array build instead of the inlined
    * zip_with chain), else the portable HOF form — output-identical. */
  def gramsAllFor(spark: org.apache.spark.sql.SparkSession)(toks: Column, n: Int): Column =
    if (spark.catalog.functionExists("graft_grams"))
      call_function("graft_grams", toks, lit(n))
    else gramsAll(toks, n)

  /** Kernel dispatch: the codegen'd graft_shingles when the session
    * extension is installed (identical output, and a few hundred bytes of
    * generated code instead of the huge inlined zip_with chain — first-run
    * Janino compilation of the HOF form dominated cold query times), else
    * the portable HOF formulation above. */
  def shinglesFor(spark: org.apache.spark.sql.SparkSession)(toks: Column, n: Int): Column =
    if (spark.catalog.functionExists("graft_shingles"))
      call_function("graft_shingles", toks, lit(n))
    else shingles(toks, n)

  /** Top-level scalar JSON extraction: the codegen'd string-scan kernel when
    * the session extension is installed (no per-row Jackson parser /
    * ThreadLocal buffer acquisition — see graft.ext.JsonKernels), else
    * `get_json_object`. Identical output on flat scalar JSON. */
  def jsonGetFor(spark: org.apache.spark.sql.SparkSession)(json: Column, key: String): Column =
    if (spark.catalog.functionExists("graft_json_get"))
      call_function("graft_json_get", json, lit(key))
    else get_json_object(json, s"$$.$key")

  /** BPE-ish subword tokens: letter runs, digit runs, and single
    * non-alphanumeric marks — the pre-tokenization split a byte-pair
    * encoder starts from. Pure regex, portable across engines. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Tokens that appear in a fixed marker list (with duplicates). */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Per-language marker words for the n-gram language-ID heuristic.
    * Order is the tie-break priority. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas"),
    "es" -> Seq("el", "los", "las", "y", "es", "no"),
    "zh" -> Seq("的", "是", "不", "了", "在")
  )

  /** Language-ID: argmax of marker-word counts with fixed priority order;
    * "und" when no marker matches. */
  def langId(toks: Column): Column = {
    val scores   = langMarkers.map { case (lang, ms) => lang -> markerCount(toks, ms) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s >= maxScore && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Stopword list for quality scoring (English-ish; the scoring only needs
    * determinism, not linguistic perfection). */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "this")

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  def stopwordCount(toks: Column): Column = markerCount(toks, stopwords)

  /** Composite quality score in [0,1]: length saturation + low punctuation +
    * stopword presence. The exact arithmetic (operand order included) is
    * mirrored by the DuckDB oracle, so keep it stable. */
  def qualityScore(text: Column, toks: Column): Column = {
    val nChars   = greatest(length(text), lit(1))
    val nTokens  = greatest(size(toks), lit(1))
    val lenScore = least(size(toks) / lit(100.0), lit(1.0))
    val punctOk  = lit(1.0) - punctCount(text) / nChars
    val stopFrac = stopwordCount(toks) / nTokens
    lenScore * 0.4 + punctOk * 0.3 + stopFrac * 0.3
  }
}
