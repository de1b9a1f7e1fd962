package graft.ops

import graft.ext.{GramsAllExpr, Hash60Array, JsonGetSimple, Md5HexExpr, ShinglesExpr}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanAccess.{column, expression}
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is a Catalyst expression that inlines into whole-stage
  * codegen — Spark SQL built-ins, or one of the graft.ext kernels built
  * straight from its expression class — so the functions scale linearly with
  * the scan. Hashes are md5-derived so a DuckDB oracle can replicate them
  * bit-for-bit (`('0x' || substr(md5(s),1,15))::UBIGINT`).
  *
  * PERFORMANCE INVARIANT (applies to every function in graft.ops): Spark
  * higher-order functions are CodegenFallback and re-evaluate any
  * non-lambda subtree embedded in a lambda BODY once per element. Heavy
  * arrays must therefore only ever appear in HOF *argument* position
  * (evaluated once per row), so cost stays O(n·m) per row even if the
  * optimizer inlines a whole chain into one projection.
  */
object TextFunctions {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Lowercased, whitespace-collapsed canonical form for fingerprinting. */
  def normalized(text: Column): Column = regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Deterministic document fingerprint: md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5Hex(normalized(text))

  /** Lowercase md5 hex via the graft_md5hex kernel: identical output to the
    * built-in `md5()`, but no per-row `MessageDigest.getInstance`/ThreadLocal
    * acquisition (see graft.ext.HashKernels.md5Hex). */
  def md5Hex(c: Column): Column = column(Md5HexExpr(expression(c)))

  /** Per-element [[hash60]] of a token array, one digest per element
    * (graft_hash60_arr kernel). */
  def hash60Arr(toks: Column): Column = column(Hash60Array(expression(toks)))

  /** Portable 60-bit hash: first 15 hex chars of md5, as a positive Long.
    * 60 bits keeps it inside a signed 64-bit range on every engine. */
  def hash60(c: Column): Column = conv(substr(md5(c), lit(1), lit(15)), 16, 10).cast("long")

  /** Seeded hash family for MinHash: h_k(s) = hash60(k ++ ":" ++ s). */
  def hash60(c: Column, seed: Int): Column = hash60(concat(lit(s"$seed:"), c))

  /** Distinct word n-gram shingles in order of first occurrence; texts
    * shorter than n tokens collapse to one whole-text shingle
    * (graft_shingles kernel: one array build per row). */
  def shingles(toks: Column, n: Int): Column = column(ShinglesExpr(expression(toks), n))

  /** ALL word n-gram positions in order, duplicates kept — repetition
    * counters need multiplicity, unlike the distinct [[shingles]]. Texts
    * shorter than n tokens yield an EMPTY array (there is no full n-gram),
    * not a whole-text collapse (graft_grams kernel). */
  def gramsAll(toks: Column, n: Int): Column = column(GramsAllExpr(expression(toks), n))

  /** Top-level scalar JSON extraction by a string-scan kernel (no per-row
    * Jackson parser / ThreadLocal buffer acquisition — see
    * graft.ext.JsonKernels, which also notes where it differs from
    * `get_json_object`: numbers come back as written). */
  def jsonGet(json: Column, key: String): Column =
    column(JsonGetSimple(expression(json), expression(lit(key))))

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
