package graft.ext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels shared by interpreted eval and generated code.
  *
  * Semantics are locked to the md5-derived portable family used across the
  * engine and the DuckDB oracle:
  *   hash60(s)   = first 15 hex chars of md5(s) as a long
  *   h1(s)/h2(s) = hex chars [1,7] / [8,14] of md5(s) (28 bits each)
  *   minhash_i   = min over shingles of h1 + i*h2  (Kirsch-Mitzenmacher —
  *                 one md5 per shingle instead of one per (shingle, seed))
  *   simhash60 bit i = set iff >= half the token hashes have bit i set
  *
  * Hot-path hygiene (these run once per shingle at 100 TB):
  *   - digests come from cloning a pre-initialized template, not
  *     `MessageDigest.getInstance` — getInstance consults the security
  *     provider list through a per-call `ThreadLocal.get`, which both costs
  *     per row and degrades badly on threads with polluted ThreadLocalMaps;
  *   - h1/h2/hash60 are read directly from the digest bytes (the top 16
  *     hex chars are the top 8 bytes big-endian), no hex string, no
  *     `Long.parseLong`, no `java.util.Formatter`.
  */
object HashKernels {

  private val md5Template = java.security.MessageDigest.getInstance("MD5")

  private def md5Prefix64(s: UTF8String): Long = {
    val d = md5Template.clone().asInstanceOf[java.security.MessageDigest].digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** First 15 hex chars of md5 as a long (60 bits). */
  def hash60(s: UTF8String): Long = md5Prefix64(s) >>> 4

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Lowercase 32-char md5 hex — same output as Spark's built-in `md5()`,
    * without its per-call `MessageDigest.getInstance` (a ThreadLocal read
    * through `java.security.Providers` on every row). */
  def md5Hex(s: UTF8String): UTF8String = {
    val d = md5Template.clone().asInstanceOf[java.security.MessageDigest].digest(s.getBytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** hash60 over an array of strings (null elements hash to null). */
  def hash60Array(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (arr.isNullAt(i)) null else hash60(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  val emptyArray: ArrayData = new GenericArrayData(Array.empty[Any])

  /** MinHash signature over shingle strings: k values h1 + i*h2, min-ed. */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val prefix = md5Prefix64(shingles.getUTF8String(j))
      val h1 = prefix >>> 36            // hex chars [0,7)
      val h2 = (prefix >>> 8) & 0xFFFFFFFL // hex chars [7,14)
      var i = 0
      while (i < k) {
        val h = h1 + i * h2
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** Distinct word n-gram shingles (first-occurrence order); fewer than n
    * tokens collapse to one whole-text shingle. The kernel behind
    * [[graft.ops.TextFunctions.shingles]]. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val m   = toks.numElements()
    val sep = UTF8String.fromString(" ")
    val out = new java.util.LinkedHashSet[UTF8String]
    if (m < n) {
      val parts = new Array[UTF8String](m)
      var i = 0
      while (i < m) { parts(i) = toks.getUTF8String(i); i += 1 }
      out.add(UTF8String.concatWs(sep, parts: _*))
    } else {
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i <= m - n) {
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        out.add(UTF8String.concatWs(sep, parts: _*))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** ALL word n-gram positions, duplicates kept; fewer than n tokens give
    * an EMPTY array (note the divergence from [[shingles]], which collapses
    * short texts to one whole-text shingle). A null token poisons its grams
    * to null, like `concat` in a `zip_with` chain. The kernel behind
    * [[graft.ops.TextFunctions.gramsAll]]. */
  def gramsAll(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return emptyArray
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](m - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var j = 0
      var hasNull = false
      while (j < n) {
        if (toks.isNullAt(i + j)) hasNull = true
        else parts(j) = toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = if (hasNull) null else UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit SimHash from precomputed token hashes. */
  def simhash60(th: ArrayData): Long = {
    val n = th.numElements()
    val counts = new Array[Int](60)
    var j = 0
    while (j < n) {
      val h = th.getLong(j)
      var i = 0
      while (i < 60) { if (((h >>> i) & 1L) != 0L) counts(i) += 1; i += 1 }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 60) { if (2 * counts(i) >= n) out |= (1L << i); i += 1 }
    out
  }
}

/** `graft_md5hex(s)`: lowercase md5 hex, output-identical to the built-in
  * `md5()` but with no per-row `MessageDigest.getInstance`/ThreadLocal
  * acquisition. Null-propagating. */
case class Md5HexExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_md5hex"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.md5Hex(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.HashKernels.md5Hex($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_hash60_arr(tokens)`: per-element 60-bit md5 hash as array<bigint>.
  * Equivalent to `transform(tokens, t -> hash60(t))` but codegen'd and free
  * of per-element digest/ThreadLocal acquisition. Null-propagating; null
  * elements map to null. */
case class Hash60Array(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_hash60_arr"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.hash60Array(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.HashKernels.hash60Array($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_minhash_sig(shingles, k)`: MinHash signature as array<bigint>.
  * Null-propagating: NULL shingles give NULL, like the higher-order-function
  * fold it is tested against. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashSig(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.HashKernels.minhashSig($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_shingles(tokens, n)`: distinct word n-grams as array<string>.
  * Null-propagating. Built by [[graft.ops.TextFunctions.shingles]]. */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.shingles(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.HashKernels.shingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_grams(tokens, n)`: ALL word n-gram positions (duplicates kept;
  * shorter-than-n input gives an empty array) as array<string>.
  * Null-propagating. Built by [[graft.ops.TextFunctions.gramsAll]]. */
case class GramsAllExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_grams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.gramsAll(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.HashKernels.gramsAll($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_simhash60(token_hashes)`: 60-bit SimHash as bigint.
  * Null-propagating; call sites that use it as a join key wrap it in
  * `coalesce(_, 0)` (see `Dedup.simhash`), keeping the key non-nullable so
  * constraint pushdown can't clone the hash below the exchange. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.simhash60(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.HashKernels.simhash60($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
