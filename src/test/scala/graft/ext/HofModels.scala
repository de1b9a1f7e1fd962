package graft.ext

import graft.ops.Similarity.{dotDouble, hyperplaneSigns}
import graft.ops.TextFunctions.hash60
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference models of the graft.ext kernels, written with Spark's built-in
  * higher-order functions only. Each is an independent formulation of the
  * same semantics, and ExtSpec pins every production kernel to its model
  * bit for bit. Heavy arrays appear only in HOF argument position (see the
  * performance invariant in graft.ops.TextFunctions).
  */
object HofModels {

  /** Cosine as three strict left folds in double precision. */
  def cosine(a: Column, b: Column): Column =
    dotDouble(a, b) / (sqrt(dotDouble(a, a)) * sqrt(dotDouble(b, b)))

  /** Sign-LSH bucket: bit j set iff dot(v, plane_{firstPlane+j}) >= 0; NULL
    * and wrong-length vectors map to bucket -1. */
  def lshBucket(vec: Column, planes: Int, dim: Int, firstPlane: Int = 0): Column = {
    val signs = hyperplaneSigns(firstPlane + planes, dim)
    val bits = (0 until planes).map { j =>
      when(dotDouble(vec, typedlit(signs(firstPlane + j))) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    coalesce(when(vec.isNotNull && size(vec) === dim, bits), lit(-1))
  }

  /** Sliding n-grams as a chain of shifted `zip_with`s — no lambda body
    * references anything but its own variables. */
  private def joinedGrams(toks: Column, n: Int): Column =
    (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }

  /** Distinct word n-gram shingles; texts shorter than n tokens collapse to
    * one whole-text shingle. */
  def shingles(toks: Column, n: Int): Column = {
    val full = slice(joinedGrams(toks, n), lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(full))
  }

  /** ALL word n-gram positions, duplicates kept; texts shorter than n tokens
    * yield an empty array. */
  def gramsAll(toks: Column, n: Int): Column =
    slice(joinedGrams(toks, n), lit(1), greatest(size(toks) - (n - 1), lit(0)))

  /** 28-bit hash from md5 hex chars [off+1, off+7]. */
  private def hash28(c: Column, off: Int): Column =
    conv(substr(md5(c), lit(off + 1), lit(7)), 16, 10).cast("long")

  /** MinHash signature: per-shingle [h1,h2] pairs, then an element-wise
    * running minimum of h1 + i*h2 — a single left fold. */
  def minhashSignature(shingleSet: Column, k: Int): Column = {
    val seeds = typedlit((0 until k).map(_.toLong))
    val pairs = transform(shingleSet, s => array(hash28(s, 0), hash28(s, 7)))
    aggregate(
      pairs,
      array_repeat(lit(Long.MaxValue), k),
      (acc, p) => zip_with(acc, seeds,
        (a, i) => least(a, element_at(p, 1) + i * element_at(p, 2))))
  }

  /** 60-bit SimHash over the token multiset, 0 for a null input. Two left
    * folds: token hashes → per-bit counts (zip_with against the literal
    * power array), then counts → bit field. */
  def simhash(toks: Column): Column = {
    val powers = typedlit((0 until 60).map(1L << _))
    val th     = transform(toks, hash60(_))
    val counts = aggregate(th, array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, powers,
        (c, p) => c + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(0L)))
    coalesce(
      aggregate(
        zip_with(counts, powers, (c, p) => when(c * 2 >= size(toks), p).otherwise(lit(0L))),
        lit(0L), _ + _),
      lit(0L))
  }
}
