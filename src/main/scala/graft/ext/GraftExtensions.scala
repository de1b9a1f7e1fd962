package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extension giving graft's codegen'd kernels SQL names. Install
  * with `spark.sql.extensions=graft.ext.GraftExtensions` — then
  * `graft_cosine(a, b)`, `graft_dot_double(a, b)`, `graft_minhash_sig(sh, k)`
  * and the other `graft_*` functions below resolve in SQL text and `expr`
  * strings. The graft.ops operators do not need it: they build each kernel
  * straight from its expression class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(
      name: String,
      arity: Int,
      build: Seq[Expression] => Expression
  ): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.ext.GraftExtensions", name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects exactly $arity arguments")
        build(args)
      })

  /** The value of an integer-literal argument; kernels take these as plain
    * `Int`s, fixed when the plan is built. */
  private def intLit(name: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name: $what must be an integer literal")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_json_get", 2, args => JsonGetSimple(args(0), args(1))))
    ext.injectFunction(fn("graft_md5hex", 1, args => Md5HexExpr(args(0))))
    ext.injectFunction(fn("graft_hash60_arr", 1, args => Hash60Array(args(0))))
    ext.injectFunction(fn("graft_dot_double", 2, args => DotProductDouble(args(0), args(1))))
    ext.injectFunction(fn("graft_cosine", 2, args => CosineSimilarity(args(0), args(1))))
    ext.injectFunction(fn("graft_simhash60", 1, args => SimHash60(args(0))))
    ext.injectFunction(fn("graft_shingles", 2, args =>
      ShinglesExpr(args(0), intLit("graft_shingles", "n", args(1)))))
    ext.injectFunction(fn("graft_grams", 2, args =>
      GramsAllExpr(args(0), intLit("graft_grams", "n", args(1)))))
    ext.injectFunction(fn("graft_minhash_sig", 2, args =>
      MinHashSig(args(0), intLit("graft_minhash_sig", "k", args(1)))))
    ext.injectFunction(fn("graft_lsh_bucket", 4, args => {
      def int(what: String, i: Int): Int = intLit("graft_lsh_bucket", what, args(i))
      SignLshBucket(args(0), int("planes", 1), int("dim", 2), int("firstPlane", 3))
    }))
  }
}
