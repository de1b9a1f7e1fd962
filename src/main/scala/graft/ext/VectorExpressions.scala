package graft.ext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

private[ext] trait FloatArrayArgs { self: BinaryExpression =>
  /** Accepts array<float> or array<double> per side. Floats are widened to
    * double exactly, so mixing sides (e.g. a float corpus vector against a
    * double k-means centroid literal) stays bit-identical to the
    * higher-order-function formulation, which casts every element to double
    * before multiplying. */
  def checkFloatArrays(name: String): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  /** Interpreted-mode element getter for a side. */
  protected def elemGetter(t: DataType): (ArrayData, Int) => Double =
    if (isFloat(t)) (a, i) => a.getFloat(i).toDouble else (a, i) => a.getDouble(i)
  /** Codegen element-read snippet for a side. */
  protected def elemCode(t: DataType, arr: String, idx: String): String =
    if (isFloat(t)) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
}

/** Codegen'd float-vector kernels.
  *
  * The composable route (`zip_with` + `aggregate`) is CodegenFallback: it
  * breaks whole-stage codegen and allocates an intermediate array per row.
  * These expressions generate a tight fused loop instead — the semantics
  * (strict left-to-right double accumulation; NULL for NULL inputs and for
  * mismatched lengths, where `zip_with`'s null-padding poisons the fold)
  * match the higher-order-function formulation bit for bit, so results are
  * interchangeable with [[graft.ops.Similarity.dotDouble]] / `cosine` and
  * with the DuckDB `list_reduce` oracle.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayArgs {

  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays(prettyName)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_double"

  @transient private lazy val getL = elemGetter(left.dataType)
  @transient private lazy val getR = elemGetter(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += getL(x, i) * getR(y, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: two kernels spliced into one codegen scope (e.g. a
      // projection computing several dot products) must not collide.
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotS")
      val i = ctx.freshName("dotI")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${elemCode(left.dataType, a, i)} * ${elemCode(right.dataType, b, i)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-LSH bucket id in one fused pass: all `planes` dot products against
  * the deterministic md5-parity hyperplanes (family
  * [[graft.ops.Similarity.hyperplaneSigns]], planes `firstPlane ..
  * firstPlane+planes-1`) are accumulated per plane in element order, so
  * every per-plane sum is bit-identical to a strict left fold of
  * [[graft.ops.Similarity.dotDouble]] against the plane and to the DuckDB
  * oracle's `list_reduce`. Built by [[graft.ops.Similarity.lshBucket]].
  *
  * A higher-order-function route evaluates `planes` interpreted
  * CodegenFallback folds per row (planes × dim element evals); this kernel
  * is one tight generated loop. NULL or wrong-length vectors map to bucket
  * -1, keeping the output NON-NULLABLE so the bucket equi-join can't
  * infer an IsNotNull constraint that would clone the whole computation
  * into a pre-exchange Filter. */
case class SignLshBucket(child: Expression, planes: Int, dim: Int, firstPlane: Int)
    extends UnaryExpression {

  require(planes > 0 && planes <= 30, "graft_lsh_bucket: planes must be in [1,30]")

  @transient private lazy val signs: Array[Array[Double]] = {
    val all = graft.ops.Similarity.hyperplaneSigns(firstPlane + planes, dim)
    (0 until planes).map(j => all(firstPlane + j).toArray).toArray
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${t.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lsh_bucket"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return -1
    val x = v.asInstanceOf[ArrayData]
    if (x.numElements() != dim) return -1
    var b = 0
    var j = 0
    while (j < planes) {
      val s = signs(j)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += x.getFloat(i).toDouble * s(i); i += 1 }
      if (acc >= 0.0) b |= 1 << j
      j += 1
    }
    b
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("lshSigns", signs, "double[][]")
    val c = child.genCode(ctx)
    val nullGuard = if (child.nullable) s"!${c.isNull} && " else ""
    val b = ctx.freshName("lshBits")
    val s = ctx.freshName("lshSgn")
    val acc = ctx.freshName("lshAcc")
    val i = ctx.freshName("lshI")
    val j = ctx.freshName("lshJ")
    ev.copy(
      code = code"""
        |${c.code}
        |int ${ev.value} = -1;
        |if ($nullGuard${c.value}.numElements() == $dim) {
        |  int $b = 0;
        |  for (int $j = 0; $j < $planes; $j++) {
        |    double[] $s = $signsRef[$j];
        |    double $acc = 0.0;
        |    for (int $i = 0; $i < $dim; $i++) {
        |      $acc += (double) ${c.value}.getFloat($i) * $s[$i];
        |    }
        |    if ($acc >= 0.0) $b |= 1 << $j;
        |  }
        |  ${ev.value} = $b;
        |}
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass cosine similarity: accumulates dot(a,b), |a|² and |b|² in a
  * single fused loop (the HOF formulation needs three passes). Each sum is
  * sequentially accumulated exactly like the three-pass version, so the
  * result is bit-identical. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayArgs {

  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays(prettyName)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  @transient private lazy val getL = elemGetter(left.dataType)
  @transient private lazy val getR = elemGetter(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = getL(x, i)
      val yv = getR(y, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: two kernels spliced into one codegen scope must not
      // collide (observed as "Redefinition of local variable" fallback).
      val n = ctx.freshName("cosN")
      val dot = ctx.freshName("cosDot")
      val na = ctx.freshName("cosNa")
      val nb = ctx.freshName("cosNb")
      val i = ctx.freshName("cosI")
      val xv = ctx.freshName("cosX")
      val yv = ctx.freshName("cosY")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = ${elemCode(left.dataType, a, i)};
         |    double $yv = ${elemCode(right.dataType, b, i)};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
