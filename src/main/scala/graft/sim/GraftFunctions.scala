package graft.sim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, functions => F}

/** The one input contract of graft's vector expressions ([[DotProductExpr]],
  * [[SqDistExpr]], `graft.score.ArrayScoreExpr`): every argument is an
  * `array<float|double>` with non-null elements, read as doubles (a
  * float widens exactly).
  */
object FloatArrays {

  def check(fn: String, args: Expression*): TypeCheckResult =
    if (args.forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<float|double> inputs, got " +
        args.map(_.dataType.catalogString).mkString(", "))

  def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Element `i` as a double. */
  def at(a: ArrayData, float: Boolean, i: Int): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  /** Generated-code twin of [[at]] for the array variable `arr`. */
  def genAt(e: Expression, arr: String, i: String): String =
    if (isFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  /** The row as one fresh `double[]`: a bulk copy, or one widening pass
    * over the floats. Interpreted and generated code both call it. */
  def toDoubles(a: ArrayData, float: Boolean): Array[Double] =
    if (!float) a.toDoubleArray()
    else {
      val d = new Array[Double](a.numElements())
      var i = 0
      while (i < d.length) { d(i) = a.getFloat(i).toDouble; i += 1 }
      d
    }
}

/** A sequential left-to-right double fold Σ term(xᵢ, yᵢ) over the first
  * min(|a|, |b|) elements of two array columns, with whole-stage codegen.
  *
  * Why a custom Expression: `aggregate(zip_with(a, b, …), 0.0, _+_)` is
  * semantically identical but interpreted — each element evaluation
  * walks a lambda closure with boxing (~100 ns/element). At sf0.1 the
  * all-pairs cosine stage spent 24 s there; the generated loop runs the
  * same 2M×64 multiply-adds in under a second. Summation order is the
  * same left-to-right fold, so for same-length vectors results are
  * bitwise identical to the higher-order forms in [[VectorMath]] AND to
  * the DuckDB oracle's `list_reduce`.
  *
  * A null array yields null via BinaryExpression's null-intolerant
  * contract.
  */
sealed abstract class VecFoldExpr extends BinaryExpression {

  /** The SQL name type errors report. */
  protected def fn: String

  protected def term(x: Double, y: Double): Double

  /** Java source of [[term]] over two double locals. */
  protected def genTerm(x: String, y: String): String

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    FloatArrays.check(fn, left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = FloatArrays.isFloat(left)
    val rf = FloatArrays.isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += term(FloatArrays.at(x, lf, i), FloatArrays.at(y, rf, i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${FloatArrays.genAt(left, a, i)};
         |  double $y = ${FloatArrays.genAt(right, b, i)};
         |  $s += ${genTerm(x, y)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** Dot product Σ xᵢ·yᵢ of two array columns. */
case class DotProductExpr(left: Expression, right: Expression)
    extends VecFoldExpr {

  protected def fn: String = "graft_dot"

  protected def term(x: Double, y: Double): Double = x * y

  protected def genTerm(x: String, y: String): String = s"$x * $y"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance Σ(xᵢ−yᵢ)² of two array columns — bitwise
  * identical to [[KMeans.Model.assign]]'s inner loop (the dual-path q198
  * audit pins that agreement) and to the interpreted
  * `aggregate(zip_with(a, b, (x,y) => (x−y)²), 0.0, _+_)` it replaces,
  * which cost ~24 s at the 10× ScaleAb point (142 centers × 64 dims ×
  * 20k rows of boxed lambda evaluation). */
case class SqDistExpr(left: Expression, right: Expression)
    extends VecFoldExpr {

  protected def fn: String = "graft_sqdist"

  protected def term(x: Double, y: Double): Double = { val d = x - y; d * d }

  protected def genTerm(x: String, y: String): String = s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

/** graft's native functions, one Column constructor each. A constructor
  * registers its function on the active session before it returns the
  * call, so no caller registers anything. Registration is idempotent and
  * quiet: a function is created only when absent, so Spark never
  * replaces a builder and never logs the replacement.
  */
object GraftFunctions {

  private def call(name: String, arity: Int, args: Column*)(
      build: Seq[Expression] => Expression): Column = {
    val reg = SparkSession.active.sessionState.functionRegistry
    synchronized {
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, { e: Seq[Expression] =>
          require(e.length == arity, s"$name takes $arity argument(s)")
          build(e)
        }, "built-in")
    }
    F.call_function(name, args: _*)
  }

  /** Codegen'd dot product. */
  def dot(a: Column, b: Column): Column =
    call("graft_dot", 2, a, b)(e => DotProductExpr(e(0), e(1)))

  /** Codegen'd squared L2 norm. */
  def norm2(a: Column): Column = dot(a, a)

  /** Codegen'd sequential Σ(x−y)². */
  def sqDist(a: Column, b: Column): Column =
    call("graft_sqdist", 2, a, b)(e => SqDistExpr(e(0), e(1)))

  /** Codegen'd polynomial string hash. */
  def strHash(c: Column, seed: Long): Column =
    call("graft_strhash", 2, c, F.lit(seed))(e => StrHashExpr(e(0), e(1)))

  /** Codegen'd MinHash signature over a shingle-array column. */
  def minhashSig(shingles: Column, k: Int): Column =
    call("graft_minhash", 2, shingles, F.lit(k))(e => MinHashSigExpr(e(0), e(1)))

  /** Sortable-bits image of a double column ([[graft.core.SortableBitsExpr]]). */
  def dbits(c: Column): Column =
    call("graft_dbits", 1, c)(e => graft.core.SortableBitsExpr(e.head))
}
