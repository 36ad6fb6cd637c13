package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math over array<float> /
  * array<double> columns.
  *
  * Why not `zip_with`/`aggregate` (see graft.functions.VectorFunctions's
  * original formulation): higher-order functions are CodegenFallback and
  * pay interpreted-dispatch PER ELEMENT — ~1k object allocations and
  * virtual calls per 64-dim cosine. These expressions participate in
  * whole-stage codegen: the generated code makes ONE static call per row
  * into a precompiled primitive loop ([[VectorOps]]), so there is no
  * boxing, no interpreted dispatch, and the stage pipeline stays fused.
  */
object VectorExpressions {

  @inline private[expressions] def elemAt(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  private[expressions] def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private[expressions] def checkVec(dt: DataType, side: String) = dt match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$side must be array<float> or array<double>, got ${other.simpleString(10)}")
  }
}

/** Base for binary double-valued vector expressions dispatching to a
  * [[VectorOps]] static loop (shared eval + codegen plumbing).
  */
abstract class BinaryVectorOp extends BinaryExpression {
  import VectorExpressions._

  /** VectorOps method name — must take (ArrayData, ArrayData, boolean, boolean). */
  protected def opName: String

  protected def op(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean): Double

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    val l = checkVec(left.dataType, "left")
    if (l.isFailure) l else checkVec(right.dataType, "right")
  }
  @transient protected lazy val lf = isFloatArray(left.dataType)
  @transient protected lazy val rf = isFloatArray(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any =
    op(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.VectorOps.$opName($a, $b, $lf, $rf);")
}

/** Cosine similarity in one pass (dot and both norms in a single loop);
  * 0.0 for zero vectors; null if either side is null. Dimensions compared
  * up to the shorter length.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryVectorOp {
  override protected def opName = "cosine"
  override protected def op(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean) =
    VectorOps.cosine(a, b, lf, rf)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Dot product (computed in double). */
case class DotProduct(left: Expression, right: Expression) extends BinaryVectorOp {
  override protected def opName = "dot"
  override protected def op(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean) =
    VectorOps.dot(a, b, lf, rf)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Euclidean (L2) distance. */
case class L2Distance(left: Expression, right: Expression) extends BinaryVectorOp {
  override protected def opName = "l2dist"
  override protected def op(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean) =
    VectorOps.l2dist(a, b, lf, rf)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** L2 norm. */
case class L2Norm(child: Expression) extends UnaryExpression {
  import VectorExpressions._
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = checkVec(child.dataType, "child")
  @transient private lazy val cf = isFloatArray(child.dataType)

  override def nullSafeEval(v: Any): Any = VectorOps.l2norm(v.asInstanceOf[ArrayData], cf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.expressions.VectorOps.l2norm($a, $cf);")

  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Random-hyperplane LSH: a Long whose low `nBits` bits are the signs of
  * the vector's projections onto `nBits` deterministic pseudo-random
  * hyperplanes (plane p, coordinate j derived from splitmix64(p·D + j),
  * mapped to [-1, 1] — no RNG state, reproducible on any cluster). Vectors
  * at small cosine distance agree on most bits (SimHash for vectors,
  * Charikar 2002).
  */
case class HyperplaneLsh(child: Expression, nBits: Int) extends UnaryExpression {
  import VectorExpressions._
  require(nBits >= 1 && nBits <= 64, s"nBits must be in [1,64], got $nBits")

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = checkVec(child.dataType, "child")
  @transient private lazy val cf = isFloatArray(child.dataType)

  // Plane coordinates depend only on (plane, dim index) — memoize them so
  // the mix64 hash runs once per coordinate per expression instance, not
  // once per coordinate PER ROW (nBits×dim hashes/row otherwise — 4096 for
  // a 64-bit sketch of a 64-dim vector). Volatile publish-after-fill keeps
  // concurrent partition threads safe; a lost race only duplicates work.
  @transient @volatile private var planeCache: Array[Array[Double]] = _

  private def planesFor(dim: Int): Array[Array[Double]] = {
    val cached = planeCache
    if (cached != null && cached(0).length >= dim) cached
    else {
      val fresh = Array.tabulate(nBits, dim)((p, j) => HyperplaneLsh.coord(p, j))
      planeCache = fresh
      fresh
    }
  }

  /** Row kernel — public so generated code can call it through a
    * reference to this instance (keeps the plane cache shared).
    */
  def evalBits(a: ArrayData): Long = {
    val dim = a.numElements()
    val planes = planesFor(dim)
    var bits = 0L
    var p = 0
    while (p < nBits) {
      val plane = planes(p)
      var proj = 0.0
      var j = 0
      while (j < dim) {
        proj += elemAt(a, j, cf) * plane(j)
        j += 1
      }
      if (proj >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override def nullSafeEval(v: Any): Any = evalBits(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneLsh", this, classOf[HyperplaneLsh].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalBits($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HyperplaneLsh {
  /** Deterministic plane coordinate in [-1, 1): splitmix64 of the
    * (plane, dim) index pair, top 53 bits → unit double.
    */
  @inline def coord(plane: Int, j: Int): Double = {
    val h = graft.functions.SplitMix.mix64(plane.toLong * 1000003L + j + 0x9E3779B97F4A7C15L)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }
}

/** Deterministic centered dot product `Σ_t (vec[t] − mean[t]) · weight[t]`
  * folded left-to-right in component order — the per-row kernel of the
  * PCA power iteration ([[graft.similarity.Pca]]). Replaces an
  * `aggregate` higher-order function that paid interpreted dispatch per
  * element (optimization round 18): same IEEE add/multiply sequence, so
  * projections are bit-identical, but the row cost is ONE static call
  * into [[VectorOps.dotCentered]] inside whole-stage codegen. `mean` and
  * `weight` must be array<double> (they are literals in practice);
  * `vec` may be array<float> or array<double>; null vec → null.
  */
case class DotCentered(vec: Expression, mean: Expression, weight: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import VectorExpressions._

  override def first: Expression = vec
  override def second: Expression = mean
  override def third: Expression = weight
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_centered"

  override def checkInputDataTypes() = {
    val v = checkVec(vec.dataType, "vec")
    def dbl(dt: DataType, side: String) = dt match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$side must be array<double>, got ${other.simpleString(10)}")
    }
    if (v.isFailure) v
    else {
      val m = dbl(mean.dataType, "mean")
      if (m.isFailure) m else dbl(weight.dataType, "weight")
    }
  }

  @transient private lazy val vf = isFloatArray(vec.dataType)

  override def nullSafeEval(v: Any, m: Any, w: Any): Any =
    VectorOps.dotCentered(v.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData],
      w.asInstanceOf[ArrayData], vf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m, w) =>
      s"${ev.value} = graft.expressions.VectorOps.dotCentered($v, $m, $w, $vf);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): DotCentered =
    copy(vec = newFirst, mean = newSecond, weight = newThird)
}
