package graft.expressions

import graft.functions.SplitMix.mix64
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** HyperLogLog register kernels for HyperBall-style neighborhood
  * estimation ([[graft.text.HyperBall]]) — m = 64 registers, 6-bit
  * index, rho = 1 + trailing zeros of the remaining 58 hash bits
  * (capped at 59 when they are all zero). The node hash is splitmix64
  * of the raw id — the engine's standard replayable mixer, so a DuckDB
  * oracle reproduces every register (and therefore the estimate)
  * bit-for-bit in HUGEINT arithmetic.
  *
  * Determinism: registers are integers and every merge is an
  * elementwise MAX — idempotent, commutative, associative — so the
  * d-hop register state equals the exact elementwise max over the true
  * d-hop ball regardless of partitioning or merge order.
  */
object Hll {
  val M = 64

  def initRegisters(id: Long): Array[Int] = {
    val h = mix64(id)
    val arr = new Array[Int](M)
    val idx = (h & 63L).toInt
    val w = h >>> 6
    arr(idx) = if (w == 0L) 59 else 1 + java.lang.Long.numberOfTrailingZeros(w)
    arr
  }

  /** Raw HLL estimate (alpha_64 · m² / Σ 2^-M_j, register-order fold)
    * and the zero-register count. Every term 2^-M_j is an exact binary
    * double and the fold order is pinned, so the double is bitwise
    * portable across engines. NO small/large-range correction — ln()
    * differs across libms in ulps and would break the oracle; consumers
    * needing corrected small-ball counts have the exact BFS
    * ([[graft.text.LinkGraph.centrality]]) for that regime.
    */
  def rawEstimate(regs: ArrayData): (Double, Int) = {
    var s = 0.0
    var z = 0
    var j = 0
    while (j < M) {
      val m = regs.getInt(j)
      s += 1.0 / (1L << m).toDouble
      if (m == 0) z += 1
      j += 1
    }
    (0.709 * 4096.0 / s, z)
  }
}

/** `array<int>(64)` HLL registers of the singleton set {id}. */
case class HllInitRegisters(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected bigint id, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = evalInit(v.asInstanceOf[Long])

  def evalInit(id: Long): ArrayData = new GenericArrayData(Hll.initRegisters(id))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hllInit", this, classOf[HllInitRegisters].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalInit($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `struct<est_ball:double, n_zero:int>` from a 64-register array. */
case class HllRawEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("est_ball", DoubleType, nullable = false),
    StructField("n_zero", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<int>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(v: Any): Any = evalEst(v.asInstanceOf[ArrayData])

  def evalEst(regs: ArrayData): InternalRow = {
    val (e, z) = Hll.rawEstimate(regs)
    new GenericInternalRow(Array[Any](e, z))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hllEst", this, classOf[HllRawEstimate].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalEst($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
