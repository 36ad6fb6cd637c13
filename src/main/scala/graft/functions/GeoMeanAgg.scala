package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Geometric mean via log-sum as a [[TypedImperativeAggregate]]
  * (optimization round 19): same buffer and finish semantics as the
  * `GeoMean` Aggregator it replaces in the query path — (Σ log over
  * positives, positive / zero / negative counts), any negative → NaN,
  * any zero → 0.0, empty → NaN — without the per-row boxed-tuple
  * round trip through an ExpressionEncoder. `GeoMean` stays in the test
  * tree as the spec's reference implementation (TextSpec). Null inputs
  * are skipped (aggregate convention; the declared lane's column is
  * non-null).
  */
case class GeoMeanAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[GeoMeanAgg.Buf] with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "geomean"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"geomean takes double input, got ${other.simpleString(10)}")
  }

  override def createAggregationBuffer(): GeoMeanAgg.Buf = new GeoMeanAgg.Buf

  override def update(buf: GeoMeanAgg.Buf, input: InternalRow): GeoMeanAgg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[Double]
      if (a > 0) { buf.sumLog += math.log(a); buf.nPos += 1 }
      else if (a == 0) buf.nZero += 1
      else buf.nNeg += 1
    }
    buf
  }

  override def merge(buf: GeoMeanAgg.Buf, other: GeoMeanAgg.Buf): GeoMeanAgg.Buf = {
    buf.sumLog += other.sumLog
    buf.nPos += other.nPos
    buf.nZero += other.nZero
    buf.nNeg += other.nNeg
    buf
  }

  override def eval(buf: GeoMeanAgg.Buf): Any =
    if (buf.nNeg > 0) Double.NaN
    else if (buf.nZero > 0) 0.0
    else if (buf.nPos == 0) Double.NaN
    else math.exp(buf.sumLog / buf.nPos)

  override def serialize(buf: GeoMeanAgg.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(32)
    bb.putDouble(buf.sumLog).putLong(buf.nPos).putLong(buf.nZero).putLong(buf.nNeg)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): GeoMeanAgg.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new GeoMeanAgg.Buf
    buf.sumLog = bb.getDouble(); buf.nPos = bb.getLong()
    buf.nZero = bb.getLong(); buf.nNeg = bb.getLong()
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GeoMeanAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GeoMeanAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GeoMeanAgg =
    copy(child = newChild)
}

object GeoMeanAgg {
  final class Buf {
    var sumLog: Double = 0.0
    var nPos: Long = 0L
    var nZero: Long = 0L
    var nNeg: Long = 0L
  }

  import org.apache.spark.sql.graftbridge.Bridge

  /** Column form: geometric mean of the group's doubles. */
  def geoMean(c: Column): Column =
    Bridge.column(
      GeoMeanAgg(Bridge.expression(c)).toAggregateExpression(isDistinct = false))
}
