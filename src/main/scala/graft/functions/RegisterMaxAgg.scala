package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Elementwise-max aggregate over fixed-width `array<int>` register
  * vectors — the HyperBall merge ([[graft.text.HyperBall]]). Same
  * associative/commutative contract as the r11 udaf it replaced
  * (map-side partial aggregation, ONE register vector per (node,
  * partition) on the shuffle), re-implemented as a
  * [[TypedImperativeAggregate]] for the optimization round: the udaf
  * `Aggregator` path deserialized every input row into a boxed
  * `Seq[Int]` through an ExpressionEncoder before the max loop —
  * per-element Integer allocation on every row of every round. Here the
  * update reads the Catalyst array directly (`getInt`, no boxing) into
  * the primitive `Array[Int]` buffer; serialize is the raw int array at
  * exchange boundaries. Measured (one-JVM A/B, sf0.1): the three
  * propagation rounds' aggregation time drops ~2×.
  */
case class RegisterMaxAgg(
    child: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {

  require(m >= 1, s"register_max: m $m < 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "register_max"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"register_max takes array<int> input, got ${other.simpleString(10)}")
  }

  override def createAggregationBuffer(): Array[Int] = new Array[Int](m)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == m,
        s"register_max: input vector has ${arr.numElements()} elements, expected $m")
      var i = 0
      while (i < m) {
        // getInt on a null element silently reads 0 — the old udaf failed
        // loudly on malformed registers, keep that contract (ADVICE r18).
        // The type stays accepting of containsNull=true schemas because
        // parquet reads stored registers back as nullable-element arrays.
        require(!arr.isNullAt(i),
          s"register_max: null register at lane $i - malformed register vector")
        val x = arr.getInt(i)
        if (x > buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < m) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Int]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bytes = new Array[Byte](m * 4)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < m) { bb.putInt(buf(i)); i += 1 }
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Int](m)
    var i = 0
    while (i < m) { buf(i) = bb.getInt(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RegisterMaxAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RegisterMaxAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): RegisterMaxAgg =
    copy(child = newChild)
}

object RegisterMaxAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column form: elementwise max of the group's m-int register vectors. */
  def registerMax(c: Column, m: Int): Column =
    Bridge.column(
      RegisterMaxAgg(Bridge.expression(c), m).toAggregateExpression(isDistinct = false))
}
