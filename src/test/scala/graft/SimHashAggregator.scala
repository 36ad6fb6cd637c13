package graft

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** 64-bit SimHash (Charikar similarity hash) as one custom typed aggregate
  * over pre-hashed tokens: each token's 64 bits vote ±1 per position; the
  * fingerprint is the sign vector. Single Array[Int](64) buffer — same
  * rationale as [[MinHashAggregator]]: 64 separate sum-aggregate
  * expressions would generate 64 lanes of code, this is one tight loop
  * with associative merge (map-side partial aggregation).
  *
  * Spec-only reference: the engine runs the per-row
  * [[graft.expressions.SimHash]], and TextSpec asserts equal votes.
  */
case object SimHashAggregator extends Aggregator[Long, Array[Int], Long] {

  override def zero: Array[Int] = new Array[Int](64)

  override def reduce(buf: Array[Int], h: Long): Array[Int] = {
    var j = 0
    while (j < 64) {
      buf(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
      j += 1
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var j = 0
    while (j < 64) { a(j) += b(j); j += 1 }
    a
  }

  override def finish(buf: Array[Int]): Long = {
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (buf(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
  override def outputEncoder: Encoder[Long] = ExpressionEncoder[Long]()

  def fingerprint(hashCol: Column): Column = udaf(SimHashAggregator).apply(hashCol)
}
