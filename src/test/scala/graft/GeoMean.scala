package graft

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed custom aggregate (the UDAF surface the reference lacks —
  * SURVEY.md §2.4; closest analog is its domain calculators, reference
  * org.knime.core.data.columnar/.../domain/ColumnarDoubleDomainCalculator.java:68-96).
  *
  * Geometric mean via log-sum: associative + commutative buffer merge, so
  * Spark runs it with map-side partial aggregation — the distributed-
  * correctness template for all custom aggregates in this engine.
  *
  * Spec-only reference: the query path runs
  * [[graft.functions.GeoMeanAgg]], and TextSpec asserts bit-identity.
  */
object GeoMean extends Aggregator[Double, (Double, Long, Long, Long), Double] {
  // (sum of logs over positives, positive count, zero count, negative count)
  // — zeros and negatives are COUNTED, not silently skipped: any zero
  // makes the geometric mean 0, any negative makes it undefined (NaN)
  override def zero: (Double, Long, Long, Long) = (0.0, 0L, 0L, 0L)
  override def reduce(b: (Double, Long, Long, Long), a: Double): (Double, Long, Long, Long) =
    if (a > 0) (b._1 + math.log(a), b._2 + 1, b._3, b._4)
    else if (a == 0) (b._1, b._2, b._3 + 1, b._4)
    else (b._1, b._2, b._3, b._4 + 1)
  override def merge(x: (Double, Long, Long, Long), y: (Double, Long, Long, Long)): (Double, Long, Long, Long) =
    (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4)
  override def finish(b: (Double, Long, Long, Long)): Double =
    if (b._4 > 0) Double.NaN
    else if (b._3 > 0) 0.0
    else if (b._2 == 0) Double.NaN
    else math.exp(b._1 / b._2)
  override def bufferEncoder: Encoder[(Double, Long, Long, Long)] = Encoders.product[(Double, Long, Long, Long)]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** Untyped-DataFrame entry point. */
  def asColumn(c: Column): Column = udaf(GeoMean).apply(c)
}
