package graft

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** (score, payload) pairs kept in a bounded array buffer — the udaf that
  * [[graft.functions.TopKAgg]] replaced, retained as TopKAggSpec's
  * reference implementation.
  */
final case class HeapAgg(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  override def zero: Seq[(Double, Long)] = Vector.empty

  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2) // score desc, id asc

  // buffer invariant: always sorted best-first, length ≤ k. Per-row work
  // is O(1) for the common case (full buffer, row ranks below the
  // current worst) and one binary-search insertion otherwise — NOT a
  // full re-sort per row (10⁹ rows × sort(k) would dominate the very
  // map-side combine this operator exists to provide).
  private def insert(buf: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] = {
    if (buf.length >= k && !better(v, buf.last)) buf
    else {
      val idx = {
        var lo = 0
        var hi = buf.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (better(buf(mid), v)) lo = mid + 1 else hi = mid
        }
        lo
      }
      val grown = buf.patch(idx, Seq(v), 0)
      if (grown.length > k) grown.take(k) else grown
    }
  }

  override def reduce(buf: Seq[(Double, Long)], v: (Double, Long)): Seq[(Double, Long)] = insert(buf, v)

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val merged = (a ++ b).sortBy { case (s, id) => (-s, id) }
    merged.take(k)
  }

  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf // already sorted

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder[Seq[(Double, Long)]]()
}
