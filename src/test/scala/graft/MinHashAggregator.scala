package graft

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** k-lane MinHash signature as ONE custom typed aggregate.
  *
  * Instead of k separate `min(hash_i(x))` aggregate expressions (whose
  * generated code grows with k and blows past Janino's method limits), the
  * k running minima live in a single Array[Long] buffer updated in a tight
  * JVM loop. Lane hashes use the standard universal-hashing construction:
  * one strong 64-bit hash of the shingle (xxhash64, computed upstream in
  * codegen) remixed per lane with splitmix64 — the public-domain finalizer
  * from Steele et al.'s SplittableRandom (also used by xoshiro) — seeded by
  * the golden-ratio constant times the lane index. Fully deterministic
  * across runs, executors, and cluster sizes.
  *
  * Associative + commutative merge ⇒ Spark runs it with map-side partial
  * aggregation: the shuffle carries one k×8-byte signature per document per
  * partition, never shingles.
  *
  * Spec-only reference: the engine runs the per-row
  * [[graft.expressions.MinHashSig]], and TextSpec asserts equal lanes.
  */
case class MinHashAggregator(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var i = 0
    while (i < k) {
      val v = graft.functions.SplitMix.mix64(h + 0x9E3779B97F4A7C15L * (i + 1))
      if (v < buf(i)) buf(i) = v
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (b(i) < a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}

object MinHashAggregator {
  /** Column form: MinHash signature (array<long> of length k) of the
    * grouped Long hash column.
    */
  def signature(hashCol: Column, k: Int): Column = udaf(MinHashAggregator(k)).apply(hashCol)
}
