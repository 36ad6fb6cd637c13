package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Top-k rows per key WITHOUT a per-partition total sort.
  *
  * `row_number().over(Window.partitionBy(key).orderBy(ord)) <= k` shuffles
  * EVERY row of every key to one reducer and sorts it — at 100 TB the
  * window sort of the biggest key is the straggler. This operator keeps a
  * bounded k-element buffer per key inside a typed aggregate, so map-side
  * partial aggregation reduces each partition's contribution to ≤ k rows
  * per key BEFORE the shuffle; the exchange then carries ≤ k·partitions
  * rows per key instead of all of them. Same output as the window
  * formulation (modulo the caller's deterministic ordering).
  *
  * Ordering: rows are ranked by a double `score` (descending; ties broken
  * by ascending payload order comparison) packed by the caller.
  */
object TopKPerKey {

  /** Top-k (score desc, id asc) per key. Input columns: key (any), score
    * (double), id (long payload / row identifier). Output: key, id, score,
    * rank (1-based).
    *
    * Since optimization round 19 the aggregate is
    * [[graft.functions.TopKAgg]] (TypedImperativeAggregate over primitive
    * arrays — the RegisterMaxAgg conversion); the udaf `HeapAgg` stays in
    * the test tree as the spec's reference implementation (TopKAggSpec
    * asserts equality).
    */
  def topK(df: DataFrame, keyCol: String, scoreCol: String, idCol: String, k: Int): DataFrame = {
    df.select(col(keyCol).as("key"), col(scoreCol).cast("double").as("__score"), col(idCol).cast("long").as("__id"))
      .groupBy(col("key"))
      .agg(graft.functions.TopKAgg.topK(col("__score"), col("__id"), k).as("top"))
      .select(col("key"), posexplode(col("top")).as(Seq("rank0", "pair")))
      .select(
        col("key").as(keyCol),
        col("pair._2").as(idCol),
        col("pair._1").as(scoreCol),
        (col("rank0") + 1).cast("long").as("rank"))
  }
}
