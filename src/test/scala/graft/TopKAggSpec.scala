package graft

import graft.operators.TopKPerKey
import org.apache.spark.sql.functions._

/** TopKAgg (TypedImperativeAggregate) must reproduce the udaf HeapAgg
  * reference bit-for-bit — ordering, tie-breaks, duplicate handling,
  * under-full and over-full groups.
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("TopKAgg == udaf HeapAgg reference on tie-heavy random data") {
    for (seed <- Seq(2, 13, 77)) {
      val rnd = new scala.util.Random(seed)
      // few distinct scores -> many exact ties; duplicate (score, id)
      // pairs included deliberately
      val rows = Seq.tabulate(600) { i =>
        (s"k${rnd.nextInt(7)}", rnd.nextInt(5).toDouble / 2.0, rnd.nextInt(40).toLong)
      } ++ Seq(("k0", 1.0, 3L), ("k0", 1.0, 3L)) // exact duplicate rows
      val df = rows.toDF("key", "score", "id")
      for (k <- Seq(1, 3, 8)) {
        val got = TopKPerKey.topK(df, "key", "score", "id", k)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(t => (t._1, t._4))
        val ref = df
          .select(col("key"), col("score").cast("double").as("__score"),
            col("id").cast("long").as("__id"))
          .groupBy(col("key"))
          .agg(udaf(HeapAgg(k)).apply(col("__score"), col("__id")).as("top"))
          .select(col("key"), posexplode(col("top")).as(Seq("rank0", "pair")))
          .select(col("key"), col("pair._2").as("id"), col("pair._1").as("score"),
            (col("rank0") + 1).cast("long").as("rank"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(t => (t._1, t._4))
        assert(got.toSeq == ref.toSeq, s"seed $seed k $k: TopKAgg diverged from HeapAgg")
      }
    }
  }

  test("TopKAgg: NaN, signed-zero and null scores rank as the row_number() window does") {
    import org.apache.spark.sql.expressions.Window
    val nan = Double.NaN
    // NaN mid-buffer broke the old `>`/`==` order, and a full [1.0, NaN]
    // buffer rejected every later score; null scores and ids are skipped
    val rows = Seq[(String, java.lang.Double, java.lang.Long)](
      ("a", 1.0, 1L), ("a", nan, 2L), ("a", 0.5, 3L), ("a", 2.0, 4L),
      ("b", nan, 9L), ("b", 1.0, 5L), ("b", nan, 2L), ("b", 3.0, 7L),
      ("c", -0.0, 5L), ("c", 0.0, 3L), ("c", null, 0L), ("c", -0.0, 1L),
      ("c", 0.0, null), ("c", -1.0, 8L))
    val df = rows.toDF("key", "score", "id")
    def bits(rs: Array[org.apache.spark.sql.Row]) = rs.map(r => (r.getString(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
    for (k <- Seq(1, 2, 4); in <- Seq(df.coalesce(1), df.repartition(3))) {
      val got = bits(TopKPerKey.topK(in, "key", "score", "id", k).collect())
      val want = bits(df.where(col("score").isNotNull && col("id").isNotNull)
        .withColumn("rank", row_number().over(
          Window.partitionBy("key").orderBy(col("score").desc, col("id").asc)).cast("long"))
        .where(col("rank") <= k).select("key", "id", "score", "rank").collect())
      assert(got == want, s"k $k")
    }
  }

  test("TopKAgg: under-full groups and k=1 singleton") {
    val df = Seq(("a", 2.0, 10L), ("a", 2.0, 7L), ("b", 1.0, 1L)).toDF("key", "score", "id")
    val out = TopKPerKey.topK(df, "key", "score", "id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      .sortBy(t => (t._1, t._4))
    // score ties break to ascending id
    assert(out == Seq(("a", 7L, 2.0, 1L), ("a", 10L, 2.0, 2L), ("b", 1L, 1.0, 1L)), out)
  }
}
