package graft

import graft.table.DerivedStore
import graft.text.{LinkGraph, LinkGraphStore}
import org.apache.spark.sql.functions._

/** The generic derived-table certificate: round trip, staleness flip on
  * ANY upstream mutation class (including delta-route appends that never
  * touch the upstream manifest), torn-save loudness, re-certification.
  */
class DerivedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("round trip + staleness flip + torn save + re-certification") {
    val docs = Seq((1L, "x y p q"), (2L, "x y"), (3L, "m n"), (4L, "p q"))
      .toDF("doc_id", "text")
    val gDir = tmp("ds_graph")
    LinkGraphStore.build(docs, "doc_id", "text", w = 2, maxDf = 4, gDir, nBuckets = 2)
    def fp() = LinkGraphStore.stateFingerprint(spark, gDir)

    val dir = tmp("ds_ranks")
    val ranks = LinkGraph.pageRank(docs.select($"doc_id"), "doc_id",
      LinkGraphStore.loadEdges(spark, gDir), iters = 3)
    DerivedStore.save(ranks, dir, fp())
    // round trip value-identical
    val back = DerivedStore.loadChecked(spark, dir, fp())
    assert(back.orderBy($"doc_id").collect().map(_.toSeq).toSeq ==
      ranks.orderBy($"doc_id").collect().map(_.toSeq).toSeq)
    assert(!DerivedStore.isStale(spark, dir, fp()))

    // a DELTA-route append (upstream manifest untouched) flips staleness
    val route = LinkGraphStore.appendAuto(
      Seq((5L, "x y m n")).toDF("doc_id", "text"), "doc_id", "text", gDir,
      smallBatchFraction = 0.9)
    assert(route == "delta")
    assert(DerivedStore.isStale(spark, dir, fp()))
    val e = intercept[IllegalArgumentException] {
      DerivedStore.loadChecked(spark, dir, fp())
    }
    assert(e.getMessage.contains("STALE"))
    // unchecked load still serves (the old graph's correct ranking)
    assert(DerivedStore.load(spark, dir).count() == 4)

    // recompute + re-save re-certifies against the grown graph
    val ranks2 = LinkGraph.pageRank(
      (1L to 5L).toDF("doc_id"), "doc_id",
      LinkGraphStore.loadEdges(spark, gDir), iters = 3)
    DerivedStore.save(ranks2, dir, fp())
    assert(!DerivedStore.isStale(spark, dir, fp()))
    assert(DerivedStore.loadChecked(spark, dir, fp()).count() == 5)

    // torn save: certificate deleted before the data rewrite, so a crash
    // between the two fails loud on the missing manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest.json"), false)
    val e2 = intercept[IllegalArgumentException] {
      DerivedStore.load(spark, dir)
    }
    assert(e2.getMessage.contains("no _manifest.json"))
    // and save repairs it
    DerivedStore.save(ranks2, dir, fp())
    assert(DerivedStore.loadChecked(spark, dir, fp()).count() == 5)
  }

  test("save takes the row count from the writing job itself - ONE job, " +
      "no post-write re-read of the data dir") {
    val df = (1L to 7L).toDF("doc_id")
    val dir = tmp("ds_rows")
    val (_, jobs) = countJobs(DerivedStore.save(df, dir, "fp-v1"))
    assert(jobs == 1,
      s"save must run exactly the writing job (rows observed on it, not " +
        s"re-counted after) - saw $jobs jobs")
    // the observed count certifies the real row count in the manifest
    val node = graft.sources.ArtifactJson.readFile(spark, s"$dir/_manifest.json")
    assert(node.get("rows").asLong() == 7L)
    assert(DerivedStore.load(spark, dir).count() == 7)
    // zero-row save: the observation still resolves (no hang) and records 0
    val emptyDir = tmp("ds_rows_empty")
    DerivedStore.save(df.where($"doc_id" < 0), emptyDir, "fp-v1")
    val node2 = graft.sources.ArtifactJson.readFile(spark, s"$emptyDir/_manifest.json")
    assert(node2.get("rows").asLong() == 0L)
    assert(DerivedStore.load(spark, emptyDir).count() == 0)
  }
}
