package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{CurationPipeline, Dedup, MinHashStore}
import graft.text.{HyperBall, LinkGraph}

/** Iterative, shuffle-heavy curation over a 6k-doc corpus: the curation
  * pipeline with near dedup and decontamination, incremental MinHash
  * dedup against a segmented store, and the shared-span link graph with
  * components, PageRank and HyperBall reach. One round is one pass over
  * every op kind with the next ingest batch.
  */
final class Curation extends Workload {
  import Curation._

  private var nDocs = 0
  private var store: String = _
  private var docs: DataFrame = _
  private var eval: DataFrame = _
  /** Survivor ids appended to the store, in round order. */
  private val appended = mutable.ArrayBuffer.empty[Seq[Long]]

  private def half = nDocs / 2
  private def batchSize = (nDocs - half) / Batches
  private def batchIds(i: Int) = (half + i * batchSize, half + (i + 1) * batchSize)
  private def batch(i: Int): DataFrame = {
    val (lo, hi) = batchIds(i)
    docs.where(col("doc_id") >= lo && col("doc_id") < hi)
  }

  def setup(ctx: Ctx): Unit = {
    docs = ctx.spark.read.parquet(ctx.in("docs.parquet"))
    eval = ctx.spark.read.parquet(ctx.in("eval.parquet"))
    nDocs = ctx.manifest.get("docs").get("rows").asInt
    val base = docs.where(col("doc_id") < half)
    store = ctx.dir("minhash")
    MinHashStore.build(base, "text", "doc_id", store)
  }

  /** No separate warm-up: the store build runs the signature and
    * segment-write paths, and a round is long (about 20 s at local[4]).
    * A warm-up round, even on a 1k-doc slice, cost nearly as much as a
    * timed round, since per-job overhead dominates it.
    */
  def warmUp(ctx: Ctx): Unit = ()

  private def edgesOf(d: DataFrame) = LinkGraph.sharedSpanEdges(d, "doc_id", "text", w = SpanWords, maxDf = MaxDf)

  /** One round: every curation call once, each in its layer's span, each
    * result consumed in full.
    */
  private def runRound(ctx: Ctx, b: DataFrame): RoundResult = {
    val (rec, corpus, dir) = (ctx.rec, docs, store)
    val nodes = corpus.select(col("doc_id"))
    // the batch is curated, deduplicated against the store, and appended
    val pipeline = rec.span("dedup", "pipeline") {
      CurationPipeline.run(b, "text", "doc_id", minQuality = MinQuality, evalSet = Some(eval)).survivors
        .select(col("doc_id"), col("text")).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    }
    val curated = b.where(col("doc_id").isInCollection(pipeline.map(_._1)))
    val survivors = rec.span("dedup", "batch") {
      MinHashStore.dedupBatch(ctx.spark, dir, curated, "text", "doc_id").collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    }
    val route = rec.span("dedup", "store_append") {
      MinHashStore.appendAuto(b.where(col("doc_id").isInCollection(survivors)), "text", "doc_id", dir)
    }
    val (edgesDf, edges) = rec.span("text", "edges") {
      val e = edgesOf(corpus).localCheckpoint(true)
      (e, e.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
    try {
      val components = rec.span("text", "components") {
        LinkGraph.connectedComponents(nodes, "doc_id", edgesDf).collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      }
      val pageRank = rec.span("text", "pagerank") {
        LinkGraph.pageRank(nodes, "doc_id", edgesDf, iters = PageRankIters).collect()
          .map(r => (r.getLong(0), r.getAs[Long]("rank_fp"))).toMap
      }
      val reach = rec.span("text", "reach") {
        HyperBall.neighborhoodEstimate(nodes, "doc_id", edgesDf, maxHops = ReachHops).collect()
          .map(r => (r.getLong(0), (r.getAs[Double]("est_ball"), r.getAs[Int]("n_zero")))).toMap
      }
      RoundResult(pipeline, survivors, route, edges, components, pageRank, reach)
    } finally graft.Pins.release(edgesDf)
  }

  def rounds(ctx: Ctx): Iterator[Seq[OpSpec]] = Iterator.range(0, Batches).map { i =>
    // input: the batch it curates plus the corpus the graph calls read
    Seq(OpSpec("round", s"round/$i", batchSize + nDocs, () => {
      val r = runRound(ctx, batch(i))
      appended += r.survivors
      r
    }))
  }

  def check(ctx: Ctx, ops: Seq[OpRecord]): Set[Int] = {
    val local = ctx.spark.read.parquet(ctx.in("docs.parquet")).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val evalSpans = ctx.spark.read.parquet(ctx.in("eval.parquet")).select("text").collect()
      .flatMap(r => Oracles.spans(r.getString(0), DecontaminationWords)).toSet
    val edges = Oracles.sharedSpanEdges(local, SpanWords, MaxDf).sorted
    val ids = local.keys.toSeq.sorted
    lazy val components = Oracles.components(ids, edges)
    lazy val pageRank = Oracles.pageRank(ids, edges, PageRankIters)
    lazy val balls = Oracles.ballSizes(ids, edges, ReachHops)
    val held = MinHashStore.loadManifest(ctx.spark, store).nDocs
    val bad = ops.filter(_.error.isEmpty).filter { o =>
      val r = o.result.asInstanceOf[RoundResult]
      val i = o.key.stripPrefix("round/").toInt
      // survivors against the store equal the in-memory incremental dedup
      // over the corpus the store held when the batch ran
      val heldIds = (0L until half.toLong) ++ appended.take(i).flatten
      val curated = batch(i).where(col("doc_id").isInCollection(r.pipeline.map(_._1)))
      val expectedSurvivors = Dedup.minHashIncremental(docs.where(col("doc_id").isInCollection(heldIds)), curated,
        "text", "doc_id").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // 64-register HLL: raw estimates below 2.5 m take the linear-counting
      // correction; the mean ratio to the exact ball size stays near 1
      val reachRatio = ids.map { v =>
        val (raw, zeros) = r.reach.getOrElse(v, (0.0, 0))
        val est = if (raw <= 2.5 * HllRegisters && zeros > 0) HllRegisters * math.log(HllRegisters.toDouble / zeros) else raw
        est / balls(v)
      }.sum / ids.length
      val failures = Seq(
        "pipeline survivors" -> (r.pipeline.nonEmpty && r.pipeline.map(_._2).distinct.length == r.pipeline.length &&
          r.pipeline.forall { case (id, t) =>
            id >= batchIds(i)._1 && id < batchIds(i)._2 && local.get(id).contains(t)
          } &&
          r.pipeline.forall { case (_, t) => !Oracles.spans(t, DecontaminationWords).exists(evalSpans) }),
        "dedupBatch survivors" -> (r.survivors == expectedSurvivors),
        "appendAuto route" -> Set("append", "append+compact").contains(r.route),
        "shared-span edges" -> (r.edges == edges),
        "components" -> (r.components == components),
        "pageRank" -> (r.pageRank == pageRank),
        f"reach (mean ratio $reachRatio%.3f)" -> (r.reach.size == ids.length && reachRatio > 0.9 && reachRatio < 1.1)
      ).collect { case (what, false) => what }
      failures.foreach(f => System.err.println(s"[perfbench] curation ${o.key}: wrong $f"))
      failures.nonEmpty
    }.map(_.id).toSet
    // the store holds the base half plus every appended survivor
    if (held != half + appended.map(_.length).sum) ops.map(_.id).toSet else bad
  }

  def storedBytesPerInputByte(ctx: Ctx, ops: Seq[OpRecord]): Double = {
    val held = half + appended.map(_.length).sum
    Harness.duBytes(store).toDouble / (ctx.manifest.get("docs").get("arrow_bytes").asDouble * held / nDocs)
  }

  override def layerExtras(ctx: Ctx, ops: Seq[OpRecord], tv: TraceView): Map[String, Double] = {
    val verified = Dedup.minHashPairs(docs, "text", "doc_id").count()
    val candidates = Dedup.minHashCandidatePairs(docs, "text", "doc_id").count()
    Map("dedup.candidate_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }

  override def summary(ctx: Ctx, ops: Seq[OpRecord], tv: Option[TraceView]): Seq[String] = {
    val m = ctx.manifest
    Seq(f"corpus: $nDocs docs (exact-dup share ${m.get("exact_dup_share").asDouble}, near-dup share " +
      f"${m.get("near_dup_share").asDouble}), eval split ${m.get("eval").get("rows").asInt} docs " +
      f"(${m.get("eval_contaminated_share").asDouble} quote the corpus); store built over $half docs, " +
      f"then batches of $batchSize; survivors appended: ${appended.map(_.length).mkString(", ")}")
  }
}

object Curation {
  final case class RoundResult(pipeline: Seq[(Long, String)], survivors: Seq[Long], route: String,
      edges: Seq[(Long, Long)], components: Map[Long, (Long, Long)], pageRank: Map[Long, Long],
      reach: Map[Long, (Double, Int)])

  val Batches = 5
  val MinQuality = 0.5
  /** 6-word spans: random collisions over the 31-word vocabulary are rare,
    * so the link graph is the planted duplicate structure and the loops
    * run the same number of rounds on every seed.
    */
  val SpanWords = 6
  val MaxDf = 32
  val DecontaminationWords = 8
  val PageRankIters = 10
  val ReachHops = 3
  val HllRegisters = HyperBall.M
}

/** Driver-side reference implementations for the curation checks. */
object Oracles {
  def spans(text: String, w: Int): Seq[String] = {
    val words = text.split(" ").filter(_.nonEmpty)
    words.sliding(w).filter(_.length == w).map(_.mkString(" ")).toSeq
  }

  /** Both directions of every pair of docs sharing a `w`-word span held by at most `maxDf` docs. */
  def sharedSpanEdges(docs: Map[Long, String], w: Int, maxDf: Int): Seq[(Long, Long)] = {
    val bySpan = mutable.HashMap.empty[String, mutable.Set[Long]]
    docs.foreach { case (id, t) => spans(t, w).foreach(s => bySpan.getOrElseUpdate(s, mutable.Set.empty) += id) }
    bySpan.valuesIterator.filter(s => s.size >= 2 && s.size <= maxDf).flatMap { s =>
      val ids = s.toSeq.sorted
      for (a <- ids; b <- ids if a != b) yield (a, b)
    }.toSeq.distinct
  }

  /** id -> (component min id, component size), by union-find. */
  def components(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val rep = ids.map(i => i -> find(i)).toMap
    val size = rep.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    rep.map { case (i, r) => i -> (r, size(r)) }
  }

  /** The fixed-point PageRank `LinkGraph.pageRank` documents: ranks in
    * units of 1/scale, integer-divided contributions, damping 85/100,
    * dangling mass dropped.
    */
  def pageRank(ids: Seq[Long], edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val e = edges.filter { case (a, b) => a != b }.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = ids.length.toLong
    val teleport = ((100 - 85).toLong * scale / 100) / n
    var r: Map[Long, Long] = ids.map(_ -> scale / n).toMap
    (0 until iters).foreach { _ =>
      val s = mutable.HashMap.empty[Long, Long]
      ids.foreach(i => s(i) = 0L)
      e.foreach { case (a, b) => s(b) += r(a) / deg(a) }
      r = ids.map(i => i -> (teleport + (85L * s(i)) / 100L)).toMap
    }
    r
  }

  /** Exact size of each node's `hops`-hop ball, the node included. */
  def ballSizes(ids: Seq[Long], edges: Seq[(Long, Long)], hops: Int): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    ids.map { v =>
      val seen = mutable.HashSet(v)
      var frontier = Seq(v)
      (0 until hops).foreach { _ =>
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)).filter(seen.add)
      }
      v -> seen.size.toDouble
    }.toMap
  }
}
