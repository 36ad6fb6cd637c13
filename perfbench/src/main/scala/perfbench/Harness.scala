package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-insensitive multiset fingerprint of a frame. Computing it reads
  * every column of every row, so it is also how an op consumes its result
  * in full (a bare `.count()` would let Catalyst prune the columns away).
  */
final case class Fingerprint(rows: Long, xor: Long, lowSum: Long)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*)
    val r = df.select(h.as("__h"))
      .agg(count(lit(1)), bit_xor(col("__h")), sum(col("__h").bitwiseAND(0xFFFFFFL)))
      .head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** One timed op as the workload defines it. `key` names the op's exact
  * query: ops with equal keys must return equal results. `inputRows` is
  * the size of the input the op reads.
  */
final case class OpSpec(kind: String, key: String, inputRows: Long, run: () => Any)

/** One timed op as it ran. */
final case class OpRecord(id: Int, kind: String, key: String, startNs: Long, endNs: Long,
    inputRows: Long, result: Any, error: Option[Throwable]) {
  def wallNs: Long = endNs - startNs
}

final class Ctx(val spark: SparkSession, val rec: Recorder, val input: File, val work: File,
    val seed: Long, val cores: Int) {
  def in(name: String): String = new File(input, name).getPath
  def dir(name: String): String = new File(work, name).getPath
  /** The generator's manifest: row counts and Arrow sizes of the inputs. */
  lazy val manifest: com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(input, "manifest.json"))
}

trait Workload {
  /** Builds what the first op needs. */
  def setup(ctx: Ctx): Unit

  /** Runs every op kind a few times on throwaway state (JIT, codegen caches). */
  def warmUp(ctx: Ctx): Unit

  /** The timed op stream, in whole rounds: the loop never stops mid-round,
    * so every run times the same mix of op kinds.
    */
  def rounds(ctx: Ctx): Iterator[Seq[OpSpec]]

  /** Checks every op's output (outside the timed region) and returns the
    * ids of ops that gave wrong output.
    */
  def check(ctx: Ctx, ops: Seq[OpRecord]): Set[Int]

  /** Bytes the workload's stores hold on disk, over the uncompressed Arrow
    * size of the generated input they hold.
    */
  def storedBytesPerInputByte(ctx: Ctx, ops: Seq[OpRecord]): Double

  /** Workload-specific per-layer metrics (traced run only). */
  def layerExtras(ctx: Ctx, ops: Seq[OpRecord], trace: TraceView): Map[String, Double] = Map.empty

  /** Lines for the human-readable report: input sizes and shares. */
  def summary(ctx: Ctx, ops: Seq[OpRecord], trace: Option[TraceView]): Seq[String] = Nil
}

object Harness {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "rows_per_s" -> "rows/s",
    "stored_bytes_per_input_byte" -> "ratio", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_full_ms" -> "ms", "sources.scan_pruned_ms" -> "ms", "sources.scan_filtered_ms" -> "ms",
    "sources.scan_dsv2_ms" -> "ms", "sources.scan_partial_ms" -> "ms", "sources.task_cpu_ns_per_row" -> "ns",
    "sources.read_bytes_per_op" -> "bytes", "sources.filtered_read_frac" -> "ratio", "sources.write_ms" -> "ms",
    "table.append_write_ms" -> "ms", "table.domain_job_ms" -> "ms", "table.rowid_check_ms" -> "ms",
    "table.algebra_ms" -> "ms", "plans.replay_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.driver_gap_frac" -> "ratio", "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count", "spark.executor_busy_frac" -> "ratio",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_ms_per_op" -> "ms",
    "dedup.pipeline_ms" -> "ms", "dedup.store_append_ms" -> "ms", "dedup.batch_ms" -> "ms",
    "dedup.candidate_yield" -> "ratio",
    "text.edges_ms" -> "ms", "text.components_ms" -> "ms", "text.pagerank_ms" -> "ms", "text.reach_ms" -> "ms",
    "text.jobs_per_call" -> "count",
    "trace.op_p50_ms" -> "ms", "trace.overhead_frac" -> "ratio", "trace.op_self_frac" -> "ratio",
    "trace.unattributed_jobs" -> "count")

  /** Runs whole rounds until `seconds` have passed. */
  def timedLoop(ctx: Ctx, wl: Workload, seconds: Int): Seq[OpRecord] = {
    val out = mutable.ArrayBuffer.empty[OpRecord]
    val deadline = System.nanoTime() + seconds * 1000000000L
    val it = wl.rounds(ctx)
    while (System.nanoTime() < deadline && it.hasNext) {
      it.next().foreach { spec =>
        val id = out.length
        val t0 = System.nanoTime()
        val (res, err) =
          try (ctx.rec.op(id, spec.kind)(spec.run()), None)
          catch { case NonFatal(e) => (null, Some(e)) }
        out += OpRecord(id, spec.kind, spec.key, t0, System.nanoTime(), spec.inputRows, res, err)
      }
    }
    out.toSeq
  }

  def duBytes(path: String): Long = {
    def walk(f: File): Long = if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def walk(f: File): Unit = { if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk)); f.delete() }
    walk(new File(path))
  }

  /** Per-layer metrics common to every workload, from the trace. */
  def layerMetrics(ctx: Ctx, wl: Workload, ops: Seq[OpRecord]): Map[String, Double] = {
    val tv = new TraceView(ctx.rec)
    val opSpans = tv.spans.filter(_.layer == "op")
    val opJobs = opSpans.map(s => tv.jobsUnder(s.id))
    val nOps = opSpans.length.max(1).toDouble
    val wallNs = opSpans.map(s => s.end - s.start).sum.max(1L)
    val allJobs = opJobs.flatten
    val base = mutable.Map.empty[String, Double]
    PerLayer.foreach { case (n, _) => base(n) = 0.0 }
    // every span that is a layer call reports its median duration
    tv.spans.filter(_.layer != "op").groupBy(s => s"${s.layer}.${s.name}_ms").foreach { case (n, ss) =>
      if (base.contains(n)) base(n) = Stats.median(ss.map(s => (s.end - s.start) / 1e6))
    }
    base("spark.planning_ms") = ctx.rec.planningMs(allJobs.map(_.execId).filter(_ >= 0).toSet) / nOps
    base("spark.driver_gap_frac") = Stats.driverGapFrac(opSpans.map(s => (s.start, s.end)),
      opJobs.map(_.map(j => (j.startNs, j.endNs))))
    base("spark.jobs_per_op") = allJobs.length / nOps
    base("spark.stages_per_op") = allJobs.map(_.stages).sum / nOps
    base("spark.tasks_per_op") = allJobs.map(_.tasks).sum / nOps
    base("spark.executor_busy_frac") = allJobs.map(_.taskRunMs).sum * 1e6 / (wallNs.toDouble * ctx.cores)
    base("spark.shuffle_bytes_per_op") = allJobs.map(_.shuffleBytes).sum / nOps
    base("spark.spill_bytes") = allJobs.map(_.spillBytes).sum.toDouble
    base("spark.gc_ms_per_op") = opSpans.map(_.gcMs).sum / nOps
    val textSpans = tv.spans.filter(_.layer == "text")
    if (textSpans.nonEmpty) base("text.jobs_per_call") = textSpans.map(s => tv.jobsUnder(s.id).length).sum.toDouble / textSpans.length
    val traced = opSpans.map(_.op).toSet
    if (traced.nonEmpty) base("trace.op_p50_ms") = Stats.median(ops.filter(o => traced(o.id)).map(_.wallNs / 1e6))
    base("trace.overhead_frac") = ctx.rec.overheadNs.toDouble / ops.map(_.wallNs).sum.max(1L)
    // op self time over op wall time, both on the loop's clock outside the
    // recorder: time that no layer span and no job covers, in unwrapped
    // calls or in the recorder itself
    val opById = ops.map(o => o.id -> o).toMap
    base("trace.op_self_frac") = opSpans.map { s =>
      val o = opById(s.op)
      val children = tv.spans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
        tv.jobsOf(s.id).map(j => (j.startNs, j.endNs))
      Stats.selfTime(o.startNs, o.endNs, children)
    }.sum.toDouble / opSpans.map(s => opById(s.op).wallNs).sum.max(1L)
    // jobs started while an op ran that carried no span: work the listener
    // could not attribute to any layer
    base("trace.unattributed_jobs") = tv.jobs.count(j => j.span < 0 &&
      opSpans.exists(s => j.startNs >= s.start && j.startNs <= s.end)).toDouble
    (base ++ wl.layerExtras(ctx, ops, tv)).toMap
  }

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Read-only view over the timed ops of a finished trace (set-up and
  * warm-up call the same layers, and their spans are left out).
  */
final class TraceView(rec: Recorder) {
  val spans: Seq[Span] = rec.allSpans.filter(_.op >= 0)
  private val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  val jobs: Seq[JobRecord] = rec.allJobs

  private def isUnder(spanId: Int, root: Int): Boolean = {
    var cur = spanId
    while (cur >= 0 && cur != root) cur = byId.get(cur).map(_.parent).getOrElse(-1)
    cur == root
  }

  /** Jobs submitted inside span `id` or any span below it. */
  def jobsUnder(id: Int): Seq[JobRecord] = jobs.filter(j => isUnder(j.span, id))

  /** Jobs submitted directly by span `id`. */
  def jobsOf(id: Int): Seq[JobRecord] = jobs.filter(_.span == id)

  def named(layer: String, name: String): Seq[Span] = spans.filter(s => s.layer == layer && s.name == name)
}
