package perfbench

import java.io.File

import graft.GraftSession

/** One benchmark run of one workload in a fresh JVM:
  * session and builds (set-up), warm-up, the timed closed loop with one
  * client thread, then output checks, all in this process. Prints a
  * readable report and, as its last stdout line, the result JSON.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --input DIR --work DIR --launch-epoch-ns T
  *        [--trace-out FILE]
  */
object Main {
  val Workloads: Map[String, () => Workload] =
    Map("store_query" -> (() => new StoreQuery), "ingest" -> (() => new Ingest), "curation" -> (() => new Curation))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val wl = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))()
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toInt
    val launchNs = opt("launch-epoch-ns").toLong
    val work = new File(opt("work"))
    // local[k] with k at most the machine's cores, and never above 4
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Recorder(spark, trace), new File(opt("input")), work, opt("seed").toLong, cores)

    val sessionNs = epochNs()
    wl.setup(ctx)
    val builtNs = epochNs()
    wl.warmUp(ctx)
    val firstOpNs = epochNs()
    val setupS = (firstOpNs - launchNs) / 1e9
    val ops = Harness.timedLoop(ctx, wl, seconds)
    val peakRssMb = Proc.peakRssKb() / 1024.0
    ctx.rec.drain()

    val threw = ops.filter(_.error.isDefined).map(_.id).toSet
    val wrong = try wl.check(ctx, ops) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check failed: $e"); ops.map(_.id).toSet
    }
    val failed = threw ++ wrong
    val checkedNs = epochNs()
    val wall = (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9
    val lat = ops.map(_.wallNs / 1e6)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(lat),
      "rows_per_s" -> ops.map(_.inputRows).sum / wall,
      "stored_bytes_per_input_byte" -> wl.storedBytesPerInputByte(ctx, ops),
      "peak_rss_mb" -> peakRssMb)
    val p90 = Stats.tailPercentile(lat, 0.9)
    val layers = if (trace) Some(Harness.layerMetrics(ctx, wl, ops)) else None
    if (trace) opts.get("trace-out").foreach(ctx.rec.writeJson)

    val out = System.out
    out.println(s"== $name  seed ${ctx.seed}  local[$cores]  one client thread, closed loop  trace ${if (trace) 1 else 0}")
    wl.summary(ctx, ops, layers.map(_ => new TraceView(ctx.rec))).foreach(l => out.println(s"  $l"))
    out.println(f"  ops: ${ops.length} in $wall%.2f s, by kind: " +
      ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) => f"$k ${os.length} (p50 ${Stats.median(os.map(_.wallNs / 1e6))}%.1f ms)" }.mkString(", "))
    out.println(s"  latencies (ms, in order): ${lat.map(l => f"$l%.0f").mkString(" ")}")
    out.println(f"  phases (s): session ${(sessionNs - launchNs) / 1e9}%.1f, " +
      f"builds ${(builtNs - sessionNs) / 1e9}%.1f, warm-up ${(firstOpNs - builtNs) / 1e9}%.1f, timed $wall%.1f, " +
      f"checks ${(checkedNs - firstOpNs) / 1e9 - wall}%.1f")
    Harness.EndToEnd.foreach { case (n, u) => out.println(f"  $n%-28s ${e2e(n)}%.4f $u") }
    out.println(f"  ${"op_p90_ms"}%-28s " + p90.map(v => f"$v%.4f ms").getOrElse(s"n/a (${ops.length} ops; needs 100 for 10 samples beyond p90)"))
    out.println(f"  ${"error_frac"}%-28s ${Stats.errorFrac(ops.length, failed)}%.4f ratio (${failed.size} of ${ops.length} ops)")
    failed.toSeq.sorted.take(5).foreach { i =>
      val o = ops(i)
      out.println(s"    failed op $i ${o.kind} ${o.key}: ${o.error.map(_.toString.take(300)).getOrElse(s"wrong output ${String.valueOf(o.result).take(200)}")}")
    }
    layers.foreach(m => Harness.PerLayer.foreach { case (n, u) => out.println(f"  $n%-28s ${m(n)}%.4f $u") })

    val reported = layers.map(m => Harness.PerLayer.map { case (n, u) => (n, m(n), u) })
      .getOrElse(Harness.EndToEnd.map { case (n, u) => (n, e2e(n), u) })
    val metrics = reported.map { case (n, v, u) => s""""$n": {"value": ${Harness.json(v)}, "unit": "$u"}""" }.mkString(", ")
    out.println(s"""{"correct": ${failed.isEmpty}, "attempted": ${ops.length}, "failed": ${failed.size}, "metrics": {$metrics}}""")
    out.flush()
    ctx.rec.close()
    spark.stop()
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}
