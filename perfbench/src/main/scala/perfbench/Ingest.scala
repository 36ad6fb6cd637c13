package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.sources.ArrowIpc
import graft.table.{Domains, TableWriter}

/** A seeded stream of 50k-row lineitem batches with RowIDs. Each op
  * ingests one batch twice over: `TableWriter.appendWrite` into a parquet
  * table with merged domains and a RowID uniqueness check, then
  * `ArrowIpc.write` as a new segment of an Arrow store.
  */
final class Ingest extends Workload {
  import Ingest._

  private var table: String = _
  private var segments: String = _
  private var batches: IndexedSeq[(String, Long, Long)] = _ // file, rows, arrow bytes

  private def batch(ctx: Ctx, i: Int): DataFrame = {
    val df = ctx.spark.read.parquet(ctx.in(batches(i % batches.length)._1))
    // a later pass over the stream re-sends the batches under fresh RowIDs
    val pass = i / batches.length
    if (pass == 0) df else df.withColumn("row_id", concat(lit(s"p$pass-"), col("row_id")))
  }

  private def ingest(ctx: Ctx, df: DataFrame, tableDir: String, segDir: String): TableWriter.WriteResult = {
    val res = ctx.rec.span("table", "append_write")(TableWriter.appendWrite(df, tableDir, checkRowIdUnique = true))
    ctx.rec.span("sources", "write")(ArrowIpc.write(df, segDir, 4096, DictColumns))
    res
  }

  def setup(ctx: Ctx): Unit = {
    val it = ctx.manifest.get("batches").elements()
    val bs = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) { val b = it.next(); bs += ((b.get("file").asText, b.get("rows").asLong, b.get("arrow_bytes").asLong)) }
    batches = bs.result().toIndexedSeq
    // the table starts from the stream's first batch, so every timed op is an append
    table = ctx.dir("table"); segments = ctx.dir("segments")
    ingest(ctx, batch(ctx, 0), table, s"$segments/seg-00000")
  }

  def warmUp(ctx: Ctx): Unit = {
    val (t, s) = (ctx.dir("warm-table"), ctx.dir("warm-segments"))
    // op latency kept falling over the first six appends of a run after two
    // warm-up appends; four flatten most of that trend
    (0 until 4).foreach(i => ingest(ctx, batch(ctx, i), t, f"$s/seg-$i%05d"))
    Seq(t, s).foreach(Harness.deleteTree)
  }

  def rounds(ctx: Ctx): Iterator[Seq[OpSpec]] = Iterator.from(1).map { i =>
    val rows = batches(i % batches.length)._2
    Seq(OpSpec("ingest", s"batch/$i", rows, () => ingest(ctx, batch(ctx, i), table, f"$segments/seg-$i%05d").rowCount))
  }

  def check(ctx: Ctx, ops: Seq[OpRecord]): Set[Int] = {
    val ok = ops.filter(_.error.isEmpty)
    // every append reports the table's running row count
    var expected = batches(0)._2
    val badCounts = ops.flatMap { o =>
      expected += o.inputRows
      if (o.error.isEmpty && o.result != expected) Some(o.id) else None
    }.toSet
    val spark = ctx.spark
    val whole = spark.read.parquet(table)
    val (domains, rows) = Domains.computeWithRowCount(whole)
    val stored = TableWriter.readDomains(spark, table)
    // distinct counts merge through HLL sketches for the sketch-backed
    // types (Domains.merge); they are held to the exact count, within the
    // sketch's error, rather than to the recompute's own estimate
    val sketched = whole.schema.fields.collect {
      case f if Seq(IntegerType, LongType, StringType).contains(f.dataType) => f.name
    }.toSeq
    val exact = whole.agg(countDistinct(col(sketched.head)), sketched.tail.map(c => countDistinct(col(c))): _*).head()
    val exactDistinct = sketched.zipWithIndex.map { case (c, i) => c -> exact.getLong(i) }.toMap
    val mismatched = stored.toSeq.flatMap { case (n, ds) =>
      (if (n == rows) Nil else Seq(s"row count $n, recomputed $rows")) ++
        (if (ds.length == domains.length) Nil else Seq(s"${ds.length} domains, recomputed ${domains.length}")) ++
        ds.zip(domains).filterNot { case (m, r) => sameDomain(m, r, exactDistinct.get(m.column)) }
          .map { case (m, r) => s"merged ${describe(m)}; recomputed ${describe(r)}; exact distinct ${exactDistinct.get(m.column)}" }
    } ++ (if (stored.isEmpty) Seq("no domains sidecar") else Nil)
    mismatched.foreach(m => System.err.println(s"[perfbench] ingest domains: $m"))
    // the Arrow segments hold exactly the rows of the parquet table
    val segs = new java.io.File(segments).listFiles().filter(_.isDirectory).map(_.getPath).sorted.toSeq
    val segmentsMatch =
      Fingerprint.of(segs.map(ArrowIpc.read(spark, _)).reduce(_.unionAll(_))) == Fingerprint.of(whole)
    if (!segmentsMatch) System.err.println("[perfbench] the Arrow segments differ from the parquet table")
    if (mismatched.isEmpty && segmentsMatch) badCounts else ok.map(_.id).toSet
  }

  private def sameDomain(m: Domains.ColumnDomain, r: Domains.ColumnDomain, exactDistinct: Option[Long]): Boolean =
    m.column == r.column && m.dataType.simpleString == r.dataType.simpleString &&
      m.min.map(_.toString) == r.min.map(_.toString) && m.max.map(_.toString) == r.max.map(_.toString) &&
      m.nominal.map(_.map(String.valueOf).sorted) == r.nominal.map(_.map(String.valueOf).sorted) &&
      m.nullCount == r.nullCount &&
      exactDistinct.forall(e => math.abs(m.approxDistinct - e) <= DistinctTolerance * e)

  private def describe(d: Domains.ColumnDomain): String =
    s"${d.column} ${d.dataType.simpleString} [${d.min}, ${d.max}] nominal ${d.nominal.map(_.size)} " +
      s"nulls ${d.nullCount} distinct ${d.approxDistinct}"

  def storedBytesPerInputByte(ctx: Ctx, ops: Seq[OpRecord]): Double = {
    val ingested = (0 +: ops.indices.map(_ + 1)).map(i => batches(i % batches.length)._3).sum
    (Harness.duBytes(table) + Harness.duBytes(segments)).toDouble / ingested
  }

  override def layerExtras(ctx: Ctx, ops: Seq[OpRecord], tv: TraceView): Map[String, Double] = {
    val appends = tv.named("table", "append_write")
    def jobMs(site: String) =
      if (appends.isEmpty) 0.0
      else appends.flatMap(s => tv.jobsUnder(s.id)).filter(j => ctx.rec.callSite(j).contains(site))
        .map(j => (j.endNs - j.startNs) / 1e6).sum / appends.length
    Map("table.domain_job_ms" -> jobMs("graft.table.Domains"), "table.rowid_check_ms" -> jobMs("graft.table.RowId"))
  }

  override def summary(ctx: Ctx, ops: Seq[OpRecord], tv: Option[TraceView]): Seq[String] =
    Seq(s"stream: ${batches.length} generated batches of ${batches.head._2} rows; ${ops.length} appended after the first")
}

object Ingest {
  val DictColumns = Set("l_returnflag", "l_linestatus")
  /** Three standard errors of an lgK = 12 HLL sketch (1.04 / 64 each). */
  val DistinctTolerance = 0.05
}
