package perfbench

import java.io.{File, FileInputStream, FileOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, IntVector}
import org.apache.arrow.vector.ipc.{ArrowFileReader, SeekableReadChannel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}

import graft.plans.PlanSpec
import graft.sources.ArrowIpc
import graft.table.{Combine, Domains, KTable}

/** Short reads of a 600k-row lineitem Arrow IPC store: the five scan kinds
  * of the `sources` layer and algebra ops of the `table`/`plans` layers
  * over store reads, drawn as shuffled rounds of one op per kind.
  */
final class StoreQuery extends Workload {
  import StoreQuery._

  private var store: String = _
  private var torn: String = _
  private var storeRows = 0L
  private var tornRows = 0L
  /** Per torn file: its name and the number of record batches left complete. */
  private var tornCuts: Seq[(String, Int)] = Nil
  private var ranges: IndexedSeq[(Long, Long)] = _

  def setup(ctx: Ctx): Unit = {
    storeRows = ctx.manifest.get("lineitem").get("rows").asLong
    store = ctx.dir("store")
    ArrowIpc.write(ctx.spark.read.parquet(ctx.in("lineitem.parquet")), store, BatchRows, DictColumns)
    torn = ctx.dir("torn")
    tornCuts = tear(store, torn, new scala.util.Random(ctx.seed))
    tornRows = tornCuts.map(_._2).sum.toLong * BatchRows
    val rng = new scala.util.Random(ctx.seed * 31 + 7)
    ranges = IndexedSeq.tabulate(RangePool) { i =>
      // selectivities log-spaced over [0.1%, 10%] of the order keys, so
      // that every seed times the same amount of work; the seed places them
      val sel = math.pow(10, -3 + 2 * (i + 0.5) / RangePool)
      val width = (sel * Orders).toLong.max(1L)
      val lo = (rng.nextDouble() * (Orders - 2 * width)).toLong
      (lo, lo + width)
    }
  }

  /** Copies every part file of `from` into `to`, cut in the middle of the
    * body of a seeded record batch near the file's middle: the copy has no
    * footer and a torn tail, as a store whose writer crashed mid-write.
    */
  private def tear(from: String, to: String, rng: scala.util.Random): Seq[(String, Int)] = {
    new File(to).mkdirs()
    partFiles(from).map { f =>
      val blocks = withReader(f)(_.getRecordBlocks.asScala.toIndexedSeq)
      // about half of each file survives, so every seed reads the same amount
      val keep = if (blocks.length < 4) 0 else blocks.length / 2 - 1 + rng.nextInt(3)
      val cut = blocks.lift(keep).fold(f.length)(b => b.getOffset + b.getMetadataLength + b.getBodyLength / 2)
      val in = new FileInputStream(f)
      val out = new FileOutputStream(new File(to, f.getName))
      try {
        val buf = new Array[Byte](1 << 16)
        var left = cut
        while (left > 0) {
          val n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
          out.write(buf, 0, n); left -= n
        }
      } finally { in.close(); out.close() }
      (f.getName, keep)
    }
  }

  private def partFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.isFile && f.getName.endsWith(".arrow")).sortBy(_.getName).toSeq

  private def withReader[T](f: File)(body: ArrowFileReader => T): T = {
    val alloc = new RootAllocator()
    val ch = new FileInputStream(f).getChannel
    val r = new ArrowFileReader(new SeekableReadChannel(ch), alloc, CommonsCompressionFactory.INSTANCE)
    try {
      r.getVectorSchemaRoot // reads the footer; the block lists are empty before it
      body(r)
    } finally { r.close(); ch.close(); alloc.close() }
  }

  private def rangeFilters(r: (Long, Long)): Seq[Filter] =
    Seq(GreaterThanOrEqual("l_orderkey", r._1), LessThan("l_orderkey", r._2))

  private def inRange(r: (Long, Long)) = col("l_orderkey") >= r._1 && col("l_orderkey") < r._2

  private def shifted(r: (Long, Long)) = (r._2, 2 * r._2 - r._1)

  private val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  private def ktableOp(in: DataFrame): DataFrame =
    KTable(in).filterRows(col("l_quantity") > 10)
      .map("k" -> col("l_orderkey"), "n" -> col("l_linenumber"), "rev" -> revenue, "flag" -> col("l_returnflag"))
      .slice(SliceFrom, SliceUntil).df

  private val replayPlan: String = PlanSpec.toJson(PlanSpec.Plan(IndexedSeq(
    PlanSpec.Source("li"),
    PlanSpec.FilterRows(0, "l_discount < 0.05"),
    PlanSpec.AppendMap(1, Seq("rev" -> "l_extendedprice * (1 - l_discount)")),
    PlanSpec.DropCols(2, Seq(2))), result = 3))

  private def replayOp(in: DataFrame): DataFrame =
    PlanSpec.execute(PlanSpec.fromJson(replayPlan), Map("li" -> in))

  def warmUp(ctx: Ctx): Unit = {
    val it = rounds(ctx, warm = true)
    it.next().foreach(_.run())
  }

  def rounds(ctx: Ctx): Iterator[Seq[OpSpec]] = rounds(ctx, warm = false)

  private def rounds(ctx: Ctx, warm: Boolean): Iterator[Seq[OpSpec]] = {
    val spark = ctx.spark
    val rec = ctx.rec
    val rng = new scala.util.Random(ctx.seed * 17 + (if (warm) 1 else 0))
    def read(cols: Seq[String], r: (Long, Long)) =
      rec.span("sources", "read")(ArrowIpc.read(spark, store, cols, rangeFilters(r)))
    def fp(layer: String, name: String)(df: => DataFrame): Fingerprint =
      rec.span(layer, name)(Fingerprint.of(df))
    def spec(kind: String): OpSpec = {
      val ri = rng.nextInt(RangePool)
      val r = ranges(ri)
      def s(key: String, rows: Long)(f: => Any) = OpSpec(kind, key, rows, () => f)
      kind match {
        case "scan_full" => s(kind, storeRows)(fp("sources", kind)(ArrowIpc.read(spark, store)))
        case "scan_pruned" => s(kind, storeRows)(fp("sources", kind)(ArrowIpc.read(spark, store, PrunedColumns)))
        case "scan_filtered" => s(s"$kind/$ri", storeRows)(
          fp("sources", kind)(ArrowIpc.read(spark, store, FilterColumns, rangeFilters(r))))
        case "scan_dsv2" => s(s"$kind/$ri", storeRows)(fp("sources", kind)(
          spark.read.format("arrowipc").load(store).where(inRange(r)).select(FilterColumns.map(col): _*)))
        case "scan_partial" => s(kind, tornRows)(fp("sources", kind)(ArrowIpc.readPartial(spark, torn)))
        case "ktable" => s(s"$kind/$ri", storeRows) {
          val in = read(AlgebraColumns, r); fp("table", "algebra")(ktableOp(in))
        }
        case "concatenate" => s(s"$kind/$ri", storeRows) {
          val a = read(AlgebraColumns, r); val b = read(AlgebraColumns, shifted(r))
          fp("table", "algebra")(Combine.concatenateWithNewRowIds(Seq(a, b)))
        }
        case "append_by_position" => s(s"$kind/$ri", storeRows) {
          val a = read(ZipLeft, r); val b = read(ZipRight, r)
          fp("table", "algebra")(Combine.appendByPosition(a, b))
        }
        case "domain_table" => s(s"$kind/$ri", storeRows) {
          val in = read(NumericColumns, r); fp("table", "algebra")(Domains.domainTable(in))
        }
        case "plan_replay" => s(s"$kind/$ri", storeRows) {
          val in = read(AlgebraColumns, r); fp("plans", "replay")(replayOp(in))
        }
      }
    }
    Iterator.continually(rng.shuffle(Kinds).map(spec))
  }

  /** The same query over the parquet source, per op key, in plain Spark:
    * no engine function runs, so the check covers the algebra as well as
    * the store read beneath it. A row's position is its rank in
    * (l_orderkey, l_linenumber) order, a unique key in which the generator
    * writes the rows and the store keeps them.
    */
  private def reference(ctx: Ctx, key: String): Fingerprint = {
    val pq = ctx.spark.read.parquet(ctx.in("lineitem.parquet"))
    val kind = key.takeWhile(_ != '/')
    lazy val r = ranges(key.dropWhile(_ != '/').drop(1).toInt)
    def in(cols: Seq[String], rr: (Long, Long)) = pq.where(inRange(rr)).select(cols.map(col): _*)
    def positioned(df: DataFrame) =
      df.withColumn("__pos", row_number().over(Window.orderBy("l_orderkey", "l_linenumber")) - 1)
    Fingerprint.of(kind match {
      case "scan_full" => pq
      case "scan_pruned" => pq.select(PrunedColumns.map(col): _*)
      case "scan_filtered" => in(FilterColumns, r)
      case "scan_partial" =>
        val (k, n) = (col("l_orderkey"), col("l_linenumber"))
        pq.where(tornKeyRanges().map { case ((k0, n0), (k1, n1)) =>
          (k > k0 || (k === k0 && n >= n0)) && (k < k1 || (k === k1 && n <= n1))
        }.foldLeft(lit(false))(_ || _))
      case "ktable" =>
        positioned(in(AlgebraColumns, r).where(col("l_quantity") > 10))
          .where(col("__pos") >= SliceFrom && col("__pos") < SliceUntil)
          .select(col("l_orderkey").as("k"), col("l_linenumber").as("n"), revenue.as("rev"), col("l_returnflag").as("flag"))
      case "concatenate" =>
        // the second range starts where the first ends: the two reads, one
        // after the other, are one key range, numbered Row0, Row1, ...
        positioned(in(AlgebraColumns, (r._1, shifted(r)._2)))
          .select(concat(lit("Row"), col("__pos").cast("string")).as("row_id") +: AlgebraColumns.map(col): _*)
      case "append_by_position" =>
        // both sides read the same rows, so zipping them by position pairs
        // each row's left columns with its own right columns
        in(ZipLeft ++ ZipRight, r)
      case "domain_table" =>
        val rows = in(NumericColumns, r)
        val stats = rows.agg(count(lit(1)), NumericColumns.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double"), count(col(c)))): _*).head()
        val total = stats.getLong(0)
        ctx.spark.createDataFrame(NumericColumns.zipWithIndex.map { case (c, i) =>
          val nonNull = stats.getLong(3 * i + 3)
          (c, stats.getDouble(3 * i + 1), stats.getDouble(3 * i + 2), total - nonNull, nonNull)
        })
      case "plan_replay" =>
        in(AlgebraColumns, r).where(col("l_discount") < 0.05)
          .select(AlgebraColumns.filterNot(_ == "l_quantity").map(col) :+ revenue.as("rev"): _*)
    })
  }

  /** Per torn file, the first and last (l_orderkey, l_linenumber) of the
    * record batches it keeps whole, read from the intact store with Arrow's
    * own file reader. The source is sorted on that key and every part file
    * holds a contiguous slice of it, so the kept rows are exactly the
    * source rows between the two keys.
    */
  private def tornKeyRanges(): Seq[((Long, Int), (Long, Int))] = tornCuts.filter(_._2 > 0).map { case (name, keep) =>
    withReader(new File(store, name)) { r =>
      def key(block: Int, row: Int => Int) = {
        r.loadRecordBatch(r.getRecordBlocks.get(block))
        val root = r.getVectorSchemaRoot
        val i = row(root.getRowCount)
        (root.getVector("l_orderkey").asInstanceOf[BigIntVector].get(i),
          root.getVector("l_linenumber").asInstanceOf[IntVector].get(i))
      }
      (key(0, _ => 0), key(keep - 1, _ - 1))
    }
  }

  def check(ctx: Ctx, ops: Seq[OpRecord]): Set[Int] = {
    // the native and DSv2 filtered reads answer the same query
    def refKey(key: String) = key.replace("scan_dsv2", "scan_filtered")
    val expected = ops.filter(_.error.isEmpty).map(o => refKey(o.key)).distinct.map { k =>
      k -> (try Some(reference(ctx, k)) catch {
        case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] reference $k failed: $e"); None
      })
    }.toMap
    val wrong = ops.filter(o => o.error.isEmpty && !expected(refKey(o.key)).contains(o.result))
    wrong.foreach(o => System.err.println(s"[perfbench] op ${o.id} ${o.key}: got ${o.result}, expected ${expected(refKey(o.key))}"))
    wrong.map(_.id).toSet
  }

  def storedBytesPerInputByte(ctx: Ctx, ops: Seq[OpRecord]): Double =
    Harness.duBytes(store).toDouble / ctx.manifest.get("lineitem").get("arrow_bytes").asLong

  override def layerExtras(ctx: Ctx, ops: Seq[OpRecord], tv: TraceView): Map[String, Double] = {
    val full = tv.named("sources", "scan_full")
    val filtered = tv.named("sources", "scan_filtered")
    val scans = tv.spans.filter(s => s.layer == "sources" && s.name.startsWith("scan_"))
    def meanRead(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.rcharBytes).sum.toDouble / ss.length
    Map(
      "sources.task_cpu_ns_per_row" ->
        (if (full.isEmpty) 0.0 else full.flatMap(s => tv.jobsUnder(s.id)).map(_.taskCpuNs).sum.toDouble / (full.length * storeRows)),
      "sources.read_bytes_per_op" -> meanRead(scans),
      "sources.filtered_read_frac" -> (if (meanRead(full) > 0) meanRead(filtered) / meanRead(full) else 0.0))
  }

  override def summary(ctx: Ctx, ops: Seq[OpRecord], tv: Option[TraceView]): Seq[String] = {
    val sel = ranges.map { case (lo, hi) => f"${(hi - lo).toDouble / Orders * 100}%.2f%%" }.mkString(", ")
    Seq(s"store: $storeRows rows in ${partFiles(store).length} files; torn copy keeps $tornRows rows; " +
      s"filter ranges select $sel of the order keys") ++
      tv.toSeq.flatMap { t =>
        t.spans.filter(s => s.layer == "sources" && s.name.startsWith("scan_")).groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (n, ss) => f"  $n: ${ss.map(_.rcharBytes).sum.toDouble / ss.length}%.0f bytes read per op (${ss.length} ops)" }
      }
  }
}

object StoreQuery {
  val BatchRows = 4096
  val Orders = 150000L
  val RangePool = 2
  val SliceFrom = 100
  val SliceUntil = 2100
  val DictColumns = Set("l_returnflag", "l_linestatus")
  val PrunedColumns = Seq("l_orderkey", "l_extendedprice", "l_returnflag")
  val FilterColumns = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_shipdate")
  val AlgebraColumns = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_returnflag")
  val ZipLeft = Seq("l_orderkey", "l_linenumber", "l_quantity")
  val ZipRight = Seq("l_extendedprice", "l_discount", "l_returnflag")
  val NumericColumns = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val Kinds = Seq("scan_full", "scan_pruned", "scan_filtered", "scan_dsv2", "scan_partial",
    "ktable", "concatenate", "append_by_position", "domain_table", "plan_replay")
}
