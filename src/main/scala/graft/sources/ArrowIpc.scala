package graft.sources

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.flatbuf.{DictionaryBatch => FbDictionaryBatch, Footer, Message => FbMessage, RecordBatch => FbRecordBatch}
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{LargeListVector, ListVector, MapVector, StructVector}
import org.apache.arrow.vector.compression.{CompressionUtil, NoCompressionCodec}
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileWriter, SeekableReadChannel}
import org.apache.arrow.vector.ipc.message.{ArrowBlock, ArrowBodyCompression, ArrowDictionaryBatch, ArrowFieldNode, ArrowFooter, ArrowRecordBatch, IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ArrowSchema}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.util.DictionaryUtility
import org.apache.commons.compress.compressors.lz4.BlockLZ4CompressorInputStream
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.{Channels, SeekableByteChannel}
import scala.jdk.CollectionConverters._

/** Arrow IPC file interop — the reference's native storage format
  * (LZ4-frame-compressed Arrow IPC batch files; reference
  * org.knime.core.columnar.arrow/src/main/java/org/knime/core/columnar/arrow/offheap/OffHeapArrowBatchStore.java:66,
  * ArrowReaderWriterUtils.java:93 footer handling, :229 batch offsets).
  * A user migrating existing columnar tables reads them here directly.
  *
  * Coverage: all core scalar types (incl. Void/all-null columns —
  * reference ArrowVoidDataFactory) plus nested List/Struct/Map columns
  * (reference ListData.java / StructData.java, schema dispatch
  * OnHeapArrowSchemaMapper.java:105-222), dictionary-encoded columns on
  * read — at any nesting depth, with per-batch dictionary REPLACEMENT as
  * the reference writes it (OnHeapArrowDictEncodedStringData.java,
  * DictKeys.java:72-206) and spec-style DELTA dictionaries — and
  * write-side dictionary encoding for string/binary columns (see
  * [[write]]), plus the reference's LEGACY LZ4-block
  * compressed stores (see [[FooterSource]]). Arrow field metadata maps
  * into `StructField.metadata` and back, so the reference's logical-type
  * annotations (LogicalTypeExtensionType.java:59) survive a round trip.
  * Types Spark lacks map losslessly with a `graft.arrow.logical` metadata
  * marker restoring the Arrow type on write: time64[ns]→long (Spark TIME
  * caps at microseconds), largeUtf8→string, largeBinary→binary.
  *
  * Scale shape: one task per FILE (a store is a directory of IPC files,
  * each internally batched — the reference's batch-per-RecordBatch
  * layout), so a 1000-file store fans out across the cluster with no
  * driver materialization — and files LARGER than
  * `spark.graft.arrow.splitBytes` (default 128 MB) additionally fan out
  * WITHIN the file: byte-bounded record-batch ranges served by parallel
  * tasks (footer blocks sliced via serveRange here; a planned walk for
  * footer-less partial files — see [[readPartial]]), so a single huge
  * file is not a serial read either (sf10: 301 MB file, 18 tasks, 8.6×
  * footer / 5× partial — `ScaleProbe arrow_partial_split`).
  * Each batch converts Arrow vectors DIRECTLY to
  * `InternalRow` (single conversion; `UTF8String`/`ArrayData` values, no
  * external-Row detour — measured 1.27× the r6 double-conversion read,
  * 1.44 M rows/s on sf0.1 lineitem, numbers in BASELINE.md; perfbench's
  * `store_query` scans time this path now). COLUMN pruning DOES reach
  * IPC files: `read(spark, path, columns)` reads only the selected
  * fields' buffer byte ranges (the record-batch flatbuffer metadata
  * carries every buffer's offset/length, so unselected columns cost zero
  * body IO, zero decompression, zero decode — and dictionary batches for
  * unselected columns are skipped body-unread). FILTER pushdown reaches
  * ENGINE-WRITTEN files: [[write]] records per-batch min/max/null
  * statistics in the file footer ([[BatchStatsKey]]) and
  * `read(path, columns, filters)` skips batches no filter row can live
  * in — parquet row-group semantics, same conservative contract
  * (surviving batches re-filter exactly; stats only save IO). Foreign
  * files carry no stats and read fully — for repeated filtered analytics
  * over a migrated store, the one-time `read → write parquet` (or
  * re-write through [[write]], which adds stats) remains the intended
  * path.
  */
object ArrowIpc {

  /** StructField.metadata key recording an Arrow type that Spark has no
    * native equivalent for; write() restores the original Arrow type.
    */
  val LogicalKey = "graft.arrow.logical"
  /** Metadata keys recording that a column arrived dictionary-encoded.
    * [[write]] consumes the marker: such columns are re-encoded on write
    * (accumulating file dictionary + delta batches), so a
    * reference→Spark→IPC round trip keeps its encoding.
    */
  val DictKey = "graft.arrow.dictEncoded"
  val DictWidthKey = "graft.arrow.dictIndexWidth"
  /** The reference's marker for its legacy LZ4-block compressed stores
    * (reference ArrowReaderWriterUtils.java:103). The block codec is not
    * part of the Arrow format (codec byte -2, ArrowCompressionUtil.java:157),
    * so these files need the footer-driven [[FooterSource]] path.
    */
  private val LegacyBlockKey = "KNIME:basic:usingLz4Block"

  /** Local-mode IO diagnostic: total bytes read through
    * [[HadoopSeekableChannel]] in this JVM. Specs use it to PROVE column
    * pruning skips unselected buffer bytes (meaningful in local mode
    * only, where every task shares the JVM; on a cluster each executor
    * counts its own).
    */
  private[graft] val bytesReadCounter = new java.util.concurrent.atomic.LongAdder

  /** Bytes pulled through the IPC reader's channel while running `f`
    * (local-mode measurement helper — specs and probes share it).
    *
    * SINGLE-QUERY assumption: the counter is JVM-global, so the delta
    * attributes every concurrent channel read to `f`. Callers (specs,
    * ScaleProbe) run one query at a time with no
    * background Spark jobs; a parallel test runner would make byte
    * assertions flaky — keep suites that assert on this sequential.
    */
  private[graft] def bytesReadDuring[T](f: => T): (T, Long) = {
    val before = bytesReadCounter.sum()
    val r = f
    (r, bytesReadCounter.sum() - before)
  }

  /** FILE-footer custom-metadata key holding per-record-batch column
    * statistics as a JSON array (one element per batch, in footer block
    * order): `[{"rows":N,"cols":{"c":{"t":"l|d|s","min":…,"max":…,
    * "nulls":K}, …}}, …]`. Written by [[write]] for long-comparable
    * (integer/date/timestamp), double, and short-string top-level
    * columns; consumed by `read(path, columns, filters)` to SKIP batches
    * no filter row can live in — the IPC analog of parquet row-group
    * statistics. Foreign files (reference stores) lack the key and read
    * fully; a wrong/missing entry can only disable skipping, never drop
    * rows, because every surviving batch is re-filtered exactly.
    */
  val BatchStatsKey = "graft.arrow.batchStats"

  // =====================================================================
  // schema + metadata inspection (driver-side footer reads)
  // =====================================================================

  /** Spark schema for an IPC file — parsed from the file footer's
    * MESSAGE-format schema (dictionary-encoded fields carry their value
    * type there, which is what the DataFrame surfaces).
    */
  def schemaOf(spark: SparkSession, file: String): StructType = {
    val (fs, p) = fsPath(spark, file)
    withChannel(fs, p)(ch => fromArrowSchema(readFooter(ch).getSchema))
  }

  /** Schema-level custom metadata (e.g. the reference's
    * `KNIME:basic:chunkSize`) — surfaced for migration tooling.
    */
  def storeMetadataOf(spark: SparkSession, file: String): Map[String, String] = {
    val (fs, p) = fsPath(spark, file)
    withChannel(fs, p)(ch => readFooter(ch).getSchema.getCustomMetadata.asScala.toMap)
  }

  private def fsPath(spark: SparkSession, file: String): (FileSystem, HPath) = {
    val p = new HPath(file)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def withChannel[T](fs: FileSystem, p: HPath)(f: SeekableByteChannel => T): T = {
    val ch = new HadoopSeekableChannel(fs, p)
    try f(ch) finally ch.close()
  }

  /** IPC file layout: ...[footer][int32 footerLen]["ARROW1"]. */
  private def readFooter(ch: SeekableByteChannel): ArrowFooter = {
    val size = ch.size()
    require(size > 10, s"not an Arrow IPC file (too small: $size bytes)")
    val tail = readFully(ch, size - 10, 10)
    val footerLen = tail.getInt
    val magic = new Array[Byte](6); tail.get(magic)
    require(new String(magic, "ASCII") == "ARROW1", "not an Arrow IPC file (missing ARROW1 trailer)")
    val fb = readFully(ch, size - 10 - footerLen, footerLen)
    new ArrowFooter(Footer.getRootAsFooter(fb))
  }

  private def readFully(ch: SeekableByteChannel, pos: Long, n: Int): ByteBuffer = {
    val buf = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    ch.position(pos)
    while (buf.hasRemaining) require(ch.read(buf) >= 0, "unexpected EOF reading Arrow footer")
    buf.flip()
    buf
  }

  // =====================================================================
  // read
  // =====================================================================

  /** Read a directory of (or single) Arrow IPC files into a DataFrame.
    * Every file must share one schema (the reference's store invariant).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readImpl(spark, path, selected = None, filters = Nil)

  /** Column-pruned read: only `columns` (project/permute/duplicate —
    * [[graft.table.KTable.selectColumns]] semantics) are materialized,
    * and only their buffer byte ranges are READ: each record batch's
    * flatbuffer metadata locates every buffer within the body, so
    * unselected columns cost zero body IO / decompression / decode, and
    * dictionary batches serving only unselected columns are skipped with
    * their bodies unread. An empty `columns` reads no body bytes at all
    * (row counts come from the batch metadata) — the `count(*)` shape.
    *
    * At 100 TB this is the difference between "migrate the 3 columns the
    * backfill needs" reading 3 columns' bytes and reading the store:
    * same contract parquet scans get from `ReadSchema` pruning, delivered
    * without a format conversion.
    */
  def read(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    readImpl(spark, path, selected = Some(columns.toArray), filters = Nil)

  /** Column-pruned AND filter-skipped read: on top of the `columns`
    * contract above, record batches whose [[BatchStatsKey]] statistics
    * prove no row can satisfy the (conjoined) `filters` are skipped
    * without reading a single body byte — the IPC analog of parquet
    * row-group skipping, available on engine-written stores (foreign
    * files carry no stats and read fully). Every surviving batch is
    * re-filtered EXACTLY (the filters translate to Catalyst predicates),
    * so statistics can only save IO, never change results. Filter
    * columns need not be in `columns`; they are read internally and
    * dropped from the output.
    */
  def read(spark: SparkSession, path: String, columns: Seq[String],
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    readImpl(spark, path, selected = Some(columns.toArray), filters = filters)

  /** Full-width filter-skipped read (all columns, batch skipping). */
  def readFiltered(spark: SparkSession, path: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    readImpl(spark, path, selected = None, filters = filters)

  /** PARTIAL / in-flight read — the reference's consume-while-producing
    * capability (reference org.knime.core.columnar.arrow/…/offheap/
    * OffHeapArrowPartialFileBatchReadable.java): every COMPLETE record
    * batch of `path` (file or directory), NO footer required, so a store
    * whose writer crashed mid-write — or is still running — is readable
    * up to its last committed batch. After the 8-byte magic an IPC file
    * body is the self-delimiting STREAM framing, so the reader walks
    * messages in file order (dictionary initial/delta/replacement
    * semantics identical to [[read]]) and a torn tail — truncated
    * metadata, message, or body — simply ends that file's contribution;
    * a COMPLETE file stops cleanly at its end-of-stream marker. A file
    * torn before even its schema message contributes zero rows; the
    * DataFrame's schema comes from the first file that carries one, and
    * a readable file whose schema diverges fails loud with its path.
    * Statistics and filters live on the footer-driven [[read]] (the
    * footer is exactly what a torn file lacks), but COLUMN PRUNING does
    * not need the footer: each stream message carries the same flatbuffer
    * buffer layout the pruned reader decodes, so the `columns` overload
    * below reads only the selected fields' byte ranges of each complete
    * batch — a migration-era consume-while-producing read of a WIDE store
    * no longer pays full-width IO.
    *
    * Scale shape: one task per file, and files LARGER than
    * `spark.graft.arrow.splitBytes` (default 128 MB) additionally
    * fan out WITHIN the file — a metadata-only plan walk (bodies skipped
    * positionally) lists the complete batches, which chunk into
    * byte-bounded ranges served by parallel tasks, each replaying the
    * dictionary messages its range depends on (see [[partialPlan]]). A
    * single huge in-flight migration file no longer reads serially
    * (sf10 probe: 301 MB single file, 18 tasks, 5× — `ScaleProbe
    * arrow_partial_split`).
    */
  def readPartial(spark: SparkSession, path: String): DataFrame =
    readPartialImpl(spark, path, selected = None)

  /** Column-pruned partial read: [[readPartial]] semantics (every
    * complete batch, torn tails stop cleanly) with [[read]]'s `columns`
    * contract (project/permute/duplicate; only selected buffer ranges are
    * read, unselected dictionaries skip body-unread, zero columns =
    * metadata-only row counts).
    */
  def readPartial(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    readPartialImpl(spark, path, selected = Some(columns.toArray))

  /** One serving task's share of a big in-flight file: a contiguous range
    * of its complete record batches, plus the MINIMAL dictionary messages
    * the range depends on (see [[sliceDicts]] — replaying them in offset
    * order reconstructs exactly the dictionary state each batch saw;
    * pruned reads still skip unselected ids' bodies). Blocks are
    * (messageOffset, metadataLength incl. the length prefix, bodyLength)
    * — the ArrowBlock shape.
    */
  private[sources] final case class PartialSlice(file: String, schemaBlock: (Long, Int),
      dicts: IndexedSeq[(Long, Int, Long)], recs: IndexedSeq[(Long, Int, Long)])

  /** One planned dictionary message: block span plus the identity the
    * minimal-replay computation needs (dictionary id; delta vs
    * initial/replacement).
    */
  private[graft] final case class DictMsg(off: Long, metaLen: Int, bodyLen: Long,
      id: Long, isDelta: Boolean)

  /** The MINIMAL dictionary messages a slice [firstOff, lastOff] of
    * record batches must replay (r17 shipped the full prefix — correct
    * but O(file) redundant IO per slice on a replacement-heavy store;
    * quadratic-ish across slices). Two regimes, both exact:
    *
    *  - messages BEFORE the slice's first batch collapse PER ID to the
    *    last initial/replacement plus its subsequent deltas — that chain
    *    reconstructs id's state at `firstOff` exactly (earlier replaced
    *    generations are unreachable from any batch in the slice);
    *  - messages BETWEEN the first and last batch must ALL ride along:
    *    they interleave with the slice's own batches (a mid-slice
    *    replacement changes what the NEXT batch in the slice sees), and
    *    [[FooterSource]] replays everything in offset order.
    *
    * Deltas with no preceding base (foreign writer quirk) keep the whole
    * chain — never less than the r17 prefix semantics.
    */
  private[graft] def sliceDicts(dicts: IndexedSeq[DictMsg], firstOff: Long,
      lastOff: Long): IndexedSeq[DictMsg] = {
    val (prefix, interleaved) = dicts.filter(_.off < lastOff).partition(_.off < firstOff)
    val collapsed = prefix.groupBy(_.id).values.flatMap { msgs =>
      val lastBase = msgs.lastIndexWhere(!_.isDelta)
      if (lastBase < 0) msgs else msgs.drop(lastBase)
    }
    (collapsed ++ interleaved).toIndexedSeq.sortBy(_.off)
  }

  private def toArrowBlocks(bs: IndexedSeq[(Long, Int, Long)]): java.util.List[ArrowBlock] =
    bs.map { case (off, metaLen, bodyLen) => new ArrowBlock(off, metaLen, bodyLen) }.asJava

  /** Group contiguous record batches into ranges of ~`target` bytes
    * (message + body) each — the within-file split unit. Covers every
    * batch exactly once; never emits an empty range.
    */
  private[graft] def chunkRanges(recs: IndexedSeq[(Long, Int, Long)],
      target: Long): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var lo = 0
    var acc = 0L
    var i = 0
    while (i < recs.length) {
      acc += recs(i)._2 + recs(i)._3
      if (acc >= target) { out += ((lo, i + 1)); lo = i + 1; acc = 0L }
      i += 1
    }
    if (lo < recs.length) out += ((lo, recs.length))
    out.toSeq
  }

  /** Schema of a partial/in-flight store: the first file that got far
    * enough to carry a complete schema message (with concurrent writers
    * ANY file can be torn pre-schema) — a schema-only plan probe, one
    * message deep. None when no file carries one.
    */
  private[sources] def planPartialSchema(spark: SparkSession,
      statuses: Seq[(String, Long)]): Option[StructType] =
    statuses.iterator
      .flatMap { case (f, _) =>
        val (ffs, fp) = fsPath(spark, f)
        withChannel(ffs, fp)(ch =>
          partialPlan(ch, f, schemaOnly = true).map(pl => fromArrowSchema(pl.schema)))
      }
      .nextOption()

  /** Task plan for a partial/in-flight read: files above the split
    * threshold fan out WITHIN the file — a metadata-only plan walk (one
    * executor task per big file; bodies are skipped positionally, so a
    * 100 GB file plans in message-count time) yields the complete-batch
    * block list, which chunks into byte-bounded ranges served in
    * parallel, each slice carrying its MINIMAL dictionary replay set
    * ([[sliceDicts]]). Small files keep the one-task-per-file shape with
    * the plan walked in the task itself (Left). A big file torn before
    * its schema contributes zero tasks.
    */
  private[sources] def planPartialTasks(spark: SparkSession,
      statuses: Seq[(String, Long)], splitBytes: Long): Seq[Either[String, PartialSlice]] = {
    val bigFiles = statuses.collect { case (f, len) if len > splitBytes => f }
    // collected shape is blocks-only: the Arrow Schema pojo is not
    // serializable (and slices re-read the schema message themselves)
    val bigPlans: Map[String, ((Long, Int), IndexedSeq[DictMsg], IndexedSeq[(Long, Int, Long)])] =
      if (bigFiles.isEmpty) Map.empty
      else {
        val confB = spark.sparkContext.broadcast(
          new SerializableWritable(spark.sparkContext.hadoopConfiguration))
        spark.sparkContext.parallelize(bigFiles, bigFiles.size)
          .map { f =>
            val c = confB.value.value
            val hp = new HPath(f)
            val ch = new HadoopSeekableChannel(hp.getFileSystem(c), hp)
            try f -> partialPlan(ch, f).map(pl => (pl.schemaBlock, pl.dicts, pl.recs))
            finally ch.close()
          }
          .collect().toSeq
          .collect { case (f, Some(pl)) => f -> pl }.toMap
      }
    statuses.flatMap { case (f, len) =>
      if (len <= splitBytes) Seq(Left(f))
      else bigPlans.get(f) match {
        case None => Seq.empty // torn before schema: zero rows
        case Some((schemaBlock, dicts, recs)) =>
          chunkRanges(recs, splitBytes).map { case (lo, hi) =>
            // minimal dictionary replay per slice: prefix collapsed per
            // id to the live chain at the slice's first batch, mid-slice
            // messages kept (they interleave) — see [[sliceDicts]]
            Right(PartialSlice(f, schemaBlock,
              sliceDicts(dicts, recs(lo)._1, recs(hi - 1)._1)
                .map(m => (m.off, m.metaLen, m.bodyLen)),
              recs.slice(lo, hi)))
          }
      }
    }
  }

  /** Open the serving source for one partial-read task (executor-side;
    * shared by [[readPartialImpl]]'s closure and the DataSourceV2
    * partial reader). Left = whole small file, planned here in-task;
    * Right = a planned slice of a big file. None = the file tore before
    * its schema (zero rows).
    */
  private[sources] def openPartialSourceAt(conf: org.apache.hadoop.conf.Configuration,
      task: Either[String, PartialSlice],
      selected: Option[Array[String]]): Option[FooterSource] = {
    val file = task.fold(identity, _.file)
    val hp = new HPath(file)
    val ch = new HadoopSeekableChannel(hp.getFileSystem(conf), hp)
    try task match {
      case Left(f) =>
        partialPlan(ch, f).map(pl => new FooterSource(ch,
          new ArrowFooter(pl.schema, toArrowBlocks(pl.dictBlocks),
            toArrowBlocks(pl.recs), new java.util.HashMap[String, String]()),
          selected))
          .orElse { ch.close(); None }
      case Right(sl) =>
        // the slice's schema rides the file itself: re-read the
        // schema message (tiny) instead of shipping Arrow pojos
        val sch = MessageSerializer.deserializeSchema(
          messageMetaAt(ch, sl.schemaBlock._1, sl.schemaBlock._2))
        Some(new FooterSource(ch,
          new ArrowFooter(sch, toArrowBlocks(sl.dicts), toArrowBlocks(sl.recs),
            new java.util.HashMap[String, String]()), selected))
    } catch { case t: Throwable => ch.close(); throw t }
  }

  private def readPartialImpl(spark: SparkSession, path: String,
      selected: Option[Array[String]]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val statuses = listStoreFiles(fs, p, path)
    require(statuses.nonEmpty, s"no Arrow IPC files under $path")
    val schema: StructType = planPartialSchema(spark, statuses)
      .getOrElse(throw new IllegalArgumentException(
        s"Arrow IPC partial read: no file under $path carries a complete schema message"))
    // pruned output schema: requested order, duplicates allowed; unknown
    // names fail here on the driver, not mid-scan
    val outSchema = selected match {
      case None => schema
      case Some(names) => StructType(names.map(n =>
        schema.fields.find(_.name == n).getOrElse(throw new IllegalArgumentException(
          s"column $n not in Arrow IPC schema ${schema.fieldNames.mkString(", ")} ($path)"))))
    }
    val confB = spark.sparkContext.broadcast(new SerializableWritable(conf))
    val tasks = planPartialTasks(spark, statuses, arrowSplitBytes(spark))
    if (tasks.isEmpty) // schema found, zero complete batches anywhere
      return GraftSqlInternals.internalCreateDataFrame(spark,
        spark.sparkContext.emptyRDD[InternalRow], outSchema)
    val rows = spark.sparkContext
      .parallelize(tasks, tasks.size)
      .flatMap { task =>
        openPartialSourceAt(confB.value.value, task, selected) match {
          case None => Iterator.empty // pre-schema tear: zero rows
          case Some(src) =>
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => src.close()))
            if (src.sparkSchema.map(f => (f.name, f.dataType)) != schema.map(f => (f.name, f.dataType))) {
              src.close()
              throw new IllegalArgumentException(
                s"Arrow IPC file ${task.fold(identity, _.file)} schema " +
                  s"${src.sparkSchema.simpleString} differs from " +
                  s"the directory schema ${schema.simpleString}")
            }
            src.rows
        }
      }
    GraftSqlInternals.internalCreateDataFrame(spark, rows, outSchema)
  }

  /** FILE-footer custom metadata of one IPC file (where [[BatchStatsKey]]
    * lives — distinct from the SCHEMA metadata [[storeMetadataOf]]
    * surfaces). Specs use it to pin the mutable-fileMeta contract: batch
    * statistics reach the footer only because ArrowFileWriter serializes
    * the same map at end(), so an arrow-java upgrade that defensively
    * copied the map at construction would silently drop them (reads stay
    * correct but full-scan) — ArrowFilterSpec fails loudly on that
    * upgrade instead of a per-write read-back on the hot path.
    */
  private[graft] def fileMetadataOf(spark: SparkSession, file: String): Map[String, String] = {
    val (fs, p) = fsPath(spark, file)
    withChannel(fs, p)(ch => readFooter(ch).getMetaData.asScala.toMap)
  }

  /** Record-batch block descriptors (offset, metadataLength, bodyLength)
    * of a COMPLETE IPC file, in file order — partial-read tooling derives
    * safe truncation points from these (the q_arrow_partial_scan gate's
    * torn-store builder cuts mid-message after batch 2).
    */
  private[graft] def recordBatchBlocks(spark: SparkSession,
      file: String): Seq[(Long, Int, Long)] = {
    val (fs, p) = fsPath(spark, file)
    withChannel(fs, p)(ch => readFooter(ch).getRecordBatches.asScala.toSeq
      .map(b => (b.getOffset, b.getMetadataLength, b.getBodyLength)))
  }

  /** The encapsulated-message flatbuffer at `offset` — a metadata-only
    * read of `metadataLength` bytes (the body is NOT touched). Handles
    * both the post-0.15 continuation prefix and the legacy bare-length
    * prefix. Shared by [[FooterSource]] and the partial-read plan serve.
    */
  private def messageMetaAt(ch: SeekableByteChannel, offset: Long,
      metadataLength: Int): FbMessage = {
    val bb = readFully(ch, offset, metadataLength)
    val first = bb.getInt
    val metaLen = if (first == MessageSerializer.IPC_CONTINUATION_TOKEN) bb.getInt else first
    val slice = bb.slice()
    slice.limit(metaLen)
    FbMessage.getRootAsMessage(slice.order(ByteOrder.LITTLE_ENDIAN))
  }

  private def readImpl(spark: SparkSession, path: String, selected: Option[Array[String]],
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val statuses = listStoreFiles(fs, p, path)
    val files = statuses.map(_._1)
    require(files.nonEmpty, s"no Arrow IPC files under $path")
    val schema = schemaOf(spark, files.head)
    def fieldOf(n: String): StructField =
      schema.fields.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"column $n not in Arrow IPC schema ${schema.fieldNames.mkString(", ")} ($path)"))
    // filter references resolve to TOP-LEVEL columns for the scan's
    // column set: an exact top-level name, or — for a dotted nested-leaf
    // path ("meta.page") — its root struct. The root joins the scan's
    // columns (pruned reads still skip everything else) and drops from
    // the output below; the residual predicate evaluates the nested
    // access exactly on the loaded rows
    val filterRefs = filters.flatMap(_.references).distinct
      .map(r => if (schema.fieldNames.contains(r)) r else r.takeWhile(_ != '.'))
      .distinct
    filterRefs.foreach(fieldOf)
    // pruned output schema: requested order, duplicates allowed (selectColumns
    // semantics); unknown names fail here on the driver, not mid-scan
    val outSchema = selected match {
      case None => schema
      case Some(names) => StructType(names.map(fieldOf))
    }
    // no filters: the source itself materializes dups/permutations
    // (outPerm); with filters the scan reads DISTINCT names (a duplicated
    // name would make the residual predicate ambiguous) and the final
    // select re-expands the requested order/duplicates
    val readNames = selected.map { names =>
      if (filters.isEmpty) names
      else (names ++ filterRefs.filterNot(names.contains)).distinct
    }
    val readSchema = readNames match {
      case None => schema
      case Some(names) => StructType(names.map(fieldOf))
    }
    val confB = spark.sparkContext.broadcast(new SerializableWritable(conf))
    // files above the split threshold fan out WITHIN the file: the
    // footer IS the plan, so byte-bounded record-batch ranges serve in
    // parallel via FooterSource's serveRange (footer-GLOBAL indices, so
    // per-batch statistics skipping stays aligned) — a single huge
    // complete file no longer reads serially, same as readPartial's
    // planned splits. Many big files plan their footers in ONE executor
    // job, not a serial driver loop (see [[planCompleteTasks]]).
    val tasks: Seq[(String, Option[(Int, Int)])] =
      planCompleteTasks(spark, statuses, arrowSplitBytes(spark))
    val rows = spark.sparkContext
      .parallelize(tasks, tasks.size)
      .flatMap { case (file, range) =>
        val c = confB.value.value
        val hp = new HPath(file)
        val hfs = hp.getFileSystem(c)
        val src = openBatchSource(hfs, hp, readNames, filters, range)
        // cleanup listener FIRST so a partially-drained iterator
        // (limit/take/kill) cannot leak off-heap Arrow buffers, the
        // allocator, or the file handle — and so the invariant check
        // below cannot leak on throw either.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => src.close()))
        // store invariant: a file whose schema diverges from the
        // directory's fails with the offending PATH, not a downstream
        // cast error. names + types only: nullability/metadata deltas
        // are representable in the directory schema.
        if (src.sparkSchema.map(f => (f.name, f.dataType)) != schema.map(f => (f.name, f.dataType))) {
          src.close()
          throw new IllegalArgumentException(
            s"Arrow IPC file $file schema ${src.sparkSchema.simpleString} differs from " +
              s"the directory schema ${schema.simpleString}")
        }
        src.rows
      }
    val scan = GraftSqlInternals.internalCreateDataFrame(spark, rows, readSchema)
    // residual: surviving batches re-filter EXACTLY; then drop the
    // filter-only columns so `columns` is the output contract
    val filtered =
      if (filters.isEmpty) scan
      else scan.where(filters.map(filterToColumn).reduce(_ && _))
    selected match {
      case Some(names) if filters.nonEmpty =>
        import org.apache.spark.sql.functions.col
        filtered.select(names.toIndexedSeq.map(col): _*)
      case _ => filtered
    }
  }

  /** The within-file fan-out threshold shared by the footer-driven and
    * partial readers (bytes; default 128 MB, the maxPartitionBytes
    * neighborhood). Malformed or non-positive values fail with the knob
    * NAMED (zero/negative would degenerate to one task per record batch).
    */
  private[graft] def arrowSplitBytes(spark: SparkSession): Long = {
    val key = "spark.graft.arrow.splitBytes"
    val raw = spark.conf.get(key, (128L * 1024 * 1024).toString)
    val v = try raw.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"ArrowIpc: $key must be a number of bytes, got '$raw'")
    }
    require(v > 0, s"ArrowIpc: $key must be positive (got $v); " +
      "zero/negative would split every record batch into its own task")
    v
  }

  /** Task plan for a footer-driven read over `statuses` (file, length):
    * one task per file, plus within-file record-batch ranges for files
    * above `splitBytes` — served via [[FooterSource]]'s serveRange with
    * footer-GLOBAL indices. Big files' footers are read in ONE executor
    * job (a serial per-file driver loop on an object store with hundreds
    * of >threshold files would stall the scan before it starts; the
    * single-big-file case stays a driver read — one footer, no job).
    * A footer whose record-batch blocks are NOT in ascending offset
    * order (no known writer produces one, but the format does not forbid
    * it) falls back to the unsplit one-task read for that file:
    * serveRange's early-stop and [[chunkRanges]]'s contiguity both assume
    * offset-sorted blocks, and silently dropping in-range batches is the
    * one failure mode this reader must never have.
    */
  private[graft] def planCompleteTasks(spark: SparkSession,
      statuses: Seq[(String, Long)], splitBytes: Long): Seq[(String, Option[(Int, Int)])] = {
    val bigFiles = statuses.collect { case (f, len) if len > splitBytes => f }
    val bigBlocks: Map[String, IndexedSeq[(Long, Int, Long)]] =
      if (bigFiles.isEmpty) Map.empty
      else if (bigFiles.size == 1)
        Map(bigFiles.head -> recordBatchBlocks(spark, bigFiles.head).toIndexedSeq)
      else {
        val confB = spark.sparkContext.broadcast(
          new SerializableWritable(spark.sparkContext.hadoopConfiguration))
        spark.sparkContext.parallelize(bigFiles, bigFiles.size)
          .map { f =>
            val c = confB.value.value
            val hp = new HPath(f)
            val ch = new HadoopSeekableChannel(hp.getFileSystem(c), hp)
            try f -> readFooter(ch).getRecordBatches.asScala.toIndexedSeq
              .map(b => (b.getOffset, b.getMetadataLength, b.getBodyLength))
            finally ch.close()
          }
          .collect().toMap
      }
    statuses.flatMap { case (f, len) =>
      if (len <= splitBytes) Seq((f, None))
      else {
        val blocks = bigBlocks(f)
        val ascending = blocks.indices.drop(1).forall(i => blocks(i - 1)._1 < blocks(i)._1)
        if (!ascending) {
          System.err.println(s"[ArrowIpc] $f: footer record-batch blocks are not in " +
            "ascending offset order - serving unsplit (within-file fan-out assumes " +
            "offset-sorted blocks)")
          Seq((f, None))
        } else {
          val ranges = chunkRanges(blocks, splitBytes)
          if (ranges.size <= 1) Seq((f, None))
          else ranges.map(r => (f, Some(r)))
        }
      }
    }
  }

  /** List the data files of an IPC store path (single file or directory;
    * hidden/underscore names skipped), with lengths, name-sorted.
    */
  private[graft] def listStoreFiles(fs: FileSystem, p: HPath,
      path: String): Seq[(String, Long)] =
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
        .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
    else Seq((path, fs.getFileStatus(p).getLen))

  /** Open a [[FooterSource]] over one file with an explicit Hadoop conf —
    * the executor-side entry the DataSourceV2 reader
    * ([[ArrowIpcDataSource]]) shares with [[readImpl]]'s task closure.
    */
  private[sources] def openSourceAt(conf: org.apache.hadoop.conf.Configuration,
      file: String, selected: Option[Array[String]],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      range: Option[(Int, Int)]): FooterSource = {
    val hp = new HPath(file)
    openBatchSource(hp.getFileSystem(conf), hp, selected, filters, range)
  }

  private def openBatchSource(fs: FileSystem, p: HPath,
      selected: Option[Array[String]] = None,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      serveRange: Option[(Int, Int)] = None): FooterSource = {
    val ch = new HadoopSeekableChannel(fs, p)
    val footer =
      try readFooter(ch)
      catch { case t: Throwable => ch.close(); throw t }
    new FooterSource(ch, footer, selected, filters, serveRange)
  }

  /** Footer-driven batch reader — deliberately NOT [[ArrowFileReader]],
    * for two reasons found the hard way against the reference's own
    * golden files:
    *
    *  1. Dictionary REPLACEMENT: the reference re-writes each dictionary
    *     id per batch. ArrowFileReader binds every record batch to the
    *     FIRST dictionary and silently decodes stale values from batch 1
    *     on (pyarrow at least refuses: "Unsupported dictionary
    *     replacement in IPC file"). Processing footer blocks in
    *     FILE-OFFSET order applies each replacement to exactly the record
    *     batches it precedes.
    *  2. Legacy LZ4-block stores: codec byte -2 is not part of the Arrow
    *     format (reference ArrowCompressionUtil.java:157), and arrow-java's
    *     `CodecType.fromCompressionType(-2)` silently resolves to
    *     NO_COMPRESSION and loads compressed bytes as raw — no
    *     CompressionCodec.Factory hook ever sees it. Those buffers are
    *     decompressed here with the raw-LZ4-block rule the reference used
    *     (8-byte LE uncompressed length, -1 = stored uncompressed;
    *     reference Lz4BlockCompressionCodec.java:79-108).
    *
    * Standard (LZ4-frame / uncompressed) batches go through
    * [[VectorLoader]] with the stock commons-compress factory.
    */
  private[sources] final class FooterSource(ch: SeekableByteChannel, footer: ArrowFooter,
      selected: Option[Array[String]] = None,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      serveRange: Option[(Int, Int)] = None) {
    private val legacyBlock =
      footer.getSchema.getCustomMetadata.asScala.get(LegacyBlockKey).contains("true")
    private val alloc = new RootAllocator(Long.MaxValue)
    private val dictionaries = new java.util.HashMap[java.lang.Long, Dictionary]()
    private val fileFields: IndexedSeq[Field] =
      footer.getSchema.getFields.asScala.toIndexedSeq
    private val spans = new WireSpans(fileFields)
    private val (selIdx, outPerm) = resolveSelection(fileFields, selected)
    private val pruned = selected.isDefined
    private val memFields = selIdx.toSeq
      .map(i => DictionaryUtility.toMemoryFormat(fileFields(i), alloc, dictionaries)).asJava
    private val root = VectorSchemaRoot.create(
      new ArrowSchema(memFields, footer.getSchema.getCustomMetadata), alloc)
    private val rch = new SeekableReadChannel(ch)
    // record batches to SKIP outright: every filter must still possibly
    // match per the footer's batch statistics. Missing/foreign/mismatched
    // stats → no skipping (None); semantics are untouched either way
    // because the read's residual filter re-checks every surviving row.
    private val skipBatch: Option[IndexedSeq[Boolean]] =
      if (filters.isEmpty) None
      else Option(footer.getMetaData.get(BatchStatsKey))
        .flatMap(parseBatchStats(_, footer.getRecordBatches.size))
        .map(_.map(bs => !filters.forall(f => mayMatch(bs, f))))
    // -1 marks a dictionary block; >= 0 is the record batch's footer index
    private val blocks: Iterator[(ArrowBlock, Int)] =
      (footer.getDictionaries.asScala.map(b => (b, -1)) ++
        footer.getRecordBatches.asScala.zipWithIndex.map { case (b, i) => (b, i) })
        .sortBy(_._1.getOffset).iterator
    private var open = true
    val sparkSchema: StructType = fromArrowSchema(footer.getSchema)
    def close(): Unit = if (open) {
      open = false
      root.close()
      dictionaries.values().asScala.foreach(_.getVector.close())
      rch.close() // closes ch
      alloc.close()
    }

    private def load(raw: ArrowRecordBatch, target: VectorSchemaRoot): Unit =
      loadBatchInto(raw, target, alloc, legacyBlock)

    private def applyDictionaryBatch(db: ArrowDictionaryBatch): Unit =
      applyDictionaryBatchTo(db, dictionaries, alloc, legacyBlock)

    /** The encapsulated-message flatbuffer at a block's offset (see
      * [[messageMetaAt]]; the body is NOT touched).
      */
    private def messageMetaOf(blk: ArrowBlock): FbMessage =
      messageMetaAt(ch, blk.getOffset, blk.getMetadataLength)

    /** Selective record-batch load (shared span machinery; see
      * [[loadPrunedBatchInto]]): only the selected fields' buffer byte
      * ranges are read, located by the batch's flatbuffer metadata.
      */
    private def loadPrunedBatch(blk: ArrowBlock, rb: FbRecordBatch): Unit = {
      val bodyStart = blk.getOffset + blk.getMetadataLength
      loadPrunedBatchInto(rb, root, alloc, legacyBlock, spans, selIdx,
        (off, len) => readFully(ch, bodyStart + off, len))
    }

    def rows: Iterator[InternalRow] = new Iterator[InternalRow] {
      private var batch: Iterator[InternalRow] = Iterator.empty
      private def advance(): Unit =
        while (!batch.hasNext && open) {
          if (!blocks.hasNext) { close() }
          else blocks.next() match {
            case (blk, -1) if pruned =>
              // metadata-only peek: skip (body unread) unless a SELECTED
              // column's dictionary — replacement ordering still holds
              // because blocks iterate in file-offset order either way
              val dbh = messageMetaOf(blk)
                .header(new FbDictionaryBatch()).asInstanceOf[FbDictionaryBatch]
              require(dbh != null, s"Arrow IPC: dictionary block at ${blk.getOffset} has no DictionaryBatch header")
              if (dictionaries.containsKey(dbh.id())) {
                rch.setPosition(blk.getOffset)
                applyDictionaryBatch(MessageSerializer.deserializeDictionaryBatch(rch, blk, alloc))
              }
            case (blk, -1) => // dictionary batch: initial, replacement, or delta
              rch.setPosition(blk.getOffset)
              applyDictionaryBatch(MessageSerializer.deserializeDictionaryBatch(rch, blk, alloc))
            case (_, rbi) if rbi >= 0 && serveRange.exists(_._2 <= rbi) =>
              // past the slice's last batch: blocks iterate in offset
              // order, so nothing further can serve — stop (trailing
              // dictionaries are irrelevant to already-served batches)
              close()
            case (_, rbi) if rbi >= 0 && serveRange.exists(_._1 > rbi) =>
              // before the slice: skipped positionally (dictionary
              // blocks never reach the range cases, so the slice still
              // replays every preceding dictionary message)
              ()
            case (_, rbi) if skipBatch.exists(_(rbi)) =>
              // statistics prove no row here can pass the filters: the
              // block is skipped whole — not even its metadata is read
              ()
            case (blk, _) if pruned =>
              val rbh = messageMetaOf(blk)
                .header(new FbRecordBatch()).asInstanceOf[FbRecordBatch]
              require(rbh != null, s"Arrow IPC: record-batch block at ${blk.getOffset} has no RecordBatch header")
              if (selIdx.isEmpty) {
                // zero-column read (count(*) shape): row count from the
                // metadata alone, zero body bytes
                val n = Math.toIntExact(rbh.length())
                batch = Iterator.range(0, n).map(_ => new GenericInternalRow(Array.empty[Any]))
              } else {
                loadPrunedBatch(blk, rbh)
                batch = batchRows(root, id => dictionaries.get(id), outPerm)
              }
            case (blk, _) =>
              rch.setPosition(blk.getOffset)
              val rb = MessageSerializer.deserializeRecordBatch(rch, blk, alloc)
              try load(rb, root)
              finally rb.close()
              batch = batchRows(root, id => dictionaries.get(id), outPerm)
          }
        }
      override def hasNext: Boolean = { advance(); batch.hasNext }
      override def next(): InternalRow = { advance(); batch.next() }
    }
  }

  /** Load a record batch into `target`: standard (LZ4-frame /
    * uncompressed) batches through [[VectorLoader]], legacy LZ4-BLOCK
    * buffers decompressed with the reference's raw-block rule first.
    * Shared by the footer-driven and partial (stream-walking) readers.
    */
  private def loadBatchInto(raw: ArrowRecordBatch, target: VectorSchemaRoot,
      alloc: BufferAllocator, legacyBlock: Boolean): Unit =
    if (!legacyBlock) {
      // standard batches: VectorLoader handles frame/uncompressed itself
      new VectorLoader(target, FastLz4.Factory).load(raw)
    } else {
      val bufs = raw.getBuffers.asScala.map(decompressLegacyBlock(alloc, _)).asJava
      val clean = new ArrowRecordBatch(raw.getLength, raw.getNodes, bufs) // retains bufs
      bufs.asScala.foreach(_.close())
      try new VectorLoader(target).load(clean)
      finally clean.close()
    }

  /** Apply a deserialized dictionary batch: initial, replacement, or
    * delta semantics against the live dictionary vector. Closes `db`.
    */
  private def applyDictionaryBatchTo(db: ArrowDictionaryBatch,
      dictionaries: java.util.HashMap[java.lang.Long, Dictionary],
      alloc: BufferAllocator, legacyBlock: Boolean): Unit =
    try {
      val dv = dictionaries.get(db.getDictionaryId).getVector
      if (!db.isDelta) {
        // full dictionary — REPLACES any previous content (the
        // reference re-writes each dictionary id per batch)
        dv.clear()
        val droot = new VectorSchemaRoot(
          java.util.List.of(dv.getField), java.util.List.of[FieldVector](dv))
        loadBatchInto(db.getDictionary, droot, alloc, legacyBlock)
      } else {
        // delta — APPENDS new entries (what our own writer emits;
        // also the spec-portable shape pyarrow/Arrow C++ accept)
        val tmp = dv.getField.createVector(alloc)
        try {
          val troot = new VectorSchemaRoot(
            java.util.List.of(tmp.getField), java.util.List.of[FieldVector](tmp))
          loadBatchInto(db.getDictionary, troot, alloc, legacyBlock)
          val base = dv.getValueCount
          var k = 0
          while (k < troot.getRowCount) { dv.copyFromSafe(k, base + k, tmp); k += 1 }
          dv.setValueCount(base + troot.getRowCount)
        } finally tmp.close()
      }
    } finally db.close()

  /** Metadata-only PLAN of a partial / in-flight IPC file — the walk
    * behind [[readPartial]] (the reference's consume-while-producing
    * capability, OffHeapArrowPartialFileBatchReadable.java: read
    * committed batches of a store whose writer is still running or died
    * mid-write). No footer is needed: after the 8-byte file magic the
    * body IS the IPC STREAM framing (schema message, then dictionary /
    * record batches in file order), and every message is self-delimiting
    * (length prefix + metadata flatbuffer carrying its body length), so
    * the plan walks message to message reading ONLY the metadata — bodies
    * are skipped positionally — and records each complete message's block
    * span. Serving then goes through the one batch engine,
    * [[FooterSource]], over a footer synthesized from the plan; a big
    * file's plan additionally chunks into byte-bounded ranges served by
    * parallel tasks ([[PartialSlice]]).
    *
    * Tear contract (identical to the r16 stream walker it replaces):
    * detection is POSITIONAL against the size snapshot taken at entry — a
    * writer only ever APPENDS, so every byte before `fileSize` is final,
    * and "not enough bytes remain for the next length prefix / metadata /
    * body" is a tear. A size-complete but write-incomplete tail (fs crash
    * semantics: the inode size update can outlive the data blocks) shows
    * as GARBAGE metadata within bounds — an `IndexOutOfBoundsException`
    * parsing the metadata or header flatbuffer is the tear's second face
    * and also stops the plan. Those are the ONLY tolerated faces: body
    * reads never happen here (and body-decode errors during the serve
    * propagate from [[FooterSource]]), so a transient mid-file IO failure
    * on a healthy store can never silently truncate it. A file torn
    * before a complete schema message plans to None (zero rows — with
    * concurrent writers any file of a crashed store can be in that
    * state); bytes that are not Arrow at all still fail loud on the
    * magic check. Unknown message types from a newer writer are skipped
    * positionally, exactly like the footer path never visiting them.
    */
  private[graft] final case class PartialPlan(
      schema: org.apache.arrow.vector.types.pojo.Schema,
      schemaBlock: (Long, Int),
      dicts: IndexedSeq[DictMsg],
      recs: IndexedSeq[(Long, Int, Long)]) {
    def dictBlocks: IndexedSeq[(Long, Int, Long)] =
      dicts.map(m => (m.off, m.metaLen, m.bodyLen))
  }

  private[graft] def partialPlan(ch: SeekableByteChannel, label: String,
      schemaOnly: Boolean = false): Option[PartialPlan] = {
    val fileSize = ch.size()
    if (fileSize < 8) return None // torn inside the magic itself
    locally {
      val magic = readFully(ch, 0, 8)
      val m = new Array[Byte](6); magic.get(m)
      require(new String(m, "US-ASCII") == "ARROW1",
        s"$label is not an Arrow IPC file (missing ARROW1 magic)")
    }
    var pos = 8L
    def avail: Long = fileSize - pos
    object PlanTear extends RuntimeException with scala.util.control.NoStackTrace
    // one encapsulated message: (metadata flatbuffer, message offset,
    // metadata length incl. prefix, body offset, body length); None at a
    // clean end (EOS marker / byte-exact end), PlanTear mid-message,
    // IndexOutOfBoundsException on garbage metadata (callers classify)
    def nextMsg(): Option[(FbMessage, Long, Int, Long, Long)] = {
      if (avail == 0) return None
      val msgStart = pos
      if (avail < 4) throw PlanTear
      val first = readFully(ch, pos, 4).getInt; pos += 4
      val metaLen =
        if (first != MessageSerializer.IPC_CONTINUATION_TOKEN) first
        else {
          if (avail < 4) throw PlanTear
          val v = readFully(ch, pos, 4).getInt; pos += 4; v
        }
      if (metaLen == 0) return None // end-of-stream marker
      if (metaLen < 0 || avail < metaLen) throw PlanTear
      val metaBuf = readFully(ch, pos, metaLen); pos += metaLen
      val meta = FbMessage.getRootAsMessage(metaBuf)
      val bodyLen = meta.bodyLength()
      if (bodyLen < 0 || avail < bodyLen) throw PlanTear
      val bodyStart = pos; pos += bodyLen // body skipped POSITIONALLY
      Some((meta, msgStart, (bodyStart - msgStart).toInt, bodyStart, bodyLen))
    }
    // the schema message leads the framing; garbage within the size reads
    // as torn-before-schema (the magic check above already rejected
    // non-Arrow bytes loudly)
    val first =
      try nextMsg()
      catch { case PlanTear => None; case _: IndexOutOfBoundsException => None }
    val (schema, schemaBlock) = first match {
      case Some((meta, off, metaTotal, _, _))
          if meta.headerType() == org.apache.arrow.flatbuf.MessageHeader.Schema =>
        val s =
          try MessageSerializer.deserializeSchema(meta)
          catch { case scala.util.control.NonFatal(_) => return None }
        (s, (off, metaTotal))
      case _ => return None
    }
    val dicts = IndexedSeq.newBuilder[DictMsg]
    val recs = IndexedSeq.newBuilder[(Long, Int, Long)]
    var batches = 0L
    // every planned batch is complete, so stopping at a tear IS the
    // partial-read contract; logged with the STAGE named so a torn store
    // is visible in task logs and a reader bug can't hide as truncation
    def logTear(what: String, detail: String): Unit =
      System.err.println(s"[ArrowIpc.readPartial] $label: stopping at " +
        s"$what after $batches complete batches ($detail)")
    var walking = !schemaOnly
    while (walking) {
      val res =
        try nextMsg()
        catch {
          case PlanTear =>
            logTear("torn tail", s"${fileSize - pos} trailing bytes unreadable")
            None
          case e: IndexOutOfBoundsException =>
            logTear("unparseable metadata (crash-garbage tail?)",
              String.valueOf(e.getMessage))
            None
        }
      res match {
        case None => walking = false
        case Some((meta, off, metaTotal, bodyStart, bodyLen)) =>
          // HEADER flatbuffer reads are still metadata: garbage within
          // bounds here is the tear's second face (a null header table on
          // a parseable message is corruption, not a tear - the require
          // propagates, same as the footer path)
          // cls: -1 tear, 0 skip, 1 dictionary (id/isDelta captured for
          // the minimal-replay slice computation), 2 record batch
          var dictId = 0L
          var dictDelta = false
          val cls =
            try meta.headerType() match {
              case org.apache.arrow.flatbuf.MessageHeader.DictionaryBatch =>
                val dbh = meta.header(new FbDictionaryBatch()).asInstanceOf[FbDictionaryBatch]
                require(dbh != null,
                  s"$label: dictionary message at $bodyStart has no DictionaryBatch header")
                dictId = dbh.id(); dictDelta = dbh.isDelta()
                1
              case org.apache.arrow.flatbuf.MessageHeader.RecordBatch =>
                require(meta.header(new FbRecordBatch()).asInstanceOf[FbRecordBatch] != null,
                  s"$label: record-batch message at $bodyStart has no RecordBatch header")
                2
              case _ => 0 // unknown message from a newer writer: skip
            } catch {
              case e: IndexOutOfBoundsException =>
                logTear("unparseable message header (crash-garbage tail?)",
                  String.valueOf(e.getMessage))
                -1
            }
          cls match {
            case -1 => walking = false
            case 1 => dicts += DictMsg(off, metaTotal, bodyLen, dictId, dictDelta)
            case 2 => recs += ((off, metaTotal, bodyLen)); batches += 1
            case _ => ()
          }
      }
    }
    Some(PartialPlan(schema, schemaBlock, dicts.result(), recs.result()))
  }


  /** Record-batch WIRE layout spans per top-level field: node/buffer
    * counts walk the MESSAGE-format schema exactly the way VectorUnloader
    * emits them (depth-first; a dictionary-encoded field ships only its
    * index vector — 1 node, the index type's buffers, children live in
    * the dictionary batch), so [nodeStarts(i), +nodeCounts(i)) /
    * [bufStarts(i), +bufCounts(i)) address field i's slice of any batch.
    * Shared by the footer-driven and stream-walking pruned readers.
    */
  private final class WireSpans(fileFields: IndexedSeq[Field]) {
    val nodeCounts: IndexedSeq[Int] = fileFields.map(wireNodeCount)
    val bufCounts: IndexedSeq[Int] = fileFields.map(wireBufferCount)
    val nodeStarts: IndexedSeq[Int] = nodeCounts.scanLeft(0)(_ + _)
    val bufStarts: IndexedSeq[Int] = bufCounts.scanLeft(0)(_ + _)
  }

  /** Resolve a column selection against the file schema: (selected field
    * indices in FILE order, deduped; requested-order permutation into the
    * selected root — duplicates allowed, selectColumns semantics).
    * None = full width (identity permutation).
    */
  private def resolveSelection(fileFields: IndexedSeq[Field],
      selected: Option[Array[String]]): (Array[Int], Array[Int]) = selected match {
    case None => (fileFields.indices.toArray, fileFields.indices.toArray)
    case Some(names) =>
      val selIdx = names.distinct.map { n =>
        val i = fileFields.indexWhere(_.getName == n)
        require(i >= 0,
          s"column $n not in Arrow IPC schema ${fileFields.map(_.getName).mkString(", ")}")
        i
      }.sorted
      (selIdx, names.map(n => selIdx.indexOf(fileFields.indexWhere(_.getName == n))))
  }

  /** Selective record-batch load: read ONLY the selected fields' node
    * metadata and buffer byte ranges (located by the batch's flatbuffer
    * metadata via `readAt(bodyRelativeOffset, len)`), assemble a pruned
    * [[ArrowRecordBatch]], and load it into the pruned `root`. Unselected
    * columns cost zero body IO.
    */
  private def loadPrunedBatchInto(rb: FbRecordBatch, root: VectorSchemaRoot,
      alloc: BufferAllocator, legacyBlock: Boolean, spans: WireSpans,
      selIdx: Array[Int], readAt: (Long, Int) => ByteBuffer): Unit = {
    val comp = rb.compression()
    val bodyComp =
      if (legacyBlock || comp == null) NoCompressionCodec.DEFAULT_BODY_COMPRESSION
      else new ArrowBodyCompression(comp.codec(), comp.method())
    val nodesJ = new java.util.ArrayList[ArrowFieldNode]()
    val bufsJ = new java.util.ArrayList[ArrowBuf]()
    // selected buffer descriptors in wire order + the selected nodes
    val bufSel = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)] // (body offset, length)
    selIdx.foreach { fi =>
      var k = spans.nodeStarts(fi); val nEnd = k + spans.nodeCounts(fi)
      while (k < nEnd) {
        val nd = rb.nodes(k)
        nodesJ.add(new ArrowFieldNode(nd.length(), nd.nullCount()))
        k += 1
      }
      var b = spans.bufStarts(fi); val bEnd = b + spans.bufCounts(fi)
      while (b < bEnd) {
        val fb = rb.buffers(b)
        bufSel += ((fb.offset(), Math.toIntExact(fb.length())))
        b += 1
      }
    }
    if (legacyBlock) {
      // legacy buffers decompress individually (custom block rule), so
      // each batch buffer is a fresh standalone allocation; the plain
      // VectorLoader (no codec) never drops a reference mid-load
      bufSel.foreach { case (off, len) =>
        val raw = alloc.buffer(len)
        try {
          if (len > 0) raw.setBytes(0, readAt(off, len))
          raw.writerIndex(len)
          bufsJ.add(decompressLegacyBlock(alloc, raw))
        } finally raw.close()
      }
      val clean = new ArrowRecordBatch(
        Math.toIntExact(rb.length()), nodesJ, bufsJ, bodyComp) // retains bufs
      bufsJ.asScala.foreach(_.close())
      try new VectorLoader(root).load(clean) // already decompressed
      finally clean.close()
    } else {
      // reference discipline (arrow-java 18 VectorLoader bytecode-read):
      // the loader's decompression codec CLOSES each input buffer and
      // only re-retains it AFTERWARDS, so a standalone per-buffer
      // allocation would hit refcount zero mid-load and die. The stock
      // deserializeRecordBatch survives because every batch buffer is a
      // SLICE of one shared body allocation — siblings keep the ledger
      // alive through the close/retain window. Reproduce exactly that:
      // one pruned-body allocation, batch buffers are slices of it.
      val align = (n: Long) => (n + 7L) & ~7L
      val total = bufSel.foldLeft(0L) { case (a, (_, len)) => a + align(len.toLong) }
      val body = alloc.buffer(total)
      val clean =
        try {
          var pos = 0L
          bufSel.foreach { case (off, len) =>
            if (len > 0) body.setBytes(pos, readAt(off, len))
            val sl = body.slice(pos, len)
            sl.writerIndex(len)
            bufsJ.add(sl)
            pos += align(len.toLong)
          }
          new ArrowRecordBatch(Math.toIntExact(rb.length()), nodesJ, bufsJ, bodyComp) // retains slices
        } finally body.close() // batch slices (or nothing, on throw) hold the ledger now
      try new VectorLoader(root, FastLz4.Factory).load(clean)
      finally clean.close()
    }
  }

  /** FieldNode count a top-level field contributes to a record batch's
    * wire layout: one per field depth-first — EXCEPT dictionary-encoded
    * fields, which ship only their index vector (children ride the
    * dictionary batch).
    */
  private def wireNodeCount(f: Field): Int =
    if (f.getDictionary != null) 1
    else 1 + f.getChildren.asScala.map(wireNodeCount).sum

  /** Buffer count a top-level field contributes to a record batch's wire
    * layout ([[TypeLayout.getTypeBufferCount]] per field depth-first;
    * dictionary-encoded fields ship their INDEX type's buffers).
    */
  private def wireBufferCount(f: Field): Int =
    if (f.getDictionary != null)
      TypeLayout.getTypeBufferCount(
        Option(f.getDictionary.getIndexType).getOrElse(new ArrowType.Int(32, true)))
    else
      TypeLayout.getTypeBufferCount(f.getType) +
        f.getChildren.asScala.map(wireBufferCount).sum

  // =====================================================================
  // batch-statistics filter skipping (read side)
  // =====================================================================

  private[graft] sealed trait ColStats { def nulls: Long; def rangeDefined: Boolean }
  private[graft] final case class LongColStats(range: Option[(Long, Long)], nulls: Long) extends ColStats {
    def rangeDefined: Boolean = range.isDefined
  }
  private[graft] final case class DoubleColStats(range: Option[(Double, Double)], nulls: Long) extends ColStats {
    def rangeDefined: Boolean = range.isDefined
  }
  private[graft] final case class StringColStats(range: Option[(String, String)], nulls: Long) extends ColStats {
    def rangeDefined: Boolean = range.isDefined
  }
  private[graft] final case class BatchStats(rows: Long, cols: Map[String, ColStats])

  /** Parse [[BatchStatsKey]] metadata; None (→ no skipping) on any shape
    * mismatch, including a batch count that differs from the footer's —
    * stats from a foreign or half-understood layout must disable the
    * optimization, never steer it.
    */
  // ObjectMapper is thread-safe for reads; one instance serves every
  // per-file parse (a filtered directory scan opens one FooterSource per
  // file per task)
  private lazy val statsMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[graft] def parseBatchStats(json: String, expectBatches: Int): Option[IndexedSeq[BatchStats]] =
    try {
      val arr = statsMapper.readTree(json)
      if (arr == null || !arr.isArray || arr.size != expectBatches) None
      else Some((0 until arr.size).map { i =>
        val b = arr.get(i)
        val cols = b.get("cols")
        val m = scala.collection.mutable.Map.empty[String, ColStats]
        if (cols != null) cols.fields().asScala.foreach { e =>
          val o = e.getValue
          val nulls = o.get("nulls").asLong
          val hasR = o.has("min") && o.has("max")
          o.get("t").asText match {
            case "l" => m(e.getKey) = LongColStats(
              if (hasR) Some((o.get("min").asLong, o.get("max").asLong)) else None, nulls)
            case "d" => m(e.getKey) = DoubleColStats(
              if (hasR) Some((o.get("min").asDouble, o.get("max").asDouble)) else None, nulls)
            case "s" => m(e.getKey) = StringColStats(
              if (hasR) Some((o.get("min").asText, o.get("max").asText)) else None, nulls)
            case _ => () // unknown stat type from a newer writer: ignore the column
          }
        }
        BatchStats(b.get("rows").asLong, m.toMap)
      })
    } catch { case _: Exception => None }

  private def toLongOpt(v: Any): Option[Long] = v match {
    case x: Byte => Some(x.toLong)
    case x: Short => Some(x.toLong)
    case x: Int => Some(x.toLong)
    case x: Long => Some(x)
    case x: java.sql.Date => Some(x.toLocalDate.toEpochDay)
    case x: java.time.LocalDate => Some(x.toEpochDay)
    case x: java.sql.Timestamp =>
      Some(java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, x.toInstant))
    case x: java.time.Instant =>
      Some(java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, x))
    case _ => None
  }

  private def toDoubleOpt(v: Any): Option[Double] = v match {
    case x: Float => Some(x.toDouble)
    case x: Double => Some(x)
    case x: Byte => Some(x.toDouble)
    case x: Short => Some(x.toDouble)
    case x: Int => Some(x.toDouble)
    case x: Long => Some(x.toDouble)
    case _ => None
  }

  /** Binary (UTF8String) string order — the order the writer's min/max
    * scan uses and the order Spark's string comparisons resolve to, so a
    * skip decision can never disagree with the residual filter.
    */
  private def cmpUtf8(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Conservative batch-level test: false ONLY when no row of the batch
    * can satisfy `f`. Unknown filters, missing columns, or inconvertible
    * values answer true.
    */
  private[graft] def mayMatch(bs: BatchStats, f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // pred receives (compare(min, v), compare(max, v)). No stats for the
    // column or an inconvertible value → conservative true; an entry with
    // NO range means every value in the batch is null, and no comparison
    // matches null → false.
    def cmp(a: String, v: Any)(pred: (Int, Int) => Boolean): Boolean =
      bs.cols.get(a) match {
        case None => true
        case Some(st) if !st.rangeDefined => false // all-null column
        case Some(LongColStats(Some((mn, mx)), _)) =>
          toLongOpt(v).forall(x => pred(java.lang.Long.compare(mn, x), java.lang.Long.compare(mx, x)))
        case Some(DoubleColStats(Some((mn, mx)), _)) =>
          // canonicalize signed zeros first: java.lang.Double.compare
          // orders -0.0 < 0.0 but Spark's comparisons treat them equal —
          // without this a batch whose bounds are -0.0 is wrongly skipped
          // for `>= 0.0` (the parquet ±0.0 bounds hazard). `d == 0.0` is
          // IEEE equality, true for both zeros; NaN/Inf never reach stats.
          def z(d: Double): Double = if (d == 0.0) 0.0 else d
          toDoubleOpt(v).forall(x =>
            pred(java.lang.Double.compare(z(mn), z(x)), java.lang.Double.compare(z(mx), z(x))))
        case Some(StringColStats(Some((mn, mx)), _)) => v match {
          case s: String => pred(cmpUtf8(mn, s), cmpUtf8(mx, s))
          case _ => true
        }
        case _ => true
      }
    f match {
      case And(l, r) => mayMatch(bs, l) && mayMatch(bs, r)
      case Or(l, r) => mayMatch(bs, l) || mayMatch(bs, r)
      case EqualTo(a, v) => cmp(a, v)((lo, hi) => lo <= 0 && hi >= 0)
      case EqualNullSafe(a, null) => bs.cols.get(a).forall(_.nulls > 0)
      case EqualNullSafe(a, v) => cmp(a, v)((lo, hi) => lo <= 0 && hi >= 0)
      case GreaterThan(a, v) => cmp(a, v)((_, hi) => hi > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)((_, hi) => hi >= 0)
      case LessThan(a, v) => cmp(a, v)((lo, _) => lo < 0)
      case LessThanOrEqual(a, v) => cmp(a, v)((lo, _) => lo <= 0)
      case In(a, vs) => vs.isEmpty || vs.exists(v => cmp(a, v)((lo, hi) => lo <= 0 && hi >= 0))
      case IsNull(a) => bs.cols.get(a).forall(_.nulls > 0)
      case IsNotNull(a) => bs.cols.get(a).forall(st => st.nulls < bs.rows)
      case StringStartsWith(a, p) if p.nonEmpty =>
        // a value with prefix p lies in [p, next(p)) in UTF8String's
        // unsigned-BYTE order. next(p) must be computed over the UTF-8
        // BYTES (bump the last non-0xFF byte, truncate after): bumping
        // the last CHAR can land on an unpaired surrogate, which
        // UTF8String.fromString encodes as '?' — a "successor" byte-wise
        // SMALLER than the prefix, wrongly skipping matching batches.
        val lower = cmp(a, p)((_, hi) => hi >= 0)
        val pb = UTF8String.fromString(p).getBytes
        var bi = pb.length - 1
        while (bi >= 0 && pb(bi) == 0xff.toByte) bi -= 1
        val nextBytes =
          if (bi < 0) None // all 0xFF: no upper bound
          else Some { val nb = java.util.Arrays.copyOf(pb, bi + 1); nb(bi) = (nb(bi) + 1).toByte; nb }
        lower && nextBytes.forall { nb =>
          bs.cols.get(a) match {
            case None => true
            case Some(st) if !st.rangeDefined => false // all-null (lower already said so)
            case Some(StringColStats(Some((mn, _)), _)) =>
              UTF8String.fromString(mn).compareTo(UTF8String.fromBytes(nb)) < 0
            case _ => true // non-string stats under a string filter: no pruning
          }
        }
      case _ => true
    }
  }

  /** sources.Filter → Column, for the exact residual re-filter applied to
    * every surviving batch (skipping is IO-only; semantics come from
    * here, evaluated by Spark with SQL null handling).
    */
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => not(filterToColumn(c))
      case StringStartsWith(a, p) => col(a).startsWith(p)
      case StringEndsWith(a, p) => col(a).endsWith(p)
      case StringContains(a, p) => col(a).contains(p)
      case o => throw new IllegalArgumentException(s"Arrow IPC read: unsupported filter $o")
    }
  }

  /** Raw-LZ4-block buffer decompression (legacy stores only). */
  private def decompressLegacyBlock(alloc: BufferAllocator, b: ArrowBuf): ArrowBuf = {
    val wi = b.writerIndex()
    if (wi == 0) return alloc.buffer(0)
    val len = b.getLong(0) // LE uncompressed length; -1 = stored uncompressed
    if (len == -1) {
      val out = alloc.buffer(wi - 8)
      out.setBytes(0, b, 8, wi - 8); out.writerIndex(wi - 8)
      return out
    }
    val comp = new Array[Byte]((wi - 8).toInt)
    b.getBytes(8, comp)
    val in = new BlockLZ4CompressorInputStream(new ByteArrayInputStream(comp))
    val bytes = try in.readAllBytes() finally in.close()
    require(bytes.length == len, s"LZ4 block decompression: expected $len bytes, got ${bytes.length}")
    val out = alloc.buffer(len)
    out.setBytes(0, bytes); out.writerIndex(len)
    out
  }

  /** One loaded batch → InternalRows (values are Catalyst-typed and
    * heap-copied, so rows stay valid after the next batch load). `perm`
    * maps each OUTPUT column to its root vector (identity for full reads;
    * the requested-order permutation — duplicates allowed — for pruned).
    */
  private def batchRows(root: VectorSchemaRoot, dicts: Long => Dictionary,
      perm: Array[Int]): Iterator[InternalRow] = {
    val vecs = root.getFieldVectors
    val readers = perm.map(i => readerFor(vecs.get(i), dicts))
    val n = root.getRowCount
    (0 until n).iterator.map { i =>
      val vals = new Array[Any](readers.length)
      var c = 0
      while (c < readers.length) { vals(c) = readers(c)(i); c += 1 }
      new GenericInternalRow(vals)
    }
  }

  /** Recursive Arrow-vector → Catalyst-value reader. Dictionary-encoded
    * vectors (at any depth) resolve through the provider; rebuilt per
    * batch so replacement dictionaries bind correctly.
    */
  private def readerFor(v: ValueVector, dicts: Long => Dictionary): Int => Any = {
    val enc = v.getField.getDictionary
    if (enc != null) {
      val dict = dicts(enc.getId)
      require(dict != null, s"missing dictionary ${enc.getId} for column ${v.getField.getName}")
      val dictRead = readerFor(dict.getVector, dicts)
      val idxOf: Int => Int = v match {
        case x: TinyIntVector => x.get(_).toInt
        case x: SmallIntVector => x.get(_).toInt
        case x: IntVector => x.get
        // toIntExact: a corrupt/foreign file with a 64-bit index above
        // Int.MaxValue must fail loudly, not silently wrap to a wrong entry
        case x: BigIntVector => i => Math.toIntExact(x.get(i))
        case o => throw new IllegalArgumentException(
          s"unsupported dictionary index vector ${o.getClass.getSimpleName}")
      }
      i => if (v.isNull(i)) null else dictRead(idxOf(i))
    } else v match {
      case _: NullVector => _ => null // reference Void columns (ArrowVoidDataFactory)
      case x: BitVector => i => if (x.isNull(i)) null else x.get(i) == 1
      case x: TinyIntVector => i => if (x.isNull(i)) null else x.get(i)
      case x: SmallIntVector => i => if (x.isNull(i)) null else x.get(i)
      case x: IntVector => i => if (x.isNull(i)) null else x.get(i)
      case x: BigIntVector => i => if (x.isNull(i)) null else x.get(i)
      case x: Float4Vector => i => if (x.isNull(i)) null else x.get(i)
      case x: Float8Vector => i => if (x.isNull(i)) null else x.get(i)
      case x: VarCharVector => i => if (x.isNull(i)) null else UTF8String.fromBytes(x.get(i))
      case x: LargeVarCharVector => i => if (x.isNull(i)) null else UTF8String.fromBytes(x.get(i))
      case x: VarBinaryVector => i => if (x.isNull(i)) null else x.get(i)
      case x: LargeVarBinaryVector => i => if (x.isNull(i)) null else x.get(i)
      case x: DateDayVector => i => if (x.isNull(i)) null else x.get(i)
      case x: TimeStampVector => i => if (x.isNull(i)) null else x.get(i) // micros (TZ or NTZ)
      case x: TimeNanoVector => i => if (x.isNull(i)) null else x.get(i)
      case x: TimeMicroVector => i => if (x.isNull(i)) null else x.get(i)
      case x: DecimalVector =>
        i => if (x.isNull(i)) null else Decimal(x.getObject(i), x.getPrecision, x.getScale)
      case x: StructVector =>
        val children = x.getChildrenFromFields.asScala.map(c => readerFor(c, dicts)).toArray
        i => if (x.isNull(i)) null else {
          val vals = new Array[Any](children.length)
          var k = 0
          while (k < children.length) { vals(k) = children(k)(i); k += 1 }
          new GenericInternalRow(vals)
        }
      case x: MapVector => // before ListVector: MapVector extends ListVector
        val entries = x.getDataVector.asInstanceOf[StructVector]
        val keyRead = readerFor(entries.getChildrenFromFields.get(0), dicts)
        val valRead = readerFor(entries.getChildrenFromFields.get(1), dicts)
        i => if (x.isNull(i)) null else {
          val s = x.getElementStartIndex(i); val e = x.getElementEndIndex(i)
          val keys = new Array[Any](e - s); val vals = new Array[Any](e - s)
          var j = s
          while (j < e) { keys(j - s) = keyRead(j); vals(j - s) = valRead(j); j += 1 }
          new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
        }
      case x: ListVector =>
        val elemRead = readerFor(x.getDataVector, dicts)
        i => if (x.isNull(i)) null else {
          val s = x.getElementStartIndex(i); val e = x.getElementEndIndex(i)
          val vals = new Array[Any](e - s)
          var j = s
          while (j < e) { vals(j - s) = elemRead(j); j += 1 }
          new GenericArrayData(vals)
        }
      case x: LargeListVector =>
        val elemRead = readerFor(x.getDataVector, dicts)
        i => if (x.isNull(i)) null else {
          // per-batch element counts are bounded (store invariant), so the
          // 64-bit offsets of LargeList always fit an Int here
          val s = x.getElementStartIndex(i).toInt; val e = x.getElementEndIndex(i).toInt
          val vals = new Array[Any](e - s)
          var j = s
          while (j < e) { vals(j - s) = elemRead(j); j += 1 }
          new GenericArrayData(vals)
        }
      case o => throw new IllegalArgumentException(
        s"Arrow IPC interop: unsupported vector ${o.getClass.getSimpleName} for column ${v.getField.getName}")
    }
  }

  // =====================================================================
  // write
  // =====================================================================

  /** [[ArrowFileWriter]] that lets the caller drive dictionary batches:
    * the stock writer emits each provider dictionary exactly once, but
    * dictionary content here accumulates per batch (initial + deltas), so
    * the default emission is disabled and [[writeDict]] appends batches —
    * which `endInternal` then records in the footer's dictionary blocks.
    */
  private final class DictFileWriter(
      root: VectorSchemaRoot,
      provider: DictionaryProvider,
      ch: java.nio.channels.WritableByteChannel,
      // MUTABLE on purpose: ArrowFileWriter serializes the map at end(),
      // so per-batch statistics accumulated during the write land in the
      // footer without buffering the data
      fileMeta: java.util.Map[String, String],
      codecFactory: org.apache.arrow.vector.compression.CompressionCodec.Factory)
    extends ArrowFileWriter(root, provider, ch, fileMeta, IpcOption.DEFAULT,
      codecFactory, CompressionUtil.CodecType.LZ4_FRAME) {
    override protected def ensureDictionariesWritten(
        p: DictionaryProvider, ids: java.util.Set[java.lang.Long]): Unit = ()
    def writeDict(b: ArrowDictionaryBatch): Unit = writeDictionaryBatch(b)
  }

  /** Per-file dictionary accumulator for one dict-encoded column: value →
    * index (insertion-ordered, so indices are stable across batches),
    * plus the values not yet emitted in a dictionary batch. Novel values
    * are cloned on insert (row byte buffers are reused by the scan);
    * lookups of known values allocate nothing.
    */
  private final class DictState(val id: Long, val valueField: Field) {
    private val index = new java.util.HashMap[Any, Integer]()
    val pending = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    /** every value in index order — the reverse map batch statistics use
      * to resolve an index vector's values (bounded by the dictionary,
      * which lives in memory regardless)
      */
    val valuesInOrder = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    /** whether ANY dictionary batch was emitted yet — not an entry count:
      * an empty initial batch (first rows all null) must still flip this,
      * or the next batch would emit a second non-delta batch = dictionary
      * REPLACEMENT, which the IPC file format forbids
      */
    var emitted = false
    def indexOfString(s: UTF8String): Int = {
      val got = index.get(s)
      if (got != null) got.intValue()
      else {
        val b = s.getBytes.clone()
        add(UTF8String.fromBytes(b), b)
      }
    }
    def indexOfBytes(b: Array[Byte]): Int = {
      val got = index.get(ByteBuffer.wrap(b))
      if (got != null) got.intValue()
      else {
        val c = b.clone()
        add(ByteBuffer.wrap(c), c)
      }
    }
    private def add(key: Any, bytes: Array[Byte]): Int = {
      val i = index.size()
      index.put(key, i)
      pending += bytes
      valuesInOrder += bytes
      i
    }
  }

  /** Write a DataFrame as LZ4-frame-compressed Arrow IPC files, one per
    * partition (`part-NNNNN.arrow`) — the distributed mirror of the
    * reference's store writer. `batchRows` bounds per-batch memory.
    * Consumes `InternalRow`s directly (no external-Row conversion).
    * `graft.arrow.logical` markers restore time64[ns]/largeUtf8/largeBinary.
    *
    * Dictionary encoding: string/binary leaves at ANY depth named in
    * `dictColumns` (dotted paths — struct field names, `element` for
    * array elements, `key`/`value` for map sides; a bare name is the
    * top-level column) — plus fields that ARRIVED dictionary-encoded
    * (the `graft.arrow.dictEncoded` read marker, at top level or on
    * nested struct fields; array/map element markers have no metadata
    * slot in Spark's type tree, so those re-encode only when named
    * explicitly) — are written as int32-indexed dictionary-encoded
    * vectors, one dictionary id per leaf. Each dictionary accumulates
    * per FILE and is emitted incrementally: a full batch before the
    * first record batch, then DELTA batches carrying only new values —
    * the spec-portable shape (verified against pyarrow 16 / Arrow C++,
    * which reject the reference's replacement dictionaries but accept
    * deltas; nested-dict files re-verified the same way). Dictionary
    * size is bounded by the leaf's distinct values per file — encode
    * low-cardinality columns, which is the point of the format.
    *
    * `compressionLevel` ≤ 0 (default) writes through the JNI FAST LZ4
    * compressor; 1–17 selects lz4hc at that level — the archival trade
    * (smaller files, slower write; [[FastLz4.factory]]).
    */
  /** One task's IPC part-file writer — the executor-side core shared by
    * [[write]]'s closure and the DataSourceV2 write path
    * ([[ArrowIpcDataSource]]). Commit protocol: an attempt-private temp
    * (dot-prefixed: read() skips it) renamed on [[commit]] — a failed or
    * killed attempt leaves only an ignorable temp, a zombie attempt
    * writes to its OWN temp, and the final file appears atomically or
    * not at all. [[close]] is idempotent and safe after failure: it
    * frees the Arrow memory and deletes the temp iff the rename never
    * happened.
    */
  private[graft] final class IpcPartWriter(
      c: org.apache.hadoop.conf.Configuration, pathStr: String, schema: StructType,
      dictCols: Set[String], batchRows: Int, compressionLevel: Int,
      finalFile: String, tmpFile: String, replacePrior: Boolean) {
    private val part = new HPath(pathStr, finalFile)
    private val tmp = new HPath(pathStr, tmpFile)
    private val hfs = part.getFileSystem(c)
    private val alloc = new RootAllocator(Long.MaxValue)
    private val plainFields = schema.map(toArrowField)
    // memory-format root: dict-encoded leaves (any depth) are int32
    // index vectors carrying a DictionaryEncoding (ids allocated in
    // tree order); the provider holds a value-typed vector per
    // dictionary so the writer can derive the message-format schema
    // (content is emitted via writeDict, not the provider)
    private val states = new java.util.HashMap[String, DictState]()
    private val provider = new DictionaryProvider.MapDictionaryProvider()
    private val schemaVecs = scala.collection.mutable.ArrayBuffer.empty[FieldVector]
    private var dictIdCounter = -1L
    private val memFields = schema.indices.map { i =>
      val sf = schema(i)
      encodeDictFields(sf, plainFields(i), sf.name, dictCols,
        () => { dictIdCounter += 1; dictIdCounter }, (path, id, vf) => {
          states.put(path, new DictState(id, vf))
          val sv = vf.createVector(alloc)
          schemaVecs += sv
          provider.put(new Dictionary(sv,
            new DictionaryEncoding(id, false, new ArrowType.Int(32, true))))
        })
    }
    private val statesByPath: Map[String, DictState] = states.asScala.toMap
    private val root = VectorSchemaRoot.create(new ArrowSchema(memFields.asJava), alloc)
    private val writers: Array[(Int, SpecializedGetters, Int) => Unit] =
      schema.indices.map { i =>
        writerFor(root.getVector(i), schema(i).dataType, schema(i).name, statesByPath)
      }.toArray
    private var n = 0
    private var renamed = false
    private var closed = false
    // 1 MiB buffer: ArrowFileWriter emits many sub-4K writes and the
    // Hadoop local stream's default 4K buffer turns each into a
    // checksummed syscall (measured at the 100x tier: the sf10
    // documents store wrote 339 s unbuffered). A throw here (bad path,
    // permissions) must free the Arrow memory already allocated above —
    // the constructor completes or cleans up after itself, so callers
    // only guard the post-construction phase.
    private val os: OutputStream =
      try new java.io.BufferedOutputStream(hfs.create(tmp, true), 1 << 20)
      catch { case t: Throwable => closed = true
        root.close(); schemaVecs.foreach(_.close()); alloc.close(); throw t }
    private val fileMeta = new java.util.HashMap[String, String]()
    private val codecFactory = FastLz4.factory(compressionLevel)
    private val om = new com.fasterxml.jackson.databind.ObjectMapper()
    private val statsArr = om.createArrayNode()
    // writer construction + start() write the magic and schema message:
    // IO failures here clean up the temp and memory the same way
    private val writer =
      try {
        val w = new DictFileWriter(root, provider, Channels.newChannel(os),
          fileMeta, codecFactory)
        w.start()
        w
      } catch { case t: Throwable => close(); throw t }
    private val codec = codecFactory.createCodec(CompressionUtil.CodecType.LZ4_FRAME)

    // before each record batch: emit the values this batch introduced
    // (first time: the full-so-far dictionary; after: deltas). A batch
    // with no novel values emits nothing.
    private def flushDicts(): Unit = states.values().asScala.foreach { st =>
      if (!st.emitted || st.pending.nonEmpty) {
        val vec = st.valueField.createVector(alloc)
        try {
          var k = 0
          st.pending.foreach { b =>
            vec match {
              case v: VarCharVector => v.setSafe(k, b)
              case v: LargeVarCharVector => v.setSafe(k, b)
              case v: VarBinaryVector => v.setSafe(k, b)
              case v: LargeVarBinaryVector => v.setSafe(k, b)
              case o => throw new IllegalStateException(s"dict value vector ${o.getClass.getSimpleName}")
            }
            k += 1
          }
          vec.setValueCount(st.pending.size)
          val droot = new VectorSchemaRoot(
            java.util.List.of(vec.getField), java.util.List.of[FieldVector](vec))
          // an EMPTY batch (all-null first rows) goes uncompressed:
          // arrow-java emits 0-length LZ4 buffers that pyarrow rejects
          // ("contains less than one frame"); compression is declared
          // per batch, so mixing is spec-valid
          val batchCodec =
            if (st.pending.isEmpty) org.apache.arrow.vector.compression.NoCompressionCodec.INSTANCE
            else codec
          val rb = new VectorUnloader(droot, true, batchCodec, true).getRecordBatch
          val db = new ArrowDictionaryBatch(st.id, rb, st.emitted)
          try writer.writeDict(db) finally db.close()
          st.emitted = true
          st.pending.clear()
        } finally vec.close()
      }
    }

    private def flush(): Unit = if (n > 0) {
      flushDicts()
      root.setRowCount(n)
      statsArr.add(collectBatchStats(root, n, om, name =>
        statesByPath.get(name)
          .filter(_.valueField.getType.isInstanceOf[ArrowType.Utf8])
          .map(st => (i: Int) => st.valuesInOrder(i))))
      writer.writeBatch(); root.allocateNew(); n = 0
    }

    def writeRow(row: InternalRow): Unit = {
      var i = 0
      while (i < writers.length) {
        if (row.isNullAt(i)) setNullSafe(root.getVector(i), n)
        else writers(i)(n, row, i)
        i += 1
      }
      n += 1
      if (n >= batchRows) flush()
    }

    /** Finish the file and rename it into place; returns the final file
      * name. `replacePrior` deletes an existing commit of the same name
      * first (the fixed-name fresh-store write); the DSv2 path writes
      * job-unique names and passes false.
      */
    def commit(): String = {
      flush()
      fileMeta.put(BatchStatsKey, om.writeValueAsString(statsArr))
      writer.end(); writer.close(); os.close()
      if (replacePrior) hfs.delete(part, false) // replace any prior attempt's commit
      require(hfs.rename(tmp, part), s"rename $tmp -> $part failed")
      renamed = true
      finalFile
    }

    def close(): Unit = if (!closed) {
      closed = true
      try os.close() catch { case _: Exception => () } // no-op after commit
      root.close(); schemaVecs.foreach(_.close()); alloc.close()
      if (!renamed) { hfs.delete(tmp, false); () }
    }
  }

  /** Fail fast on unsupported types / unsatisfiable dictColumns requests
    * and return the effective dictionary-path set (explicit + schema
    * markers) — shared by [[write]] and the DSv2 write builder so both
    * surfaces refuse identically on the driver, not mid-job.
    */
  private[sources] def validateWriteSchema(schema: StructType,
      dictColumns: Set[String]): Set[String] = {
    schema.foreach(f => toArrowField(f)) // fail fast on unsupported types
    // explicit requests must be satisfiable (hard error otherwise); the
    // read-side marker is best-effort — a dict-encoded int/decimal/...
    // column read from a foreign file writes PLAIN rather than failing
    // the whole migration. Requests are dotted paths: struct field names,
    // `element` for array elements, `key`/`value` for map sides.
    dictColumns.foreach { c =>
      resolveDictPath(schema, c) match {
        case None => throw new IllegalArgumentException(s"dictColumns: no such column path '$c'")
        case Some(dt) => require(dt == StringType || dt == BinaryType,
          s"dictColumns: path '$c' is $dt — only string/binary leaves dictionary-encode")
      }
    }
    dictColumns ++ markedDictPaths(schema)
  }

  def write(df: DataFrame, path: String, batchRows: Int = 4096,
      dictColumns: Set[String] = Set.empty, compressionLevel: Int = 0): Unit = {
    val schema = df.schema
    val dictCols: Set[String] = validateWriteSchema(schema, dictColumns)
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new HPath(path)
    val fs = out.getFileSystem(conf)
    fs.mkdirs(out)
    val confB = spark.sparkContext.broadcast(new SerializableWritable(conf))
    val pathStr = out.toString
    // a zero-partition RDD (empty LocalRelation) would write no files at
    // all, making the store unreadable; pad to one empty partition so the
    // directory always holds a schema-carrying file (fuzz-found)
    val rowRdd = df.queryExecution.toRdd match {
      case r if r.getNumPartitions == 0 =>
        spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
      case r => r
    }
    rowRdd.mapPartitionsWithIndex { (pid, it) =>
      val c = confB.value.value
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val w = new IpcPartWriter(c, pathStr, schema, dictCols, batchRows,
        compressionLevel, f"part-$pid%05d.arrow",
        f".part-$pid%05d-$attempt.arrow.tmp", replacePrior = true)
      try { it.foreach(w.writeRow); w.commit() } finally w.close()
      Iterator.empty[Int].iterator
    }.count() // trigger
    // job-level marker: a reader (or operator) can check completeness; our
    // own read() stays lenient because foreign (reference-written) stores
    // have no such marker
    val done = fs.create(new HPath(out, "_SUCCESS"), true)
    done.close()
  }

  /** Per-batch column statistics for [[BatchStatsKey]]: min/max/nulls for
    * long-comparable, double, and short-string LEAVES — top-level columns
    * and nested STRUCT leaves, the latter recorded under their dotted
    * path ("meta.page"), matching the read API's nested-filter attribute
    * convention so range predicates on struct fields batch-skip like any
    * column (the reference's logical types are struct-heavy — e.g.
    * ZonedDateTime as a struct of longs, reference
    * OnHeapArrowSchemaMapper.java:105-222 — so a migration reading a
    * nested field's range would otherwise scan every batch). A
    * struct-null row counts as null for every leaf below it (Spark's
    * `s.f` null semantics), and a slot under a null ancestor is never
    * read — its child validity/bytes are unset. A field whose own name
    * contains '.' is ambiguous with the path convention and records
    * nothing. Other types — list/map elements, binary, bool, decimal —
    * record nothing and never prune. All-null columns record nulls only.
    * Strings cap at 64 UTF-8 bytes: a longer value drops the column's
    * entry for the batch (a truncated max is NOT an upper bound, so
    * recording it could skip a matching batch — absence only costs IO).
    * Doubles drop the entry on NaN (unorderable) and ±Inf (not JSON).
    */
  private def collectBatchStats(root: VectorSchemaRoot, n: Int,
      om: com.fasterxml.jackson.databind.ObjectMapper,
      dictValues: String => Option[Int => Array[Byte]] = _ => None): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = om.createObjectNode()
    node.put("rows", n)
    val cols = node.putObject("cols")
    def emit(v: FieldVector, name: String, parentNull: Int => Boolean): Unit = {
      if (v.getField.getName.contains(".")) return // ambiguous with dotted paths
      def nullAt(i: Int): Boolean = parentNull(i) || v.isNull(i)
      if (v.getField.getDictionary != null) {
        // dictionary-encoded STRING column: the writer-side dictionary
        // resolves each index to its value, so min/max are over real
        // values — `lang = 'en'`-style slice filters (the most common
        // pipeline predicate) skip batches like any plain column
        dictValues(name).foreach { valueOf =>
          (v match {
            case x: IntVector =>
              def scanDict(): Option[(Array[Byte], Array[Byte], Long)] = {
                // row scan collects only the DISTINCT indices (a BitSet —
                // indices are dense smalls); value comparisons then run
                // once per distinct dictionary entry, not per row
                var nulls = 0L; var i = 0
                val seen = new java.util.BitSet()
                while (i < n) {
                  if (nullAt(i)) nulls += 1 else seen.set(x.get(i))
                  i += 1
                }
                var min: Array[Byte] = null; var max: Array[Byte] = null
                var idx = seen.nextSetBit(0)
                while (idx >= 0) {
                  val b = valueOf(idx)
                  if (b.length > 64) return None // prefix max is not an upper bound
                  if (min == null || UTF8String.fromBytes(b).compareTo(UTF8String.fromBytes(min)) < 0) min = b
                  if (max == null || UTF8String.fromBytes(max).compareTo(UTF8String.fromBytes(b)) < 0) max = b
                  idx = seen.nextSetBit(idx + 1)
                }
                Some((min, max, nulls))
              }
              scanDict()
            case _ => None
          }).foreach { case (mn, mx, nulls) =>
            val o = cols.putObject(name)
            o.put("t", "s")
            if (nulls < n) {
              o.put("min", new String(mn, java.nio.charset.StandardCharsets.UTF_8))
              o.put("max", new String(mx, java.nio.charset.StandardCharsets.UTF_8))
            }
            o.put("nulls", nulls)
          }
        }
      } else v match {
        case sv: StructVector =>
          sv.getChildrenFromFields.asScala.foreach(ch =>
            emit(ch, s"$name.${ch.getField.getName}", nullAt))
        case _ =>
        val asLong: Option[Int => Long] = v match {
          case x: BigIntVector => Some(x.get)
          case x: IntVector => Some(x.get(_).toLong)
          case x: SmallIntVector => Some(x.get(_).toLong)
          case x: TinyIntVector => Some(x.get(_).toLong)
          case x: DateDayVector => Some(x.get(_).toLong)
          case x: TimeStampVector => Some(x.get)
          case _ => None
        }
        val asDouble: Option[Int => Double] = v match {
          case x: Float8Vector => Some(x.get)
          case x: Float4Vector => Some(x.get(_).toDouble)
          case _ => None
        }
        val asString: Option[Int => Array[Byte]] = v match {
          case x: VarCharVector => Some(x.get)
          case _ => None
        }
        def scan[T](get: Int => T, lt: (T, T) => Boolean, ok: T => Boolean): Option[(T, T, Long)] = {
          var min: Option[T] = None; var max: Option[T] = None
          var nulls = 0L; var i = 0; var valid = true
          while (i < n && valid) {
            if (nullAt(i)) nulls += 1
            else {
              val x = get(i)
              if (!ok(x)) valid = false
              else {
                if (min.forall(lt(x, _))) min = Some(x)
                if (max.forall(lt(_, x))) max = Some(x)
              }
            }
            i += 1
          }
          if (!valid) None else Some((min.getOrElse(null.asInstanceOf[T]), max.getOrElse(null.asInstanceOf[T]), nulls))
        }
        val entry: Option[(String, (com.fasterxml.jackson.databind.node.ObjectNode) => Unit, Long)] =
          asLong.flatMap(g => scan[Long](g, _ < _, _ => true).map { case (mn, mx, nu) =>
            ("l", (o: com.fasterxml.jackson.databind.node.ObjectNode) =>
              if (nu < n) { o.put("min", mn); o.put("max", mx); () }, nu)
          }).orElse(asDouble.flatMap(g =>
            scan[Double](g, _ < _, d => !d.isNaN && !d.isInfinite).map { case (mn, mx, nu) =>
              ("d", (o: com.fasterxml.jackson.databind.node.ObjectNode) =>
                if (nu < n) { o.put("min", mn); o.put("max", mx); () }, nu)
            })).orElse(asString.flatMap(g =>
            scan[Array[Byte]](g,
              (a, b) => UTF8String.fromBytes(a).compareTo(UTF8String.fromBytes(b)) < 0,
              _.length <= 64).map { case (mn, mx, nu) =>
              ("s", (o: com.fasterxml.jackson.databind.node.ObjectNode) =>
                if (nu < n) {
                  o.put("min", new String(mn, java.nio.charset.StandardCharsets.UTF_8))
                  o.put("max", new String(mx, java.nio.charset.StandardCharsets.UTF_8))
                  ()
                }, nu)
            }))
        entry.foreach { case (t, fill, nulls) =>
          val o = cols.putObject(name)
          o.put("t", t)
          fill(o)
          o.put("nulls", nulls)
        }
      }
    }
    root.getFieldVectors.asScala.foreach(v => emit(v, v.getField.getName, _ => false))
    node
  }

  private def setNullSafe(v: FieldVector, idx: Int): Unit = v match {
    case _: NullVector => () // inherently null, no buffers
    case _ =>
    while (idx >= v.getValueCapacity) v.reAlloc()
    v match {
      case x: BaseFixedWidthVector => x.setNull(idx)
      case x: BaseVariableWidthVector => x.setNull(idx)
      case x: BaseLargeVariableWidthVector => x.setNull(idx)
      case x: ListVector => x.setNull(idx) // covers MapVector
      case x: LargeListVector => x.setNull(idx)
      case x: StructVector => x.setNull(idx)
      case o => throw new IllegalArgumentException(s"cannot set null on ${o.getClass.getSimpleName}")
    }
  }

  /** Resolve a dotted dictionary path against a Spark schema: segments
    * are struct field names, `element` for array elements, `key`/`value`
    * for map sides (the Arrow child-naming convention [[toArrowField]]
    * uses). Returns the leaf type, or None when the path doesn't exist.
    * Column names containing '.' are not addressable (document, don't
    * guess).
    */
  private[sources] def resolveDictPath(schema: StructType, path: String): Option[DataType] = {
    def walk(dt: DataType, parts: List[String]): Option[DataType] = parts match {
      case Nil => Some(dt)
      case p :: rest => dt match {
        case st: StructType => st.fields.find(_.name == p).flatMap(f => walk(f.dataType, rest))
        case ArrayType(et, _) if p == "element" => walk(et, rest)
        case MapType(kt, _, _) if p == "key" => walk(kt, rest)
        case MapType(_, vt, _) if p == "value" => walk(vt, rest)
        case _ => None
      }
    }
    walk(schema, path.split('.').toList)
  }

  /** Paths of string/binary fields that ARRIVED dictionary-encoded (the
    * read marker), wherever a StructField exists to carry metadata: top
    * level, struct fields at any depth, INCLUDING structs nested under
    * arrays/maps. Array ELEMENTS and map sides themselves have no
    * metadata slot in Spark's type tree, so a foreign file's
    * dict-encoded bare list element re-writes plain unless the caller
    * names its path explicitly.
    */
  private def markedDictPaths(schema: StructType): Set[String] = {
    def walkType(prefix: String, dt: DataType): Seq[String] = dt match {
      case st: StructType => st.fields.toSeq.flatMap(walkField(prefix, _))
      case ArrayType(et, _) => walkType(s"$prefix.element", et)
      case MapType(kt, vt, _) => walkType(s"$prefix.key", kt) ++ walkType(s"$prefix.value", vt)
      case _ => Nil
    }
    def walkField(prefix: String, f: StructField): Seq[String] = {
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      val here =
        if (f.metadata.contains(DictKey) && (f.dataType == StringType || f.dataType == BinaryType))
          Seq(path)
        else Nil
      here ++ walkType(path, f.dataType)
    }
    schema.fields.toSeq.flatMap(walkField("", _)).toSet
  }

  /** Memory-format field for `sf`'s Arrow tree with every `dictPaths`
    * leaf replaced by an int32 index field carrying a
    * [[DictionaryEncoding]]; `register` is called with each encoded
    * leaf's (id, value field).
    */
  private def encodeDictFields(sf: StructField, af: Field, path: String, dictPaths: Set[String],
      nextId: () => Long, register: (String, Long, Field) => Unit): Field =
    if (dictPaths.contains(path)) {
      val id = nextId()
      register(path, id, af)
      new Field(af.getName,
        new FieldType(af.isNullable, new ArrowType.Int(32, true),
          new DictionaryEncoding(id, false, new ArrowType.Int(32, true)), af.getMetadata),
        null)
    } else sf.dataType match {
      case st: StructType =>
        val kids = st.fields.toSeq.zipWithIndex.map { case (cf, k) =>
          encodeDictFields(cf, af.getChildren.get(k), s"$path.${cf.name}", dictPaths, nextId, register)
        }
        new Field(af.getName, af.getFieldType, kids.asJava)
      case ArrayType(et, cn) =>
        val child = encodeDictFields(StructField("element", et, cn), af.getChildren.get(0),
          s"$path.element", dictPaths, nextId, register)
        new Field(af.getName, af.getFieldType, java.util.List.of(child))
      case MapType(kt, vt, vcn) =>
        val entries = af.getChildren.get(0)
        val k0 = encodeDictFields(StructField(MapVector.KEY_NAME, kt, nullable = false),
          entries.getChildren.get(0), s"$path.key", dictPaths, nextId, register)
        val v0 = encodeDictFields(StructField(MapVector.VALUE_NAME, vt, vcn),
          entries.getChildren.get(1), s"$path.value", dictPaths, nextId, register)
        val e2 = new Field(entries.getName, entries.getFieldType, java.util.List.of(k0, v0))
        new Field(af.getName, af.getFieldType, java.util.List.of(e2))
      case _ => af
    }

  /** Recursive Catalyst-value → Arrow-vector writer: (vector index, row
    * or array/struct getters, ordinal in those getters) → write. Null
    * handling for NESTED values lives inside each composite writer; the
    * TOP-LEVEL null check lives in the write loop. `states` maps dotted
    * paths to dictionary accumulators — a mapped string/binary leaf
    * writes int32 indices into its per-file dictionary instead of values
    * (at any nesting depth).
    */
  private def writerFor(vec: FieldVector, dt: DataType, path: String,
      states: Map[String, DictState]): (Int, SpecializedGetters, Int) => Unit =
    states.get(path) match {
      case Some(st) =>
        val iv = vec.asInstanceOf[IntVector]
        dt match {
          case StringType => (i, g, o) => iv.setSafe(i, st.indexOfString(g.getUTF8String(o)))
          case BinaryType => (i, g, o) => iv.setSafe(i, st.indexOfBytes(g.getBinary(o)))
          case other => throw new IllegalArgumentException(
            s"dictionary path '$path' resolves to $other — only string/binary leaves dictionary-encode")
        }
      case None => (vec, dt) match {
      case (_: NullVector, NullType) => (_, _, _) => () // NullVector stores nothing
      case (v: BitVector, BooleanType) => (i, g, o) => v.setSafe(i, if (g.getBoolean(o)) 1 else 0)
      case (v: TinyIntVector, ByteType) => (i, g, o) => v.setSafe(i, g.getByte(o))
      case (v: SmallIntVector, ShortType) => (i, g, o) => v.setSafe(i, g.getShort(o))
      case (v: IntVector, IntegerType) => (i, g, o) => v.setSafe(i, g.getInt(o))
      case (v: BigIntVector, LongType) => (i, g, o) => v.setSafe(i, g.getLong(o))
      case (v: TimeNanoVector, LongType) => (i, g, o) => v.setSafe(i, g.getLong(o))
      case (v: TimeMicroVector, LongType) => (i, g, o) => v.setSafe(i, g.getLong(o))
      case (v: Float4Vector, FloatType) => (i, g, o) => v.setSafe(i, g.getFloat(o))
      case (v: Float8Vector, DoubleType) => (i, g, o) => v.setSafe(i, g.getDouble(o))
      case (v: VarCharVector, StringType) => (i, g, o) => v.setSafe(i, g.getUTF8String(o).getBytes)
      case (v: LargeVarCharVector, StringType) => (i, g, o) => v.setSafe(i, g.getUTF8String(o).getBytes)
      case (v: VarBinaryVector, BinaryType) => (i, g, o) => v.setSafe(i, g.getBinary(o))
      case (v: LargeVarBinaryVector, BinaryType) => (i, g, o) => v.setSafe(i, g.getBinary(o))
      case (v: DateDayVector, DateType) => (i, g, o) => v.setSafe(i, g.getInt(o))
      case (v: TimeStampVector, TimestampType) => (i, g, o) => v.setSafe(i, g.getLong(o))
      case (v: TimeStampVector, TimestampNTZType) => (i, g, o) => v.setSafe(i, g.getLong(o))
      case (v: DecimalVector, d: DecimalType) =>
        (i, g, o) => v.setSafe(i, g.getDecimal(o, d.precision, d.scale).toJavaBigDecimal)
      case (v: StructVector, st: StructType) =>
        val children = v.getChildrenFromFields
        val ws = st.fields.indices.map(k =>
          writerFor(children.get(k), st.fields(k).dataType, s"$path.${st.fields(k).name}", states)).toArray
        (i, g, o) => {
          val struct = g.getStruct(o, st.length)
          v.setIndexDefined(i)
          var k = 0
          while (k < ws.length) {
            if (struct.isNullAt(k)) setNullSafe(children.get(k), i) else ws(k)(i, struct, k)
            k += 1
          }
        }
      case (v: MapVector, MapType(kt, vt, _)) => // before ListVector
        val entries = v.getDataVector.asInstanceOf[StructVector]
        val keyVec = entries.getChildrenFromFields.get(0)
        val valVec = entries.getChildrenFromFields.get(1)
        val kw = writerFor(keyVec, kt, s"$path.key", states)
        val vw = writerFor(valVec, vt, s"$path.value", states)
        (i, g, o) => {
          val m = g.getMap(o)
          val keys = m.keyArray(); val vals = m.valueArray()
          val start = v.startNewValue(i)
          var j = 0
          while (j < m.numElements()) {
            entries.setIndexDefined(start + j)
            kw(start + j, keys, j) // map keys are never null in Spark
            if (vals.isNullAt(j)) setNullSafe(valVec, start + j) else vw(start + j, vals, j)
            j += 1
          }
          v.endValue(i, m.numElements())
        }
      case (v: ListVector, ArrayType(et, _)) =>
        val child = v.getDataVector
        val ew = writerFor(child, et, s"$path.element", states)
        (i, g, o) => {
          val arr = g.getArray(o)
          val start = v.startNewValue(i)
          var j = 0
          while (j < arr.numElements()) {
            if (arr.isNullAt(j)) setNullSafe(child, start + j) else ew(start + j, arr, j)
            j += 1
          }
          v.endValue(i, arr.numElements())
        }
      case (v, t) => throw new IllegalArgumentException(
        s"Arrow IPC interop: unsupported write type $t for vector ${v.getClass.getSimpleName}")
      }
    }

  // =====================================================================
  // schema mapping (SURVEY.md §1.3); message-format fields on both sides
  // =====================================================================

  def toArrowField(f: StructField): Field = {
    val logical =
      if (f.metadata.contains(LogicalKey)) f.metadata.getString(LogicalKey) else ""
    // propagate string-valued Spark metadata into Arrow field metadata so
    // logical-type annotations survive; drop the dict markers from FIELD
    // metadata (the encoding itself is carried structurally — write()
    // re-encodes marked columns for real)
    val arrowMeta: java.util.Map[String, String] = GraftSqlInternals.metadataMap(f.metadata)
      .collect { case (k, v: String) if k != DictKey && k != DictWidthKey => k -> v }
      .asJava
    def field(t: ArrowType, children: Seq[Field] = Nil): Field =
      new Field(f.name, new FieldType(f.nullable, t, null, arrowMeta),
        if (children.isEmpty) null else children.asJava)
    f.dataType match {
      case NullType => field(ArrowType.Null.INSTANCE)
      case BooleanType => field(ArrowType.Bool.INSTANCE)
      case ByteType => field(new ArrowType.Int(8, true))
      case ShortType => field(new ArrowType.Int(16, true))
      case IntegerType => field(new ArrowType.Int(32, true))
      case LongType if logical == "time64[ns]" => field(new ArrowType.Time(TimeUnit.NANOSECOND, 64))
      case LongType if logical == "time64[us]" => field(new ArrowType.Time(TimeUnit.MICROSECOND, 64))
      case LongType => field(new ArrowType.Int(64, true))
      case FloatType => field(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => field(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType if logical == "largeUtf8" => field(ArrowType.LargeUtf8.INSTANCE)
      case StringType => field(ArrowType.Utf8.INSTANCE)
      case BinaryType if logical == "largeBinary" => field(ArrowType.LargeBinary.INSTANCE)
      case BinaryType => field(ArrowType.Binary.INSTANCE)
      case DateType => field(new ArrowType.Date(DateUnit.DAY))
      case TimestampType => field(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType => field(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      case d: DecimalType => field(new ArrowType.Decimal(d.precision, d.scale, 128))
      case ArrayType(et, containsNull) =>
        field(ArrowType.List.INSTANCE,
          Seq(toArrowField(StructField("element", et, containsNull))))
      case st: StructType =>
        field(ArrowType.Struct.INSTANCE, st.fields.map(toArrowField).toSeq)
      case MapType(kt, vt, valueContainsNull) =>
        // Arrow Map = list<entries: struct<key (non-null), value>>
        val entries = new Field(MapVector.DATA_VECTOR_NAME,
          new FieldType(false, ArrowType.Struct.INSTANCE, null),
          Seq(
            toArrowField(StructField(MapVector.KEY_NAME, kt, nullable = false)),
            toArrowField(StructField(MapVector.VALUE_NAME, vt, valueContainsNull))).asJava)
        field(new ArrowType.Map(false), Seq(entries))
      case other => throw new IllegalArgumentException(
        s"Arrow IPC interop: unsupported type $other for column ${f.name}")
    }
  }

  def fromArrowSchema(s: ArrowSchema): StructType =
    StructType(s.getFields.asScala.map(sparkField).toSeq)

  /** MESSAGE-format Arrow field → Spark field. Dictionary-encoded fields
    * carry their VALUE type here (the index type lives in the encoding),
    * so the Spark schema surfaces decoded values; metadata records the
    * encoding. Lossy-in-Spark types get a `graft.arrow.logical` marker so
    * [[write]] can restore them.
    */
  private def sparkField(f: Field): StructField = {
    val mb = new MetadataBuilder()
    f.getMetadata.asScala.foreach { case (k, v) => mb.putString(k, v) }
    val enc: DictionaryEncoding = f.getDictionary
    if (enc != null) {
      mb.putString(DictKey, "true")
      mb.putString(DictWidthKey, enc.getIndexType.getBitWidth.toString)
    }
    val dt: DataType = f.getType match {
      case _: ArrowType.Null => NullType // reference Void columns
      case _: ArrowType.Bool => BooleanType
      case i: ArrowType.Int if i.getIsSigned => i.getBitWidth match {
        case 8 => ByteType
        case 16 => ShortType
        case 32 => IntegerType
        case 64 => LongType
        case w => throw new IllegalArgumentException(s"unsupported int width $w")
      }
      case fp: ArrowType.FloatingPoint => fp.getPrecision match {
        case FloatingPointPrecision.SINGLE => FloatType
        case FloatingPointPrecision.DOUBLE => DoubleType
        case p => throw new IllegalArgumentException(s"unsupported float precision $p")
      }
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.LargeUtf8 => mb.putString(LogicalKey, "largeUtf8"); StringType
      case _: ArrowType.Binary => BinaryType
      case _: ArrowType.LargeBinary => mb.putString(LogicalKey, "largeBinary"); BinaryType
      case _: ArrowType.Date => DateType
      case t: ArrowType.Timestamp if t.getUnit == TimeUnit.MICROSECOND =>
        if (t.getTimezone == null) TimestampNTZType else TimestampType
      case t: ArrowType.Time if t.getUnit == TimeUnit.NANOSECOND =>
        // Spark TIME caps at microsecond precision — surface the exact
        // nano-of-day as a long, marker restores time64[ns] on write
        mb.putString(LogicalKey, "time64[ns]"); LongType
      case t: ArrowType.Time if t.getUnit == TimeUnit.MICROSECOND =>
        mb.putString(LogicalKey, "time64[us]"); LongType
      case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
      case _: ArrowType.List | _: ArrowType.LargeList =>
        val elem = sparkField(f.getChildren.get(0))
        ArrayType(elem.dataType, elem.nullable)
      case _: ArrowType.Struct =>
        StructType(f.getChildren.asScala.map(sparkField).toSeq)
      case _: ArrowType.Map =>
        val entries = f.getChildren.get(0)
        val key = sparkField(entries.getChildren.get(0))
        val value = sparkField(entries.getChildren.get(1))
        MapType(key.dataType, value.dataType, value.nullable)
      case other => throw new IllegalArgumentException(
        s"Arrow IPC interop: unsupported Arrow type $other for column ${f.getName}")
    }
    StructField(f.getName, dt, f.isNullable, mb.build())
  }
}

/** SeekableByteChannel over a Hadoop file — lets the IPC footer and batch
  * offsets be walked on any Hadoop-visible filesystem (local, HDFS,
  * object stores).
  */
private[sources] class HadoopSeekableChannel(fs: FileSystem, p: HPath) extends SeekableByteChannel {
  private val in = fs.open(p)
  private val len = fs.getFileStatus(p).getLen
  private var closed = false
  override def read(dst: ByteBuffer): Int = {
    val buf = new Array[Byte](dst.remaining())
    val n = in.read(buf, 0, buf.length)
    if (n > 0) { dst.put(buf, 0, n); ArrowIpc.bytesReadCounter.add(n) }
    n
  }
  override def write(src: ByteBuffer): Int = throw new UnsupportedOperationException("read-only")
  override def position(): Long = in.getPos
  override def position(newPosition: Long): SeekableByteChannel = { in.seek(newPosition); this }
  override def size(): Long = len
  override def truncate(size: Long): SeekableByteChannel = throw new UnsupportedOperationException("read-only")
  override def isOpen: Boolean = !closed
  override def close(): Unit = { closed = true; in.close() }
}
