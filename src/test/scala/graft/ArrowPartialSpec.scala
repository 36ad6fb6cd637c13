package graft

import graft.sources.ArrowIpc
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.util.Random

/** Partial / in-flight IPC reading (the reference's
  * consume-while-producing capability): `readPartial` must serve EVERY
  * complete record batch and NEVER a torn one — at any truncation point,
  * on dict-encoded and nested schemas, across mixed torn/complete
  * directories — and must still refuse files that are not Arrow at all.
  */
class ArrowPartialSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory(name).resolve("t").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cat", StringType, nullable = true), // dict-encoded
    StructField("m", StructType(Seq(
      StructField("k", LongType, nullable = true))), nullable = true),
    StructField("txt", StringType, nullable = true)))

  private def rows(n: Int): Seq[Row] = (0 until n).map { i =>
    Row(
      i.toLong,
      if (i % 9 == 0) null else s"cat_${i % 7}",
      if (i % 11 == 0) null else Row(i.toLong * 2),
      s"body_$i")
  }

  // id-sorted single partition, 256-row batches: batch k holds ids
  // [256k, 256(k+1)) — the prefix property every assertion leans on
  private lazy val store: String = {
    val out = tmp("ipc_partial")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows(1000), 1), schema).orderBy("id")
    ArrowIpc.write(df, out, batchRows = 256, dictColumns = Set("cat"))
    out
  }
  private lazy val partFile: String = {
    val fs = Files.list(Paths.get(store)).toArray.map(_.toString)
      .filter(_.endsWith(".arrow"))
    assert(fs.length == 1)
    fs.head
  }

  private def fmt(v: Any): String = v match {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(fmt).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "=" + fmt(x) }.sorted.mkString("<", ",", ">")
    case x => String.valueOf(x)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(fmt).mkString("|")).sorted.toSeq

  private def truncCopy(src: String, cut: Long): String = {
    val d = tmp("ipc_partial_cut")
    Files.createDirectories(Paths.get(d))
    val dst = Paths.get(d, "part-00000.arrow")
    val bytes = Files.readAllBytes(Paths.get(src))
    Files.write(dst, java.util.Arrays.copyOf(bytes, math.min(cut, bytes.length).toInt))
    d
  }

  test("complete file: readPartial equals the footer-driven read, footer untouched") {
    val full = ArrowIpc.read(spark, store)
    val part = ArrowIpc.readPartial(spark, store)
    assert(part.schema == full.schema)
    assert(canon(part) == canon(full))
    assert(part.count() == 1000)
  }

  test("any truncation point serves exactly the complete-batch prefix (120 fuzz cuts)") {
    val len = Files.size(Paths.get(partFile))
    val rnd = new Random(20260816)
    // every regime: inside magic, inside schema, mid-metadata, mid-body,
    // between messages, inside the footer region
    val cuts = Seq(0L, 3L, 8L, 20L, len - 1, len) ++
      Seq.fill(114)(rnd.nextLong(len + 1)).map(math.abs(_) % (len + 1))
    var lastRows = -1L
    cuts.sorted.foreach { cut =>
      val dir = truncCopy(partFile, cut)
      val got =
        try Some(ArrowIpc.readPartial(spark, dir).collect())
        catch {
          case e: IllegalArgumentException
            if e.getMessage.contains("no file under") => None // pre-schema tear
        }
      val ids = got.toSeq.flatten.map(_.getLong(0)).sorted
      val m = ids.length
      // served rows are EXACTLY [0, m) with m a whole number of batches
      // (or everything): never a partial batch, never a gap, never junk
      assert(ids == (0L until m.toLong), s"cut=$cut: not a clean prefix")
      assert(m % 256 == 0 || m == 1000, s"cut=$cut: partial batch served ($m rows)")
      if (cut == len) assert(m == 1000, "full-length copy must serve everything")
      // monotone: cuts iterate ascending, so more bytes must never serve
      // FEWER rows (a dictionary-state bug dropping an earlier batch
      // would trip exactly here)
      assert(m >= lastRows, s"cut=$cut served $m rows after a shorter cut served $lastRows")
      lastRows = m
      // dictionary decode of the prefix matches the source values
      got.toSeq.flatten.foreach { r =>
        val i = r.getLong(0).toInt
        val want = if (i % 9 == 0) null else s"cat_${i % 7}"
        assert(r.getString(1) == want, s"cut=$cut id=$i dict value mismatch")
      }
    }
  }

  test("directory with torn, pre-schema, and complete files: complete batches only, zero-row tears tolerated") {
    val d = tmp("ipc_partial_mixed")
    Files.createDirectories(Paths.get(d))
    val bytes = Files.readAllBytes(Paths.get(partFile))
    // complete file + a file cut mid-stream + a 3-byte pre-magic tear
    Files.write(Paths.get(d, "part-00000.arrow"), bytes)
    Files.write(Paths.get(d, "part-00001.arrow"),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    Files.write(Paths.get(d, "part-00002.arrow"), Array[Byte]('A', 'R', 'R'))
    val got = ArrowIpc.readPartial(spark, d).collect()
    val ids = got.map(_.getLong(0)).sorted
    // file 0 contributes all 1000; file 1 a whole-batch prefix; file 2 none
    assert(ids.length >= 1000 && ids.length < 2000)
    assert((ids.length - 1000) % 256 == 0)
    assert(ids.take(1000).toSeq == (0L until 1000L) ||
      ids.count(_ == 0L) == 2) // both files start at id 0
  }

  test("a non-Arrow file fails loud instead of reading as torn") {
    val d = tmp("ipc_partial_garbage")
    Files.createDirectories(Paths.get(d))
    Files.write(Paths.get(d, "part-00000.arrow"),
      "definitely not arrow bytes".getBytes("UTF-8"))
    val e = intercept[Exception] {
      ArrowIpc.readPartial(spark, d).collect()
    }
    assert(e.getMessage != null)
  }

  test("reference golden files: partial walk equals the footer read (legacy LZ4-block, replacement dicts)") {
    // THE migration case: a crashed KNIME store is exactly these files
    // with a torn tail — the complete goldens must stream-walk to the
    // same rows the footer-driven reader serves (incl. the legacy block
    // codec and mid-stream dictionary REPLACEMENT pyarrow refuses)
    val base = "/root/reference/org.knime.core.columnar.arrow.tests/test_data"
    assume(Files.isDirectory(Paths.get(base)))
    val goldens = Seq(
      s"$base/LZ4_block_compression/data.arrow",
      s"$base/ZonedDateTime_legacy_files/multiple_batches.arrow",
      s"$base/ZonedDateTime_legacy_files/compressed.arrow",
      s"$base/ZonedDateTime_legacy_files/struct_list.arrow")
    goldens.filter(f => Files.exists(Paths.get(f))).foreach { f =>
      val full = ArrowIpc.read(spark, f)
      val part = ArrowIpc.readPartial(spark, f)
      assert(part.schema == full.schema, f)
      assert(canon(part) == canon(full), s"partial walk diverged on $f")
      // pruned walk on the same goldens (legacy block codec, replacement
      // dicts): first column's values equal the footer-driven pruned read
      val c0 = full.schema.fieldNames.head
      assert(canon(ArrowIpc.readPartial(spark, f, Seq(c0))) ==
        canon(ArrowIpc.read(spark, f, Seq(c0))), s"pruned partial diverged on $f")
    }
    // and a torn copy of a multi-batch golden still serves a clean prefix
    val multi = s"$base/ZonedDateTime_legacy_files/multiple_batches.arrow"
    if (Files.exists(Paths.get(multi))) {
      val total = ArrowIpc.read(spark, multi).count()
      val len = Files.size(Paths.get(multi))
      val cuts = Seq(len / 3, len / 2, 2 * len / 3)
      cuts.foreach { cut =>
        val dir = truncCopy(multi, cut)
        val n =
          try ArrowIpc.readPartial(spark, dir).count()
          catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("no file under") => 0L
          }
        assert(n <= total, s"cut=$cut served $n > $total rows")
      }
    }
  }

  test("pruned partial read: projection/permute/duplicate values equal the " +
      "full walk's; fat unselected column costs no body IO") {
    // a WIDE store: the unselected txt column dominates the bytes
    val d = tmp("ipc_partial_wide")
    val wideSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cat", StringType, nullable = true),
      StructField("txt", StringType, nullable = true)))
    // txt must be INCOMPRESSIBLE — the store is LZ4-framed, and a
    // constant filler would compress to nothing, flattening the byte
    // ratio the assertion is about
    val trnd = new Random(42)
    val wdf = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 1000).map { i =>
        Row(i.toLong, if (i % 9 == 0) null else s"cat_${i % 7}",
          Seq.fill(300)(trnd.nextPrintableChar()).mkString)
      }, 1), wideSchema).orderBy("id")
    ArrowIpc.write(wdf, d, batchRows = 256, dictColumns = Set("cat"))
    val f = Files.list(Paths.get(d)).toArray.map(_.toString)
      .filter(_.endsWith(".arrow")).head
    // torn copy (cut somewhere inside the data): pruned and full must
    // serve the SAME whole-batch prefix
    val cutDir = truncCopy(f, Files.size(Paths.get(f)) * 2 / 3)
    val (gotFull, bytesFull) = ArrowIpc.bytesReadDuring(
      canon(ArrowIpc.readPartial(spark, cutDir).select(col("id"), col("cat"))))
    val (gotPruned, bytesPruned) = ArrowIpc.bytesReadDuring(
      canon(ArrowIpc.readPartial(spark, cutDir, Seq("id", "cat"))))
    assert(gotPruned == gotFull, "pruned torn read diverged from the full walk's projection")
    assert(gotFull.nonEmpty && gotFull.size % 256 == 0)
    assert(bytesPruned * 5 < bytesFull,
      s"pruned torn read should skip the fat column: $bytesPruned vs $bytesFull bytes")
    // zero columns: row count from message metadata alone, bodies unread
    val (nZero, bytesZero) = ArrowIpc.bytesReadDuring(
      ArrowIpc.readPartial(spark, cutDir, Seq.empty).count())
    assert(nZero == gotFull.size.toLong)
    assert(bytesZero < bytesPruned,
      s"zero-column read should cost less than the pruned read: $bytesZero vs $bytesPruned")
    // permute + duplicate on the COMPLETE store (selectColumns semantics)
    val dup = ArrowIpc.readPartial(spark, d, Seq("cat", "id", "cat"))
    assert(dup.columns.toSeq == Seq("cat", "id", "cat"))
    assert(canon(dup) == canon(ArrowIpc.read(spark, d, Seq("cat", "id", "cat"))))
    // unknown column fails on the driver with the schema named
    val e = intercept[IllegalArgumentException] {
      ArrowIpc.readPartial(spark, d, Seq("nope"))
    }
    assert(e.getMessage.contains("nope") && e.getMessage.contains("id"))
  }

  test("pruned partial fuzz: every truncation point serves the clean prefix's projection (30 cuts)") {
    val len = Files.size(Paths.get(partFile))
    val rnd = new Random(20260817)
    val cuts = Seq(0L, 8L, len) ++ Seq.fill(27)(rnd.nextLong(len + 1))
    cuts.foreach { cut =>
      val dir = truncCopy(partFile, cut)
      val got =
        try Some(ArrowIpc.readPartial(spark, dir, Seq("id", "cat")).collect())
        catch {
          case e: IllegalArgumentException
            if e.getMessage.contains("no file under") => None // pre-schema tear
        }
      val rowsGot = got.toSeq.flatten
      val m = rowsGot.length
      assert(m % 256 == 0 || m == 1000, s"cut=$cut: partial batch served ($m rows)")
      val ids = rowsGot.map(_.getLong(0)).sorted
      assert(ids == (0L until m.toLong), s"cut=$cut: not a clean prefix")
      rowsGot.foreach { r =>
        val i = r.getLong(0).toInt
        val want = if (i % 9 == 0) null else s"cat_${i % 7}"
        assert(r.getString(1) == want, s"cut=$cut id=$i dict value mismatch (pruned)")
      }
    }
  }

  test("crash-garbage tail (size-complete, write-incomplete): clean prefix " +
      "served, garbage schema reads as pre-schema tear") {
    // an OS crash can persist the size update without the data blocks:
    // the tail is then GARBAGE within the file's size, not a clean
    // truncation — the walk must still stop at the last complete batch
    val bytes = Files.readAllBytes(Paths.get(partFile))
    val blocks = ArrowIpc.recordBatchBlocks(spark, partFile)
    val keep = blocks(2)._1.toInt // clean boundary after 2 batches (512 rows)
    def garbled(tail: Array[Byte]): String = {
      val d = tmp("ipc_partial_garble")
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, "part-00000.arrow"),
        java.util.Arrays.copyOf(bytes, keep) ++ tail)
      d
    }
    // (a) a plausible message prefix whose flatbuffer is garbage:
    // continuation token + metaLen 64 + 64 junk bytes
    val cont = Array[Byte](-1, -1, -1, -1, 64, 0, 0, 0)
    val junk = Array.fill[Byte](64)(0xAB.toByte)
    val idsA = ArrowIpc.readPartial(spark, garbled(cont ++ junk))
      .collect().map(_.getLong(0)).sorted
    assert(idsA.toSeq == (0L until 512L), "garbage metadata must stop at the clean prefix")
    // (b) raw junk where the length prefix itself is garbage
    val idsB = ArrowIpc.readPartial(spark, garbled(Array.fill[Byte](100)(0x5C)))
      .collect().map(_.getLong(0)).sorted
    assert(idsB.toSeq == (0L until 512L))
    // (c) garbage immediately after the magic: torn before schema = zero
    // rows from that file, not a task failure
    val d = tmp("ipc_partial_garble_schema")
    Files.createDirectories(Paths.get(d))
    Files.write(Paths.get(d, "part-00000.arrow"),
      bytes.take(8) ++ cont ++ junk)
    Files.write(Paths.get(d, "part-00001.arrow"), bytes) // a healthy sibling
    assert(ArrowIpc.readPartial(spark, d).count() == 1000L)
  }

  test("within-file split: a big in-flight file fans out across tasks and " +
      "serves the identical rows (plan + sliced serve, dict state replayed)") {
    // force the split on the 1000-row store: every ~4 KB of batches
    // becomes its own task
    spark.conf.set("spark.graft.arrow.splitBytes", "4096")
    try {
      val full = ArrowIpc.read(spark, store)
      val part = ArrowIpc.readPartial(spark, store)
      assert(part.rdd.getNumPartitions > 1,
        s"expected within-file fan-out, got ${part.rdd.getNumPartitions} task(s)")
      assert(part.schema == full.schema)
      assert(canon(part) == canon(full))
      // dict-encoded values decode correctly in EVERY slice (later slices
      // replay the initial+delta dictionary messages before their range)
      part.collect().foreach { r =>
        val i = r.getLong(0).toInt
        val want = if (i % 9 == 0) null else s"cat_${i % 7}"
        assert(r.getString(1) == want, s"id=$i dict value mismatch in split read")
      }
      // pruned + zero-column reads keep their contracts across the split
      assert(canon(ArrowIpc.readPartial(spark, store, Seq("cat", "id", "cat"))) ==
        canon(ArrowIpc.read(spark, store, Seq("cat", "id", "cat"))))
      assert(ArrowIpc.readPartial(spark, store, Seq.empty).count() == 1000L)
      // a TORN big file still serves exactly the complete-batch prefix
      val len = Files.size(Paths.get(partFile))
      val dir = truncCopy(partFile, len * 2 / 3)
      val ids = ArrowIpc.readPartial(spark, dir).collect().map(_.getLong(0)).sorted
      assert(ids.length % 256 == 0 && ids.length > 0)
      assert(ids.toSeq == (0L until ids.length.toLong))
      // replacement-dictionary goldens (the case pyarrow refuses) under
      // an even smaller split unit: slice serving must replay replacement
      // state per range
      val multi = "/root/reference/org.knime.core.columnar.arrow.tests/test_data/" +
        "ZonedDateTime_legacy_files/multiple_batches.arrow"
      if (Files.exists(Paths.get(multi))) {
        spark.conf.set("spark.graft.arrow.splitBytes", "512")
        val g = ArrowIpc.readPartial(spark, multi)
        assert(g.rdd.getNumPartitions > 1)
        assert(canon(g) == canon(ArrowIpc.read(spark, multi)))
      }
    } finally spark.conf.unset("spark.graft.arrow.splitBytes")
  }

  test("footer-driven read splits big COMPLETE files too: serveRange slices " +
      "equal the unsplit read - values, pruning, filters (stats skip stays " +
      "footer-aligned), replacement-dict goldens") {
    spark.conf.set("spark.graft.arrow.splitBytes", "4096")
    try {
      val split = ArrowIpc.read(spark, store)
      assert(split.rdd.getNumPartitions > 1,
        s"expected within-file fan-out, got ${split.rdd.getNumPartitions} task(s)")
      spark.conf.set("spark.graft.arrow.splitBytes", (1L << 40).toString)
      val whole = ArrowIpc.read(spark, store)
      assert(whole.rdd.getNumPartitions == 1)
      spark.conf.set("spark.graft.arrow.splitBytes", "4096")
      assert(split.schema == whole.schema)
      assert(canon(split) == canon(whole))
      // dict values decode in every slice (later slices replay dicts)
      split.collect().foreach { r =>
        val i = r.getLong(0).toInt
        val want = if (i % 9 == 0) null else s"cat_${i % 7}"
        assert(r.getString(1) == want, s"id=$i dict value mismatch in split read")
      }
      // pruning + permute/duplicate across the split
      assert(canon(ArrowIpc.read(spark, store, Seq("cat", "id", "cat"))) ==
        canon(whole.select(col("cat"), col("id"), col("cat"))))
      // FILTERS: per-batch statistics skipping indexes batches by footer
      // position — serveRange keeps footer-global indices, so a sliced
      // filtered read must equal the unsplit one exactly
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val filtered = ArrowIpc.read(spark, store, Seq("id", "cat"),
        Seq(GreaterThanOrEqual("id", 300L), LessThan("id", 700L)))
      assert(filtered.rdd.getNumPartitions > 1)
      val (got, bytesFiltered) = ArrowIpc.bytesReadDuring(
        filtered.collect().map(_.getLong(0)).sorted.toSeq)
      assert(got == (300L until 700L))
      // and the statistics actually SKIP under the split (batches 0 and 3
      // hold ids outside [300,700) and must never be read) — not just the
      // residual re-filter doing the work
      val (_, bytesAll) = ArrowIpc.bytesReadDuring(
        ArrowIpc.read(spark, store, Seq("id", "cat")).collect())
      assert(bytesFiltered < bytesAll,
        s"stats skipping must engage under serveRange: $bytesFiltered vs $bytesAll bytes")
      // replacement-dictionary + legacy-block goldens under a tiny split
      val multi = "/root/reference/org.knime.core.columnar.arrow.tests/test_data/" +
        "ZonedDateTime_legacy_files/multiple_batches.arrow"
      if (Files.exists(Paths.get(multi))) {
        spark.conf.set("spark.graft.arrow.splitBytes", "512")
        val g = ArrowIpc.read(spark, multi)
        assert(g.rdd.getNumPartitions > 1)
        spark.conf.set("spark.graft.arrow.splitBytes", (1L << 40).toString)
        assert(canon(g) == canon(ArrowIpc.read(spark, multi)))
      }
    } finally spark.conf.unset("spark.graft.arrow.splitBytes")
  }

  test("split-mode truncation fuzz: arbitrary tears under within-file " +
      "fan-out still serve exactly the complete-batch prefix (30 cuts)") {
    // the probe pins ONE mid-message cut on a big file; this fuzzes the
    // plan+slice path across every tear regime with splits forced on
    val len = Files.size(Paths.get(partFile))
    val rnd = new Random(20260818)
    val cuts = Seq(0L, 8L, len / 2, len) ++ Seq.fill(26)(rnd.nextLong(len + 1))
    spark.conf.set("spark.graft.arrow.splitBytes", "4096")
    try cuts.foreach { cut =>
      val dir = truncCopy(partFile, cut)
      val got =
        try Some(ArrowIpc.readPartial(spark, dir).collect())
        catch {
          case e: IllegalArgumentException
            if e.getMessage.contains("no file under") => None // pre-schema tear
        }
      val ids = got.toSeq.flatten.map(_.getLong(0)).sorted
      val m = ids.length
      assert(ids == (0L until m.toLong), s"cut=$cut: not a clean prefix (split)")
      assert(m % 256 == 0 || m == 1000, s"cut=$cut: partial batch served (split, $m rows)")
      got.toSeq.flatten.foreach { r =>
        val i = r.getLong(0).toInt
        val want = if (i % 9 == 0) null else s"cat_${i % 7}"
        assert(r.getString(1) == want, s"cut=$cut id=$i dict value mismatch (split)")
      }
    } finally spark.conf.unset("spark.graft.arrow.splitBytes")
  }

  test("chunkRanges: covers every batch exactly once in order, ranges bounded " +
      "by the byte target") {
    val rnd = new Random(7)
    for (n <- Seq(0, 1, 7, 100)) {
      val recs = IndexedSeq.tabulate(n)(i => (i.toLong * 100, 24, rnd.nextLong(5000)))
      for (target <- Seq(1L, 4096L, Long.MaxValue)) {
        val ranges = ArrowIpc.chunkRanges(recs, target)
        assert(ranges.flatMap { case (lo, hi) => lo until hi } == (0 until n),
          s"n=$n target=$target: not a cover")
        assert(ranges.forall { case (lo, hi) => lo < hi }, "empty range emitted")
        // each range except the last crossed the target when it closed
        ranges.dropRight(1).foreach { case (lo, hi) =>
          val bytes = (lo until hi).map(i => recs(i)._2 + recs(i)._3.toLong).sum
          assert(bytes >= target, s"n=$n target=$target: range closed early")
        }
      }
    }
    assert(ArrowIpc.chunkRanges(IndexedSeq.empty, 1L).isEmpty)
  }

  test("in-flight growth: growing prefixes serve monotonically growing whole-batch counts") {
    val len = Files.size(Paths.get(partFile))
    var last = -1L
    // simulate a live writer: snapshot the file at 10 growing sizes
    (1 to 10).map(i => len * i / 10).foreach { cut =>
      val dir = truncCopy(partFile, cut)
      val n =
        try ArrowIpc.readPartial(spark, dir).count()
        catch {
          case e: IllegalArgumentException
            if e.getMessage.contains("no file under") => 0L
        }
      assert(n >= last, s"cut=$cut went backwards: $last -> $n")
      assert(n % 256 == 0 || n == 1000)
      last = n
    }
    assert(last == 1000)
  }

  test("sliceDicts: minimal replay - prefix collapses per id to the last " +
      "non-delta chain, mid-slice messages ride whole, delta-only chains keep") {
    import graft.sources.ArrowIpc.DictMsg
    def d(off: Long, id: Long, delta: Boolean) = DictMsg(off, 8, 8, id, delta)
    // id 1: replaced at 10, 30, 50; deltas at 40 (on the 30 base), 60.
    // id 2: initial at 20 only. Slice batches span [100, 200].
    val dicts = IndexedSeq(
      d(10, 1, delta = false), d(20, 2, delta = false), d(30, 1, delta = false),
      d(40, 1, delta = true), d(50, 1, delta = false), d(60, 1, delta = true),
      d(150, 1, delta = false), d(250, 1, delta = false))
    val got = ArrowIpc.sliceDicts(dicts, firstOff = 100, lastOff = 200)
    // kept: id 1's live chain at 100 = (50 base, 60 delta); id 2's initial;
    // the mid-slice replacement at 150. Dropped: 10, 30, 40 (replaced
    // generations), 250 (past the slice's last batch).
    assert(got.map(_.off) == IndexedSeq(20L, 50L, 60L, 150L))
    // delta-only chain (foreign quirk): nothing collapses
    val orphan = IndexedSeq(d(10, 3, delta = true), d(20, 3, delta = true))
    assert(ArrowIpc.sliceDicts(orphan, 100, 200).map(_.off) == IndexedSeq(10L, 20L))
    // first slice of the file: only mid-slice messages apply
    assert(ArrowIpc.sliceDicts(dicts, 5, 200).map(_.off) ==
      IndexedSeq(10L, 20L, 30L, 40L, 50L, 60L, 150L))
  }

  test("planCompleteTasks: multiple big files plan their footers in ONE " +
      "executor job, not a serial driver loop") {
    // three single-file stores, all over a tiny threshold
    val dirs = (1 to 3).map { k =>
      val out = tmp(s"ipc_plan_par_$k")
      ArrowIpc.write(spark.createDataFrame(
        spark.sparkContext.parallelize(rows(600), 1), schema).orderBy("id"),
        out, batchRows = 256, dictColumns = Set("cat"))
      Files.list(Paths.get(out)).toArray.map(_.toString).filter(_.endsWith(".arrow")).head
    }
    val statuses = dirs.map(f => (f, Files.size(Paths.get(f))))
    val (tasks, jobs) = countJobs(ArrowIpc.planCompleteTasks(spark, statuses, splitBytes = 4096))
    assert(jobs == 1, s"big-file footer planning must be ONE job - saw $jobs")
    // every file fanned out, ranges cover in order
    dirs.foreach { f =>
      val ranges = tasks.collect { case (`f`, Some(r)) => r }
      assert(ranges.size > 1, s"$f did not fan out: $tasks")
      assert(ranges.head._1 == 0 && ranges.sliding(2).forall {
        case Seq((_, hi), (lo2, _)) => hi == lo2
        case _ => true
      })
    }
  }

  test("splitBytes knob: malformed and non-positive values fail with the " +
      "key named") {
    for (bad <- Seq("12MB", "0", "-5")) {
      spark.conf.set("spark.graft.arrow.splitBytes", bad)
      try {
        val e = intercept[IllegalArgumentException](ArrowIpc.arrowSplitBytes(spark))
        assert(e.getMessage.contains("spark.graft.arrow.splitBytes"), e.getMessage)
      } finally spark.conf.unset("spark.graft.arrow.splitBytes")
    }
    assert(ArrowIpc.arrowSplitBytes(spark) == 128L * 1024 * 1024)
  }

  test("planCompleteTasks: a footer with out-of-order record-batch blocks " +
      "falls back to the unsplit one-task read (never drops batches)") {
    // synthesize the pathological footer by rewriting a real file's tail
    // with its record-batch blocks REVERSED (offsets descending)
    import org.apache.arrow.vector.ipc.message.ArrowFooter
    import scala.jdk.CollectionConverters._
    val bytes = Files.readAllBytes(Paths.get(partFile))
    val bb = java.nio.ByteBuffer.wrap(bytes, bytes.length - 10, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val footerLen = bb.getInt
    val footerStart = bytes.length - 10 - footerLen
    val fb = org.apache.arrow.flatbuf.Footer.getRootAsFooter(
      java.nio.ByteBuffer.wrap(bytes, footerStart, footerLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).slice())
    val footer = new ArrowFooter(fb)
    val reversed = new ArrowFooter(footer.getSchema,
      footer.getDictionaries, footer.getRecordBatches.asScala.reverse.asJava,
      footer.getMetaData)
    val builder = new com.google.flatbuffers.FlatBufferBuilder()
    builder.finish(reversed.writeTo(builder))
    val newFooter = builder.dataBuffer()
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes, 0, footerStart)
    val nf = new Array[Byte](newFooter.remaining()); newFooter.get(nf)
    out.write(nf)
    val tail = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tail.putInt(nf.length); out.write(tail.array())
    out.write("ARROW1".getBytes("ASCII"))
    val d = tmp("ipc_ooo_footer")
    Files.createDirectories(Paths.get(d))
    val f = Paths.get(d, "part-00000.arrow")
    Files.write(f, out.toByteArray)
    val statuses = Seq((f.toString, Files.size(f)))
    val tasks = ArrowIpc.planCompleteTasks(spark, statuses, splitBytes = 4096)
    assert(tasks == Seq((f.toString, None)),
      s"out-of-order footer must serve unsplit: $tasks")
    // and the unsplit read still serves every row (offset-order replay)
    assert(ArrowIpc.read(spark, d).count() == 1000L)
  }
}
