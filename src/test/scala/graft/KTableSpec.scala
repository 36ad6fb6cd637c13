package graft

import graft.table.{Combine, Domains, KTable, RowId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operator-law tests mirroring the reference's virtual-table behavior
  * tests (reference org.knime.core.data.columnar.tests/.../table/virtual/
  * ColumnarVirtualTableTest.java): composition laws for slice/select,
  * concat schema merge, append row-count check, RowID semantics.
  */
class KTableSpec extends SparkSpec {
  import spark.implicits._

  private def sample = {
    KTable(
      (0 until 100)
        .map(i => (s"Row$i", i, i.toDouble / 2, s"v$i"))
        .toDF("row_id", "num", "half", "label"))
  }

  test("selectColumns projects, permutes, duplicates") {
    val t = sample.selectColumns(1, 0, 1)
    assert(t.columnNames == Seq("num", "row_id", "num_1"))
    val r = t.df.orderBy($"num").head()
    assert(r.getInt(0) == 0 && r.getString(1) == "Row0" && r.getInt(2) == 0)
  }

  test("slice composition law: slice(a,b) ∘ slice(c,d) == slice(c+a, min(c+b, d))") {
    val base = sample.df.orderBy($"num")
    val s1 = KTable(base).slice(10, 50).slice(5, 20) // rows 15..30 of base
    val s2 = KTable(base).slice(15, 30)
    assert(s1.df.select($"num").collect().map(_.getInt(0)).toSeq ==
      s2.df.select($"num").collect().map(_.getInt(0)).toSeq)
  }

  test("select composition: select(p) ∘ select(q) == select(q ∘ p)") {
    val a = sample.selectColumns(3, 1, 0).selectColumns(2, 1)
    val b = sample.selectColumns(0, 1)
    assert(a.columnNames == b.columnNames)
    assert(a.df.orderBy($"num").collect().toSeq == b.df.orderBy($"num").collect().toSeq)
  }

  test("appendRowIndex is exact and contiguous") {
    val t = sample.df.orderBy($"num")
    val idx = KTable(t).appendRowIndex("ri").df.select($"num", $"ri").collect()
    idx.foreach(r => assert(r.getLong(1) == r.getInt(0).toLong))
  }

  test("appendMissingValueColumns adds typed nulls") {
    val t = sample.appendMissingValueColumns("extra_s" -> StringType, "extra_d" -> DoubleType)
    assert(t.schema("extra_s").dataType == StringType)
    assert(t.schema("extra_d").dataType == DoubleType)
    assert(t.df.where($"extra_s".isNotNull || $"extra_d".isNotNull).count() == 0)
  }

  test("appendByPosition zips equal-size tables and rejects size mismatch") {
    val l = sample.df.orderBy($"num").select($"num")
    val r = sample.df.orderBy($"num".desc).select($"half")
    val zipped = Combine.appendByPosition(l, r)
    val first = zipped.orderBy($"num").head()
    assert(first.getInt(0) == 0 && first.getDouble(1) == 99.0 / 2)
    intercept[IllegalArgumentException] {
      Combine.appendByPosition(l, r.limit(10))
    }
  }

  test("concatenate merges schemas with upcasts and typed nulls") {
    val a = Seq((1, "x")).toDF("k", "s")
    val b = Seq((2L, 3.5)).toDF("k", "d")
    val u = Combine.concatenate(Seq(a, b)).orderBy($"k")
    assert(u.schema("k").dataType == LongType)
    assert(u.columns.toSeq == Seq("k", "s", "d"))
    val rows = u.collect()
    assert(rows(0).getString(1) == "x" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == 3.5)
  }

  test("concatenate type merge laws") {
    assert(Combine.commonType(IntegerType, LongType) == LongType)
    assert(Combine.commonType(FloatType, DoubleType) == DoubleType)
    assert(Combine.commonType(IntegerType, DoubleType) == DoubleType)
    assert(Combine.commonType(StringType, IntegerType) == StringType)
    assert(Combine.commonType(NullType, IntegerType) == IntegerType)
    assert(Combine.commonType(ArrayType(IntegerType), ArrayType(LongType)) == ArrayType(LongType))
  }

  test("regenerateRowIds produces Row0..RowN in order") {
    val t = RowId.regenerateRowIds(sample.df.orderBy($"num").drop("row_id"))
    val ids = t.orderBy($"num").select($"row_id").collect().map(_.getString(0))
    assert(ids.take(3).toSeq == Seq("Row0", "Row1", "Row2"))
    assert(ids.last == "Row99")
  }

  test("uniquifyRowIds suffixes duplicates deterministically") {
    val dup = Seq(("A", 1), ("A", 2), ("B", 3), ("A", 4)).toDF("row_id", "v").orderBy($"v")
    val u = RowId.uniquifyRowIds(dup).orderBy($"v").collect()
    assert(u.map(_.getString(0)).toSeq == Seq("A", "A_dup", "B", "A_dup_dup"))
  }

  test("uniquifyRowIds re-checks when input already contains _dup keys (ADVICE r1)") {
    // "A","A","A_dup": single-pass suffixing would emit two "A_dup"s
    val dup = Seq(("A", 1), ("A", 2), ("A_dup", 3)).toDF("row_id", "v").orderBy($"v")
    val u = RowId.uniquifyRowIds(dup).select($"row_id").collect().map(_.getString(0))
    assert(u.length == 3 && u.distinct.length == 3, u.mkString(","))
    assert(u.forall(k => k == "A" || k.startsWith("A_dup")))
  }

  test("slice beyond Int range uses the row-index fallback") {
    val base = KTable(sample.df.orderBy($"num"))
    val out = base.slice(97L, Int.MaxValue.toLong + 5L).df
      .select($"num").collect().map(_.getInt(0)).sorted.toSeq
    assert(out == Seq(97, 98, 99))
  }

  test("saltedJoin equals plain join (inner and left)") {
    import graft.operators.Skew
    val large = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d"), (1, "e")).toDF("k", "v")
    val small = Seq((1, "X"), (2, "Y"), (9, "Z")).toDF("k", "w")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(Skew.saltedJoin(large, small, Seq("k"), "inner", salts = 4)) ==
      canon(large.join(small, Seq("k"), "inner")))
    assert(canon(Skew.saltedJoin(large, small, Seq("k"), "left", salts = 4)) ==
      canon(large.join(small, Seq("k"), "left")))
    intercept[IllegalArgumentException](Skew.saltedJoin(large, small, Seq("k"), "right"))
  }

  test("duplicateKeys flags only duplicated ids") {
    val dup = Seq("A", "B", "A", "C").toDF("row_id")
    assert(RowId.duplicateKeys(dup).collect().map(_.getString(0)).toSeq == Seq("A"))
    intercept[IllegalArgumentException](RowId.assertUniqueRowIds(dup))
  }

  test("domain compute: min/max, capped nominal, null counts") {
    val df = Seq(
      (Some(1), Some("a")), (Some(5), Some("b")), (None, Some("a")), (Some(3), None)
    ).toDF("n", "s")
    val domains = Domains.compute(df, nominalCap = 10)
    val n = domains.find(_.column == "n").get
    assert(n.min.contains(1) && n.max.contains(5) && n.nullCount == 1)
    val s = domains.find(_.column == "s").get
    assert(s.nominal.contains(Seq("a", "b")) && s.nullCount == 1)
  }

  test("nested domains: struct fields recurse, numeric arrays get element bounds") {
    val df = Seq(
      (1L, "en", 10, Seq(3.0, 1.0, 7.0), Some(Seq("t1", "t2"))),
      (2L, "de", 40, Seq(-2.0, 5.0), None),
      (3L, "en", 25, Seq.empty[Double], Some(Seq("t1")))
    ).toDF("id", "lang", "len", "scores", "tags")
      .select($"id", struct($"lang", $"len").as("meta"), $"scores", $"tags")
    val ds = Domains.compute(df, nominalCap = 10)
    // struct fields appear as dotted-path domains with full atomic stats
    val lang = ds.find(_.column == "meta.lang").get
    assert(lang.nominal.contains(Seq("de", "en")) && lang.nullCount == 0)
    val len = ds.find(_.column == "meta.len").get
    assert(len.min.contains(10) && len.max.contains(40))
    assert(len.quantileSketch.isDefined && len.quantile(0.5).contains(25.0))
    // the struct column itself reports nulls/distinct
    val meta = ds.find(_.column == "meta").get
    assert(meta.nullCount == 0 && meta.approxDistinct == 3)
    // numeric arrays: element min/max across rows; empty arrays ignored
    val scores = ds.find(_.column == "scores").get
    assert(scores.min.contains(-2.0) && scores.max.contains(7.0))
    // non-numeric arrays: null count + distinct only, no bounds
    val tags = ds.find(_.column == "tags").get
    assert(tags.nullCount == 1 && tags.min.isEmpty && tags.approxDistinct == 2)
    // atomic top-level behavior identical to the flat path
    val id = ds.find(_.column == "id").get
    assert(id.min.contains(1L) && id.max.contains(3L) && id.distinctSketch.isDefined)
    // merge handles the nested snapshot (same paths, same semantics)
    val half1 = df.where($"id" <= 1)
    val half2 = df.where($"id" > 1)
    val merged = Domains.merge(Domains.compute(half1, 10), Domains.compute(half2, 10), 10)
    val full = Domains.compute(df, 10)
    merged.zip(full).foreach { case (m, f) =>
      assert(m.column == f.column && m.min == f.min && m.max == f.max &&
        m.nullCount == f.nullCount, s"${m.column} merge != recompute")
    }
  }

  test("nominal domain dropped when cap exceeded") {
    val df = (0 until 100).map(i => s"v$i").toDF("s")
    val d = Domains.compute(df, nominalCap = 10).head
    assert(d.nominal.isEmpty) // dropped, reference drop-when-exceeded semantics
  }

  test("nominal domain: sort_array order, dropped past the cap in a task or a merge, empty when all null") {
    val df = Seq("b", "B", "a", "é", "Z", "", "ab", "a", "B").toDF("s").repartition(3)
    val kept = Domains.compute(df, nominalCap = 7).head.nominal
    assert(kept.contains(df.agg(sort_array(collect_set($"s"))).head().getSeq[String](0)))
    // 7 distinct over 3 tasks: no task overflows a cap of 6, the merge does
    assert(Domains.compute(df, nominalCap = 6).head.nominal.isEmpty)
    assert(Domains.compute(df.coalesce(1), nominalCap = 1).head.nominal.isEmpty)
    assert(Domains.compute(Seq(true, false, true).toDF("b"), nominalCap = 2).head.nominal.contains(Seq(false, true)))
    assert(Domains.compute(Seq[Option[String]](None, None).toDF("s"), nominalCap = 0).head.nominal.contains(Seq()))
  }

  test("domain merge equals recompute over the union (incremental update)") {
    val a = Seq((Some(1), Some("a")), (None, Some("b"))).toDF("n", "s")
    val b = Seq((Some(7), Some("c")), (Some(-2), None)).toDF("n", "s")
    val merged = Domains.merge(Domains.compute(a, 10), Domains.compute(b, 10), 10)
    val full = Domains.compute(a.unionByName(b), 10)
    merged.zip(full).foreach { case (m, f) =>
      assert(m.column == f.column)
      assert(m.min == f.min && m.max == f.max, s"${m.column} bounds")
      assert(m.nominal.map(_.sortBy(_.toString)) == f.nominal.map(_.sortBy(_.toString)), s"${m.column} nominal")
      assert(m.nullCount == f.nullCount, s"${m.column} nulls")
    }
  }

  test("domain merge: HLL sketch union gives recompute-grade distinct counts") {
    // two halves with overlapping keys: naive max() would report 600,
    // sum would report 1200; the sketch union sees the true 900
    val a = (0 until 600).map(i => s"k$i").toDF("s")
    val b = (300 until 900).map(i => s"k$i").toDF("s")
    val merged = Domains.merge(Domains.compute(a, 10), Domains.compute(b, 10), 10).head
    assert(merged.distinctSketch.isDefined)
    assert(math.abs(merged.approxDistinct - 900L) <= 27, s"estimate ${merged.approxDistinct}") // ±3%
    val recomputed = Domains.compute(a.unionByName(b), 10).head
    assert(math.abs(merged.approxDistinct - recomputed.approxDistinct) <= 27)
  }

  test("domain merge: double and timestamp sketches union to recompute-grade distinct counts") {
    // overlapping halves: the max(a, b) fallback would report 600
    def half(r: Range) = r.map(i => (i * 0.5, new java.sql.Timestamp(1700000000000L + i * 1000L))).toDF("d", "ts")
    val (a, b) = (half(0 until 600), half(300 until 900))
    val merged = Domains.merge(Domains.compute(a, 10), Domains.compute(b, 10), 10)
    val recomputed = Domains.compute(a.unionByName(b), 10)
    merged.zip(recomputed).foreach { case (m, r) =>
      assert(m.distinctSketch.isDefined, s"${m.column} sketch")
      assert(math.abs(m.approxDistinct - 900L) <= 27, s"${m.column} estimate ${m.approxDistinct}") // ±3%
      assert(math.abs(m.approxDistinct - r.approxDistinct) <= 27, s"${m.column} vs recompute")
    }
  }

  test("domain merge: KLL quantile sketches union with recompute-grade error") {
    // two disjoint uniform halves: any per-half summary alone would put
    // the median at ~2500 or ~7500; only a true mergeable sketch sees 5000
    val a = (0 until 5000).map(_.toDouble).toDF("v")
    val b = (5000 until 10000).map(_.toDouble).toDF("v")
    val merged = Domains.merge(Domains.compute(a, 10), Domains.compute(b, 10), 10).head
    assert(merged.quantileSketch.isDefined)
    // KLL k=200 normalized rank error ~1.65%; allow 3% of n
    def rankOf(x: Double): Long = math.round(x) // values ARE their ranks here
    for ((q, want) <- Seq(0.1 -> 1000L, 0.5 -> 5000L, 0.9 -> 9000L)) {
      val got = merged.quantile(q).get
      assert(math.abs(rankOf(got) - want) <= 300, s"q=$q got $got want ~$want")
    }
    val recomputed = Domains.compute(a.unionByName(b), 10).head
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val m = merged.quantile(q).get
      val r = recomputed.quantile(q).get
      assert(math.abs(rankOf(m) - rankOf(r)) <= 600, s"merged vs recompute at q=$q: $m vs $r")
    }
  }

  test("domain merge: quantile sketch riding the single-pass agg (all numeric types)") {
    val df = Seq((1, 1L, 1.0f, 1.0), (2, 2L, 2.0f, 2.0), (3, 3L, 3.0f, 3.0))
      .toDF("i", "l", "f", "d")
    val ds = Domains.compute(df, 10)
    ds.foreach { d =>
      assert(d.quantileSketch.isDefined, s"${d.column} missing quantile sketch")
      assert(d.quantile(0.5).get == 2.0, s"${d.column} median")
    }
  }

  test("quantile readout on an all-null numeric column is None, not a throw") {
    val df = Seq[Option[Double]](None, None).toDF("v")
    val d = Domains.compute(df, 10).head
    assert(d.quantileSketch.isDefined) // the sketch exists but saw nothing
    assert(d.quantile(0.5).isEmpty)
  }

  test("domain merge: dropped nominal stays dropped; cap applies to the union") {
    val small = Seq("x").toDF("s")
    val big = (0 until 50).map(i => s"v$i").toDF("s")
    val dropped = Domains.merge(Domains.compute(small, 10), Domains.compute(big, 10), 10).head
    assert(dropped.nominal.isEmpty)
    // two small halves whose UNION exceeds the cap also drop
    val h1 = (0 until 8).map(i => s"a$i").toDF("s")
    val h2 = (0 until 8).map(i => s"b$i").toDF("s")
    assert(Domains.merge(Domains.compute(h1, 10), Domains.compute(h2, 10), 10).head.nominal.isEmpty)
  }

  test("cooperative cancellation via job groups (reference observer-cancel semantics)") {
    // the reference cancels a running computation through its observer
    // (ObserverFactory / progress monitor); Spark's equivalent is the job
    // group: tag the action's thread, cancel the group from outside
    val sc = spark.sparkContext
    import spark.implicits._
    val slow = udf { (i: Long) => Thread.sleep(2000); i }
    val failed = new java.util.concurrent.CompletableFuture[Boolean]()
    val worker = new Thread(() => {
      try {
        sc.setJobGroup("graft-cancel-test", "cancellable table materialization", interruptOnCancel = true)
        // filter (not a pruned projection) so every row actually sleeps
        spark.range(64).repartition(8).where(slow($"id") >= 0).count()
        failed.complete(false) // finished uncancelled
      } catch {
        case _: Throwable => failed.complete(true)
      } finally sc.clearJobGroup()
    })
    worker.start()
    Thread.sleep(1500) // let tasks start
    sc.cancelJobGroup("graft-cancel-test")
    assert(failed.get(30, java.util.concurrent.TimeUnit.SECONDS), "job was not cancelled")
    worker.join(30000)
  }

  test("slice pushes limits into the plan (no full materialization)") {
    // needs a file-backed source: over local data the optimizer folds the
    // limit into the LocalRelation itself
    val li = KTable(spark.read.parquet(s"$sf0001/lineitem.parquet"))
    val plan = li.slice(0, 5).df.queryExecution.optimizedPlan.toString
    assert(plan.contains("GlobalLimit") || plan.contains("LocalLimit"))
  }

  test("appendMap keeps declared output order past 4 entries and rejects duplicates (review fix)") {
    import spark.implicits._
    val t = KTable(Seq((1L, 2L)).toDF("a", "b"))
    // 6 outputs: a .toMap would hash-order these, silently rebinding
    // every downstream positional op (selectColumns is index-based)
    val outs = (1 to 6).map(i => s"c$i" -> (col("a") + i))
    val got = t.appendMap(outs: _*)
    assert(got.df.columns.toSeq == Seq("a", "b") ++ outs.map(_._1))
    assert(got.selectColumns(2, 7).df.head.getLong(0) == 2L) // c1 = a+1
    // replacement of an existing column stays in place
    val rep = t.appendMap("b" -> (col("b") * 10), "z" -> lit(1))
    assert(rep.df.columns.toSeq == Seq("a", "b", "z"))
    assert(rep.df.head.getLong(1) == 20L)
    val dup = intercept[IllegalArgumentException](
      t.appendMap("x" -> lit(1), "x" -> lit(2)))
    assert(dup.getMessage.contains("duplicate"))
    // sequential semantics: declared order IS evaluation order — a later
    // output sees an earlier output's (replaced) value
    val seq2 = t.appendMap("a" -> (col("a") + 1), "d" -> (col("a") * 10)).df.head
    assert(seq2.getLong(0) == 2L && seq2.getLong(2) == 20L)
    // the swap example, pinned EXPLICITLY (r15 changed appendMap from
    // simultaneous withColumns to this sequential fold — the documented
    // behavioral consequence is that a two-column swap no longer swaps:
    // the second output reads a's ALREADY-REPLACED value, i.e. b, b)
    val swap = t.appendMap("a" -> col("b"), "b" -> col("a")).df.head
    assert(swap.getLong(0) == 2L && swap.getLong(1) == 2L,
      "sequential contract: appendMap(a->b, b->a) yields (b, b), not a swap " +
        "- express a swap as map()/select() outputs over the INPUT frame")
  }
}
