package graft.table

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column domain/statistics computation — the reference's only
  * aggregation machinery, rebuilt as one set of Spark aggregate
  * expressions.
  *
  * Reference semantics (org.knime.core.data.columnar/.../domain/):
  *  - numeric min/max ignoring nulls (ColumnarDoubleDomainCalculator.java:68-96,
  *    Int/Long variants),
  *  - boolean possible-values domain (ColumnarBooleanDomainCalculator.java:68),
  *  - nominal (distinct-value) domain with a cap: the domain is DROPPED when
  *    the distinct count exceeds maxNumValues
  *    (ColumnarStringDomainCalculator.java:67, default cap 60),
  *  - type→calculator dispatch (DefaultDomainWritableConfig.java:88-185),
  *  - computed incrementally during write, async per batch
  *    (DomainWritable.java:90-137).
  *
  * Spark design: the whole per-batch async pipeline collapses into ONE
  * bundle of single-pass aggregate expressions with partial (map-side)
  * combine. Writers evaluate the bundle as observed metrics of the write
  * job itself ([[observe]], the DomainWritable analog: statistics
  * computed while the batch is written, no second scan); other callers
  * run it as a one-job aggregation ([[computeWithRowCount]]). Both decode
  * through the same function. Observed metrics travel to the driver
  * inside each task's result, so every per-column state is bounded: the
  * capped nominal domain is [[graft.functions.BoundedSetAgg]] holding at
  * most cap+1 values, where a set that reached cap+1 is dropped on decode
  * (the reference's drop-on-overflow); distinct counts come from one
  * fixed-size HLL sketch per column.
  */
object Domains {

  val DefaultNominalCap = 60

  final case class ColumnDomain(
      column: String,
      dataType: DataType,
      min: Option[Any],
      max: Option[Any],
      nominal: Option[Seq[Any]],
      nullCount: Long,
      approxDistinct: Long,
      /** Mergeable HLL sketch bytes (DataSketches, via `hll_sketch_agg`,
        * lgK 12) — the artifact that makes distinct counts EXACTLY
        * mergeable across ingests ([[merge]]); `approxDistinct` is its
        * rounded estimate. Int/long/string/binary columns sketch their
        * values (`hll_sketch_agg(c)`); every other hashable leaf sketches
        * `xxhash64(c)` over its non-null values only, so an outside
        * sketch unions with it only if built the same way. None for
        * map-containing leaves and for the other non-value-sketched
        * leaves of sidecars written before those were sketched.
        */
      distinctSketch: Option[Array[Byte]] = None,
      /** Mergeable KLL quantile sketch bytes
        * ([[graft.functions.KllQuantileAgg]]) for numeric columns —
        * closes the last non-mergeable gap in the incremental domain
        * story: [[merge]] unions them with preserved rank-error bounds,
        * so per-ingest quantile summaries combine without a rescan.
        */
      quantileSketch: Option[Array[Byte]] = None
  ) {
    /** Quantile readout — None without a sketch (non-numeric column) or
      * when the sketch saw no values (all-null column / empty table).
      */
    def quantile(q: Double): Option[Double] =
      quantileSketch.flatMap(graft.functions.KllQuantileAgg.quantile(_, q))
  }

  /** Types `hll_sketch_agg` takes natively. Their sketches are built from
    * the values themselves, as in sidecars written before other types
    * were sketched, so old and new sketches still union.
    */
  private def nativelySketched(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BinaryType => true
    case _                                                => false
  }

  private def isBounded(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType => true
    case _                                         => false
  }

  /** Numeric-element arrays get ELEMENT min/max (one `array_min`/
    * `array_max` per row folded through the ordinary min/max agg —
    * still the same single pass).
    */
  private def isNumericArray(dt: DataType): Boolean = dt match {
    case ArrayType(_: NumericType, _) => true
    case _                            => false
  }

  private def isNominal(dt: DataType): Boolean = dt match {
    case StringType | BooleanType => true
    case _                        => false
  }

  /** `xxhash64` is defined for atomics, arrays and structs, but NOT for
    * anything containing a map (maps are unhashable/unorderable in Spark).
    */
  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType          => false
    case ArrayType(e, _)     => hashable(e)
    case StructType(fields)  => fields.forall(f => hashable(f.dataType))
    case _                   => true
  }

  /** One domain target: a top-level column or a nested struct field
    * reached by dotted path (the reference models nested domains through
    * per-column metadata on each sub-column — reference
    * org.knime.core.data.columnar/.../domain/DefaultDomainWritableConfig.java:88-185
    * dispatches per inner type the same way).
    */
  private final case class Leaf(path: String, c: Column, dataType: DataType, key: String)

  /** Flatten the schema into domain targets: every top-level column, plus
    * a recursive entry per struct field (dotted path). Arrays/maps are
    * leaves themselves (element min/max for numeric arrays rides the
    * leaf's bounds lanes). Keys are ordinal — dotted paths are not legal
    * aggregation aliases.
    */
  private def leaves(schema: StructType): Seq[Leaf] = {
    def expand(path: String, c: Column, dt: DataType): Seq[(String, Column, DataType)] =
      (path, c, dt) +: (dt match {
        case st: StructType =>
          st.fields.toSeq.flatMap(f => expand(s"$path.${f.name}", c.getField(f.name), f.dataType))
        case _ => Seq.empty
      })
    schema.fields.toSeq.flatMap(f => expand(f.name, col(f.name), f.dataType))
      .zipWithIndex.map { case ((p, c, dt), i) => Leaf(p, c, dt, s"c$i") }
  }

  /** Aggregate expressions for one domain target. */
  private def leafExprs(l: Leaf, nominalCap: Int): Seq[Column] = {
    val c = l.c
    val base = Seq(count(when(c.isNull, 1)).as(s"${l.key}__nulls")) ++
      (if (nativelySketched(l.dataType)) Seq(hll_sketch_agg(c).as(s"${l.key}__hll"))
       // keep the `when`: xxhash64(null) is the seed, not null, so nulls
       // would count as one more distinct value
       else if (hashable(l.dataType)) Seq(hll_sketch_agg(when(c.isNotNull, xxhash64(c))).as(s"${l.key}__hll"))
       else Seq.empty) ++
      (if (l.dataType.isInstanceOf[NumericType])
         Seq(graft.functions.KllQuantileAgg.kllSketch(c).as(s"${l.key}__kll"))
       else Seq.empty)
    val bounds =
      if (isBounded(l.dataType))
        Seq(min(c).as(s"${l.key}__min"), max(c).as(s"${l.key}__max"))
      else if (isNumericArray(l.dataType))
        // element bounds: array_min/array_max skip null elements; empty
        // arrays yield null, which the outer min/max agg ignores
        Seq(min(array_min(c)).as(s"${l.key}__min"), max(array_max(c)).as(s"${l.key}__max"))
      else Seq.empty
    val nominal =
      if (isNominal(l.dataType))
        // cap + 1 keeps the overflow visible: a full set means dropped
        Seq(graft.functions.BoundedSetAgg.boundedDistinctSet(c, nominalCap + 1).as(s"${l.key}__nominal"))
      else Seq.empty
    base ++ bounds ++ nominal
  }

  private val RowCountKey = "__graft_rowcount"

  /** The whole bundle for `schema`: every leaf's aggregates plus the row
    * count, named for [[decode]].
    */
  private def aggregates(schema: StructType, nominalCap: Int): Seq[Column] =
    leaves(schema).flatMap(leafExprs(_, nominalCap)) :+ count(lit(1)).as(RowCountKey)

  /** Domains and row count from one evaluated [[aggregates]] row. */
  private def decode(schema: StructType, nominalCap: Int, row: Row): (Seq[ColumnDomain], Long) = {
    def get(n: String): Option[Any] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.get(i))
    }
    leaves(schema).map { l =>
      val sketch =
        if (hashable(l.dataType)) get(s"${l.key}__hll").map(_.asInstanceOf[Array[Byte]]) else None
      ColumnDomain(
        column = l.path,
        dataType = l.dataType,
        min = if (isBounded(l.dataType) || isNumericArray(l.dataType)) get(s"${l.key}__min") else None,
        max = if (isBounded(l.dataType) || isNumericArray(l.dataType)) get(s"${l.key}__max") else None,
        // more than the cap's distinct values: dropped
        nominal =
          if (isNominal(l.dataType))
            get(s"${l.key}__nominal")
              .map(_.asInstanceOf[scala.collection.Seq[Any]].toSeq)
              .filter(_.length <= nominalCap)
          else None,
        nullCount = get(s"${l.key}__nulls").map(_.asInstanceOf[Long]).getOrElse(0L),
        approxDistinct = sketch.map(estimate).getOrElse(0L),
        distinctSketch = sketch,
        quantileSketch =
          if (l.dataType.isInstanceOf[NumericType]) get(s"${l.key}__kll").map(_.asInstanceOf[Array[Byte]])
          else None
      )
    } -> row.getLong(row.fieldIndex(RowCountKey))
  }

  private def estimate(sketch: Array[Byte]): Long =
    math.round(org.apache.datasketches.hll.HllSketch.heapify(sketch).getEstimate)

  /** Compute all column domains in a single aggregation job. Nested
    * structs contribute one [[ColumnDomain]] per field (dotted path,
    * recursive); numeric-element arrays carry element min/max.
    */
  def compute(df: DataFrame, nominalCap: Int = DefaultNominalCap): Seq[ColumnDomain] =
    computeWithRowCount(df, nominalCap)._1

  /** [[compute]] plus the table row count from the SAME single
    * aggregation — for callers that are not writing `df` (a rescan of a
    * stored table); writers use [[observe]] and pay no extra job.
    */
  def computeWithRowCount(df: DataFrame, nominalCap: Int = DefaultNominalCap): (Seq[ColumnDomain], Long) = {
    val exprs = aggregates(df.schema, nominalCap)
    decode(df.schema, nominalCap, df.agg(exprs.head, exprs.tail: _*).head())
  }

  /** Attach the domain bundle to `df` as observed metrics. Returns the
    * frame to run the write on, and a function that, once that write
    * has run, gives what [[computeWithRowCount]] would give for `df` —
    * from the write job itself, without a second scan. Called before a
    * query over the returned frame has run, the function blocks: the
    * observation completes only with a query.
    */
  def observe(df: DataFrame, nominalCap: Int = DefaultNominalCap): (DataFrame, () => (Seq[ColumnDomain], Long)) = {
    val obs = Observation()
    val exprs = aggregates(df.schema, nominalCap)
    // the row behind `obs.get`'s map; `get` waits without a bound too
    (df.observe(obs, exprs.head, exprs.tail: _*),
      () => decode(df.schema, nominalCap, scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration.Inf)))
  }

  /** Merge two domain snapshots — the incremental-update path (reference
    * calculators are initialized from the prior domain and updated batch
    * by batch, DefaultDomainWritableConfig.java:88-185; at 100 TB this is
    * how per-ingest statistics combine into table statistics without
    * rescanning). Exact for min/max/nullCount/nominal (nominal unions,
    * drops when the union exceeds `nominalCap` — drop is absorbing, like
    * the reference's drop-on-overflow). `approxDistinct` merges through
    * the HLL sketch union when both sides carry one (`distinctSketch`,
    * DataSketches — union of sketches ≡ sketch of union, so the merged
    * estimate equals a full recompute's). Without two sketches it falls
    * back to max(a, b), a lower bound: map-containing leaves, and leaves
    * other than int/long/string/binary read from sidecars written before
    * those were sketched.
    */
  def merge(a: Seq[ColumnDomain], b: Seq[ColumnDomain], nominalCap: Int = DefaultNominalCap): Seq[ColumnDomain] = {
    // simpleString, not DataType equality: snapshots read back from a
    // sidecar round-trip through DDL (nullable/containsNull forced true)
    // and must still merge with live snapshots of the same schema
    require(
      a.map(d => (d.column, d.dataType.simpleString)) ==
        b.map(d => (d.column, d.dataType.simpleString)),
      "domain snapshots cover different schemas")
    def cmp(x: Any, y: Any): Int = x.asInstanceOf[Comparable[Any]].compareTo(y)
    def bound(x: Option[Any], y: Option[Any], keepLess: Boolean): Option[Any] = (x, y) match {
      case (Some(p), Some(q)) => Some(if ((cmp(p, q) <= 0) == keepLess) p else q)
      case _                  => x.orElse(y)
    }
    a.zip(b).map { case (da, db) =>
      val nominal = (da.nominal, db.nominal) match {
        // a dropped (overflowed) domain stays dropped — None is absorbing
        case (Some(na), Some(nb)) => Some((na ++ nb).distinct).filter(_.length <= nominalCap)
        case _                    => None
      }
      val mergedSketch = (da.distinctSketch, db.distinctSketch) match {
        case (Some(sa), Some(sb)) =>
          val u = new org.apache.datasketches.hll.Union(12)
          u.update(org.apache.datasketches.hll.HllSketch.heapify(sa))
          u.update(org.apache.datasketches.hll.HllSketch.heapify(sb))
          Some(u.getResult.toCompactByteArray)
        case _ => None
      }
      val mergedDistinct = mergedSketch
        .map(s => math.round(org.apache.datasketches.hll.HllSketch.heapify(s).getEstimate))
        .getOrElse(math.max(da.approxDistinct, db.approxDistinct))
      // KLL union preserves rank-error bounds — merged quantiles carry the
      // same guarantee a recompute would (see KllQuantileAgg)
      val mergedQuantiles = (da.quantileSketch, db.quantileSketch) match {
        case (Some(qa), Some(qb)) => Some(graft.functions.KllQuantileAgg.mergeBytes(qa, qb))
        case _                    => None
      }
      da.copy(
        min = bound(da.min, db.min, keepLess = true),
        max = bound(da.max, db.max, keepLess = false),
        nominal = nominal,
        nullCount = da.nullCount + db.nullCount,
        approxDistinct = mergedDistinct,
        distinctSketch = mergedSketch,
        quantileSketch = mergedQuantiles)
    }
  }

  /** The domain pass as a DataFrame (for the oracle/bench surface): one row
    * per numeric column with min/max/null-count. ONE scan — all statistics
    * in a single aggregation (map-side partial combine), then an unpivot of
    * the 1-row result. Deterministic output order.
    */
  def domainTable(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.sorted.toSeq
    require(numeric.nonEmpty, "domainTable: no numeric columns")
    val exprs = numeric.flatMap(n =>
      Seq(
        min(col(n)).cast(DoubleType).as(s"${n}__min"),
        max(col(n)).cast(DoubleType).as(s"${n}__max"),
        count(when(col(n).isNull, 1)).as(s"${n}__nulls"),
        count(col(n)).as(s"${n}__nonnulls")
      ))
    val agged = df.agg(exprs.head, exprs.tail: _*)
    val stackExpr = s"stack(${numeric.length}, " + numeric
      .map(n => s"'$n', `${n}__min`, `${n}__max`, `${n}__nulls`, `${n}__nonnulls`")
      .mkString(", ") +
      ") as (column_name, min_value, max_value, null_count, non_null_count)"
    agged.select(expr(stackExpr)).orderBy(col("column_name"))
  }
}
