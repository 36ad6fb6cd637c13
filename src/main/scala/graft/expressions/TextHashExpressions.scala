package graft.expressions

import graft.functions.SplitMix.mix64
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused text-hashing expressions — the dedup hot path.
  *
  * Rationale (same as VectorExpressions): the expression-composition
  * formulation (regex normalize → split → n slices zipped by interpreted
  * `zip_with` lambdas → per-shingle xxhash64) embeds the tokenize chain
  * once per shifted copy and pays interpreted dispatch per element; at
  * sf0.1 the shingle projection alone cost ~3 s — more than every shuffle
  * in the MinHash pipeline combined. These expressions do ONE pass of
  * primitive JVM code per row: normalize into an ASCII byte buffer, window
  * over token offsets, hash windows in place (XXH64 over the buffer, seed
  * 42 = Spark's xxhash64, so values match `xxhash64(shingle_string)`).
  *
  * They also unlock per-ROW MinHash/SimHash: with shingle hashes available
  * as one array<long> per document, the signature is a narrow map-side
  * computation — no explode, no hash-aggregate shuffle of signature
  * buffers. At 100 TB the only remaining wide stage in near-dedup is the
  * LSH bucket join itself, which is irreducible.
  *
  * Normalization semantics match TextFunctions.normalizeText/tokenize
  * (lowercase, [^a-z0-9\s]→space, squeeze, trim) for ASCII; non-ASCII
  * characters are treated as separators directly (the regex pipeline
  * lowercases them first and then strips them — same outcome except for
  * exotic case-mappings into ASCII, e.g. U+212A KELVIN SIGN → 'k').
  */
object TextHash {

  /** Normalize into an ASCII byte buffer with single-space separators.
    * Returns (buffer, length); tokens are the maximal space-free runs.
    */
  def normalize(s: String): (Array[Byte], Int) = {
    val buf = new Array[Byte](s.length)
    var m = 0
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && m > 0) { buf(m) = ' '; m += 1 }
        pendingSpace = false
        buf(m) = c.toByte; m += 1
      } else pendingSpace = true
      i += 1
    }
    (buf, m)
  }

  @inline def hashRange(buf: Array[Byte], start: Int, len: Int): Long =
    XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + start, len, 42L)

  /** Byte-level twin of [[normalize]]: scans the UTF-8 bytes directly —
    * no String materialization, no char decoding. Correctness rides on
    * UTF-8's self-synchronization: every byte of a multi-byte sequence
    * has its high bit set, so it can never collide with ASCII
    * `[A-Za-z0-9]`; each such byte reads as a separator and the run
    * collapses to the same single space the char scan produces — the
    * outputs are identical for ALL inputs.
    */
  def normalizeUtf8(s: UTF8String): (Array[Byte], Int) = {
    val in = s.getBytes
    val buf = new Array[Byte](in.length)
    var m = 0
    var pendingSpace = false
    var i = 0
    while (i < in.length) {
      val b0 = in(i)
      val b = if (b0 >= 'A' && b0 <= 'Z') (b0 + 32).toByte else b0
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && m > 0) { buf(m) = ' '; m += 1 }
        pendingSpace = false
        buf(m) = b
        m += 1
      } else pendingSpace = true
      i += 1
    }
    (buf, m)
  }

  private[expressions] def checkString(dt: DataType): TypeCheckResult = dt match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got ${other.simpleString(10)}")
  }

  private[expressions] def checkLongArray(dt: DataType): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<bigint>, got ${other.simpleString(10)}")
  }
}

/** xxhash64 values of the text's n-gram shingles, in one pass.
  *
  *  - word level: n consecutive tokens joined by ' ' (byte ranges of the
  *    normalized buffer — never materialized as strings)
  *  - char level: n consecutive bytes of the normalized text (spaces
  *    included), matching `zipShingles(split(normalized, ""), n, "")`
  *  - `distinct`: set semantics (dedup by hash value, first occurrence
  *    kept) — what MinHash/Jaccard need; keep false for SimHash token
  *    multisets.
  */
/** Fused char-scan text normalization (lowercase ASCII, non-alnum runs →
  * one space, trim) — the [[TextHash.normalizeUtf8]] kernel as a column.
  * Replaces the two-`regexp_replace` chain wherever normalized TEXT (not
  * just its hashes) is needed. Two reasons this is the scale path:
  * one pass over the raw bytes instead of two full regex rewrites, and
  * `java.util.regex.Matcher.replaceAll` is a measured thread-scalability
  * hazard (2% parallel efficiency at 32 threads on the reference VM —
  * SCALE.md round 10 finding; the char scan is allocation-light and
  * scales with cores).
  */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalNorm(v.asInstanceOf[UTF8String])

  def evalNorm(s: UTF8String): UTF8String = {
    val (buf, m) = TextHash.normalizeUtf8(s)
    UTF8String.fromBytes(buf, 0, m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normalizeText", this, classOf[NormalizeText].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalNorm($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Whitespace tokens of the normalized text as `array<string>` — the
  * char-scan twin of `array_remove(split(normalize, " "), "")` (see
  * [[NormalizeText]] for why not regex).
  */
case class TokenizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalTokens(v.asInstanceOf[UTF8String])

  def evalTokens(s: UTF8String): ArrayData = {
    val (buf, m) = TextHash.normalizeUtf8(s)
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    var n = 1
    var i = 0
    while (i < m) { if (buf(i) == ' ') n += 1; i += 1 }
    val out = new Array[Any](n)
    var t = 0
    var start = 0
    i = 0
    while (i <= m) {
      if (i == m || buf(i) == ' ') {
        out(t) = UTF8String.fromBytes(buf, start, i - start)
        t += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenizeText", this, classOf[TokenizeText].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalTokens($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Token count without materializing tokens OR the normalized buffer:
  * one zero-allocation scan counting alnum-run starts. The hot kernel of
  * token budgeting / packing / fertility at corpus scale.
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalCount(v.asInstanceOf[UTF8String])

  def evalCount(s: UTF8String): Int = {
    val in = s.getBytes
    var cnt = 0
    var inRun = false
    var i = 0
    while (i < in.length) {
      val b0 = in(i)
      val b = if (b0 >= 'A' && b0 <= 'Z') (b0 + 32).toByte else b0
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (!inRun) cnt += 1
        inRun = true
      } else inRun = false
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenCount", this, classOf[TokenCount].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalCount($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Count of ASCII `[A-Za-z0-9 ]` bytes in the RAW text — the alpha-ratio
  * numerator of the quality score, as one zero-allocation scan instead of
  * a `regexp_replace` strip (see [[NormalizeText]] for the regex hazard).
  * Multi-byte UTF-8 sequences have every byte ≥ 0x80, so they are never
  * miscounted.
  */
case class AsciiAlnumSpaceCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalCount(v.asInstanceOf[UTF8String])

  def evalCount(s: UTF8String): Int = {
    val in = s.getBytes
    var cnt = 0
    var i = 0
    while (i < in.length) {
      val b = in(i)
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == ' ') cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("alnumSpaceCount", this, classOf[AsciiAlnumSpaceCount].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalCount($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Sentence split as one byte scan: pieces between runs of `[.!?]`,
  * each trimmed of ASCII spaces, empties dropped — exactly
  * `filter(transform(split(text, "[.!?]+"), trim), _ != "")` without the
  * per-row regex (see [[NormalizeText]] for why that matters). Splitting
  * on ASCII bytes never lands inside a multi-byte UTF-8 sequence.
  */
case class SentenceSplit(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalSentences(v.asInstanceOf[UTF8String])

  def evalSentences(s: UTF8String): ArrayData = {
    val in = s.getBytes
    val out = new java.util.ArrayList[Any]()
    var start = 0
    var i = 0
    while (i <= in.length) {
      val isDelim = i == in.length || in(i) == '.' || in(i) == '!' || in(i) == '?'
      if (isDelim) {
        // trim ASCII spaces (the exact semantics of Spark's trim())
        var a = start
        var b = i
        while (a < b && in(a) == ' ') a += 1
        while (b > a && in(b - 1) == ' ') b -= 1
        if (b > a) out.add(UTF8String.fromBytes(in, a, b - a))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sentenceSplit", this, classOf[SentenceSplit].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalSentences($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ShingleHashes(child: Expression, n: Int, charLevel: Boolean, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalHashes(v.asInstanceOf[UTF8String])

  /** Row kernel — public so generated code calls it via an instance
    * reference (one static-shaped call per row, no boxing).
    */
  def evalHashes(str: UTF8String): ArrayData = {
    val (buf, len) = TextHash.normalize(str.toString)
    val out = new java.util.ArrayList[Long]()
    val seen = if (distinct) new java.util.HashSet[Long]() else null
    if (charLevel) {
      var i = 0
      while (i + n <= len) {
        val h = TextHash.hashRange(buf, i, n)
        if (seen == null || seen.add(h)) out.add(h)
        i += 1
      }
    } else {
      // token start offsets (tokens separated by single spaces)
      val starts = new java.util.ArrayList[Integer]()
      var i = 0
      while (i < len) {
        if (i == 0 || buf(i - 1) == ' ') starts.add(i)
        i += 1
      }
      val t = starts.size()
      var s = 0
      while (s + n <= t) {
        val from = starts.get(s)
        val until = if (s + n < t) starts.get(s + n) - 1 else len // strip trailing space
        val h = TextHash.hashRange(buf, from, until - from)
        if (seen == null || seen.add(h)) out.add(h)
        s += 1
      }
    }
    val arr = new Array[Any](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j).longValue(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalHashes($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-row word-n-gram repetition statistics (the Gopher/C4-style
  * repetition signals public curation pipelines threshold on), fused into
  * one pass: counts n-gram multiplicities over the normalized token
  * stream and returns
  *
  *   struct(n_ngrams, n_distinct, max_count, max_count_chars)
  *
  * where `max_count` is the multiplicity of the most frequent n-gram and
  * `max_count_chars` = max over n-grams of multiplicity × non-space char
  * length (the numerator of "fraction of characters contained in the most
  * common n-gram"). Per-row and shuffle-free — at 100 TB these metrics
  * cost one scan, no exchange (the explode+groupBy formulation would
  * shuffle one row per document n-gram).
  *
  * N-gram identity is the xxhash64 of its byte range (collision
  * probability ~(ngrams² / 2^64) per document — negligible at any real
  * document length). Tokenization matches [[TextHash.normalize]].
  */
case class NgramRepetitionStats(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = StructType(Seq(
    StructField("n_ngrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_count", LongType, nullable = false),
    StructField("max_count_chars", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalStats(v.asInstanceOf[UTF8String])

  def evalStats(str: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val (buf, len) = TextHash.normalize(str.toString)
    // token start offsets (tokens separated by single spaces)
    val starts = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      if (i == 0 || buf(i - 1) == ' ') starts.add(i)
      i += 1
    }
    val t = starts.size()
    // hash → (count, non-space char length)
    val counts = new java.util.HashMap[Long, Array[Long]]()
    var nNgrams = 0L
    var s = 0
    while (s + n <= t) {
      val from = starts.get(s)
      val until = if (s + n < t) starts.get(s + n) - 1 else len
      val h = TextHash.hashRange(buf, from, until - from)
      val entry = counts.get(h)
      if (entry == null) counts.put(h, Array(1L, (until - from - (n - 1)).toLong))
      else entry(0) += 1L
      nNgrams += 1L
      s += 1
    }
    var maxCount = 0L
    var maxCountChars = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e(0) > maxCount) maxCount = e(0)
      val cc = e(0) * e(1)
      if (cc > maxCountChars) maxCountChars = cc
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nNgrams, counts.size().toLong, maxCount, maxCountChars))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramRepetitionStats", this, classOf[NgramRepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalStats($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-row line-repetition statistics (the duplicate-line signals of
  * public curation pipelines): lines = the input split on '\n', trimmed,
  * empty lines dropped; identity is the EXACT trimmed line string (raw
  * text, not normalized). Returns
  *
  *   struct(n_lines, n_distinct, dup_chars, total_chars)
  *
  * where `dup_chars` sums length × multiplicity over lines occurring more
  * than once and `total_chars` over all lines — so
  * duplicate-line fraction  = (n_lines − n_distinct) / n_lines and
  * duplicate-char fraction  = dup_chars / total_chars.
  * Callers that want paragraph/sentence granularity pre-map their
  * delimiter to '\n'. Per-row, shuffle-free.
  */
case class LineRepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalStats(v.asInstanceOf[UTF8String])

  def evalStats(str: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val counts = new java.util.HashMap[String, Long]()
    var nLines = 0L
    var totalChars = 0L
    val it = str.toString.split('\n').iterator
    while (it.hasNext) {
      val line = it.next().trim
      if (line.nonEmpty) {
        nLines += 1L
        totalChars += line.length.toLong
        counts.merge(line, 1L, (a, b) => a + b)
      }
    }
    var dupChars = 0L
    val e = counts.entrySet().iterator()
    while (e.hasNext) {
      val kv = e.next()
      if (kv.getValue > 1L) dupChars += kv.getValue * kv.getKey.length.toLong
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nLines, counts.size().toLong, dupChars, totalChars))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lineRepetitionStats", this, classOf[LineRepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalStats($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** k-lane MinHash signature from an array of shingle hashes, per row.
  * Lane i = min over shingles of splitmix64(h + GOLDEN·(i+1)) — identical
  * lanes to the spec's reference `MinHashAggregator`; empty input → all
  * Long.MaxValue sentinel (never matches).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 4096, s"k must be in [1,4096], got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkLongArray(child.dataType)

  override def nullSafeEval(v: Any): Any = evalSig(v.asInstanceOf[ArrayData])

  def evalSig(a: ArrayData): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    var e = 0
    val n = a.numElements()
    while (e < n) {
      val h = a.getLong(e)
      var i = 0
      while (i < k) {
        val lane = mix64(h + 0x9E3779B97F4A7C15L * (i + 1))
        if (lane < sig(i)) sig(i) = lane
        i += 1
      }
      e += 1
    }
    new GenericArrayData(sig.map(x => x: Any))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalSig($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** 64-bit SimHash from an array of token hashes (multiset — duplicates
  * vote repeatedly), per row. Same vote rule as the spec's reference
  * `SimHashAggregator`: bit j of the fingerprint is set iff Σ tokens
  * (±1 by token-hash bit j) > 0.
  */
case class SimHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkLongArray(child.dataType)

  override def nullSafeEval(v: Any): Any = evalFp(v.asInstanceOf[ArrayData])

  def evalFp(a: ArrayData): Long = {
    val counters = new Array[Int](64)
    var e = 0
    val n = a.numElements()
    while (e < n) {
      val h = a.getLong(e)
      var j = 0
      while (j < 64) {
        counters(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      e += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalFp($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** LSH band bucket hashes from a MinHash signature: element b is a 64-bit
  * hash of band b's `rows` signature components (XXH64-chained, band index
  * folded in so identical component values in different bands cannot
  * collide). Consume with `posexplode` → (band, bucket).
  */
case class BandHashes(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  require(bands >= 1 && rows >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkLongArray(child.dataType)

  override def nullSafeEval(v: Any): Any = evalBands(v.asInstanceOf[ArrayData])

  def evalBands(a: ArrayData): ArrayData = {
    require(a.numElements() >= bands * rows,
      s"signature has ${a.numElements()} components, need ${bands * rows}")
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = XXH64.hashLong(b.toLong, 42L)
      var j = 0
      while (j < rows) {
        acc = XXH64.hashLong(a.getLong(b * rows + j), acc)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandHashes", this, classOf[BandHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalBands($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Content-defined chunking over the normalized token stream — the
  * rsync/LBFS/FastCDC boundary idea applied to text dedup: chunk
  * boundaries are placed where the content's own rolling hash satisfies
  * a mask test, so an insertion or deletion only re-chunks its local
  * neighborhood while FIXED chunking shifts every downstream chunk and
  * destroys all dedup matches past the edit point. (The reference engine
  * has no chunking at all — this extends the LLM-pipeline chunk-dedup
  * family; see graft.dedup.Dedup.cdcDedupRewrite.)
  *
  * Semantics (deterministic, engine-independent — the DuckDB oracle
  * replays it exactly):
  *   - normalize as [[TextHash.normalize]]; tokens are space-free runs;
  *   - a chunk ENDS before token index `i` (0-based) iff
  *     `i - chunkStart >= minTokens` and the xxhash64 (seed 42) of the
  *     `hashW` normalized chars starting at token i's first char has its
  *     low `maskBits` bits all zero (window must fit inside the text) —
  *     the FIRST such `i`, else the chunk is force-cut at `maxTokens`;
  *   - each chunk is its tokens joined by ' ' (so the downstream unit /
  *     keep-first / rewrite machinery is shared with fixed chunking).
  *
  * Expected chunk length ≈ 2^maskBits tokens between the min/max clamps.
  * One pass of primitive JVM code per row, scan-local, codegen'd.
  */
case class CdcChunks(child: Expression, hashW: Int, maskBits: Int,
    minTokens: Int, maxTokens: Int) extends UnaryExpression {
  require(hashW >= 1, s"cdcChunks: hashW $hashW < 1")
  require(maskBits >= 0 && maskBits < 63, s"cdcChunks: maskBits $maskBits out of [0, 63)")
  require(minTokens >= 1, s"cdcChunks: minTokens $minTokens < 1")
  require(maxTokens >= minTokens, s"cdcChunks: maxTokens $maxTokens < minTokens $minTokens")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = TextHash.checkString(child.dataType)

  override def nullSafeEval(v: Any): Any = evalChunks(v.asInstanceOf[UTF8String])

  def evalChunks(str: UTF8String): ArrayData = {
    val (buf, len) = TextHash.normalize(str.toString)
    if (len == 0) return new GenericArrayData(Array.empty[Any])
    // token start offsets (tokens separated by single spaces)
    val starts = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      if (i == 0 || buf(i - 1) == ' ') starts.add(i)
      i += 1
    }
    val t = starts.size()
    val mask = (1L << maskBits) - 1L
    val out = new java.util.ArrayList[UTF8String]()
    var b = 0
    while (b < t) {
      val hardCut = math.min(b + maxTokens, t)
      var cut = hardCut
      var j = b + minTokens
      while (j < hardCut && cut == hardCut) {
        val s = starts.get(j)
        if (s + hashW <= len && (TextHash.hashRange(buf, s, hashW) & mask) == 0L) cut = j
        j += 1
      }
      val from = starts.get(b)
      val until = if (cut < t) starts.get(cut) - 1 else len // strip separator space
      out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, from, until)))
      b = cut
    }
    val arr = new Array[Any](out.size())
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cdcChunks", this, classOf[CdcChunks].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalChunks($a);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `splitmix64(a·131071 + b)` over two long children — the deterministic
  * per-(sequence, block) mask key of the span-corruption export
  * (graft.sources.Export.maskSpans). JVM wrapping arithmetic on purpose:
  * a SQL-level multiply would overflow-throw under ANSI mode, while the
  * key is DEFINED on the wrapped 64-bit ring (the DuckDB oracle replays
  * it in mod-2^64 HUGEINT arithmetic).
  */
case class SplitMixKey(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected (bigint, bigint), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    mix64(a.asInstanceOf[Long] * 131071L + b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SplitMix.mix64($a * 131071L + $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
