package graft

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("normalize + tokenize") {
    val df = Seq("  Hello,   WORLD!  123 ", "", "!!!").toDF("t")
    val rows = df.select(T.normalizeText($"t"), T.tokenCount($"t")).collect()
    assert(rows(0).getString(0) == "hello world 123" && rows(0).getInt(1) == 3)
    assert(rows(1).getString(0) == "" && rows(1).getInt(1) == 0)
    assert(rows(2).getString(0) == "" && rows(2).getInt(1) == 0)
  }

  test("gopherRules: exact stats, per-rule verdicts, empty-input zeroes") {
    val good = "the " + (0 until 59).map(i => s"word$i").mkString(" ") // 60 words, 60 distinct, has 'the'
    val short = "the cat"                                            // fails word count
    val repetitive = "the " + ("word " * 60).trim                    // distinct_ratio 2/61
    val noStop = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6).trim
    val df = Seq((0L, good), (1L, short), (2L, repetitive), (3L, noStop), (4L, ""))
      .toDF("id", "t")
    val out = df.select($"id", T.tokenize($"t").as("toks"))
      .select($"id", T.gopherRules($"toks", minStopwords = 1).as("g"))
      .select($"id", $"g.*").orderBy($"id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getAs[Boolean]("passes"), s"good doc must pass: ${byId(0L)}")
    assert(!byId(1L).getAs[Boolean]("r_word_count") && !byId(1L).getAs[Boolean]("passes"))
    assert(!byId(2L).getAs[Boolean]("r_repetition"), s"${byId(2L)}")
    assert(!byId(3L).getAs[Boolean]("r_stop") && byId(3L).getAs[Boolean]("r_word_count"))
    assert(byId(4L).getAs[Long]("n_words") == 0L && byId(4L).getAs[Double]("mean_word_len") == 0.0)
    // exact stats on the short doc: 2 words, mean len (3+3)/2, ratio 1.0, 1 stopword
    assert(byId(1L).getAs[Long]("n_words") == 2L)
    assert(byId(1L).getAs[Double]("mean_word_len") == 3.0)
    assert(byId(1L).getAs[Double]("distinct_ratio") == 1.0)
    assert(byId(1L).getAs[Long]("n_stop") == 1L)
  }

  test("shingles: n consecutive tokens, deduped") {
    val df = Seq("a b c d").toDF("t")
    val sh = df.select(T.shingles($"t", 2)).head().getSeq[String](0)
    assert(sh.toSet == Set("a b", "b c", "c d"))
    val few = Seq("a").toDF("t").select(T.shingles($"t", 2)).head().getSeq[String](0)
    assert(few.isEmpty)
  }

  test("charShingles") {
    val sh = Seq("abcd").toDF("t").select(T.charShingles($"t", 3)).head().getSeq[String](0)
    assert(sh.toSet == Set("abc", "bcd"))
  }

  test("removeStopwords keeps duplicates and order") {
    val df = Seq("the cat and the dog and the cat").toDF("t")
    val out = df.select(T.removeStopwords($"t", "en")).head().getSeq[String](0)
    assert(out == Seq("cat", "dog", "cat"))
  }

  test("sentences split on terminal punctuation, trimmed, empties dropped") {
    val df = Seq("First one. Second!  Third?? ", "", "no punctuation at all").toDF("t")
    val rows = df.select(T.sentences($"t")).collect()
    assert(rows(0).getSeq[String](0) == Seq("First one", "Second", "Third"))
    assert(rows(1).getSeq[String](0).isEmpty)
    assert(rows(2).getSeq[String](0) == Seq("no punctuation at all"))
  }

  test("langIdNgram identifies language from char trigrams; und on garbage") {
    val df = Seq(
      "the thing was for the others and everything",
      "la casa de la ciudad que con los caminos",
      "xqz zzz").toDF("t")
    val out = df.select(T.langIdNgram($"t")).collect().map(_.getString(0))
    assert(out(0) == "en", out.mkString(","))
    assert(out(1) == "es", out.mkString(","))
    assert(out(2) == "und", out.mkString(","))
  }

  test("fused ShingleHashes == xxhash64 over string shingles (word + char + tokens)") {
    import graft.functions.{HashFunctions => H}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
      .select($"doc_id", $"text")
    // extra adversarial rows: empty, punctuation-only, unicode, repeats
    val extra = Seq((9001L, ""), (9002L, "!!! ??? ..."), (9003L, "Héllo wörld ünïcode"),
      (9004L, "a a a a a"), (9005L, "  x  ")).toDF("doc_id", "text")
    val all = docs.unionByName(extra)
    val cmp = all.select(
      $"doc_id",
      array_sort(T.shingleHashes($"text", 3)).as("fused_w"),
      array_sort(array_distinct(transform(T.shingles($"text", 3), s => xxhash64(s)))).as("ref_w"),
      array_sort(T.charShingleHashes($"text", 5)).as("fused_c"),
      array_sort(array_distinct(transform(T.charShingles($"text", 5), s => xxhash64(s)))).as("ref_c"),
      T.tokenHashes($"text").as("fused_t"),
      transform(T.tokenize($"text"), t => xxhash64(t)).as("ref_t"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"word shingles differ for doc ${r.getLong(0)}")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4), s"char shingles differ for doc ${r.getLong(0)}")
      assert(r.getSeq[Long](5) == r.getSeq[Long](6), s"token hashes differ for doc ${r.getLong(0)}")
    }
  }

  test("per-row MinHashSig/SimHash match the aggregator formulations") {
    import graft.functions.{HashFunctions => H}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    // aggregator path (explode + groupBy + udaf)
    val aggSig = docs
      .select($"doc_id".as("id"), explode(T.shingleHashes($"text", 3)).as("h"))
      .groupBy($"id")
      .agg(MinHashAggregator.signature($"h", 16).as("sig"))
    val aggSim = docs
      .select($"doc_id".as("id"), explode(T.tokenHashes($"text")).as("h"))
      .groupBy($"id")
      .agg(SimHashAggregator.fingerprint($"h").as("fp"))
    // per-row fused path
    val rowSig = docs.select($"doc_id".as("id"),
      H.minHashSigFromHashes(T.shingleHashes($"text", 3), 16).as("sig"))
    val rowSim = docs.select($"doc_id".as("id"),
      H.simHashFromHashes(T.tokenHashes($"text")).as("fp"))
    val a = aggSig.join(rowSig.withColumnRenamed("sig", "sig2"), "id").collect()
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"sig differs id=${r.get(0)}"))
    val b = aggSim.join(rowSim.withColumnRenamed("fp", "fp2"), "id").collect()
    b.foreach(r => assert(r.getLong(1) == r.getLong(2), s"fp differs id=${r.get(0)}"))
  }

  test("langId picks the language with most stopword hits") {
    assert(Seq("the cat and the dog of the house").toDF("t")
      .select(T.langId($"t")).head().getString(0) == "en")
    assert(Seq("el perro y la casa de los gatos").toDF("t")
      .select(T.langId($"t")).head().getString(0) == "es")
    assert(Seq("zzz qqq xxx").toDF("t")
      .select(T.langId($"t")).head().getString(0) == "und")
  }

  test("qualityScore in [0,1], higher for real text than garbage") {
    val rows = Seq(
      "The quick brown fox jumps over the lazy dog and runs far away into the quiet woods of the north to rest for a while.",
      "@@@@ #### !!!! %%%%"
    ).toDF("t").select(T.qualityScore($"t")).collect().map(_.getDouble(0))
    assert(rows.forall(s => s >= 0.0 && s <= 1.0))
    assert(rows(0) > rows(1))
  }

  test("fingerprint: identical after normalization differences") {
    val df = Seq(("A", "Hello, World!"), ("B", "  hello   world  ")).toDF("id", "t")
    val fps = df.select(T.fingerprint($"t")).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("subword count ≥ token count") {
    val r = Seq("internationalization is extraordinarily long").toDF("t")
      .select(T.tokenCount($"t"), T.subwordCountEstimate($"t")).head()
    assert(r.getInt(1) >= r.getInt(0))
  }

  test("langId variants return 'und' for null and empty text (review r2)") {
    val df = Seq(Option.empty[String], Some(""), Some("@@@@")).toDF("t")
    val out = df.select(T.langId($"t"), T.langIdNgram($"t")).collect()
    out.foreach { r =>
      assert(r.getString(0) == "und", s"langId: $r")
      assert(r.getString(1) == "und", s"langIdNgram: $r")
    }
  }

  test("geomean: zero input zeroes the mean, negative input is NaN (review r2)") {
    import graft.functions.GeoMeanAgg
    // both implementations: the Aggregator reference and the
    // TypedImperativeAggregate the query path runs since r19
    for (gm <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        GeoMean.asColumn, GeoMeanAgg.geoMean)) {
      val z = Seq(0.0, 100.0).toDF("v").agg(gm($"v")).head().getDouble(0)
      assert(z == 0.0)
      val n = Seq(-1.0, 100.0).toDF("v").agg(gm($"v")).head().getDouble(0)
      assert(n.isNaN)
      val ok = Seq(4.0, 9.0).toDF("v").agg(gm($"v")).head().getDouble(0)
      assert(math.abs(ok - 6.0) < 1e-9)
    }
    // bit-identity between the two on a multi-partition aggregate
    val vals = Seq.tabulate(5000)(i => (i % 7).toDouble + 0.5).toDF("v").repartition(8)
    val a = vals.agg(GeoMean.asColumn($"v")).head().getDouble(0)
    val b = vals.agg(GeoMeanAgg.geoMean($"v")).head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b),
      s"GeoMeanAgg diverged from GeoMean: $a vs $b")
  }

  test("chunkTokens: overlap, short tail, empty input") {
    val df = Seq("a b c d e", "a", "").toDF("t")
      .select(T.tokenize($"t").as("toks"))
      .select(T.chunkTokens($"toks", chunkSize = 3, step = 2).as("chunks"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "c d e", "e")) // starts 0,2,4; tail shortens
    assert(rows(1) == Seq("a"))
    assert(rows(2).isEmpty)
  }

  test("ngramStats: multiplicities, distinct counts, char-weighted max") {
    // "cat dog cat dog cat": 5 unigrams {cat×3, dog×2}, 4 bigrams
    // {"cat dog"×2, "dog cat"×2}, 3 trigrams (all distinct)
    val df = Seq("cat dog cat dog cat").toDF("t")
    val w = df.select(T.ngramStats($"t", 1).as("s")).select($"s.*").head()
    assert((w.getLong(0), w.getLong(1), w.getLong(2)) == ((5L, 2L, 3L)))
    assert(w.getLong(3) == 3L * 3L) // "cat"×3 × 3 chars
    val bg = df.select(T.ngramStats($"t", 2).as("s")).select($"s.*").head()
    assert((bg.getLong(0), bg.getLong(1), bg.getLong(2)) == ((4L, 2L, 2L)))
    assert(bg.getLong(3) == 2L * 6L) // "cat dog"×2 × 6 non-space chars
    val tri = df.select(T.ngramStats($"t", 3).as("s")).select($"s.*").head()
    // trigrams: "cat dog cat"(×2), "dog cat dog" — 3 total, 2 distinct
    assert((tri.getLong(0), tri.getLong(1), tri.getLong(2)) == ((3L, 2L, 2L)))
  }

  test("ngramStats: empty and too-short inputs give zeros") {
    val rows = Seq("", "one").toDF("t").select(T.ngramStats($"t", 2).as("s")).select($"s.*").collect()
    rows.foreach(r => assert((0 until 4).forall(i => r.getLong(i) == 0L)))
  }

  test("lineStats: duplicate lines by exact trimmed content") {
    val text = "alpha\n  beta  \nalpha\n\n   \ngamma\nbeta"
    // lines: alpha, beta, alpha, gamma, beta → 5 lines, 3 distinct
    // dup_chars = alpha×2×5 + beta×2×4 = 18; total = 5+4+5+5+4 = 23
    val r = Seq(text).toDF("t").select(T.lineStats($"t").as("s")).select($"s.*").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((5L, 3L, 18L, 23L)))
  }

  test("repetitionSignals: repetitive doc scores higher, fractions in [0,1]") {
    val df = Seq(
      ("rep", "spam spam spam spam spam spam spam spam"),
      ("var", "alpha beta gamma delta epsilon zeta eta theta")).toDF("id", "t")
    val out = df.select(col("id") +: T.repetitionSignals($"t").map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val (rw, rb, rt) = out("rep")
    val (vw, vb, vt) = out("var")
    assert(rw == 1.0 && rb == 1.0 && rt > 0.8) // 8 spams → 5 of 6 trigrams duplicated
    assert(vw < 0.2 && vt == 0.0)
    Seq(rw, rb, rt, vw, vb, vt).foreach(x => assert(x >= 0.0 && x <= 1.0))
  }
}
