package graft.streaming

import graft.functions.{HashFunctions => H}
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous PERCEPTUAL media dedup: a video-payload stream filtered so
  * each micro-batch admits only videos that are not visual near-dups of
  * previously-ADMITTED ones (nor of lower-id peers in the same batch) —
  * the media twin of [[StreamingDedup]], built on
  * [[Multimodal.videoFrameHashes]] (decoded-pixel aHash per sampled
  * frame) with the same slot-aligned match rule as
  * [[Multimodal.videoPerceptualPairs]].
  *
  * The only persistent state is the admitted videos' fingerprint table
  * (id + sample slot + 8-byte aHash ≈ 20 B per sampled frame, so ~160 B
  * per video at n=8) — payload bytes are decoded exactly once at
  * admission time and NEVER stored or rescanned. At continuous-ingest
  * scale the per-batch cost is batch × (stored fingerprints via banded
  * join on (slot, band, bucket)), not batch × corpus payloads.
  *
  * Exactly-once across restarts: identical protocol to
  * [[StreamingDedup]] — survivors and their fingerprints land in
  * `batch=<id>` subdirectories, a replayed micro-batch overwrites its own
  * previous output, and fingerprint reads exclude the replaying batch's
  * own directory. The convergence argument carries over unchanged because
  * banded-Hamming matching is symmetric and deterministic.
  */
object StreamingMediaDedup {

  /** Wire a media stream (id + video payload column) into continuous
    * perceptual dedup. Caller sets checkpoint/trigger and starts the
    * writer. Survivors land under `survivorsDir/batch=N/`, fingerprints
    * under `fpDir/batch=N/`.
    */
  def writer(
      media: DataFrame,
      payloadCol: String,
      idCol: String,
      survivorsDir: String,
      fpDir: String,
      n: Int = 8,
      maxHamming: Int = 6,
      bands: Int = 8,
      minMatches: Int = 4
  ): DataStreamWriter[Row] =
    media.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, payloadCol, idCol, survivorsDir, fpDir,
        n, maxHamming, bands, minMatches)
    }

  /** One micro-batch (also usable for batch backfill replays). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      payloadCol: String,
      idCol: String,
      survivorsDir: String,
      fpDir: String,
      n: Int = 8,
      maxHamming: Int = 6,
      bands: Int = 8,
      minMatches: Int = 4
  ): Unit = {
    val spark = batch.sparkSession
    // payloads decode ONCE: the per-frame fingerprints are both the dedup
    // input and the persisted state
    val batchFps = Multimodal.videoFrameHashes(batch, idCol, payloadCol, n)
      .select(col(idCol).as("id"), col("sample_idx").as("slot"), col("frame_hash").as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corpusFps = readFingerprints(spark, fpDir, excludeBatch = Some(batchId))
        .getOrElse(emptyFingerprints(spark))
      val (plan, members) = pinnedIncrementalFps(corpusFps, batchFps, batch, idCol,
        maxHamming, bands, minMatches)
      try {
        val survivors = plan.localCheckpoint(true)
        try {
          survivors.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
          batchFps
            .join(survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
            .write.mode("overwrite").parquet(s"$fpDir/batch=$batchId")
        } finally graft.Pins.release(survivors) // checkpoint pin — both writes done
      } finally graft.Pins.release(members) // batchGroups' pin — both writes done
    } finally batchFps.unpersist()
  }

  /** Admit batch videos not perceptually matching the corpus fingerprints
    * (those kill the batch doc outright) or a LOWER-id batch peer. Match
    * rule = [[Multimodal.videoPerceptualPairs]]: ≥ `minMatches` sample
    * slots within `maxHamming` bits. Undecodable payloads produce no
    * fingerprints, so they are admitted untouched (count input vs
    * fingerprinted to quantify) — dropping them is a policy for a filter
    * stage, not the dedup.
    */
  def incrementalFps(
      corpusFps: DataFrame,
      batchFps: DataFrame,
      batch: DataFrame,
      idCol: String,
      maxHamming: Int,
      bands: Int,
      minMatches: Int
  ): DataFrame =
    pinnedIncrementalFps(corpusFps, batchFps, batch, idCol, maxHamming, bands, minMatches)._1

  /** [[incrementalFps]]'s plan plus the [[batchGroups]] `members` pin it
    * reads, for a caller that consumes the plan itself and can then
    * release the pin ([[applyBatch]]).
    */
  private def pinnedIncrementalFps(corpusFps: DataFrame, batchFps: DataFrame, batch: DataFrame,
      idCol: String, maxHamming: Int, bands: Int, minMatches: Int): (DataFrame, DataFrame) = {
    require(maxHamming < bands, s"maxHamming ($maxHamming) must be < bands ($bands) for full recall")
    require(minMatches >= 1, s"minMatches must be >= 1, got $minMatches")
    val keyedC = keyedFps(collapsedCorpus(corpusFps), bands)
    // batch side collapsed to group representatives too (optimization
    // round 19, see [[batchGroups]]/[[survivorsCollapsed]]): candidates
    // are generated on one rep per distinct fingerprint vector and the
    // verdicts expanded by group membership — verdict-identical
    // (spec-compared against [[survivorsFrom]], the uncollapsed rule)
    val (members, repFps) = batchGroups(batchFps)
    val keyedR = keyedFps(repFps, bands)
    // batch-vs-corpus candidates (any match kills the batch doc's whole
    // identical-vector group) and rep-vs-rep in-batch candidates
    val candCB = keyedR.as("b").join(keyedC.as("c"), Seq("slot", "band", "bucket"))
      .select(col("b.id").as("id_b"), col("c.id").as("id_other"), col("slot"),
        col("b.fp").as("fp_b"), col("c.fp").as("fp_o"))
    (survivorsCollapsed(candCB, keyedR, members, batch, idCol, maxHamming, minMatches), members)
  }

  /** Corpus side collapsed to one representative (min id) per distinct
    * fingerprint VECTOR — verdict-preserving: a batch doc matches a
    * member on exactly the slots it matches the member's rep on, and
    * only the batch id appears in the verdict. Without it an
    * exact-duplicate-heavy admitted set makes the candidate join scale
    * with the duplicate-cluster size (the MinHash set-group hazard,
    * measured at sf10 in the store's round-14 probe: candidates are
    * exactly `collapsed × cluster-size` for exact duplicates —
    * property-spec'd). The batch side collapses too since round 19 —
    * see [[batchGroups]]: the id-ordered in-batch rule survives the
    * collapse because verdicts depend only on the VECTORS, so group
    * membership plus an id threshold reconstructs them exactly.
    */
  private[graft] def collapsedCorpus(corpusFps: DataFrame): DataFrame = {
    val reps = corpusFps.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("slot"), col("fp")))).as("__v"))
      .groupBy(col("__v")).agg(min(col("id")).as("id"))
      .select(col("id"))
    corpusFps.join(reps, Seq("id"), "left_semi")
  }

  /** The banded fingerprint shape the match rule joins on — also the
    * EXACT layout [[graft.multimodal.MediaFingerprintStore]] persists as
    * its posting surface, which is what lets the store's dedupBatch join
    * its (pruned) posting rows directly instead of re-banding candidates.
    */
  private[graft] def keyedFps(fps: DataFrame, bands: Int): DataFrame = fps
    .select(col("id"), col("slot"), col("fp"), explode(H.simHashBands(col("fp"), bands)).as("bk"))
    .select(col("id"), col("slot"), col("fp"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))

  /** Verdict tail shared with the store: batch-vs-corpus candidate rows
    * (id_b, id_other, slot, fp_b, fp_o — duplicates fine, the rule
    * distincts) plus the in-batch pass derived from `keyedB`, then the
    * exact slot-aligned Hamming rule and the survivor anti-join.
    */
  private[graft] def survivorsFrom(candCB: DataFrame, keyedB: DataFrame,
      batch: DataFrame, idCol: String, maxHamming: Int, minMatches: Int): DataFrame = {
    def losers(cand: DataFrame): DataFrame = cand
      .distinct()
      .where(H.hamming64(col("fp_b"), col("fp_o")) <= maxHamming)
      .groupBy(col("id_b"), col("id_other"))
      .agg(count(lit(1)).as("m"))
      .where(col("m") >= minMatches)
      .select(col("id_b"))
    val candBB = keyedB.as("a").join(keyedB.as("b"), Seq("slot", "band", "bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("b.id").as("id_b"), col("a.id").as("id_other"), col("slot"),
        col("b.fp").as("fp_b"), col("a.fp").as("fp_o"))
    val allLosers = losers(candCB).unionAll(losers(candBB)).distinct()
    batch.join(allLosers.withColumnRenamed("id_b", idCol), Seq(idCol), "left_anti")
  }

  /** Batch collapsed to one representative (min id) per distinct
    * slot-ordered fingerprint VECTOR (optimization round 19): returns
    * `(members (id, gid, __nslots), repFps (id, slot, fp))` where `gid`
    * is the id's group representative. Sampled-frame aHashes quantize
    * hard, so real batches are massively degenerate — measured at sf0.1:
    * 2,500 batch videos collapse to 307 distinct vectors and the
    * in-batch LSH self-join drops from 18.2M candidate rows to the rep
    * pairs. `members` rides a checkpoint pin (consumed by three verdict
    * lanes). A caller that returns a plan over it leaves the pin to GC
    * with that plan, the family discipline; [[applyBatch]] releases it
    * once both of its writes are done.
    */
  private[graft] def batchGroups(batchFps: DataFrame): (DataFrame, DataFrame) = {
    val vecs = batchFps.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("slot"), col("fp")))).as("__v"),
        count(lit(1)).as("__nslots"))
    val members = vecs
      .join(vecs.groupBy(col("__v")).agg(min(col("id")).as("gid")), Seq("__v"))
      .select(col("id"), col("gid"), col("__nslots"))
      .localCheckpoint(true)
    val repFps = batchFps.join(
      members.where(col("id") === col("gid")).select(col("id")), Seq("id"), "left_semi")
    (members, repFps)
  }

  /** Verdict tail over COLLAPSED batch groups — bit-identical to
    * [[survivorsFrom]] (spec-compared), at rep-pair candidate volume:
    * the slot-aligned rule depends only on the fingerprint vectors, so
    * for members x < y the original verdicts reconstruct exactly as
    *  - a corpus match against a group's rep kills every member
    *    (corpus docs win unconditionally),
    *  - a matched rep pair (r1, r2) kills members of G(r2) above r1 and
    *    members of G(r1) above r2 (∃ smaller matching batch id ⟺ the
    *    other group's min id is smaller),
    *  - a group whose vector has ≥ minMatches slots kills its own
    *    non-rep members (identical vectors share every slot at
    *    Hamming 0).
    */
  private[graft] def survivorsCollapsed(candCB: DataFrame, keyedR: DataFrame,
      members: DataFrame, batch: DataFrame, idCol: String,
      maxHamming: Int, minMatches: Int): DataFrame = {
    // filter BEFORE distinct (row-wise predicate commutes with distinct):
    // the hash aggregate then runs over surviving rows only
    def matched(cand: DataFrame): DataFrame = cand
      .where(H.hamming64(col("fp_b"), col("fp_o")) <= maxHamming)
      .distinct()
      .groupBy(col("id_b"), col("id_other"))
      .agg(count(lit(1)).as("m"))
      .where(col("m") >= minMatches)
    val corpusKills = matched(candCB).select(col("id_b").as("gid"))
    val candRR = keyedR.as("a").join(keyedR.as("b"), Seq("slot", "band", "bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("b.id").as("id_b"), col("a.id").as("id_other"), col("slot"),
        col("b.fp").as("fp_b"), col("a.fp").as("fp_o"))
    val mm = matched(candRR)
    val pairKills = mm.select(col("id_b").as("gid"), col("id_other").as("__t"))
      .unionAll(mm.select(col("id_other").as("gid"), col("id_b").as("__t")))
    val selfKills = members.where(col("__nslots") >= minMatches)
      .select(col("gid"), col("gid").as("__t")).distinct()
    val thresholdLosers = members
      .join(pairKills.unionAll(selfKills), Seq("gid"))
      .where(col("id") > col("__t")).select(col("id"))
    val corpusLosers = members.join(corpusKills, Seq("gid"), "left_semi").select(col("id"))
    batch.join(
      corpusLosers.unionAll(thresholdLosers).distinct().withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  /** All admitted survivors so far. Fails with a clear message before the
    * first batch commits (the schema is unknowable until then).
    */
  def readSurvivors(spark: SparkSession, survivorsDir: String): DataFrame =
    BatchDirs.readAllOrFail(spark, survivorsDir)

  /** Fold the stream's per-batch fingerprint state into a serving
    * [[graft.multimodal.MediaFingerprintStore]] artifact at `outDir` —
    * fingerprints are REUSED (payloads never re-decoded), survivor ids
    * (including unfingerprintable payloads, which carry no fps but must
    * still advance the store's id watermark) come from the survivors
    * surface. The caller owns the parameter match: `n`/`bands` must be
    * the values the writer ran with. Downstream batch jobs then serve
    * [[graft.multimodal.MediaFingerprintStore.dedupBatch]] — verdicts
    * bit-identical to this stream's (spec-asserted), with bucket-pruned
    * reads instead of the per-batch-dir union a long stream accumulates.
    */
  def compactTo(spark: SparkSession, survivorsDir: String, fpDir: String,
      idCol: String, outDir: String, n: Int = 8, bands: Int = 8,
      nBuckets: Int = 64): Unit = {
    val fps = readFingerprints(spark, fpDir, excludeBatch = None)
      .getOrElse(emptyFingerprints(spark))
    val ids = readSurvivors(spark, survivorsDir)
      .select(col(idCol).cast("long").as("id"))
    graft.multimodal.MediaFingerprintStore.buildFromFps(
      fps, ids, outDir, n, bands, nBuckets)
  }

  private def emptyFingerprints(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("id", LongType), StructField("slot", IntegerType),
      StructField("fp", LongType))))
  }

  private def readFingerprints(spark: SparkSession, fpDir: String, excludeBatch: Option[Long]): Option[DataFrame] =
    BatchDirs.read(spark, fpDir, excludeBatch).map(_.select("id", "slot", "fp"))
}
