package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Materialize

/** X38 — INCREMENTAL deduplication (SURVEY §2.8): dedup each newly
  * arrived batch (a crawl drop, a day's ingest) against an accumulated
  * index of everything seen before — history is NEVER rescanned. The
  * dedup companion of X33's incremental rollups: state forward-folded,
  * per-batch cost proportional to the batch, not the corpus.
  *
  * Two variants:
  *
  * EXACT (`addBatchExact`): the index is the set of `xxhash64(text)` keys
  * seen so far — 8 bytes per historical document. Because hash equality
  * is an equivalence relation, the incremental fold is PROVABLY identical
  * to a full-corpus recompute that keeps each text's chronologically
  * first document (oracle-checked as x38_incremental_dedup: the fold's
  * survivor set hash-equals DuckDB's window-over-everything recompute).
  *
  * NEAR-DUP (`addBatchNear`): the index is the MinHash/LSH sketch table
  * ([[Dedup.sketch]]: sorted shingle-hash set + band keys, ~1% of text
  * size) of ALL documents seen — removed duplicates included, so a chain
  * A~B, B~C removes C even though C never collides with the kept A.
  * Semantics are PREFIX-CAUSAL: a document is removed iff it verifies
  * against something that arrived before it (or loses within its own
  * batch). A full-corpus connected-components recompute can differ on
  * chains whose connecting link arrives AFTER both endpoints (it would
  * merge them retroactively; no streaming system can un-emit a survivor).
  * IncrementalDedupSpec pins both the agreement on planted cross-batch
  * dups and this documented divergence.
  *
  * Scale shape: per batch, one within-batch dedup (existing X1/X2
  * machinery), one anti-join / band-bucket-join against the index — the
  * index side is pre-hashed and pre-bucketed, the join is equi-keyed,
  * nothing is quadratic. Fold lineage is cut per batch with a pin
  * ([[graft.core.Materialize]]) in the `foldBatches*` folds; callers doing their own
  * folds own that (a 10 000-batch uncut lineage will not plan).
  */
object IncrementalDedup {

  // ------------------------------------------------------------- exact

  /** Empty exact index: zero rows of (key_hash: long). */
  def emptyExactIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("key_hash", LongType, nullable = false))))

  /** One batch through exact dedup: returns (surviving batch rows,
    * updated index). Within the batch the lowest `idCol` per text wins;
    * anything whose text was ever seen before is dropped. */
  def addBatchExact(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val hashed = batch.withColumn("__kh", xxhash64(col(textCol)))
    val firstInBatch = hashed
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__kh").orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
    val clean = firstInBatch
      .join(index, firstInBatch("__kh") === index("key_hash"), "left_anti")
      .drop("__kh")
    val updated = index.union(
      hashed.select(col("__kh").as("key_hash")).distinct())
    (clean, updated)
  }

  /** Fold a sequence of batches (chronological order) through
    * [[addBatchExact]], cutting lineage each step; returns all surviving
    * rows. Equivalent to keeping each text's first (batch, id) — the
    * oracle-checked contract. */
  def foldBatchesExact(spark: SparkSession, batches: Seq[DataFrame],
      idCol: String, textCol: String): DataFrame =
    foldBatches(emptyExactIndex(spark), batches)(
      addBatchExact(_, _, idCol, textCol))

  /** The fold loop both `foldBatches*` share: from `empty`, run `step`
    * (index, batch) → (survivors, updated index) over the batches in
    * order, cutting the index lineage with a pin ([[Materialize]]) each step;
    * returns the union of every batch's survivors. */
  private def foldBatches(empty: DataFrame, batches: Seq[DataFrame])
      (step: (DataFrame, DataFrame) => (DataFrame, DataFrame)): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    var index = empty
    batches.map { b =>
      val (clean, updated) = step(index, b)
      index = Materialize(updated)
      clean
    }.reduce(_ unionByName _)
  }

  // ----------------------------------------------------------- near-dup

  /** Empty near-dup index with [[Dedup.sketch]]'s schema (id, shh, bk). */
  def emptyNearIndex(spark: SparkSession, idCol: String, textCol: String,
      p: Dedup.MinHashParams = Dedup.MinHashParams()): DataFrame = {
    import spark.implicits._
    Dedup.sketch(Seq.empty[(Long, String)].toDF(idCol, textCol), idCol, textCol, p)
  }

  /** One batch through near-dup dedup: returns (surviving batch rows,
    * updated index). A batch document survives iff it wins its
    * within-batch near-dup component (min id, [[Dedup.dedupNear]]
    * semantics) AND no band-bucket candidate from the index verifies at
    * `p.threshold` Jaccard. ALL batch sketches join the index.
    *
    * Building the returned pair launches Spark jobs: the within-batch
    * [[Dedup.dedupNear]] runs its sketch and pair pins and its
    * connected-components collect inside this call, before any action on
    * the result. */
  def addBatchNear(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, p: Dedup.MinHashParams = Dedup.MinHashParams())
      : (DataFrame, DataFrame) = {
    val withinClean = Dedup.dedupNear(batch, idCol, textCol, p)

    val batchSketch = Dedup.sketch(batch, idCol, textCol, p)
    // batch × history: the cross face of the band join, each candidate
    // pair verified once — never all-pairs
    val dupAgainstHistory = Dedup.nearDupPairsBetween(batchSketch, index, p)
      .select(col("id_l").as("__dup_id")).distinct()

    val clean = withinClean.join(dupAgainstHistory,
      withinClean(idCol) === col("__dup_id"), "left_anti")
    (clean, index.unionByName(batchSketch))
  }

  // ------------------------------------------- perceptual (media, X88)

  /** Fixed schema of the perceptual-media index: one row per item ever
    * seen, `(media_id: long, sig: long, verify: long?)` — 64-bit
    * perceptual signature (X84 dHash / X85 energy-band / X87
    * temporal-gradient — the fold is modality-agnostic) plus an optional
    * exact-content verify key (pixel/PCM/frame checksum). ~16 bytes per
    * historical item: a 10-billion-item history indexes in ~160 GB,
    * shuffled only by banding chunk keys, never re-decoded. */
  def emptyHammingIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("sig", LongType, nullable = true),
        StructField("verify", LongType, nullable = true))))

  /** X88 — one media batch through INCREMENTAL perceptual dedup:
    * returns (surviving batch rows, updated index). The media analog of
    * [[addBatchNear]], sharing its PREFIX-CAUSAL contract: a batch item
    * is removed iff it pairs within `maxHamming` against an item that
    * arrived before it (the index — which keeps removed items' sigs, so
    * chains collapse forward) or against a smaller-id item of its own
    * batch (the greedy min-id accounting of the X72/X84 family). NULL
    * signatures (undecodable media) survive and are excluded from the
    * index — auditable, never silently matched.
    *
    * `requireVerifyMatch = true` additionally demands `verify` equality
    * on every candidate pair (both non-null): with `maxHamming = 0`
    * this is EXACT content identity dedup — an equivalence relation, so
    * the fold provably equals the full-corpus first-per-content
    * recompute (the oracle-checked face, x88_incremental_media_dedup).
    * With the default (false, radius > 0) it is perceptual near-dup at
    * ingest: re-encoded/re-rendered copies of anything ever seen are
    * dropped without rescanning history.
    *
    * Scale shape: one banding self-join over the batch + one
    * [[Hamming.pairsBetween64]] batch-vs-index join — per-batch cost is
    * O(batch + matching index buckets), the history is never rescanned,
    * and both joins are chunk-key equi-joins (`maxChunkFreq` caps
    * boilerplate buckets — black leaders, silence — like every other
    * user of the kernel). */
  def addBatchHamming(index: DataFrame, batch: DataFrame,
      maxHamming: Int, requireVerifyMatch: Boolean = false,
      maxChunkFreq: Option[Int] = None): (DataFrame, DataFrame) = {
    val fp = batch.select(col("media_id"), col("sig"), col("verify"))

    def verified(pairs: DataFrame, aId: String, bId: String,
        aSide: DataFrame, bSide: DataFrame): DataFrame =
      if (!requireVerifyMatch) pairs
      else pairs
        .join(aSide.select(col("media_id").as(aId), col("verify").as("__va")), aId)
        .join(bSide.select(col("media_id").as(bId), col("verify").as("__vb")), bId)
        .filter(col("__va").isNotNull && col("__va") === col("__vb"))
        .select(col(aId), col(bId))

    // within-batch: greedy min-id — any item with a smaller-id partner loses
    val within = verified(
      Hamming.pairs64(fp, "media_id", "sig", maxHamming, maxChunkFreq),
      "id_a", "id_b", fp, fp)
      .select(col("id_b").as("__loser"))
    // against history: any index partner at all loses
    val against = verified(
      Hamming.pairsBetween64(fp, index, "media_id", "sig", maxHamming,
        maxChunkFreq),
      "id_l", "id_r", fp, index)
      .select(col("id_l").as("__loser"))

    val losers = within.unionByName(against).distinct()
    val clean = batch.join(losers, batch("media_id") === col("__loser"),
      "left_anti")
    (clean, index.unionByName(fp.filter(col("sig").isNotNull)))
  }

  /** Fold chronological media batches through [[addBatchHamming]],
    * cutting index lineage each step; returns all surviving rows. */
  def foldBatchesHamming(spark: SparkSession, batches: Seq[DataFrame],
      maxHamming: Int, requireVerifyMatch: Boolean = false,
      maxChunkFreq: Option[Int] = None): DataFrame =
    foldBatches(emptyHammingIndex(spark), batches)(
      addBatchHamming(_, _, maxHamming, requireVerifyMatch, maxChunkFreq))
}
