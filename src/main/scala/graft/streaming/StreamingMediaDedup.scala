package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming face of X88's incremental PERCEPTUAL media dedup
  * ([[graft.ext.IncrementalDedup.addBatchHamming]]): a continuously-
  * ingesting media corpus where every micro-batch of fingerprints
  * (media_id, 64-bit sig, verify checksum — X84/X85/X87 signatures all
  * plug in) is deduped against the signature index of everything that
  * arrived before it, then appended. History is never re-decoded or
  * rescanned; the index is 16 bytes per historical item.
  *
  * Durability/replay contract: [[BatchStore]]'s. Both sinks are stored
  * per batch through [[BatchStore.write]], and the index is read with
  * only the batchIds BELOW the current one — on replay it already holds
  * this batch's own signatures (and, for an older batch, later ones),
  * which would otherwise match away rows the first attempt kept. The
  * spec drives [[processBatch]] directly and replays a batch to pin
  * bit-identity.
  *
  * Dedup semantics are exactly [[graft.ext.IncrementalDedup
  * .addBatchHamming]]'s prefix-causal contract: greedy min-id within
  * the batch, removal against anything earlier within `maxHamming`
  * (verify-gated when `requireVerifyMatch`), removed items' signatures
  * still indexed so chains collapse forward, NULL signatures surviving
  * but never indexed. */
object StreamingMediaDedup {

  /** The index's schema: one row per non-NULL signature per batch. */
  private val IndexSchema: StructType = StructType(
    Seq("media_id", "sig", "verify", "batch_id")
      .map(StructField(_, LongType)))

  /** One micro-batch of fingerprints through incremental perceptual
    * dedup: returns nothing, replaces this batch's surviving rows in
    * `outDir` and its signatures in `indexDir`. */
  def processBatch(batch: DataFrame, batchId: Long, maxHamming: Int,
      indexDir: String, outDir: String,
      requireVerifyMatch: Boolean = false,
      maxChunkFreq: Option[Int] = None): Unit = {
    val index = BatchStore.read(batch.sparkSession, indexDir, IndexSchema)
      .filter(col("batch_id") < batchId)
      .select("media_id", "sig", "verify")
    val (clean, _) = graft.ext.IncrementalDedup.addBatchHamming(
      index, batch, maxHamming, requireVerifyMatch, maxChunkFreq)
    BatchStore.write(clean, outDir, batchId)
    BatchStore.write(
      batch.select(col("media_id"), col("sig"), col("verify"))
        .filter(col("sig").isNotNull),
      indexDir, batchId)
  }

  /** Start the stream: every micro-batch of fingerprint rows
    * (media_id, sig, verify) through [[processBatch]]. */
  def start(stream: DataFrame, maxHamming: Int, indexDir: String,
      outDir: String, checkpointDir: String,
      requireVerifyMatch: Boolean = false,
      maxChunkFreq: Option[Int] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, maxHamming, indexDir, outDir,
          requireVerifyMatch, maxChunkFreq)
      }
      .start()
}
