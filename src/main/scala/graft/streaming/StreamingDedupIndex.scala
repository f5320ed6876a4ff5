package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming face of X38's incremental EXACT dedup
  * ([[graft.ext.IncrementalDedup]]): a continuously-ingesting corpus where
  * every micro-batch is deduped against the hash index of everything that
  * arrived before it, then appended — history never rescanned, index 8
  * bytes per historical document.
  *
  * Durability/replay contract: [[BatchStore]]'s. Both sinks (the clean
  * output and the index) are stored per batch through
  * [[BatchStore.write]], and the index is read with only the batchIds
  * BELOW the current one — on replay it already holds the batch's own
  * hashes (and, for an older batch, later ones), which would otherwise
  * anti-join away rows the first attempt kept. The spec drives
  * [[processBatch]] directly and replays a batch to pin this.
  *
  * Within-batch and cross-batch semantics are exactly
  * [[graft.ext.IncrementalDedup.addBatchExact]]'s: lowest id per text
  * wins its batch, anything seen in an EARLIER batch is dropped. */
object StreamingDedupIndex {

  /** The index's schema: one row per distinct text hash per batch. */
  private val IndexSchema: StructType = StructType(Seq(
    StructField("key_hash", LongType), StructField("batch_id", LongType)))

  /** One micro-batch: dedup against the index of the batches before it
    * (for replay safety), then replace this batchId's rows of both the
    * clean output and the index. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexDir: String, outDir: String): Unit = {
    val index = BatchStore.read(batch.sparkSession, indexDir, IndexSchema)
      .filter(col("batch_id") < batchId)
      .select("key_hash")
    val (clean, _) = graft.ext.IncrementalDedup.addBatchExact(
      index, batch, idCol, textCol)
    BatchStore.write(clean, outDir, batchId)
    BatchStore.write(
      batch.select(xxhash64(col(textCol)).as("key_hash")).distinct(),
      indexDir, batchId)
  }

  /** Start the stream: every micro-batch through [[processBatch]]. */
  def start(stream: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, idCol, textCol, indexDir, outDir)
      }
      .start()
}
