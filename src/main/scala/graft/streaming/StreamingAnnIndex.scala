package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.AnnIndex

/** Streaming face of X94's incremental ANN maintenance (the
  * [[StreamingMediaDedup]] recipe on the embedding side): a
  * continuously-ingesting vector stream keeps a persisted IVF(-PQ) index
  * searchable, micro-batch by micro-batch — assign-only against the
  * FROZEN models, history never re-read, never re-encoded.
  *
  * Durability/replay contract: [[BatchStore]]'s — [[AnnIndex.fold]]
  * stores each batch's lists through [[BatchStore.write]], so a
  * replayed batch reproduces identical index content and a corrected
  * replay supersedes the old rows wholesale. The spec replays a batch
  * through [[processBatch]] to pin it and runs a MemoryStream end to
  * end.
  *
  * Model staleness under a drifting stream is the caller's loop: run
  * [[AnnIndex.retrainGate]] on a sampled window and rebuild with
  * [[AnnIndex.create]] when it trips — the fold itself never degrades
  * correctness, only assignment quality. */
object StreamingAnnIndex {

  /** One micro-batch: fold the batch's vectors into the persisted index.
    * The index's attribute manifest (persisted at create time) rides
    * along automatically — [[AnnIndex.fold]] carries `index.attrCols`
    * into the list files and fails fast if the batch lacks one, so a
    * filtered-search index ([[AnnIndex.topKFiltered]]) stays
    * schema-consistent under streaming maintenance. */
  def processBatch(batch: DataFrame, batchId: Long, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    implicit val spark: SparkSession = batch.sparkSession
    AnnIndex.fold(batch, AnnIndex.open(indexDir), batchId, idCol, vecCol)
  }

  /** Start the stream: every micro-batch of vectors through
    * [[processBatch]]. The index at `indexDir` must already exist
    * ([[AnnIndex.create]] / [[AnnIndex.createWithModels]] — models are
    * trained offline, never inside the stream). */
  def start(stream: DataFrame, indexDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, indexDir, idCol, vecCol)
      }
      .start()
}
