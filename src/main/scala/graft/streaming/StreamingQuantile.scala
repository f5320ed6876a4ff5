package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of X64's incremental quantile maintenance
  * ([[graft.etl.IncrementalQuantile]]): continuously-maintained per-key
  * percentiles over an unbounded stream, with bounded state — every
  * micro-batch folds into the k-row-per-key bottom-k sample, so state
  * size never grows past k·|keys| no matter how much history the
  * percentiles summarize.
  *
  * Exactly-mergeable state makes the streaming face trivial: bottom-k of
  * a union is the bottom-k of unioned bottom-k's, so fold order and
  * micro-batch boundaries are IRRELEVANT to the final state (the
  * strongest replay story possible — any prefix of committed snapshots
  * is a correct state for the rows it has seen). Snapshots are versioned
  * per batchId and a fold reads its predecessor
  * ([[BatchStore.latestCommitted]]), so at-least-once replays rewrite
  * their own snapshot bit-identically (same pattern as
  * [[StreamingDecayed]]).
  */
object StreamingQuantile {

  /** One micro-batch: predecessor sample state + batch → `v=batchId`. */
  def processBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      valueCol: String, idCol: String, k: Int, seed: Long,
      stateDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val folded = BatchStore.latestCommitted(spark, stateDir, batchId) match {
      case Some(prev) => graft.etl.IncrementalQuantile.update(
        prev, batch, keys, valueCol, idCol, k, seed)
      case None => graft.etl.IncrementalQuantile.sample(
        batch, keys, valueCol, idCol, k, seed)
    }
    folded.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
  }

  /** Start the stream: every micro-batch through [[processBatch]]. */
  def start(stream: DataFrame, keys: Seq[String], valueCol: String,
      idCol: String, k: Int, stateDir: String, checkpointDir: String,
      seed: Long = 42L): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, keys, valueCol, idCol, k, seed, stateDir)
      }
      .start()

  /** Newest committed sample state; None before the first fold. Feed to
    * [[graft.etl.IncrementalQuantile.estimate]] for the percentiles. */
  def readState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    BatchStore.latestCommitted(spark, stateDir, Long.MaxValue)
}
