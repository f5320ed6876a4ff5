package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of X65's time-decayed counters
  * ([[graft.etl.DecayedCounter]]): a continuously-updated "what's hot
  * now" table — every micro-batch decays the whole accumulated state by
  * ONE scalar and folds in just the arriving rows, so per-batch work is
  * O(state + batch) regardless of how much history the counters
  * summarize.
  *
  * Reference time: each fold re-references the state to the BATCH's max
  * event time — deterministic in the batch contents (wall clocks never
  * enter the math, so replays are reproducible). An empty batch writes
  * nothing (no state version, nothing to decay toward). References need
  * NOT be monotone: re-referencing is exact in either time direction
  * (C(T′) = C(T)·e^(−λ(T′−T)) holds for T′ < T too, the factor just
  * exceeds 1), so out-of-order micro-batches still converge to the same
  * state a single pass would produce at the final reference — the spec
  * pins this by racing part-files through the file source in
  * uncontrolled order.
  *
  * Durability/replay contract: [[BatchStore]]'s versioned snapshots.
  * The state is written as one immutable snapshot per batchId
  * (`v=<batchId>/` directories); a fold always reads its PREDECESSOR —
  * [[BatchStore.latestCommitted]] below the current batchId — so a
  * replayed batch re-reads the same predecessor and overwrites its own
  * snapshot with bit-identical content. [[readState]] serves the newest
  * committed snapshot. */
object StreamingDecayed {

  /** One micro-batch: predecessor state + batch → snapshot `v=batchId`. */
  def processBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      tsCol: String, valueCol: String, halfLifeSec: Double,
      stateDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val refUs = unix_micros(lit(
      batch.agg(max(col(s"`$tsCol`"))).head().getTimestamp(0)))
      .cast("double")
    val folded = BatchStore.latestCommitted(spark, stateDir, batchId) match {
      case Some(prev) =>
        graft.etl.DecayedCounter.updateAt(
          prev, batch, keys, tsCol, valueCol, refUs, halfLifeSec)
      case None =>
        graft.etl.DecayedCounter.aggregateAt(
          batch, keys, tsCol, valueCol, refUs, halfLifeSec)
    }
    folded.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
  }

  /** Start the stream: every micro-batch through [[processBatch]]. */
  def start(stream: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, halfLifeSec: Double, stateDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, keys, tsCol, valueCol, halfLifeSec,
          stateDir)
      }
      .start()

  /** Newest committed state snapshot; None before the first fold. */
  def readState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    BatchStore.latestCommitted(spark, stateDir, Long.MaxValue)
}
