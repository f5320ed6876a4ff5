package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.etl.HourlyAggregate

/** Structured Streaming face of the ETL (SURVEY §2.7 / M1/M4).
  *
  * The reference's incremental file pacing (asyncio queues, poison pills,
  * idle watchdog) maps to a file-source stream: `maxFilesPerTrigger`
  * reproduces page-paced ingestion and each micro-batch runs the batch
  * job's own transform ([[HourlyAggregate]], with the keys and measure
  * columns `JobRunner` uses). The watchdog's shutdown is the
  * `AvailableNow` trigger: [[run]] returns once the source drains. There
  * is no watermark and no streaming state: the unit of work is the FILE,
  * as in [[graft.etl.JobRunner.runIncremental]].
  *
  * Correctness precondition: aggregation groups must not span two
  * micro-batches. The reference's layout guarantees it (one building's
  * time series per file — `transform.py:59-61` — and hour groups are
  * file-local). A group is complete inside the batch that carries its
  * files, because the shuffle merges groups that span files within a
  * batch. A group that spans two batches is outside the contract: its
  * `_mean` over partial batches is NOT the global `_mean` — use a full
  * [[graft.etl.JobRunner.run]] (or compact inputs per group first). This
  * is the same precondition `runIncremental` documents.
  */
object StreamingHourly {

  /** Aggregate every source file not yet processed under `checkpointDir`
    * and store each micro-batch's hourly rows under `outDir` (snappy
    * parquet, `batch_id`-partitioned through [[BatchStore]]). Offsets and
    * the batch commit log live in the checkpoint; a batch that failed is
    * re-run on restart and replaces its first attempt's rows. Drains what
    * is available, then terminates; re-invoke on a schedule.
    * @param schema the source files' schema; `upgrade`/`state` columns, when
    *   present, are filled from the hive dirs and kept as group keys
    * @param maxFilesPerTrigger files per micro-batch (reference listing
    *   page-size analog) */
  def run(spark: SparkSession, srcDir: String, schema: StructType, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 500): Unit =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) => processBatch(b, id, outDir) }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One micro-batch: [[HourlyAggregate]] by (upgrade, state, bldg_id, hour)
    * over the batch's files, written as batch `batchId` of `outDir`. */
  def processBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    BatchStore.write(
      HourlyAggregate(batch, measureCols = HourlyAggregate.measures(batch.schema),
        extraKeys = Seq("upgrade", "state").filter(batch.columns.contains)),
      outDir, batchId)
}
