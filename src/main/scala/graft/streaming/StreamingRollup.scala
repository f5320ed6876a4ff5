package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.etl.MaterializedRollup

/** Streaming face of X91's materialized-rollup maintenance: a
  * continuously-ingesting fact stream keeps a queryable rollup fresh,
  * micro-batch by micro-batch, and [[graft.plans.RollupViewRewrite]]
  * keeps answering dashboard aggregations from it — the history is never
  * rescanned.
  *
  * Durability/replay contract: [[BatchStore]]'s. A rollup merge is NOT
  * idempotent (re-applying a batch double-counts), so the batch's
  * contribution is stored as its PARTIALS through [[BatchStore.write]] —
  * a replay REPLACES them bit-identically. The queryable rollup is then
  * re-merged from the consolidated history plus recent partials
  * (KB-sized: one row per key combination) and atomically swapped, so
  * replaying any batch reproduces the same rollup file. The spec drives
  * [[processBatch]] directly and replays a batch to pin it.
  *
  * COMPACTION (round 11): per-batch partials accumulate one partition per
  * micro-batch forever, so an unbounded run re-reads O(#batches) small
  * files per merge. Once `compactEvery` uncompacted partial partitions
  * exist, everything up to `batch_id ≤ current−2` is folded into ONE
  * consolidated snapshot under `<partialsDir>__compacted/upto=<id>`
  * (the merge algebra is associative, so fold ≡ re-merge), after which
  * the folded partials are garbage-collected. Crash-safety is by READ
  * DISCIPLINE, not write atomicity: every merge reads only the MAX-upto
  * snapshot plus partials with `batch_id > upto`, so a crash that leaves
  * both an old snapshot and undeleted folded partials behind changes
  * nothing (they are inert garbage, swept by the next compaction). The
  * `current−2` margin keeps replay safe: structured streaming only ever
  * re-fires the LATEST uncommitted batch, which is never in the fold —
  * its partials stay the single source of truth.
  *
  * Registration: pass `registerAs`+`basePath` to (re-)register the
  * rollup for rewriting after every batch — re-registration is required
  * because the cached relation pins the pre-swap file listing. */
object StreamingRollup {

  /** One micro-batch: write this batch's partials (idempotent), compact
    * the history when due, re-merge the rollup, swap, optionally
    * re-register.
    * @param compactEvery fold the partial history into one consolidated
    *   snapshot whenever this many uncompacted batch partitions exist. */
  def processBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      measures: Seq[String], partialsDir: String, mvPath: String,
      registerAs: Option[String] = None, basePath: String = "",
      compactEvery: Int = 16): Unit = {
    val spark = batch.sparkSession
    val partials = MaterializedRollup.build(batch, keys, measures)
    BatchStore.write(partials, partialsDir, batchId)
    def readPartials(): DataFrame = BatchStore.read(spark, partialsDir,
      partials.schema.add("batch_id", LongType))

    val compactedDir = partialsDir.stripSuffix("/") + "__compacted"
    def snapshot(upto: Long): DataFrame =
      spark.read.parquet(s"$compactedDir/upto=$upto")

    // compaction: fold partials ≤ batchId−2 (replay-safe margin) beyond
    // the current watermark into a new consolidated snapshot, then GC
    val upto0 = BatchStore.ids(spark, compactedDir, "upto").maxOption
    val newUpto = batchId - 2
    val foldable = BatchStore.ids(spark, partialsDir, "batch_id")
      .filter(id => id <= newUpto && upto0.forall(id > _))
    if (foldable.size >= compactEvery) {
      val toFold = readPartials()
        .filter(col("batch_id").isin(foldable: _*)).drop("batch_id")
      val folded = MaterializedRollup.merge(upto0.map(snapshot).toSeq :+ toFold,
        keys, measures)
      // writer-scoped dynamic overwrite (never the session conf): the
      // staged `upto=` partition lands by one rename, so a reader of the
      // max upto never sees a partial snapshot
      folded.withColumn("upto", lit(newUpto))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("upto").parquet(compactedDir)
      // GC is pure garbage collection: the read discipline below ignores
      // anything the new snapshot covers, so a crash mid-delete is inert.
      // Sweep EVERYTHING the new watermark covers — every partial with
      // batch_id ≤ newUpto (not just this fold's inputs: a crash mid-GC
      // orphans already-folded partials at ids ≤ the old watermark) and
      // every snapshot below the new max (not just the single previous
      // one) — so crash leftovers cannot accumulate across crashes.
      BatchStore.drop(spark, partialsDir,
        BatchStore.ids(spark, partialsDir, "batch_id").filter(_ <= newUpto),
        "batch_id")
      BatchStore.drop(spark, compactedDir,
        BatchStore.ids(spark, compactedDir, "upto").filter(_ < newUpto),
        "upto")
    }

    // queryable rollup: max-upto snapshot + partials beyond it — cost is
    // O(compactEvery) small partitions + one KB snapshot, not O(#batches)
    val history = BatchStore.ids(spark, compactedDir, "upto").maxOption match {
      case Some(u) => Seq(snapshot(u),
        readPartials().filter(col("batch_id") > u).drop("batch_id"))
      case None => Seq(readPartials().drop("batch_id"))
    }
    val merged = MaterializedRollup.merge(history, keys, measures)
    val tmp = mvPath + "__stream_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    MaterializedRollup.swapDir(new org.apache.hadoop.fs.Path(mvPath)
      .getFileSystem(spark.sessionState.newHadoopConf()), tmp, mvPath)
    // sessionScoped=false: this registration runs in the stream's CLONED
    // micro-batch session; the rollup is a shared artifact that must be
    // visible to the sessions actually querying the base
    registerAs.foreach { name =>
      MaterializedRollup.register(spark, name, basePath, mvPath, keys,
        measures, sessionScoped = false)
    }
  }

  /** Start the stream: every micro-batch of fact rows through
    * [[processBatch]]. */
  def start(stream: DataFrame, keys: Seq[String], measures: Seq[String],
      partialsDir: String, mvPath: String, checkpointDir: String,
      registerAs: Option[String] = None, basePath: String = "",
      compactEvery: Int = 16): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, keys, measures, partialsDir, mvPath,
          registerAs, basePath, compactEvery)
      }
      .start()
}
