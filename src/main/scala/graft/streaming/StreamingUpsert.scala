package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.Upsert

/** Streaming CDC apply: maintain a queryable parquet SNAPSHOT of a keyed
  * change stream by applying every micro-batch as an upsert — the
  * "streaming materialized view" pattern (what Delta calls MERGE INTO
  * from foreachBatch), composed from the engine's own pieces:
  * latest-per-key dedup within the batch, [[graft.etl.Upsert]] against
  * the previous snapshot, versioned write + pointer swap.
  *
  * Consistency contract (object-store safe, no in-place mutation):
  *  - each batch writes a COMPLETE new snapshot under `dir/v=<batchId>`
  *    (write-once; a replayed batch after restart overwrites the same
  *    version directory, so reprocessing is idempotent);
  *  - publish goes through the epoch-fenced [[CommitLog]]:
  *    the pointer is the HEAD of `dir/_commits/`, each commit an
  *    immutable fully-written-then-atomically-linked file, so readers
  *    resolve a complete pointer then read an immutable directory —
  *    never a half-written snapshot, never a torn pointer;
  *  - CONCURRENT WRITERS are safe: a fold computed from epoch E only
  *    publishes if it wins the exclusive-create of epoch E+1; the loser
  *    detects the conflict, re-reads the winner's snapshot, re-folds
  *    its batch on top and retries (up to `maxRetries`, then aborts
  *    with the conflict surfaced). Writers running concurrently MUST
  *    use distinct `writerTag`s so their version directories cannot
  *    collide — same contract as Delta's per-app txn identity;
  *  - old versions stay until [[vacuum]] — time travel for free, exactly
  *    the manifest-pointer scheme table formats use, scaled down.
  *
  * Versions, not batch order, decide every conflict: within a batch the
  * highest `versionCol` per key survives, and across batches the apply
  * is VERSION-GUARDED ([[graft.etl.Upsert.upsertVersioned]]) — a change
  * replaces the snapshot row only when its version is ≥ the stored one.
  * Micro-batch boundaries are a delivery artifact (file pickup order is
  * arbitrary), so convergence must not depend on them: any arrival order
  * of the same change set folds to the same snapshot.
  *
  * Scale: the snapshot rewrite per batch is the honest cost of keyed
  * mutation over immutable parquet (every table format pays it as
  * file-level rewrite amplification; partition the snapshot when key
  * locality allows smaller rewrite scopes). The upsert itself shuffles
  * only delta keys against the base (see Upsert's scale note).
  */
object StreamingUpsert {

  /** Start applying `changes` (a streaming DataFrame) to the snapshot at
    * `dir`. Caller owns checkpointing via `checkpointDir`. */
  def run(changes: DataFrame, keys: Seq[String], versionCol: String,
      dir: String, checkpointDir: String): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        applyBatch(spark, batch, batchId, keys, versionCol, dir)
      }
      .start()
  }

  /** One micro-batch: dedupe to latest-per-key, upsert into the current
    * snapshot, publish as `v=<batchId>` (untagged) or
    * `v=<writerTag>-<batchId>` through the epoch-fenced [[CommitLog]].
    * Public for batch-mode reuse and deterministic testing.
    *
    * @param writerTag identity of this writer, `[A-Za-z0-9_]+` or empty
    *   (the single-writer streaming default — keeps the `v=<batchId>`
    *   layout and [[snapshotAt]] addressing). Concurrent writers into
    *   one store MUST use distinct tags: the tag namespaces the version
    *   directory, and the replay guard tracks each writer's own batch
    *   sequence through the log.
    * @param maxRetries publish-race retries before aborting with
    *   `ConcurrentModificationException` — each retry re-reads the
    *   winner's snapshot and re-folds, so a retry is never a lost
    *   update, only repeated work under contention. */
  def applyBatch(spark: SparkSession, batch: Dataset[Row], batchId: Long,
      keys: Seq[String], versionCol: String, dir: String,
      writerTag: String = "", maxRetries: Int = 5): Unit = {
    require(writerTag.isEmpty || writerTag.matches("[A-Za-z0-9_]+"),
      s"writerTag must match [A-Za-z0-9_]+ or be empty, got '$writerTag'")
    val ver = if (writerTag.isEmpty) s"v=$batchId" else s"v=$writerTag-$batchId"
    // the log IS the commit marker: if this writer already committed this
    // batch (or a later one), the batch landed before the restart — a
    // replay must be a no-op, not a self-referential rewrite of the
    // directory it would simultaneously be reading
    if (lastCommittedBatch(spark, dir, writerTag).exists(_ >= batchId)) return
    if (batch.isEmpty) return
    val w = Window.partitionBy(keys.map(k => col(s"`$k`")): _*)
      .orderBy(col(s"`$versionCol`").desc)
    val latest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    var attempt = 0
    var committed = false
    while (!committed) {
      val head = CommitLog.current(spark, dir)
      val next = head match {
        case Some(c) =>
          Upsert.upsertVersioned(
            spark.read.parquet(s"$dir/${c.version}"), latest, keys, versionCol)
        case None => latest
      }
      // the writer's OWN (tag, batch) directory: nobody else writes it,
      // so a post-race rewrite can never clobber a committed version
      next.write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$dir/$ver")
      committed = CommitLog.tryCommit(spark, dir,
        head.map(_.epoch).getOrElse(0L), ver)
      if (!committed) {
        attempt += 1
        if (attempt > maxRetries) {
          val now = currentVersion(spark, dir).getOrElse("none")
          throw new java.util.ConcurrentModificationException(
            s"lost the publish race at $dir $maxRetries times " +
              s"(another writer keeps advancing the log; head is now $now) " +
              "— batch NOT published; re-run when contention clears or " +
              "raise maxRetries")
        }
      }
    }
  }

  /** This writer's newest committed batch id, scanning the log
    * head-first. Lazy descending scan: a live writer finds its own tag
    * within the newest few commits, so the per-batch cost stays O(1)
    * files instead of O(total commits). */
  private def lastCommittedBatch(spark: SparkSession, dir: String,
      writerTag: String): Option[Long] = {
    val pat = if (writerTag.isEmpty) "v=(\\d+)".r
      else s"v=${writerTag}-(\\d+)".r
    CommitLog.descending(spark, dir)
      .map(_.version).collectFirst { case pat(n) => n.toLong }
  }

  /** The current snapshot, or None before the first publish. */
  def currentSnapshot(spark: SparkSession, dir: String): Option[DataFrame] =
    currentVersion(spark, dir).map(v => spark.read.parquet(s"$dir/$v"))

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def currentVersion(spark: SparkSession, dir: String): Option[String] =
    CommitLog.current(spark, dir).map(_.version)

  private val TaggedVersion = "v=([A-Za-z0-9_]+)-\\d+".r

  /** The writer tag a version string was published under ("" = untagged). */
  private def writerTagOf(version: String): String = version match {
    case TaggedVersion(t) => t
    case _ => ""
  }

  /** Retention vacuum: delete versions STRICTLY OLDER than the published
    * one, RETAINING the newest `keep − 1` of them as a time-travel
    * window (`keep = 1` keeps only the current snapshot — the previous
    * all-or-nothing behavior). Never touches the current version or any
    * NEWER directory an in-flight batch may be writing; versions newer
    * than the pointer are in-flight state, not garbage. Safe to run
    * concurrently with readers of retained versions: deletion order is
    * oldest-first, and a reader that resolved the log head can only be
    * in a retained directory. */
  def vacuum(spark: SparkSession, dir: String, keep: Int = 1): Unit = {
    require(keep >= 1, "keep must be >= 1 (the current version always stays)")
    // commit-log order is publish order across ALL writers (tagged or
    // not); uncommitted in-flight directories are not in the log and are
    // never touched
    val log = CommitLog.commits(spark, dir)
    val f = fs(spark, dir)
    val versions = log.map(_.version).distinct
    val dropped = versions.dropRight(1) // head always stays
      .dropRight(keep - 1)
    val retained = versions.toSet -- dropped
    dropped.foreach(v => f.delete(new Path(s"$dir/$v"), true))
    // truncate the log to the same retention window, keeping each
    // writer's newest epoch (the replay guard — dropping it would make a
    // restarted writer re-apply an already-published batch)
    val keepEpochs = log.filter(c => retained.contains(c.version))
      .map(_.epoch).toSet ++
      log.groupBy(c => writerTagOf(c.version)).values.map(_.map(_.epoch).max)
    CommitLog.truncate(spark, dir, keepEpochs = 1, alsoKeep = keepEpochs)
  }

  /** Change-data-feed read face (the `table_changes(from, to)` analog):
    * keyed added/removed/changed rows between two RETAINED versions,
    * computed with [[graft.etl.SnapshotDiff]] over the immutable version
    * directories — so a consumer can subscribe to "what changed" without
    * replaying the change stream itself. Exact struct comparison (the
    * versions are engine-written; width is the snapshot's own). */
  def changes(spark: SparkSession, dir: String, fromBatchId: Long,
      toBatchId: Long, keys: Seq[String]): DataFrame = {
    require(fromBatchId < toBatchId,
      s"from ($fromBatchId) must precede to ($toBatchId)")
    graft.etl.SnapshotDiff.diff(
      snapshotAt(spark, dir, fromBatchId),
      snapshotAt(spark, dir, toBatchId), keys, exact = true)
  }

  /** Read a RETAINED historical version (time travel). Fails with the
    * available versions listed when `batchId` was vacuumed or never
    * published. */
  def snapshotAt(spark: SparkSession, dir: String, batchId: Long): DataFrame = {
    // only PUBLISHED versions are readable: a directory absent from the
    // commit log may be a half-written in-flight batch. Addresses the
    // untagged `v=<batchId>` namespace; tagged writers' versions are
    // reachable through [[CommitLog.commits]] directly.
    val published = CommitLog.commits(spark, dir).exists(_.version == s"v=$batchId")
    require(published,
      s"version v=$batchId is not published yet (head: ${
        currentVersion(spark, dir).getOrElse("none")})")
    val f = fs(spark, dir)
    val p = new Path(s"$dir/v=$batchId")
    if (!f.exists(p)) {
      val have = f.listStatus(new Path(dir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .map(_.getPath.getName).sorted.mkString(", ")
      throw new IllegalArgumentException(
        s"version v=$batchId not available at $dir (have: $have)")
    }
    spark.read.parquet(p.toString)
  }
}
