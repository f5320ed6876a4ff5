package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The on-disk layout of per-batch state for the streaming family — the
  * one place that decides how a micro-batch's output is stored, replaced
  * and found again. Every listing goes through Hadoop [[FileSystem]], so
  * a dir may be a bare local path or any `file:`, `hdfs://` or `s3a://`
  * URI.
  *
  * Replay contract: `foreachBatch` is AT-LEAST-ONCE — after a failure
  * the same batchId runs again, possibly over different input (a
  * superseding replay). [[write]] makes each batch the single owner of
  * its `batch_id=<id>` subtree: the subtree is deleted, then the batch's
  * rows are appended under it, so a replay REPLACES the first attempt's
  * rows wholesale — also when it writes fewer rows, none at all, or a
  * different set of second-level partitions — while every other batch's
  * files stay untouched. A reader that folds a batch against the state
  * of the batches before it must read only the ids below the batch's
  * own: on replay the store already holds the first attempt's rows (and
  * those of any later batch that ran since). The delete and the
  * append are not one atomic step; a crash between them leaves the batch
  * missing, and the replay that follows rewrites it. Two concurrent
  * writes of the SAME batch id are caller error; different ids own
  * disjoint subtrees and need no fence.
  *
  * Versioned snapshots (`v=<batchId>` dirs, one whole state per batch)
  * are found again through [[latestCommitted]], which serves only dirs
  * the committer finished. */
object BatchStore {

  private val BatchKey = "batch_id"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Replace batch `batchId` under `dir` with `df`'s rows, partitioned by
    * `batch_id` and then `partitionBy`. Never touches session conf. */
  def write(df: DataFrame, dir: String, batchId: Long,
      partitionBy: String*): Unit = {
    drop(df.sparkSession, dir, Seq(batchId), BatchKey)
    df.withColumn(BatchKey, lit(batchId))
      .write.mode("append")
      .partitionBy(BatchKey +: partitionBy: _*)
      .parquet(dir)
  }

  /** Every stored batch, read with `schema` (which includes `batch_id`);
    * an empty frame of `schema` when the dir is missing or no batch has
    * written rows to it. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (ids(spark, dir, BatchKey).isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dir)

  /** The N of every `key=N` subdirectory of `dir`; Nil when it is missing. */
  def ids(spark: SparkSession, dir: String, key: String): Seq[Long] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$key=")).map(_.stripPrefix(s"$key=").toLong)
  }

  /** Delete the `key=N` subdirectory of `dir` for every N in `ids`. */
  def drop(spark: SparkSession, dir: String, ids: Seq[Long],
      key: String): Unit = {
    val f = fs(spark, dir)
    ids.foreach(id => f.delete(new Path(s"$dir/$key=$id"), true))
  }

  /** The newest COMMITTED snapshot `v=N` of `dir` with N < `before`. A
    * crash mid-write leaves a partial `v=N` dir; only dirs carrying the
    * committer's `_SUCCESS` marker count, so a fold after such a crash
    * reads the predecessor instead of partial state. */
  def latestCommitted(spark: SparkSession, dir: String,
      before: Long): Option[DataFrame] = {
    val f = fs(spark, dir)
    ids(spark, dir, "v").filter(_ < before).sorted.reverse
      .find(v => f.exists(new Path(s"$dir/v=$v/_SUCCESS")))
      .map(v => spark.read.parquet(s"$dir/v=$v"))
  }
}
