package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X92 — targeted deletion (right-to-be-forgotten / takedown erasure):
  * remove every row whose key appears in a delete set from a
  * hive-partitioned parquet table, rewriting ONLY the partitions that
  * contain hits.
  *
  * The 100 TB reality: erasure requests name a few thousand keys, the
  * table holds billions of rows across thousands of partitions, and a
  * naive `filter + full overwrite` rewrites everything. This operator
  * makes the rewrite surgical:
  *  1. hit scan — one column-pruned pass over (partition cols, key),
  *     broadcast-left-joined with the delete set; aggregates to the
  *     DISTINCT affected partition-value TUPLES + per-partition hit
  *     counts (a partitions-sized relation, tiny);
  *  2. staged rewrite — rows of AFFECTED partitions only (a partition-
  *     pruned scan), anti-joined with the delete set, written to a
  *     staging directory (Spark refuses to overwrite a path it is
  *     reading — and staging is what makes step 3 near-atomic anyway);
  *  3. per-partition swap — each affected LEAF partition directory is
  *     MOVED ASIDE (into the staging area) and its staged replacement
  *     renamed in (two filesystem metadata ops). The previous copy is
  *     never deleted while it is the only copy: a crash or rename
  *     failure between the two renames is recovered by the next run's
  *     preamble, which restores any moved-aside subtree missing from
  *     the table before clearing staging. A partition whose every row
  *     was deleted has no staged dir and ends removed. Every unaffected
  *     partition's files are NEVER touched (byte-identical,
  *     spec-pinned).
  *
  * MULTI-LEVEL partitioning (round 11): production tables partition by
  * several columns (`day/hour`, `region/day`); erasure operates on the
  * LEAF partition directories (`day=…/hour=…`), so a hit rewrites one
  * leaf, never a whole day. All entry points take `Seq[String]`
  * partition columns; single-column overloads remain.
  *
  * Returns a per-partition report (rows_before, deleted, rows_after) —
  * the erasure audit trail. The delete set is assumed request-sized
  * (broadcast); for a corpus-sized delete set, pre-filter with
  * [[graft.ext.BloomPrune]] and fall back to a full rewrite.
  *
  * Deletion is by KEY EQUALITY, null-safe: a NULL key in the delete set
  * deletes NULL-keyed rows — erasure must not leak rows behind SQL null
  * semantics, so both joins use `<=>`.
  */
object Forget {

  /** One row per affected leaf partition (value strings, joined by '/'
    * for multi-level tables — NULL partition values report as the hive
    * default-partition name). */
  final case class PartitionDelete(partition: String, rowsBefore: Long,
      deleted: Long, rowsAfter: Long)

  final case class Report(partitions: Seq[PartitionDelete]) {
    def deletedTotal: Long = partitions.map(_.deleted).sum
    def removedPartitions: Int = partitions.count(_.rowsAfter == 0)
  }

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Unregister every [[graft.plans.RollupViewRewrite]] view whose base is
    * this table: after any erasure (key delete OR retention sweep) a
    * registered rollup still aggregates the removed rows, so queries on
    * the base would silently keep serving them. Callers re-register after
    * rebuilding the rollup from the mutated table. */
  private def invalidateRollups(spark: SparkSession, tableDir: String): Unit = {
    val canonBase = {
      val pth = new org.apache.hadoop.fs.Path(tableDir)
      pth.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(pth).toString
    }
    graft.plans.RollupViewRewrite.registered
      .filter(_.basePath == canonBase)
      .foreach(v => graft.plans.RollupViewRewrite.unregister(v.name))
  }

  /** One "col=escaped(value)" path segment from Spark's own
    * cast-to-string rendering (the writer derives directory names from
    * exactly this string — see the __ps note in deleteKeys). */
  private def segment(colName: String, castStr: String): String =
    s"$colName=" + (if (castStr == null) HiveDefaultPartition
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(castStr))

  /** Restore any subtree a crashed prior swap left as the only copy:
    * step 3 moves each hit leaf aside to staging/__old/<rel> before
    * installing its replacement — rename back whatever is missing from
    * the table, at the highest missing level (handles any partition
    * depth, including leftovers from runs with different columns).
    *
    * When `dst` EXISTS, the aside at that level is never merged into it:
    * an aside can only coexist with a live destination if the swap that
    * created it COMPLETED (the replacement rename is the only thing that
    * re-creates dst after the move-aside) — so its data contains the
    * erased keys and must be treated as garbage, not salvage. Recursion
    * therefore descends only through hive-style `col=value` directories
    * (an aside holding intermediate levels of a deeper layout); the
    * moment a level holds anything else — parquet part-files, _SUCCESS —
    * it IS a swapped-out leaf and is deleted whole. Renaming those
    * part-files into the rewritten leaf (their UUID names never collide
    * with the new files') would silently resurrect deleted keys and
    * duplicate every survivor row. */
  private def recoverMovedAside(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String, staging: String): Unit = {
    import org.apache.hadoop.fs.Path
    val oldRoot = new Path(s"$staging/__old")
    if (!fs.exists(oldRoot)) return
    // hive partition dirs render as col=escaped(value) and escapePathName
    // escapes '=' inside values, so one unescaped '=' marks a level dir;
    // data files (part-*.parquet, _SUCCESS) never contain '='
    def isLevelDir(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.isDirectory && st.getPath.getName.contains("=")
    def restore(rel: String): Unit = {
      val src = new Path(s"$staging/__old/$rel")
      val dst = new Path(s"$tableDir/$rel")
      if (!fs.exists(dst)) {
        require(fs.rename(src, dst),
          s"crash recovery failed restoring $src to $dst")
      } else if (fs.getFileStatus(src).isDirectory) {
        val children = fs.listStatus(src)
        if (children.forall(isLevelDir)) {
          children.foreach(st => restore(s"$rel/${st.getPath.getName}"))
          fs.delete(src, false) // all children resolved; drop the empty level
        } else {
          fs.delete(src, true) // completed swap's old leaf — garbage
        }
      } else {
        fs.delete(src, false) // stray file shadowed by a live dst
      }
    }
    fs.listStatus(oldRoot).foreach(st => restore(st.getPath.getName))
  }

  /** Single-column convenience overload. */
  def deleteKeys(spark: SparkSession, tableDir: String, partitionCol: String,
      keyCol: String, keys: DataFrame): Report =
    deleteKeys(spark, tableDir, Seq(partitionCol), keyCol, keys)

  /** Delete `keys` (any frame carrying `keyCol`) from the parquet table at
    * `tableDir` partitioned by `partitionCols` (leaf order). */
  def deleteKeys(spark: SparkSession, tableDir: String,
      partitionCols: Seq[String], keyCol: String, keys: DataFrame): Report = {
    require(partitionCols.nonEmpty, "at least one partition column")
    // FIRST: recover from a crashed prior swap — restore any moved-aside
    // partition BEFORE the hit scan reads the table (and before staging
    // is cleared, which would destroy the only copy).
    val staging = tableDir.stripSuffix("/") + "__forget_tmp"
    val stagingFs = new org.apache.hadoop.fs.Path(staging).getFileSystem(
      spark.sessionState.newHadoopConf())
    recoverMovedAside(stagingFs, tableDir, staging)

    val table = spark.read.parquet(tableDir)
    partitionCols.foreach(c => require(table.columns.contains(c),
      s"$c is not a column of $tableDir"))
    require(table.columns.contains(keyCol),
      s"$keyCol is not a column of $tableDir")
    val delKeys = broadcast(keys.select(col(keyCol).as("__del_key"))
      .distinct().withColumn("__hit", lit(1)))

    val n = partitionCols.size
    // 1. hit scan: per-leaf-partition (row count, hit count) in ONE pass —
    //    column-pruned to (partition cols, key), the delete set broadcast.
    //    The __hit indicator survives the join even for NULL keys (which
    //    match via <=> but carry a NULL __del_key).
    // __ps{i} = Spark's OWN cast-to-string rendering of each partition
    // value (session timezone for timestamps) — the writer derives
    // directory names from exactly these strings, so segment() can never
    // drift from the on-disk layout the way Any.toString can.
    val pCols = partitionCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(col(c).as(s"__p$i"), col(c).cast("string").as(s"__ps$i"))
    }
    val stats = table.select(pCols :+ col(keyCol): _*)
      .join(delKeys, col(keyCol) <=> col("__del_key"), "left")
      .groupBy(partitionCols.indices.map(i => col(s"__p$i")): _*)
      .agg(
        first(col("__ps0")).as("__ps0"),
        (partitionCols.indices.drop(1).map(i =>
          first(col(s"__ps$i")).as(s"__ps$i")) ++ Seq(
          count(lit(1)).as("__n"),
          sum(coalesce(col("__hit"), lit(0))).as("__hits"))): _*)
      .collect()
    // row layout: [__p0..__p{n-1}, __ps0..__ps{n-1}, __n, __hits]
    val affected = stats.filter(_.getLong(2 * n + 1) > 0)
    if (affected.isEmpty) return Report(Nil)

    val affectedCol: Column = affected.map { r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) col(c).isNull else col(c) <=> lit(v)
      }.reduce(_ && _)
    }.reduce(_ || _)

    invalidateRollups(spark, tableDir)

    // 2. staged rewrite of affected partitions' survivors (staging
    //    cleared first — recovery above already salvaged anything a
    //    crashed prior run left as the only copy; what remains is a prior
    //    run's stale output that must never be swapped in as this run's)
    stagingFs.delete(new org.apache.hadoop.fs.Path(staging), true)
    table.filter(affectedCol)
      .join(delKeys, col(keyCol) <=> col("__del_key"), "left_anti")
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(staging)

    // 3. per-leaf swap; fully-deleted partitions have nothing staged
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def relOf(r: org.apache.spark.sql.Row): String =
      partitionCols.zipWithIndex
        .map { case (c, i) => segment(c, r.getString(n + i)) }
        .mkString("/")
    affected.foreach { r =>
      val rel = relOf(r)
      val dst = new org.apache.hadoop.fs.Path(s"$tableDir/$rel")
      val src = new org.apache.hadoop.fs.Path(s"$staging/$rel")
      // the hit partition MUST exist on disk — a miss means the rendered
      // name diverged from the layout, and silently skipping it would
      // report rows as deleted while leaving them readable
      require(fs.exists(dst),
        s"partition directory $rel not found under $tableDir " +
          "(partition-value rendering mismatch) — aborting; partitions " +
          "swapped before this one are already rewritten")
      if (fs.exists(src)) {
        // move-aside swap (the MaterializedRollup.swapDir discipline): the
        // previous copy is renamed out of the table FIRST — never deleted
        // while it is the only copy — so a crash or rename failure at any
        // point leaves the partition either in place or recoverable from
        // __old (the recovery preamble restores it on the next run). The
        // aside location lives under staging, NOT dst+"__old": a directory
        // named `col=val__old` inside the table would be read back as a
        // partition value and resurrect the rows.
        val aside = new org.apache.hadoop.fs.Path(s"$staging/__old/$rel")
        fs.mkdirs(aside.getParent)
        require(fs.rename(dst, aside), s"partition swap failed moving $rel aside")
        if (!fs.rename(src, dst)) {
          fs.rename(aside, dst) // restore the previous copy
          throw new IllegalStateException(s"partition swap failed for $rel")
        }
        // this leaf's swap is COMPLETE (replacement installed) — drop its
        // aside NOW rather than at the bulk staging delete, so __old only
        // ever holds the single in-flight leaf at crash time. Leaving
        // completed asides around would hand recovery an old copy next to a
        // live rewritten dst (see recoverMovedAside's garbage rule).
        fs.delete(aside, true)
      } else {
        // fully-deleted partition: every row matched a delete key, so there
        // is nothing staged to install. Delete dst IN PLACE — no aside. A
        // move-aside here would open a resurrect-on-recovery window (an
        // aside with no rewritten dst looks exactly like a crashed
        // mid-swap leaf, and recovery would restore the erased rows); a
        // crash mid-delete only leaves FEWER rows for the mandatory rerun
        // of the same deleteKeys call to re-delete.
        fs.delete(dst, true)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)

    Report(affected.map { r =>
      val (rows, hits) = (r.getLong(2 * n), r.getLong(2 * n + 1))
      val name =
        if (n == 1)
          Option(r.getString(1)).getOrElse(HiveDefaultPartition)
        else partitionCols.indices
          .map(i => Option(r.getString(n + i)).getOrElse(HiveDefaultPartition))
          .mkString("/")
      PartitionDelete(name, rows, hits, rows - hits)
    }.sortBy(_.partition).toSeq)
  }

  /** One row per expired partition. */
  final case class PartitionExpiry(partition: String, rowsDropped: Long)

  /** Single-column convenience overload. */
  def expirePartitions(spark: SparkSession, tableDir: String,
      partitionCol: String, retain: Column): Seq[PartitionExpiry] =
    expirePartitions(spark, tableDir, Seq(partitionCol), retain)

  /** Retention sweep (TTL): drop every LEAF partition whose VALUES fail
    * `retain` — e.g. `retain = col("day") >= "2026-01-01"`. No data page
    * is ever read: partition values come from the file index (a metadata
    * listing), the predicate evaluates on a |partitions|-row relation,
    * and expiry is one directory delete per failing leaf; the row
    * counts in the report come from parquet FOOTERS of the dropped
    * partitions only. The complement of [[deleteKeys]]: deleteKeys
    * erases rows surgically INSIDE partitions; this retires whole
    * partitions — the daily lifecycle job at 100 TB. */
  def expirePartitions(spark: SparkSession, tableDir: String,
      partitionCols: Seq[String], retain: Column): Seq[PartitionExpiry] = {
    require(partitionCols.nonEmpty, "at least one partition column")
    // same recovery preamble as deleteKeys: a crashed prior swap may have
    // left a leaf moved aside, and a sweep that reads the table without
    // restoring it can neither retain nor retire that leaf — the next
    // deleteKeys would then resurrect a partition this sweep should have
    // expired, silently serving expired data until the following sweep
    val staging = tableDir.stripSuffix("/") + "__forget_tmp"
    val stagingFs = new org.apache.hadoop.fs.Path(staging).getFileSystem(
      spark.sessionState.newHadoopConf())
    recoverMovedAside(stagingFs, tableDir, staging)
    val table = spark.read.parquet(tableDir)
    partitionCols.foreach(c => require(table.columns.contains(c),
      s"$c is not a column of $tableDir"))
    val n = partitionCols.size
    // a partition expires unless retain is definitively TRUE: a NULL
    // predicate result (e.g. a null partition value under a >= bound)
    // ages out rather than surviving every sweep unreported — malformed
    // data is exactly what a lifecycle job most needs to retire
    val pCols = partitionCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(col(c).as(s"__p$i"), col(c).cast("string").as(s"__ps$i"))
    }
    val expiredRows = table.select(pCols: _*)
      .distinct()
      .filter(!coalesce(retain, lit(false)))
      .collect()
    if (expiredRows.isEmpty) return Nil
    // retired partitions' rows must stop being served by rollups too —
    // the deleteKeys contract, mirrored (a retention sweep that leaves a
    // registered rollup in place silently serves expired data)
    invalidateRollups(spark, tableDir)
    val expiredCol: Column = expiredRows.map { r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        val v = r.get(2 * i)
        if (v == null) col(c).isNull else col(c) <=> lit(v)
      }.reduce(_ && _)
    }.reduce(_ || _)
    // footer-only count of what is being dropped (metadata rows)
    def nameOf(r: org.apache.spark.sql.Row): String =
      if (n == 1) Option(r.getString(1)).getOrElse(HiveDefaultPartition)
      else partitionCols.indices
        .map(i => Option(r.getString(2 * i + 1)).getOrElse(HiveDefaultPartition))
        .mkString("/")
    val counts = table.filter(expiredCol)
      .groupBy(partitionCols.indices.map(i =>
        col(partitionCols(i)).cast("string").as(s"__ps$i")): _*)
      .agg(count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val name = partitionCols.indices
          .map(i => Option(r.getString(i)).getOrElse(HiveDefaultPartition))
          .mkString("/")
        name -> r.getLong(n)
      }.toMap
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    expiredRows.foreach { r =>
      val rel = partitionCols.zipWithIndex
        .map { case (c, i) => segment(c, r.getString(2 * i + 1)) }
        .mkString("/")
      val dst = new org.apache.hadoop.fs.Path(s"$tableDir/$rel")
      require(fs.exists(dst),
        s"partition directory $rel not found under $tableDir " +
          "(partition-value rendering mismatch)")
      fs.delete(dst, true)
    }
    expiredRows.map { r =>
      val name = nameOf(r)
      PartitionExpiry(name, counts.getOrElse(name, 0L))
    }.sortBy(_.partition).toSeq
  }
}
