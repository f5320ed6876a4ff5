package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.RollupViewRewrite

/** X91 companion — build and register the materialized rollups that
  * [[graft.plans.RollupViewRewrite]] reroutes queries to.
  *
  * Schema contract (what the rule expects at the registered path):
  * `keys… , cnt , (sum_c, min_c, max_c, cnt_c) per measure c` — one row
  * per DISTINCT key combination present in the base. `cnt` = COUNT(*),
  * `cnt_c` = COUNT(c) (non-null), so COUNT/SUM/MIN/MAX/AVG at ANY
  * coarser grouping are exact algebraic merges of these partials.
  *
  * Scale shape: the build is one partial-aggregated scan of the base
  * (map-side combine collapses to |distinct keys| rows before the one
  * shuffle); the result is KB–MB sized for dashboard-grade key sets, so
  * every rerouted query replaces a fact scan with a file read. Keep it
  * fresh by re-running [[createAndRegister]] after base loads, or
  * incrementally with [[applyDelta]].
  *
  * X33 — incremental rollup maintenance: this object also owns the one
  * merge algebra over that schema ([[merge]]). Only ALGEBRAIC aggregates
  * are maintainable this way (combine of partials ≡ aggregate of union —
  * the property Spark's own partial/final hash aggregation relies on):
  * counts and sums add, min/max take min/max, and a mean is derived as
  * `sum_c / cnt_c` — over the NON-NULL values, which is what `avg(c)`
  * means. Folding a delta is `merge(Seq(state, build(delta)))`: only the
  * delta is aggregated, the history is never rescanned. Holistic
  * aggregates (exact median, exact distinct) need the X13/X22 sketches;
  * deletions need a rebuild of the affected partitions (min/max of a
  * retracted row is not expressible from partials).
  */
object MaterializedRollup {

  /** The partial-aggregate relation (not yet written). */
  def build(base: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "rollup needs at least one key")
    val aggs = count(lit(1)).as("cnt") +: measures.flatMap { c =>
      Seq(sum(col(c)).as(s"sum_$c"), min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"), count(col(c)).as(s"cnt_$c"))
    }
    base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The merge algebra over the rollup schema: the union of `states`
    * (each a [[build]] output or an earlier merge, columns matched by
    * name) re-aggregated per key — counts and sums add, min/max take
    * min/max. The one merge behind [[applyDelta]] and
    * [[graft.streaming.StreamingRollup]]'s compaction and queryable
    * rollup, so the maintenance paths cannot diverge. */
  def merge(states: Seq[DataFrame], keys: Seq[String],
      measures: Seq[String]): DataFrame = {
    val aggs = sum(col("cnt")).as("cnt") +: measures.flatMap { c =>
      Seq(sum(col(s"sum_$c")).as(s"sum_$c"), min(col(s"min_$c")).as(s"min_$c"),
        max(col(s"max_$c")).as(s"max_$c"), sum(col(s"cnt_$c")).as(s"cnt_$c"))
    }
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Crash-safe directory swap: the PREVIOUS copy is moved aside first,
    * so a failure at any step leaves either the old or the new rollup
    * readable — never an empty path (delete-then-rename would destroy
    * the only copy if the rename failed or the driver died between). */
  def swapDir(fs: org.apache.hadoop.fs.FileSystem, tmp: String,
      dst: String): Unit = {
    import org.apache.hadoop.fs.Path
    val old = new Path(dst + "__old")
    fs.delete(old, true)
    val hadOld = fs.exists(new Path(dst))
    if (hadOld) require(fs.rename(new Path(dst), old),
      s"swap failed moving the previous copy of $dst aside")
    if (!fs.rename(new Path(tmp), new Path(dst))) {
      if (hadOld) fs.rename(old, new Path(dst)) // restore the previous copy
      throw new IllegalStateException(s"swap failed installing $tmp at $dst")
    }
    fs.delete(old, true)
  }

  private def canonical(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
  }

  /** Run `f` with the rewrite DISABLED for this session, restoring the
    * previous setting after — so a refresh can never read a stale
    * registered copy of the rollup it is rewriting. */
  private def withoutRewrite(spark: SparkSession)(f: => Unit): Unit = {
    val prev = spark.conf.getOption(RollupViewRewrite.EnabledKey)
    spark.conf.set(RollupViewRewrite.EnabledKey, "false")
    try f finally prev match {
      case Some(p) => spark.conf.set(RollupViewRewrite.EnabledKey, p)
      case None    => spark.conf.unset(RollupViewRewrite.EnabledKey)
    }
  }

  /** Build the rollup from the base at `basePath` (loaded through the
    * engine's table loader when `table` is given, else read directly),
    * write it to `mvPath`, and register it for rewriting. Building runs
    * with the rewrite DISABLED for this session so a refresh can never
    * read a stale registered copy of itself (note: the flip is
    * session-wide for the duration of the KB-sized build — concurrent
    * queries on the same session briefly lose rewrites, never
    * correctness). Returns the view. */
  def createAndRegister(spark: SparkSession, name: String, basePath: String,
      mvPath: String, keys: Seq[String], measures: Seq[String],
      base: Option[DataFrame] = None): RollupViewRewrite.View = {
    // validate BEFORE the destructive overwrite: writing the rollup over
    // its own base would replace the fact table with KB of partials
    require(canonical(spark, mvPath) != canonical(spark, basePath),
      s"rollup path $mvPath must differ from its base $basePath")
    RollupViewRewrite.unregister(name)
    withoutRewrite(spark) {
      val src = base.getOrElse(spark.read.parquet(basePath))
      build(src, keys, measures)
        .write.mode("overwrite").parquet(mvPath)
    }
    register(spark, name, basePath, mvPath, keys, measures)
  }

  /** Append-only incremental refresh of the REGISTERED view `name`
    * through [[merge]]: aggregate the delta's partials, merge with the
    * existing rollup — counts and sums add, min/max take min/max — and
    * atomically swap the file, then re-register so the rewrite sees the
    * fresh file listing (the cached relation pins the old one). The delta must contain ONLY rows not yet
    * reflected in the rollup (append-only; updates/deletes need a full
    * [[createAndRegister]] rebuild). Cost: one scan of the DELTA plus one
    * read of the KB-sized rollup — the base is never rescanned, which is
    * the whole point at 100 TB. */
  def applyDelta(spark: SparkSession, name: String,
      delta: DataFrame): RollupViewRewrite.View = {
    import org.apache.hadoop.fs.Path
    val v = RollupViewRewrite.registered.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no registered rollup named $name"))
    val mvPath = v.mv.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.head.toString
      case _ => throw new IllegalArgumentException(s"$name is not file-backed")
    }
    withoutRewrite(spark) {
      val merged = merge(Seq(spark.read.parquet(mvPath),
        build(delta, v.keys, v.measures)), v.keys, v.measures)
      val fs = new Path(mvPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = mvPath + "__delta_tmp"
      merged.write.mode("overwrite").parquet(tmp)
      swapDir(fs, tmp, mvPath)
    }
    register(spark, name, v.basePath, mvPath, v.keys, v.measures)
  }

  /** Fingerprint of the base's CURRENT on-disk file listing (qualified
    * path, length, mtime per data file), listed by [[graft.core.Listing]]
    * with the hidden-file filter of Spark's own file index — this is what
    * [[graft.plans.RollupViewRewrite]] compares against the candidate
    * query's scan listing to refuse stale rollups (X67's manifest idea at
    * file-metadata granularity: cheap enough to record at registration
    * and re-check per query for free). */
  def baseListingFingerprint(spark: SparkSession, basePath: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(basePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    RollupViewRewrite.listingFingerprint(
      graft.core.Listing.files(fs, fs.makeQualified(p), _ => true)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)))
  }

  /** Does the registered view's base fingerprint still match the disk?
    * False means the base changed out-of-band since registration — the
    * rewrite is already refusing it per query; refresh with
    * [[createAndRegister]]/[[applyDelta]] to re-activate. */
  def verifyFresh(spark: SparkSession, name: String): Boolean =
    RollupViewRewrite.registered.find(_.name == name).forall { v =>
      v.baseFingerprint.forall(
        _ == baseListingFingerprint(spark, v.basePath))
    }

  /** Register an existing rollup at `mvPath` (e.g. one maintained
    * incrementally) for the base at `basePath`. Records the base's
    * listing fingerprint (staleness gate) and binds the view to THIS
    * session (the registry is JVM-global; visibility must not be).
    * @param sessionScoped false = visible to EVERY session in the
    *   process — the explicit opt-in for rollups maintained as shared
    *   artifacts (a streaming maintainer registers from its cloned
    *   micro-batch session while dashboards query from their own). */
  def register(spark: SparkSession, name: String, basePath: String,
      mvPath: String, keys: Seq[String], measures: Seq[String],
      sessionScoped: Boolean = true): RollupViewRewrite.View = {
    val lr = spark.read.parquet(mvPath).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.getOrElse(throw new IllegalArgumentException(
      s"no file relation at $mvPath"))
    // canonicalize to the qualified form file indexes report as rootPaths
    // (file:/..., hdfs://nn/...), so user-supplied bare paths match
    val p = new org.apache.hadoop.fs.Path(basePath)
    val canon =
      p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
    val view = RollupViewRewrite.View(name, canon, keys, measures, lr,
      sessionUuid =
        if (sessionScoped) Some(RollupViewRewrite.sessionIdOf(spark)) else None,
      baseFingerprint = Some(baseListingFingerprint(spark, basePath)))
    RollupViewRewrite.register(view)
    view
  }
}
