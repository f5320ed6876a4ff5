package graft.etl

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ledger.Ledger

/** End-to-end ETL job: the Spark re-expression of the reference pipeline
  * (`/root/reference/etl/oedi_etl/{main,etl_job,fetch,transform,upload}.py`,
  * lifecycle SURVEY §3.1 stages 4-12).
  *
  * The reference's queue/worker/backpressure plumbing dissolves into Spark's
  * scheduler (SURVEY §2.7): listing+pruning = Catalyst partition discovery,
  * fetch+decode = vectorized parquet scan, worker pool = executor cores,
  * upload threads = output committers. What this class preserves is the
  * *semantics*: partition-pruned input selection, hour aggregation with the
  * `_min`/`_mean` naming contract, snappy parquet output under a run-stamped
  * root preserving `upgrade=`/`state=` dirs, raw metadata bypass copy, and
  * the discrepancy ledger.
  */
object JobRunner {

  final case class Result(dataOut: String, metadataOut: String, ledger: Ledger.Report)

  /** Per-job output subdir. The reference keys every output object by its
    * ORIGINAL source key under the run root (`upload.py:55`:
    * `<out_dir>/<ts>/<original key>`), so two jobs can never clobber each
    * other — their source keys differ in release/year/state. We reproduce
    * that isolation at directory granularity. */
  private def jobDir(spec: JobSpec): String =
    s"${spec.releaseName}/${spec.releaseYear}/${spec.state}"

  /** Schemes whose "filesystem" is an object store: rename is a COPY, not
    * an atomic pointer swap. The committer contract differs there — see
    * [[run]]'s `objectStoreCommit` and README "Object-store outputs". */
  private val objectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos", "swift")

  /** True when the path's scheme is an object store (no atomic rename).
    * A scheme-less path resolves against `fs.defaultFS` when a conf is
    * given — on a cluster whose default filesystem IS an object store,
    * "/warehouse/out" must still get the object-store contract. */
  def isObjectStore(path: String): Boolean =
    Option(new Path(path).toUri.getScheme).exists(objectStoreSchemes.contains)

  def isObjectStore(path: String, conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val scheme = Option(new Path(path).toUri.getScheme)
      .orElse(Option(org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme))
    scheme.exists(objectStoreSchemes.contains)
  }

  /** @param runId run-stamp for the output dir (reference `main.py:58-60`);
    *              caller-supplied so runs are reproducible/testable.
    * @param objectStoreCommit committer contract override; None = detect
    *   from `outputRoot`'s scheme. HDFS/local (false): partitioned
    *   overwrite is DYNAMIC — re-running one upgrade replaces only the
    *   partitions it writes, safe because directory rename is atomic.
    *   Object store (true): dynamic overwrite is disabled — S3A-style
    *   committers (magic/staging, `PathOutputCommitProtocol`) reject
    *   dynamicPartitionOverwrite because cleanup-and-rename of partition
    *   dirs is non-atomic copy there; isolation comes from the
    *   run-stamped per-job dir instead, and a re-run replaces that whole
    *   dir (write-once-per-runId semantics, the reference's own model —
    *   `upload.py:16-25` keys every object under a fresh `<ts>/` root). */
  def run(spark: SparkSession, spec: JobSpec, outputRoot: String, runId: String,
      objectStoreCommit: Option[Boolean] = None): Result = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(spec.srcRoot).getFileSystem(conf)

    // -- 1. Partition-pruned input selection (S1/P1): only the requested
    //    upgrade=/state= dirs are ever listed, mirroring prefix construction
    //    in fetch.py:60-83.
    val partDirs = spec.upgrades.map(u => s"${spec.srcRoot}/upgrade=$u/state=${spec.state}")
      .filter(p => fs.exists(new Path(p)))

    // Metadata bypass (S4) runs regardless of whether data partitions
    // exist — the reference appends metadata keys to the partition list
    // unconditionally (fetch.py:60-81), so a metadata-only job still
    // copies. Output is per-job (same isolation argument as jobDir: the
    // reference keys every copy by its full original source key, and two
    // releases share state_label metadata FILENAMES).
    val metadataOut = s"$outputRoot/$runId/metadata/${jobDir(spec)}"
    def copyMetadata(): Long = {
      val metaKeys = spec.upgrades.flatMap(u =>
        PartitionPaths.metadataKeys(spec.metadataRoot, u, spec.state))
      MetadataBypass.copyAll(conf, metaKeys, metadataOut)
    }

    if (partDirs.isEmpty) {
      // nothing listed for this job (reference: the ledger reports zeros and
      // the run succeeds — README.md:345-361 counts start at listed=0)
      val bypassed = copyMetadata()
      return Result(
        s"$outputRoot/$runId/data/${jobDir(spec)}", metadataOut,
        graft.ledger.Ledger.Report(0, 0, bypassed, 0, 0, Nil))
    }

    // FULL URIs (scheme intact) — anything that re-opens these files (the
    // footer-drift pass) must resolve them on the SOURCE filesystem, not
    // the default one. The ledger compares in scheme-stripped form (see
    // step 6) because _metadata.file_path and listings render schemes
    // differently.
    val listedUris: Seq[String] = listParquet(fs, partDirs)
    val listedFiles: Seq[String] = listedUris.map(u => new Path(u).toUri.getPath)

    // -- 2. Scan (S2/S3). ignoreCorruptFiles reproduces the reference's
    //    per-file failure tolerance (a bad file is skipped, surfaces in the
    //    ledger, and never kills the job — README.md:337-361).
    //    With a declared schema (S2 enforcement) the scan reads THAT schema:
    //    files missing a declared column yield nulls, extra columns are
    //    ignored, and the output schema is pinned regardless of which
    //    footer a crawler-style merge would have picked.
    //    The observation carries BOTH the row count and the distinct set of
    //    contributing file paths (collect_set over _metadata.file_path), so
    //    the ledger needs no second scan of the input — one FileScan per
    //    job. Path count is file-count-bounded: the driver already holds
    //    the full listing, so the metric adds no new driver-memory class.
    //    Observation name is unique per run: concurrent jobs in
    //    runAllParallel each get their own listener match.
    val obs = new Observation(s"etl_input_${java.util.UUID.randomUUID()}")
    val reader0 = spark.read
      .option("basePath", spec.srcRoot)
      .option("ignoreCorruptFiles", "true")
    val reader = spec.declaredSchema.fold(reader0)(reader0.schema)
    val input: DataFrame = reader
      .parquet(partDirs: _*)
      .withColumn("__src_file", col("_metadata.file_path"))
      .observe(obs,
        count(lit(1)).as("rows"),
        collect_set(col("__src_file")).as("paths"))
      .drop("__src_file")

    // -- 3. Transform (A1/A2): group by (upgrade, state[, bldg_id], hour).
    //    Measure columns are schema-on-read: every double column that isn't
    //    a key (the reference hardcodes its 51-name list and fails per-file
    //    when one is missing — transform.py:57-122; deriving from the schema
    //    generalizes that contract without changing results on conforming
    //    data, since the 51 are exactly the non-key doubles).
    val keyCols = Set("timestamp", "bldg_id", "upgrade", "state")
    val measures = input.schema.fields
      .filter(f => f.dataType == org.apache.spark.sql.types.DoubleType &&
        !keyCols.contains(f.name))
      .map(_.name).toSeq
    val aggregated = HourlyAggregate(
      input,
      measureCols = measures,
      byId = spec.byId,
      extraKeys = Seq("upgrade", "state"))

    // -- 4. Sink (S5): snappy parquet, hive layout preserved, run-stamped
    //    root, one subdir per job (see jobDir: jobs in one runAll must not
    //    clobber each other). On rename-capable filesystems,
    //    partitionOverwriteMode=dynamic additionally confines an overwrite
    //    to the upgrade=/state= partitions this job actually writes; on
    //    object stores that option is withheld (committers there reject
    //    it) and write-once-per-runId is the contract — see the scaladoc
    //    on [[run]].
    val objectStore = objectStoreCommit.getOrElse(isObjectStore(outputRoot, conf))
    val dataOut = s"$outputRoot/$runId/data/${jobDir(spec)}"
    val outObs = new Observation("etl_output")
    val writer0 = aggregated
      .observe(outObs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .option("compression", "snappy")
    val writer =
      if (objectStore) writer0
      else writer0.option("partitionOverwriteMode", "dynamic")
    writer
      .partitionBy("upgrade", "state")
      .parquet(dataOut)

    // -- 5. Metadata bypass (S4): raw byte copy, never decoded
    //    (fetch.py:143-149,161-196).
    val bypassed = copyMetadata()

    // -- 6. Ledger (M3): listed vs processed set-diff + counters. Processed
    //    paths come from the main pass's observation (no second scan).
    //    _metadata.file_path is the full, encoded URI (file:/…,
    //    s3a://bucket/…) while the listing uses toUri.getPath (decoded,
    //    scheme+authority stripped) — processedPath maps one onto the other.
    val processed: Set[String] = observedPaths(obs)
    val missing = listedFiles.filterNot(processed.contains).sorted

    // -- 7. Schema enforcement report (S2): footer-only diff vs the
    //    declared columns, distributed; empty when no schema is declared.
    val drift = spec.declaredSchema match {
      case Some(schema) => SchemaEnforce.detect(spark, listedUris, schema)
      case None => Nil
    }

    val report = Ledger.Report(
      listed = listedFiles.size,
      processed = listedFiles.size - missing.size,
      bypassed = bypassed,
      inputRows = observedRows(obs),
      outputRows = observedRows(outObs),
      discrepancies = missing,
      schemaDrift = drift)

    // -- 8. Manifest: the run's processed source files, persisted so later
    //    runs can subtract them (the ledger driving SCHEDULING, not just
    //    reporting — see runIncremental). Driver-side write; file-count
    //    sized, same memory class as the listing itself.
    writeManifest(conf, manifestPath(outputRoot, runId, spec),
      listedFiles.filterNot(missing.contains))

    Result(dataOut, metadataOut, report)
  }

  private def manifestPath(outputRoot: String, runId: String, spec: JobSpec): Path =
    new Path(s"$outputRoot/$runId/manifest/${jobDir(spec)}/processed.txt")

  /** The manifest lives under OUTPUTROOT — resolve its own filesystem,
    * never the source's (srcRoot=s3a:// + outputRoot=hdfs:// would
    * otherwise crash, and a scheme-less outputRoot would silently write
    * the manifest where processedSoFar never looks). */
  private def writeManifest(conf: org.apache.hadoop.conf.Configuration,
      path: Path, files: Seq[String]): Unit = {
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    try out.write(files.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Recursive .parquet listing of the given dirs (full URIs), without a
    * per-file permission lookup (see [[graft.core.Listing]]). */
  private def listParquet(fs: FileSystem, dirs: Seq[String]): Seq[String] =
    dirs.flatMap { dir =>
      graft.core.Listing.files(fs, new Path(dir), _.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }

  /** An observation whose plan ran no task (every input file unreadable)
    * completes with no row at all: read that as zero rows, no paths. */
  private def observedRows(obs: Observation): Long =
    obs.get.get("rows").fold(0L)(_.asInstanceOf[Long])

  private def observedPaths(obs: Observation): Set[String] =
    obs.get.get("paths") match {
      case Some(s: Seq[_]) => s.map(p => processedPath(p.toString)).toSet
      case None => Set.empty
      case Some(other) => sys.error(s"unexpected observation payload: $other")
    }

  /** `_metadata.file_path` is an ENCODED URI (`file:/a%20b/x.parquet`,
    * `s3a://bucket/k`) while the listing's ledger form is the decoded,
    * scheme-stripped path (`toUri.getPath`) — parse it as a URI so both
    * sides agree, including on paths with spaces or other escaped chars. */
  private def processedPath(p: String): String =
    new Path(new java.net.URI(p)).toUri.getPath

  /** Union of every prior run's processed files for this job (any runId
    * under `outputRoot`). Scheme-stripped paths, matching the ledger's
    * normal form. */
  def processedSoFar(spark: SparkSession, outputRoot: String, spec: JobSpec): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(outputRoot)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).filter(_.isDirectory).flatMap { run =>
      val m = new Path(run.getPath, s"manifest/${jobDir(spec)}/processed.txt")
      if (!fs.exists(m)) Seq.empty[String]
      else {
        val in = fs.open(m)
        try new String(in.readAllBytes(), "UTF-8").linesIterator
          .filter(_.nonEmpty).toSeq
        finally in.close()
      }
    }.toSet
  }

  /** Incremental run: process only source files NO prior run under
    * `outputRoot` has processed (per the run manifests), writing a fresh
    * run dir. The incremental unit is the FILE — the reference's own unit
    * of work (its queues carry file keys; its ledger hashes file keys).
    *
    * Correctness precondition, stated plainly: aggregation groups must not
    * span files. The reference's layout guarantees it (one building's
    * time series per file — `transform.py:59-61` — and hour groups are
    * file-local), so new files are new groups and run outputs UNION
    * cleanly. For inputs where a group straddles old and new files, a
    * `_mean` of partial runs is NOT the global `_mean` — use a full
    * [[run]] (or compact inputs per group first). This is the same
    * contract every incremental-materialization system imposes; it is the
    * reason `Report.inputRows` and the manifests exist.
    *
    * Metadata bypass re-copies unconditionally (byte copy, idempotent,
    * keyed by run — the reference re-copies per run too). */
  def runIncremental(spark: SparkSession, spec: JobSpec, outputRoot: String,
      runId: String, objectStoreCommit: Option[Boolean] = None): Result = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(spec.srcRoot).getFileSystem(conf)
    val partDirs = spec.upgrades.map(u => s"${spec.srcRoot}/upgrade=$u/state=${spec.state}")
      .filter(p => fs.exists(new Path(p)))
    val listedUris: Seq[String] = listParquet(fs, partDirs)
    val prior = processedSoFar(spark, outputRoot, spec)
    val newUris = listedUris.filterNot(u => prior.contains(new Path(u).toUri.getPath))
    val metadataOut = s"$outputRoot/$runId/metadata/${jobDir(spec)}"
    val bypassed = {
      val metaKeys = spec.upgrades.flatMap(u =>
        PartitionPaths.metadataKeys(spec.metadataRoot, u, spec.state))
      MetadataBypass.copyAll(conf, metaKeys, metadataOut)
    }
    val dataOut = s"$outputRoot/$runId/data/${jobDir(spec)}"
    if (newUris.isEmpty)
      return Result(dataOut, metadataOut,
        Ledger.Report(0, 0, bypassed, 0, 0, Nil))

    val newFiles = newUris.map(u => new Path(u).toUri.getPath)
    val obs = new Observation(s"etl_incr_${java.util.UUID.randomUUID()}")
    val reader0 = spark.read
      .option("basePath", spec.srcRoot)
      .option("ignoreCorruptFiles", "true")
    val reader = spec.declaredSchema.fold(reader0)(reader0.schema)
    val input = reader.parquet(newUris: _*)
      .withColumn("__src_file", col("_metadata.file_path"))
      .observe(obs,
        count(lit(1)).as("rows"),
        collect_set(col("__src_file")).as("paths"))
      .drop("__src_file")
    val keyCols = Set("timestamp", "bldg_id", "upgrade", "state")
    val measures = input.schema.fields
      .filter(f => f.dataType == org.apache.spark.sql.types.DoubleType &&
        !keyCols.contains(f.name))
      .map(_.name).toSeq
    val aggregated = HourlyAggregate(
      input, measureCols = measures, byId = spec.byId,
      extraKeys = Seq("upgrade", "state"))
    val objectStore = objectStoreCommit.getOrElse(isObjectStore(outputRoot, conf))
    val outObs = new Observation(s"etl_incr_out_${java.util.UUID.randomUUID()}")
    val writer0 = aggregated
      .observe(outObs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .option("compression", "snappy")
    val writer =
      if (objectStore) writer0
      else writer0.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("upgrade", "state").parquet(dataOut)

    val processed: Set[String] = observedPaths(obs)
    val missing = newFiles.filterNot(processed.contains).sorted
    val drift = spec.declaredSchema match {
      case Some(schema) => SchemaEnforce.detect(spark, newUris, schema)
      case None => Nil
    }
    writeManifest(conf, manifestPath(outputRoot, runId, spec),
      newFiles.filterNot(missing.contains))
    Result(dataOut, metadataOut, Ledger.Report(
      listed = newFiles.size,
      processed = newFiles.size - missing.size,
      bypassed = bypassed,
      inputRows = observedRows(obs),
      outputRows = observedRows(outObs),
      discrepancies = missing,
      schemaDrift = drift))
  }

  /** Run every job in a config (reference `main.py:64-108` fan-out; jobs are
    * independent Spark jobs and may share the session). */
  def runAll(spark: SparkSession, cfg: EtlConfig, runId: String): Seq[Result] =
    cfg.jobs.map(run(spark, _, cfg.outputRoot, runId, cfg.objectStoreCommit))

  /** Mint the run stamp the way the reference does (`main.py:58-60`:
    * a fresh `yyyy-MM-dd'T'HHmm` UTC timestamp per invocation) and run the
    * whole config under it. The explicit-`runId` overloads stay the
    * primary API — reproducible runs, testability — this is the
    * operational convenience entry point. Returns the minted id with the
    * results so callers can locate/record the output root. */
  def runAllStamped(spark: SparkSession, cfg: EtlConfig): (String, Seq[Result]) = {
    val runId = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HHmm")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    (runId, runAll(spark, cfg, runId))
  }

  /** Concurrent fan-out (reference `asyncio.gather`, `main.py:108` — which
    * its README flags as "untested in parallel"; here it is tested). Each
    * job runs on its own driver thread in its OWN scheduler pool: under
    * FAIR mode (set in [[graft.core.Sessions]]) fairness applies BETWEEN
    * pools, while jobs sharing one pool would queue FIFO inside it — a
    * large first job would still starve the rest. Executors are shared;
    * output isolation comes from the per-job subdirs (see [[jobDir]]), so
    * concurrency needs no extra coordination. */
  def runAllParallel(spark: SparkSession, cfg: EtlConfig, runId: String,
      poolName: String = "graft-etl"): Seq[Result] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = cfg.jobs.zipWithIndex.map { case (spec, i) =>
      Future {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"$poolName-$i")
        try run(spark, spec, cfg.outputRoot, runId, cfg.objectStoreCommit)
        finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
  }
}

/** Raw passthrough copy of metadata files (S4). The reference S3-copies
  * without decoding; byte-identity is the contract. */
object MetadataBypass {
  def copyAll(conf: org.apache.hadoop.conf.Configuration,
      srcKeys: Seq[String], destDir: String): Long = {
    val dest = new Path(destDir)
    val destFs = dest.getFileSystem(conf)
    destFs.mkdirs(dest)
    srcKeys.count { key =>
      val src = new Path(key)
      val srcFs = src.getFileSystem(conf)
      srcFs.exists(src) && FileUtil.copy(
        srcFs, src, destFs, new Path(dest, src.getName),
        false /* deleteSource */, true /* overwrite */, conf)
    }.toLong
  }
}
