package graft.etl

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ledger.Ledger

/** End-to-end ETL job: the Spark re-expression of the reference pipeline
  * (`/root/reference/etl/oedi_etl/{main,etl_job,fetch,transform,upload}.py`,
  * lifecycle SURVEY §3.1 stages 4-12).
  *
  * The reference's queue/worker/backpressure plumbing dissolves into Spark's
  * scheduler (SURVEY §2.7): listing+pruning = one walk per partition prefix,
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
    // -- 1. Partition-pruned input selection (S1/P1): only the requested
    //    upgrade=/state= prefixes are listed (fetch.py:60-83).
    // -- 2. Listing: one walk per prefix; its .parquet files are what the
    //    ledger accounts for AND what the scan opens (runIncremental drops
    //    what earlier runs processed). Steps 3-9 are `process`.
    process(spark, spec, outputRoot, runId, objectStoreCommit, listParquet(spark, spec))
  }

  /** One listed source file and the (fs-qualified) partition dir it was
    * listed under; its status keeps the FULL URI, scheme intact. */
  private[etl] final case class Listed(dir: Path, status: FileStatus) {
    def uri: String = status.getPath.toString
    /** The ledger's form: decoded, scheme-stripped (see [[processedPath]]). */
    def path: String = status.getPath.toUri.getPath
  }

  private def dataOut(outputRoot: String, runId: String, spec: JobSpec): String =
    s"$outputRoot/$runId/data/${jobDir(spec)}"

  private def metadataOut(outputRoot: String, runId: String, spec: JobSpec): String =
    s"$outputRoot/$runId/metadata/${jobDir(spec)}"

  /** Metadata bypass (S4): raw byte copy, never decoded
    * (fetch.py:143-149,161-196). It runs whether or not data partitions
    * exist — the reference appends metadata keys to the partition list
    * unconditionally (fetch.py:60-81), so a metadata-only job still
    * copies. Output is per-job (same isolation argument as jobDir: the
    * reference keys every copy by its full original source key, and two
    * releases share state_label metadata FILENAMES). */
  private def copyMetadata(spark: SparkSession, spec: JobSpec, outputRoot: String,
      runId: String): Long = {
    val metaKeys = spec.upgrades.flatMap(u =>
      PartitionPaths.metadataKeys(spec.metadataRoot, u, spec.state))
    MetadataBypass.copyAll(spark.sparkContext.hadoopConfiguration, metaKeys,
      metadataOut(outputRoot, runId, spec))
  }

  /** What [[run]], [[runIncremental]] and each [[runStream]] batch share,
    * over one listing: footer pass, scan, aggregate, partitioned write,
    * bypass, ledger, manifest. */
  private def process(spark: SparkSession, spec: JobSpec, outputRoot: String, runId: String,
      objectStoreCommit: Option[Boolean], files: Seq[Listed]): Result = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ledgerFiles = files.map(_.path)
    val out = dataOut(outputRoot, runId, spec)

    // -- 3. Footer pass, before the scan: each listed footer opened once,
    //    distributed. It yields the schema enforcement report (S2: a
    //    footer-only diff vs the declared columns, empty when none is
    //    declared), the read schema when none is declared, and the facts
    //    that decide the plan in step 5 and the ledger in step 8.
    val footers = SchemaEnforce.footers(spark, files.map(_.uri), spec.declaredSchema,
      idCol = "bldg_id")

    // -- 4. Scan (S2/S3) of the listing. ignoreCorruptFiles reproduces the
    //    per-file failure tolerance (a bad file is skipped, surfaces in the
    //    ledger, and never kills the job — README.md:337-361).
    //    With a declared schema (S2 enforcement) the scan reads THAT schema:
    //    files missing a declared column yield nulls, extra columns are
    //    ignored, and the output schema is pinned regardless of which
    //    footer a crawler-style merge would have picked. Without one it
    //    reads the first readable footer's schema; with no readable footer
    //    there is nothing to read, and neither scan nor write runs.
    //    The observation carries BOTH the row count and the distinct set of
    //    contributing file paths (collect_set over _metadata.file_path), so
    //    the ledger needs no second scan of the input — one FileScan per
    //    job. Path count is file-count-bounded: the driver already holds
    //    the full listing, so the metric adds no new driver-memory class.
    //    Observation names are unique per run: concurrent jobs in
    //    runAllParallel each get their own listener match.
    val (inputRows, outputRows, scanned) =
      spec.declaredSchema.filter(_ => files.nonEmpty).orElse(footers.firstSchema) match {
        case None => (0L, 0L, Set.empty[String])
        case Some(schema) =>
          val obs = new Observation(s"etl_input_${java.util.UUID.randomUUID()}")
          val read = scan(spark, spec.srcRoot, files, schema)
          val input = read
            .withColumn("__src_file", col("_metadata.file_path"))
            .observe(obs,
              count(lit(1)).as("rows"),
              collect_set(col("__src_file")).as("paths"))

          // -- 5. Transform (A1/A2): group by (upgrade, state[, bldg_id], hour).
          //    Measure columns are schema-on-read (HourlyAggregate.measures).
          //    When the footers prove every group file-local, each scan task
          //    aggregates its own files (FileLocalAggregate: one stage, no
          //    exchange); otherwise HourlyAggregate's partial aggregate +
          //    hash shuffle.
          val measures = HourlyAggregate.measures(read.schema)
          val aggregated =
            if (spec.byId && fileLocal(spark, read, files, footers))
              FileLocalAggregate(input, "__src_file", measureCols = measures,
                extraKeys = Seq("upgrade", "state"))
            else
              HourlyAggregate(input.drop("__src_file"), measureCols = measures,
                byId = spec.byId, extraKeys = Seq("upgrade", "state"))

          // -- 6. Sink (S5): snappy parquet, hive layout preserved,
          //    run-stamped root, one subdir per job (see jobDir: jobs in one
          //    runAll must not clobber each other). On rename-capable
          //    filesystems, partitionOverwriteMode=dynamic additionally
          //    confines an overwrite to the upgrade=/state= partitions this
          //    job actually writes; on object stores that option is
          //    withheld (committers there reject it) and
          //    write-once-per-runId is the contract — see the scaladoc on
          //    [[run]].
          val objectStore = objectStoreCommit.getOrElse(isObjectStore(outputRoot, conf))
          val outObs = new Observation(s"etl_output_${java.util.UUID.randomUUID()}")
          val writer0 = aggregated
            .observe(outObs, count(lit(1)).as("rows"))
            .write.mode("overwrite")
            .option("compression", "snappy")
          val writer =
            if (objectStore) writer0
            else writer0.option("partitionOverwriteMode", "dynamic")
          writer.partitionBy("upgrade", "state").parquet(out)
          (observedRows(obs), observedRows(outObs), observedPaths(obs))
      }

    // -- 7. Metadata bypass (S4), see copyMetadata.
    val bypassed = copyMetadata(spark, spec, outputRoot, runId)

    // -- 8. Ledger (M3): listed vs processed set-diff + counters. Processed
    //    paths come from the main pass's observation (no second scan) and
    //    the footers of files with no row. _metadata.file_path is the full,
    //    encoded URI (file:/…, s3a://bucket/…) while the listing uses
    //    toUri.getPath (decoded, scheme+authority stripped) — processedPath
    //    maps one onto the other.
    val empty = footers.files.collect { case (i, f) if f.rows == 0 => ledgerFiles(i) }.toSet
    val missing = ledgerFiles.filterNot(p => scanned.contains(p) || empty.contains(p)).sorted
    val report = Ledger.Report(
      listed = ledgerFiles.size,
      processed = ledgerFiles.size - missing.size,
      bypassed = bypassed,
      inputRows = inputRows,
      outputRows = outputRows,
      discrepancies = missing,
      schemaDrift = footers.drift)

    // -- 9. Manifest: the run's processed source files, persisted so later
    //    runs can subtract them (the ledger driving SCHEDULING, not just
    //    reporting — see runIncremental). Driver-side write; file-count
    //    sized, same memory class as the listing itself.
    writeManifest(conf, manifestPath(outputRoot, runId, spec),
      ledgerFiles.filterNot(missing.toSet))

    Result(out, metadataOut(outputRoot, runId, spec), report)
  }

  /** True when the footers prove that no (upgrade, state, bldg_id, hour)
    * group spans two scan splits, so each scan task may aggregate its own
    * files to final groups:
    *  - every readable file with rows has `bldg_id` statistics with zero
    *    nulls, and either one row group (each row group is read by exactly
    *    one split) or a length no split size can cut — at most
    *    `min(maxPartitionBytes, openCostInBytes)`, the floor of Spark's
    *    split size;
    *  - within each upgrade=/state= dir, different files' `[min, max]`
    *    `bldg_id` ranges do not overlap (different dirs differ in
    *    upgrade or state).
    * Unreadable files contribute no rows: the scan skips them too. */
  private def fileLocal(spark: SparkSession, read: DataFrame, files: Seq[Listed],
      footers: SchemaEnforce.Footers): Boolean = {
    val sqlConf = spark.sessionState.conf
    val unsplittable = math.min(sqlConf.filesMaxPartitionBytes, sqlConf.filesOpenCostInBytes)
    val withRows = files.zipWithIndex.flatMap { case (f, i) =>
      footers.files.get(i).filter(_.rows > 0).map(f -> _)
    }
    FileLocalAggregate.supports(read, "timestamp", "bldg_id") &&
      withRows.forall { case (f, ff) =>
        ff.idRange.isDefined && (ff.rowGroups == 1 || f.status.getLen <= unsplittable)
      } &&
      withRows.groupBy(_._1.dir).values.forall { inDir =>
        val ranges = inDir.map(_._2.idRange.get).sortBy(_._1)
        ranges.zip(ranges.drop(1)).forall { case (a, b) => a._2 < b._1 }
      }
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

  /** The requested `upgrade=`/`state=` prefixes, fs-qualified. */
  private def prefixes(spark: SparkSession, spec: JobSpec): (FileSystem, Seq[Path]) = {
    val fs = new Path(spec.srcRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, spec.upgrades.map(u =>
      fs.makeQualified(new Path(s"${spec.srcRoot}/upgrade=$u/state=${spec.state}"))))
  }

  /** The job's one listing: each requested prefix's `.parquet` files. */
  private[etl] def listParquet(spark: SparkSession, spec: JobSpec): Seq[Listed] = {
    val (fs, dirs) = prefixes(spark, spec)
    dirs.flatMap(dir =>
      graft.core.Listing.files(fs, dir, _.getName.endsWith(".parquet")).map(Listed(dir, _)))
  }

  /** What `spark.read.schema(schema).option("basePath", srcRoot)
    * .parquet(dirs)` builds, with `ignoreCorruptFiles`, over exactly the
    * listed `files`: its file index asks a private cache, which answers
    * each qualified dir from the listing and stores nothing, so the scan
    * lists nothing and no other reader of these dirs sees this listing. */
  private[etl] def scan(spark: SparkSession, srcRoot: String, files: Seq[Listed],
      schema: StructType): DataFrame = {
    val byDir = files.groupBy(_.dir)
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byDir.get(path).map(_.map(_.status).toArray)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.dir).distinct,
      Map("basePath" -> srcRoot), Some(schema), listed)
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => spark.sessionState.conf.resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      GraftBridge.asNullable(dataSchema), None, new ParquetFileFormat,
      Map("ignoreCorruptFiles" -> "true"))(spark))
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
    * Correctness precondition: aggregation groups must not span an
    * already-processed file and a new one. The reference's layout
    * guarantees it (one building's time series per file —
    * `transform.py:59-61` — and hour groups are file-local), so new files
    * are new groups and run outputs UNION cleanly. Within the run it is
    * checked, not assumed: the footer pass proves the new files' groups
    * file-local before the one-stage plan is chosen, and otherwise the
    * shuffle plan merges groups that span new files. A group that
    * straddles old and new files is not visible to that check: its `_mean`
    * over partial runs is NOT the global `_mean` — use a full [[run]] (or
    * compact inputs per group first). This is the same contract every
    * incremental-materialization system imposes; it is the reason
    * `Report.inputRows` and the manifests exist.
    *
    * Metadata bypass re-copies unconditionally (byte copy, idempotent,
    * keyed by run — the reference re-copies per run too). */
  def runIncremental(spark: SparkSession, spec: JobSpec, outputRoot: String,
      runId: String, objectStoreCommit: Option[Boolean] = None): Result = {
    val prior = processedSoFar(spark, outputRoot, spec)
    process(spark, spec, outputRoot, runId, objectStoreCommit,
      listParquet(spark, spec).filterNot(f => prior.contains(f.path)))
  }

  /** Stream run: every source file no earlier batch under `checkpointDir`
    * has taken, `maxFilesPerTrigger` whole files per micro-batch (the
    * reference's listing page size), each micro-batch through the same
    * step as [[run]] — footer pass, corrupt-file tolerance, the
    * file-local plan, metadata bypass, ledger and manifest — as run
    * `batch-<id>` under `outputRoot`. The stream only lists: a
    * `binaryFile` source over the requested prefixes that never reads a
    * file's content, so the batch's files reach the step as its listing.
    * A batch that failed is replayed with the same files and run id on
    * restart and replaces its first attempt. The `AvailableNow` trigger
    * drains what is there and returns (the reference's idle watchdog);
    * re-invoke on a schedule. The manifests are [[runIncremental]]'s, so
    * a later `runIncremental` into `outputRoot` skips every file a batch
    * processed. Batches union cleanly under [[runIncremental]]'s
    * precondition, with batches in place of runs: no group spans two.
    * Returns the results of the batches this call ran. */
  def runStream(spark: SparkSession, spec: JobSpec, outputRoot: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 500): Seq[Result] = {
    val (_, dirs) = prefixes(spark, spec)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Result]()
    // `path` is the Hadoop path's decoded string form: parse it as a path,
    // not as a URI, so no escape is decoded twice
    def runBatch(batch: DataFrame, id: Long): Unit = {
      val files = batch.collect().toSeq.map { r =>
        val status = new FileStatus(r.getLong(1), false, 0, 0,
          r.getTimestamp(2).getTime, new Path(r.getString(0)))
        val file = status.getPath.toString
        Listed(dirs.find(d => file.startsWith(s"$d/")).get, status)
      }
      results.add(process(spark, spec, outputRoot, s"batch-$id", None, files))
    }
    spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(s"${spec.srcRoot}/upgrade={${spec.upgrades.mkString(",")}}/state=${spec.state}")
      .select("path", "length", "modificationTime")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(runBatch _)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    results.toArray(Array.empty[Result]).toSeq
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
    * concurrency needs no extra coordination. The threads are
    * [[graft.core.Materialize.concurrently]]'s: every job also carries the
    * caller's job group and description. */
  def runAllParallel(spark: SparkSession, cfg: EtlConfig,
      runId: String): Seq[Result] =
    graft.core.Materialize.concurrently(spark)(cfg.jobs.zipWithIndex.map {
      case (spec, i) => () =>
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-etl-$i")
        run(spark, spec, cfg.outputRoot, runId, cfg.objectStoreCommit)
    })
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
