package graft.core

import org.apache.spark.sql.SparkSession

/** One place for engine session tuning (all mains + tests go through here).
  *
  * [[builder]] holds the settings every engine session carries, test and
  * demo sessions included. Two of them keep the classes Spark generates
  * from one run of a query to the next:
  *
  * - `spark.sql.codegen.cache.maxEntries` = 1000, not Spark's 100. Spark
  *   keeps generated classes in one LRU cache per JVM. One steady-state
  *   `x0_pipeline` run needs about 190 of them, so at 100 every class is
  *   evicted before the next run needs it again and Janino recompiles all
  *   of them on every run (193–197 compilations per run at sf0.1; Janino
  *   was in 6.8% of JFR execution samples over runs 2–8, 4-core host,
  *   and in none at 1000). 1000 is the smallest round value with 5×
  *   headroom over the largest flagship: `Profile` warm-up compilations
  *   in a fresh JVM at sf0.1 are 182 for `x0_pipeline`, 58 for
  *   `x0_media_pipeline`, 54 for `x0_linkage` and 34 for
  *   `x0_web_pipeline` (328 together). Metaspace used after ten
  *   `x0_pipeline` runs at sf0.1: 175.5 MB at 100, 172.8 MB at 1000.
  *   This is a STATIC conf: Spark reads it once per JVM, when
  *   `CodeGenerator` is first initialised. It only takes effect when a
  *   session built here is the first to generate code in the JVM. A
  *   builder that runs after another session exists gets that session,
  *   and the cache keeps the size it was created with.
  * - `spark.sql.codegen.useIdInClassName` = false. The cache is keyed on
  *   the generated source, and by default the whole-stage class name
  *   carries the codegen stage id. AQE hands the ids out in the order it
  *   plans its query stages, which varies from run to run, so the same
  *   stage gets a new id and a new class on a later run (0–12
  *   compilations per steady-state `x0_pipeline` run at sf0.1 with the
  *   id, 0–4 without; those 4 are real plan variants). The id stays in the
  *   plan and in the generated source's comment; profiles show every
  *   stage as `GeneratedIterator`.
  *
  * [[local]] adds the engine's local-mode tuning:
  *
  * - shuffle.partitions = 32: the local-mode contract (matches cores; at
  *   cluster scale this becomes executors × cores and AQE re-plans anyway).
  * - AQE on with `parallelismFirst=true` (the Spark default, restored after
  *   a measured regression): with parallelism-first, AQE coalesces a
  *   post-shuffle stage only down to `max(totalBytes / defaultParallelism,
  *   minPartitionSize)` — stage width tracks available cores until the data
  *   genuinely shrinks. Targeting `advisoryPartitionSizeInBytes` instead
  *   (`parallelismFirst=false`, tried in round 2) serialized every
  *   window/sort-heavy stage: those stages are CPU-bound per row but small
  *   in compressed bytes, so a byte-size target starves them of cores
  *   (measured 3-6x slowdown on as-of/lag/frame queries at 10x scale).
  * - minPartitionSize 64k, not the 1 MB default, for the same reason: the
  *   1 MB floor re-introduces under-parallelism exactly on the CPU-dense
  *   stages (a 12 MB compressed window input coalesced to 1 MB chunks is
  *   12 tasks on 32 cores). 64k keeps sub-64k stages collapsing to one
  *   task (the trivial-query latency win) while CPU-bound mid-size stages
  *   get full width. At 100 TB the `totalBytes / parallelism` term
  *   dominates and both knobs are inert — they only govern the small end.
  */
object Sessions {

  /** A builder with the settings every engine session carries: the
    * engine's SQL extensions, UTC session time, instant-typed parquet
    * timestamps, no UI and a codegen cache that keeps the flagships'
    * generated classes. Callers add their own `shuffle.partitions` and
    * anything else that is theirs. */
  def builder(master: String, appName: String): SparkSession.Builder =
    SparkSession.builder()
      // the engine's own sessions carry its SQL surface natively: injected
      // functions (cosine_sim, top_k_by, ...) plus the conf-gated
      // RangeJoinRewrite optimizer rule. Only the FIRST session creation in
      // a JVM applies extensions (getOrCreate reuses otherwise) — every
      // main and every spec builds through here, so that is this line.
      .withExtensions(new graft.GraftExtensions()(_))
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet timestamps WITHOUT isAdjustedToUTC (plain `timestamp[us]`,
      // what pandas/pyarrow write by default) read as TIMESTAMP_NTZ under
      // Spark 4's default inference. The engine's contract is
      // instant-semantics UTC throughout (session TZ above, mirroring the
      // reference's tz=utc transform), and the DuckDB oracle reads the same
      // files as naive-UTC TIMESTAMP — so pin inference to TimestampType.
      // Wall-clock values are identical under UTC; this only picks the type.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // keep generated classes across runs (object scaladoc); the cache
      // size is static: read once per JVM
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      appName: String = "graft"): SparkSession = {
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "on") != "off"
    val s = builder(s"local[$cores]", appName)
      .config("spark.sql.shuffle.partitions", "32")
      // FAIR so concurrent driver threads (JobRunner.runAllParallel) share
      // executors instead of queueing whole jobs FIFO; no effect on
      // single-job runs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // autoBroadcastJoinThreshold stays at the 10 MB DEFAULT deliberately.
      // Raising it to 32 MB was tried (it converts the mid-size-dim SMJ of
      // q14 into a BHJ) and reverted: the planner compares the threshold
      // against a size ESTIMATE (file bytes x column-pruning ratio, filters
      // not discounted), and at 10x scale that estimate let a FILTERED
      // 3M-row fact table slip under the bar — a 2.7 s broadcast build of
      // lineitem in q39. Intentional mid-size-dim broadcasts are expressed
      // per-join with an explicit broadcast() hint instead (q14, q39):
      // the author knows the true post-filter cardinality; the estimator
      // does not.
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
