package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Sessions
import graft.etl._
import graft.queries.QueryRegistry

/** The benchmark's JVM side: one client, closed loop, calling the engine
  * only through its public entry points. It writes every raw measurement
  * (set-up repetitions, every timed operation with the data needed to check
  * it, layer metrics and spans when traced) to one JSON file; `run.py`
  * checks the outputs and turns the measurements into metrics.
  *
  * Usage: `perfbench.Driver <workload> <fixtureDir> <workDir> <seconds>
  * <trace 0|1> <cores> <outJson>`
  */
object Driver {

  final case class Opts(workload: String, fixture: String, work: String,
      seconds: Double, trace: Boolean, cores: String, out: String)

  /** Set-up repetitions (session starts and warm-up operations). */
  val SetupReps = 3
  /** Fewest timed operations in a run. */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: Driver <workload> <fixture> <work> <seconds> <trace> <cores> <out>")
    val o = Opts(args(0), args(1), args(2), args(3).toDouble, args(4) == "1", args(5), args(6))
    val w: Workload = o.workload match {
      case "etl_full" => new EtlWorkload(o, incremental = false)
      case "etl_incremental" => new EtlWorkload(o, incremental = true)
      case "saved_queries" => new QueriesWorkload(o)
      case "corpus_pipeline" => new PipelineWorkload(o)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: start the session SetupReps times (stopping all but the last),
    // then warm it up with SetupReps untimed operations on the workload's
    // own input; set-up repetition i is session start i plus warm-up i
    var spark: SparkSession = null
    val starts = (1 to SetupReps).map { i =>
      val (session, t) = time(Sessions.local(o.cores, "perfbench"))
      if (i < SetupReps) session.stop() else spark = session
      t
    }
    w.prepare(spark)
    val warms = (1 to SetupReps).map(i => w.op(spark, s"warmup-$i", Tracer.Off).wallS)
    val setups = starts.zip(warms).map { case (s, wu) =>
      Map("session_start_s" -> s, "warmup_s" -> wu)
    }

    val tracer = new Tracer(spark)
    // closed loop, one client: the next operation starts when the previous
    // one (and its output check) is done. The count fills `seconds` at the
    // workload's nominal operation time and is the same on every commit: a
    // count that grew with speed would also move the median further down
    // the JIT warm-up curve. A traced run alternates untraced and traced
    // operations, so the same run yields the tracing overhead.
    val count = math.max(MinOps, math.ceil(o.seconds / w.nominalOpS).toInt)
    val ops = (0 until count).map { i =>
      val traced = o.trace && i % 2 == 1
      if (traced) tracer.enable()
      val op = w.op(spark, s"op-$i", tracer)
      tracer.disable()
      op.record ++ Map("i" -> i, "traced" -> traced, "wall_s" -> op.wallS)
    }
    val layers: Map[String, Double] =
      if (o.trace) {
        tracer.enable()
        val l = w.layers(spark, tracer, ops)
        tracer.disable()
        l ++ overhead(ops)
      } else Map.empty
    w.cleanup(spark)

    val out = Map(
      "workload" -> o.workload,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "cores" -> o.cores,
      "setups" -> setups,
      "ops" -> ops,
      "info" -> w.info,
      "layers" -> layers,
      "spans" -> tracer.spansJson,
      "peak_rss_kb" -> peakRssKb)
    spark.stop()
    Files.write(Paths.get(o.out), Json(out).getBytes("UTF-8"))
  }

  /** VmHWM: the resident-set high-water mark of this JVM. */
  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }
  }

  /** (bytes, files) of the parquet part files under `dir`. */
  def partFiles(dir: String): (Long, Long) = {
    val all = Files.walk(Paths.get(dir))
    try {
      val parts = all.iterator.asScala.filter(f =>
        Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).toSeq
      (parts.map(Files.size).sum, parts.size.toLong)
    } finally all.close()
  }

  def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => String.valueOf(v)))

  /** Per-traced-operation layer metrics, reduced to their medians. */
  def medians(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> median(maps.flatMap(_.get(k)))).toMap

  def opsTime(ops: Seq[Map[String, Any]], traced: Boolean): Double =
    median(ops.filter(_("traced") == traced).map(_("wall_s").asInstanceOf[Double]))

  /** Traced minus untraced operation time: the tracing overhead. */
  def overhead(ops: Seq[Map[String, Any]]): Map[String, Double] = {
    val t = opsTime(ops, traced = true)
    val u = opsTime(ops, traced = false)
    Map("trace.overhead_s" -> (t - u), "trace.overhead_ratio" -> (t - u) / u)
  }
}

final case class Op(wallS: Double, record: Map[String, Any])

trait Workload {
  /** Typical operation time on a 4-core host; sets the operation count. */
  def nominalOpS: Double
  /** Input preparation that needs the engine, run once before the
    * warm-up and excluded from set-up time. */
  def prepare(spark: SparkSession): Unit = ()
  /** One timed operation; `label` names it (the ETL run id). */
  def op(spark: SparkSession, label: String, tr: Tracer): Op
  /** Traced run only: per-layer metrics from the traced operations plus
    * one call into each layer the operation does not expose on its own. */
  def layers(spark: SparkSession, tr: Tracer, ops: Seq[Map[String, Any]]): Map[String, Double]
  def cleanup(spark: SparkSession): Unit = ()
  def info: Map[String, Any] = Map.empty
}

/** `JobRunner.run` (full) or `JobRunner.runIncremental` over an OEDI-shaped
  * source, configured through `EtlConfig.fromJson` in the reference's
  * config shape. */
final class EtlWorkload(o: Driver.Opts, incremental: Boolean) extends Workload {
  import Driver._

  def nominalOpS: Double = if (incremental) 3.0 else 2.0
  private val outRoot = s"${o.work}/out"
  private val upgrades = if (incremental) Seq(0, 1, 2) else Seq(0, 1)
  /** partitions the timed operation actually processes */
  private val newUpgrades = if (incremental) Seq(2) else upgrades
  private val samples = Samples.read(s"${o.fixture}/expected.json")

  private def config(fixture: String, ups: Seq[Int], out: String): EtlConfig =
    EtlConfig.fromJson(
      s"""{"output_root": "$out",
         | "job_specific": [{
         |   "release_name": "comstock_amy2018_release_2", "release_year": "2024",
         |   "state": "AK", "upgrades": [${ups.mkString(",")}],
         |   "src_root": "$fixture/src", "metadata_root": "$fixture/meta",
         |   "declared_schema": "energy_timeseries"}]}""".stripMargin)

  private def runOnce(spark: SparkSession, cfg: EtlConfig, runId: String): JobRunner.Result = {
    val spec = cfg.jobs.head
    if (incremental) JobRunner.runIncremental(spark, spec, cfg.outputRoot, runId, cfg.objectStoreCommit)
    else JobRunner.run(spark, spec, cfg.outputRoot, runId, cfg.objectStoreCommit)
  }

  /** the run directory left by the previous operation, removed before the
    * next one starts so every operation sees the same prior-run state */
  private var pending: Option[String] = None
  private var last: Option[JobRunner.Result] = None
  /** traced saved queries over the last operation's output (full runs) */
  private var probeOps = Seq.empty[Map[String, Any]]
  private val QueryProbeOps = 9

  override def info: Map[String, Any] = Map("probe_ops" -> probeOps)

  override def prepare(spark: SparkSession): Unit = {
    deleteTree(outRoot)
    // the prior run whose manifest already covers upgrades 0 and 1
    if (incremental) JobRunner.run(spark, config(o.fixture, Seq(0, 1), outRoot).jobs.head,
      outRoot, "prior")
  }

  def op(spark: SparkSession, runId: String, tr: Tracer): Op = {
    pending.foreach(deleteTree)
    val (res, wall) = time(tr.span("etl.run") {
      runOnce(spark, config(o.fixture, upgrades, outRoot), runId)
    })
    pending = Some(s"$outRoot/$runId")
    val l = res.ledger
    val (bytes, files) = partFiles(res.dataOut)
    var rec = Map[String, Any](
      "ledger" -> Map("listed" -> l.listed, "processed" -> l.processed,
        "bypassed" -> l.bypassed, "input_rows" -> l.inputRows,
        "output_rows" -> l.outputRows, "discrepancies" -> l.discrepancies,
        "schema_drift" -> l.schemaDrift.map(_.path)),
      "samples" -> Samples.observe(spark, res.dataOut, samples),
      "write_bytes" -> bytes, "write_files" -> files)
    if (tr.enabled) rec += "layers" -> etlLayers(tr.stats(tr.last("etl.run")), l, bytes, files)
    last = Some(res)
    Op(wall, rec)
  }

  private def etlLayers(s: SpanStats, l: graft.ledger.Ledger.Report,
      bytes: Long, files: Long): Map[String, Double] = Map(
    "etl.run.wall_s" -> s.wallS,
    "etl.run.spark_jobs" -> s.jobs.toDouble,
    "etl.run.tasks" -> s.tasks.toDouble,
    "etl.run.executor_cpu_s" -> s.cpuS,
    "etl.run.gc_s" -> s.gcS,
    "etl.run.core_busy_ratio" -> s.runS / (s.wallS * o.cores.toDouble),
    "etl.run.driver_only_s" -> s.driverOnlyS,
    "etl.scan.rows" -> s.inRecords.toDouble,
    "etl.scan.bytes" -> s.inBytes.toDouble,
    "etl.shuffle.write_bytes" -> s.shuffleWriteBytes.toDouble,
    "etl.shuffle.records" -> s.shuffleWriteRecords.toDouble,
    "etl.partial_agg_ratio" -> s.shuffleWriteRecords.toDouble / math.max(1L, l.inputRows),
    "etl.spill_bytes" -> s.spillDiskBytes.toDouble,
    "etl.listing_tasks" -> s.listingTasks.toDouble,
    "etl.write.bytes" -> bytes.toDouble,
    "etl.write.files" -> files.toDouble,
    "ledger.listed" -> l.listed.toDouble,
    "ledger.processed" -> l.processed.toDouble,
    "ledger.bypassed" -> l.bypassed.toDouble,
    "ledger.input_rows" -> l.inputRows.toDouble,
    "ledger.output_rows" -> l.outputRows.toDouble,
    "ledger.discrepancies" -> l.discrepancies.size.toDouble)

  def layers(spark: SparkSession, tr: Tracer, ops: Seq[Map[String, Any]]): Map[String, Double] = {
    val perOp = medians(ops.flatMap(_.get("layers")).map(_.asInstanceOf[Map[String, Double]]))
    val cfg = config(o.fixture, upgrades, outRoot)
    val spec = cfg.jobs.head
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = newUpgrades.map(u => s"${spec.srcRoot}/upgrade=$u/state=${spec.state}")
    // the layers a run goes through, each called on its own over the same
    // input the timed operation processes
    tr.span("etl.aggregate") {
      val input = spark.read.option("basePath", spec.srcRoot)
        .option("ignoreCorruptFiles", "true")
        .schema(SchemaDefs.timeseriesSchema).parquet(dirs: _*)
      HourlyAggregate(input, measureCols = SchemaDefs.energyColumns, byId = spec.byId,
        extraKeys = Seq("upgrade", "state")).write.format("noop").mode("overwrite").save()
    }
    tr.span("etl.manifest")(JobRunner.processedSoFar(spark, outRoot, spec))
    tr.span("etl.bypass") {
      MetadataBypass.copyAll(conf,
        upgrades.flatMap(u => PartitionPaths.metadataKeys(spec.metadataRoot, u, spec.state)),
        s"${o.work}/bypass-probe")
    }
    val uris = dirs.flatMap { d =>
      val p = new Path(d)
      val it = p.getFileSystem(conf).listFiles(p, true)
      val b = mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f.toString
      }
      b
    }
    tr.span("etl.schema_enforce")(SchemaEnforce.detect(spark, uris, SchemaDefs.timeseriesSchema))
    deleteTree(s"${o.work}/bypass-probe")
    // the read side: the saved queries over the hourly output just written
    val queryLayers = if (incremental) Map.empty[String, Double] else {
      val q = new QueriesWorkload(o)
      q.register(spark, last.get)
      probeOps = (1 to QueryProbeOps).map { i =>
        val op = q.op(spark, s"probe-$i", tr)
        op.record ++ Map("traced" -> true, "wall_s" -> op.wallS)
      }
      q.layers(spark, tr, probeOps)
    }
    perOp ++ queryLayers ++ Map(
      "etl.aggregate.wall_s" -> tr.last("etl.aggregate").wallS,
      "etl.manifest.wall_s" -> tr.last("etl.manifest").wallS,
      "etl.bypass.wall_s" -> tr.last("etl.bypass").wallS,
      "etl.schema_enforce.wall_s" -> tr.last("etl.schema_enforce").wallS)
  }

  override def cleanup(spark: SparkSession): Unit = deleteTree(outRoot)
}

/** The reference's three saved queries, round-robin, over an hourly output
  * that `JobRunner.run` wrote from an OEDI-shaped source plus that source's
  * bypassed metadata. */
final class QueriesWorkload(o: Driver.Opts) extends Workload {
  import Driver._

  def nominalOpS: Double = 0.25
  private val names = QueryRegistry.savedQueries.map(_.snakeName)
  private val bindings = Map("metadata_table" -> "perfbench_metadata", "data_table" -> "perfbench_data")
  private var dataBytes = 0L

  /** ETL the source, then register its output as the queries' input. */
  override def prepare(spark: SparkSession): Unit = {
    val out = s"${o.work}/out"
    deleteTree(out)
    val spec = JobSpec("comstock_amy2018_release_2", "2024", "AK", Seq(0, 1),
      s"${o.fixture}/src", s"${o.fixture}/meta",
      declaredSchema = Some(SchemaDefs.timeseriesSchema))
    val res = JobRunner.run(spark, spec, out, "prebuilt")
    dataBytes = partFiles(res.dataOut)._1
    register(spark, res)
  }

  /** Register an ETL run's hourly output and its bypassed baseline
    * metadata as the views the queries read. */
  def register(spark: SparkSession, res: JobRunner.Result): Unit = {
    spark.read.parquet(res.dataOut).createOrReplaceTempView("perfbench_data")
    spark.read.parquet(s"${res.metadataOut}/AK_baseline_metadata_and_annual_results.parquet")
      .createOrReplaceTempView("perfbench_metadata")
  }

  override def info: Map[String, Any] = Map("data_bytes" -> dataBytes)

  private var next = 0

  def op(spark: SparkSession, label: String, tr: Tracer): Op = {
    val name = names(next % names.size)
    next += 1
    val (result, wall) = time(tr.span(s"queries.$name") {
      val df = tr.span("queries.plan") {
        val df = QueryRegistry.run(spark, name, bindings)
        if (tr.enabled) df.queryExecution.executedPlan
        df
      }
      tr.span("queries.execute")(rows(df))
    })
    var rec = Map[String, Any]("query" -> name, "rows" -> result)
    if (tr.enabled) {
      val s = tr.stats(tr.last(s"queries.$name"))
      rec += "layers" -> Map(
        "queries.plan_s" -> tr.last("queries.plan").wallS,
        "queries.spark_jobs_per_query" -> s.jobs.toDouble,
        "queries.tasks_per_query" -> s.tasks.toDouble,
        "queries.scan_bytes" -> s.inBytes.toDouble,
        "queries.shuffle_bytes" -> s.shuffleWriteBytes.toDouble)
    }
    Op(wall, rec)
  }

  def layers(spark: SparkSession, tr: Tracer, ops: Seq[Map[String, Any]]): Map[String, Double] = {
    val traced = ops.filter(_("traced") == true)
    val perQuery = names.map { n =>
      s"queries.$n.p50_s" ->
        median(traced.filter(_("query") == n).map(_("wall_s").asInstanceOf[Double]))
    }.toMap
    val times = traced.map(_("wall_s").asInstanceOf[Double]).sorted
    // highest percentile with at least ten samples beyond it (the maximum
    // when there are fewer than eleven samples)
    val tail = if (times.size > 10) times(times.size - 11) else times.lastOption.getOrElse(0.0)
    medians(traced.flatMap(_.get("layers")).map(_.asInstanceOf[Map[String, Double]])) ++
      perQuery ++ Map("queries.tail_s" -> tail)
  }

  override def cleanup(spark: SparkSession): Unit = deleteTree(s"${o.work}/out")
}

/** `SparkEntry.queries("x0_pipeline")` over a generated documents corpus.
  * Its 3-row result is collected, which both materializes it and gives the
  * rows the checker compares with DuckDB. */
final class PipelineWorkload(o: Driver.Opts) extends Workload {
  import Driver._

  def nominalOpS: Double = 4.0
  private val pipeline = SparkEntry.queries("x0_pipeline")

  override def info: Map[String, Any] =
    Map("oracle_sql" -> SparkEntry.oracleSql("x0_pipeline"),
      "data_bytes" -> Files.size(Paths.get(s"${o.fixture}/documents.parquet")))

  def op(spark: SparkSession, label: String, tr: Tracer): Op = {
    val ((columns, result), wall) = time(tr.span("ext.pipeline") {
      val df = tr.span("ext.pipeline.construct")(pipeline(spark, o.fixture))
      (df.columns.toSeq, tr.span("ext.pipeline.execute")(rows(df)))
    })
    var rec = Map[String, Any]("columns" -> columns, "rows" -> result)
    if (tr.enabled) {
      val s = tr.stats(tr.last("ext.pipeline"))
      rec += "layers" -> Map(
        "ext.pipeline.construct_s" -> tr.last("ext.pipeline.construct").wallS,
        "ext.pipeline.execute_s" -> tr.last("ext.pipeline.execute").wallS,
        "ext.pipeline.spark_jobs" -> s.jobs.toDouble,
        "ext.pipeline.tasks" -> s.tasks.toDouble,
        "ext.pipeline.executor_cpu_s" -> s.cpuS,
        "ext.pipeline.shuffle_bytes" -> s.shuffleWriteBytes.toDouble,
        "ext.pipeline.driver_only_s" -> s.driverOnlyS,
        "ext.pipeline.gc_s" -> s.gcS)
    }
    Op(wall, rec)
  }

  def layers(spark: SparkSession, tr: Tracer, ops: Seq[Map[String, Any]]): Map[String, Double] =
    medians(ops.flatMap(_.get("layers")).map(_.asInstanceOf[Map[String, Double]]))
}

/** Sampled (upgrade, building, hour, column) cells of the hourly output,
  * read back after each ETL operation for the checker. */
object Samples {
  final case class Cell(upgrade: Int, bldg: Long, tsUs: Long, column: String)

  def read(expectedJson: String): Seq[Cell] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(expectedJson)))
    root.get("samples").elements.asScala.map { s =>
      Cell(s.get("upgrade").asInt, s.get("bldg_id").asLong, s.get("ts_us").asLong,
        s.get("column").asText)
    }.toSeq
  }

  def observe(spark: SparkSession, dataOut: String, cells: Seq[Cell]): Seq[Any] = {
    val out = spark.read.parquet(dataOut)
    val cols = cells.map(_.column).distinct
    val hit = cells.map(c => col("upgrade") === c.upgrade && col("bldg_id_min") === c.bldg &&
      unix_micros(col("timestamp")) === c.tsUs).reduce(_ || _)
    val got = out.filter(hit)
      .select((Seq(col("upgrade"), col("bldg_id_min"), unix_micros(col("timestamp"))) ++
        cols.map(SchemaDefs.qcol)): _*)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r).toMap
    cells.map { c =>
      got.get((c.upgrade, c.bldg, c.tsUs)).map(_.get(3 + cols.indexOf(c.column))).orNull
    }
  }
}

/** Minimal JSON writer for the driver's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
