package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SchemaDefsSpec extends SparkSpec {
  test("51 energy measure columns in reference declaration order") {
    assert(SchemaDefs.energyColumns.size === 51)
    assert(SchemaDefs.energyColumns.head ===
      "out.district_cooling.cooling.energy_consumption")
    assert(SchemaDefs.energyColumns.last ===
      "out.site_energy.total.energy_consumption_intensity")
    // the one asymmetry: other_fuel.water_systems has no _intensity
    assert(SchemaDefs.energyColumns.contains(
      "out.other_fuel.water_systems.energy_consumption"))
    assert(!SchemaDefs.energyColumns.contains(
      "out.other_fuel.water_systems.energy_consumption_intensity"))
    assert(SchemaDefs.energyColumns.distinct.size === 51)
  }

  test("hourly output contract columns") {
    assert(SchemaDefs.hourlyOutputColumns.take(3) ===
      Seq("timestamp", "bldg_id_min", "timestamp_min"))
    assert(SchemaDefs.hourlyOutputColumns.size === 54)
    assert(SchemaDefs.hourlyOutputColumns.count(_.endsWith("_mean")) === 51)
  }
}

class UpgradeLabelSpec extends SparkSpec {
  import spark.implicits._

  test("truth table matches fetch.py:19-37") {
    assert(PartitionPaths.upgradeLabel(0) === "baseline")
    assert(PartitionPaths.upgradeLabel(1) === "upgrade01")
    assert(PartitionPaths.upgradeLabel(9) === "upgrade09")
    assert(PartitionPaths.upgradeLabel(10) === "upgrade10")
    assert(PartitionPaths.upgradeLabel(25) === "upgrade25")
  }

  test("Column form agrees with Scala form") {
    val vals = (0 to 30).toDF("u")
    val got = vals.select($"u", PartitionPaths.upgradeLabelCol($"u").as("l"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    (0 to 30).foreach(u => assert(got(u) === PartitionPaths.upgradeLabel(u)))
  }

  test("metadata keys follow the state/label naming convention") {
    val keys = PartitionPaths.metadataKeys("/meta", 1, "AK")
    assert(keys === Seq(
      "/meta/state=AK/parquet/AK_upgrade01_basic_metadata_and_annual_results.parquet",
      "/meta/state=AK/parquet/AK_upgrade01_metadata_and_annual_results.parquet"))
  }
}

class HourlyAggregateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val input = Seq(
    // bldg 1: four 15-min rows in hour 10, two in hour 11
    (ts("2024-01-01 10:00:00"), 1L, 1.0, 10.0),
    (ts("2024-01-01 10:15:00"), 1L, 2.0, 20.0),
    (ts("2024-01-01 10:30:00"), 1L, 3.0, 30.0),
    (ts("2024-01-01 10:45:00"), 1L, 4.0, 40.0),
    (ts("2024-01-01 11:00:00"), 1L, 8.0, 80.0),
    (ts("2024-01-01 11:15:00"), 1L, 10.0, 100.0),
    // bldg 2: same hour 10 — must stay separate in byId mode
    (ts("2024-01-01 10:05:00"), 2L, 100.0, 0.5))
    .toDF("timestamp", "bldg_id", "m1", "m2")

  test("byId: groups by (bldg_id, hour); _min/_mean contract") {
    val out = HourlyAggregate(input, measureCols = Seq("m1", "m2"), byId = true)
    assert(out.columns.toSeq === Seq("timestamp", "bldg_id_min", "timestamp_min", "m1_mean", "m2_mean"))
    val rows = out.orderBy("bldg_id_min", "timestamp").collect()
    assert(rows.length === 3)
    val r1 = rows(0) // bldg 1 hour 10
    assert(r1.getTimestamp(0) === ts("2024-01-01 10:00:00"))
    assert(r1.getLong(1) === 1L)
    assert(r1.getTimestamp(2) === ts("2024-01-01 10:00:00")) // min of raw ts
    assert(r1.getDouble(3) === 2.5)
    assert(r1.getDouble(4) === 25.0)
    val r2 = rows(1) // bldg 1 hour 11
    assert(r2.getTimestamp(0) === ts("2024-01-01 11:00:00"))
    assert(r2.getDouble(3) === 9.0)
    val r3 = rows(2) // bldg 2
    assert(r3.getLong(1) === 2L)
    assert(r3.getDouble(3) === 100.0)
  }

  test("hour-only (reference per-file semantics) merges buildings") {
    val out = HourlyAggregate(input, measureCols = Seq("m1", "m2"), byId = false)
    val rows = out.orderBy("timestamp").collect()
    assert(rows.length === 2) // hour 10 (both buildings), hour 11
    val h10 = rows(0)
    assert(h10.getLong(1) === 1L) // min(bldg_id) across the merged group
    assert(h10.getDouble(3) === (1.0 + 2 + 3 + 4 + 100) / 5)
  }

  test("timestamp_min preserves the earliest raw (pre-floor) timestamp") {
    val shifted = Seq((ts("2024-01-01 10:20:00"), 7L, 1.0)).toDF("timestamp", "bldg_id", "m")
    val out = HourlyAggregate(shifted, measureCols = Seq("m")).collect().head
    assert(out.getTimestamp(0) === ts("2024-01-01 10:00:00"))
    assert(out.getTimestamp(2) === ts("2024-01-01 10:20:00"))
  }

  test("group count preservation: one output group per distinct (bldg, hour)") {
    val out = HourlyAggregate(input, measureCols = Seq("m1", "m2"), byId = true)
    val expected = input
      .select($"bldg_id", date_trunc("hour", $"timestamp"))
      .distinct().count()
    assert(out.count() === expected)
  }

  test("dotted measure columns (real energy schema) aggregate cleanly") {
    val c0 = SchemaDefs.energyColumns.head
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(ts("2024-01-01 00:00:00"), 5L, 1.0),
        Row(ts("2024-01-01 00:15:00"), 5L, 3.0)),
      StructType(Seq(
        StructField("timestamp", TimestampType),
        StructField("bldg_id", LongType),
        StructField(c0, DoubleType))))
    val out = HourlyAggregate(df, measureCols = Seq(c0))
    assert(out.columns.toSeq.last === s"${c0}_mean")
    assert(out.select(SchemaDefs.qcol(s"${c0}_mean")).collect().head.getDouble(0) === 2.0)
  }
}

class JobRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("end-to-end: partitioned read, hourly agg, partitioned write, bypass, ledger") {
    val root = Files.createTempDirectory("graft_etl").toString
    val src = s"$root/src"
    val meta = s"$root/meta"
    val out = s"$root/out"

    // hive-partitioned 15-min fixture: upgrades 0,1 / state AK, 2 buildings
    val rows = for {
      u <- Seq(0, 1); b <- Seq(10L, 20L); q <- 0 until 8
    } yield (ts(f"2024-03-01 ${q / 4}%02d:${(q % 4) * 15}%02d:00"), b + u, (b + q).toDouble, u, "AK")
    rows.toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.partitionBy("upgrade", "state").parquet(src)
    // an extra upgrade that must be pruned away
    Seq((ts("2024-03-01 00:00:00"), 999L, 1.0, 7, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.mode("append").partitionBy("upgrade", "state").parquet(src)

    // metadata files (content arbitrary; bypass must copy bytes untouched)
    Seq((10L, "AK")).toDF("bldg_id", "in_state").coalesce(1).write.parquet(s"$root/m0")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val m0 = fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/m0/*.parquet")).head.getPath
    val mdir = new org.apache.hadoop.fs.Path(s"$meta/state=AK/parquet")
    fs.mkdirs(mdir)
    for (label <- Seq("baseline", "upgrade01"); kind <- Seq("basic_metadata", "metadata")) {
      fs.copyFromLocalFile(false, true, m0,
        new org.apache.hadoop.fs.Path(mdir, s"AK_${label}_${kind}_and_annual_results.parquet"))
    }

    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1), src, meta)
    val res = JobRunner.run(spark, spec, out, "run1")

    // output exists, hive dirs preserved, snappy parquet
    val got = spark.read.parquet(res.dataOut)
    assert(got.columns.contains("upgrade") && got.columns.contains("state"))
    assert(got.select("upgrade").distinct().as[Int].collect().sorted === Array(0, 1))
    // pruning: upgrade=7 never read
    assert(!got.select("bldg_id_min").as[Long].collect().contains(999L))
    // 2 upgrades x 2 buildings x 2 hours
    assert(got.count() === 8)
    val h0 = got.filter($"upgrade" === 0 && $"bldg_id_min" === 10L &&
        $"timestamp" === ts("2024-03-01 00:00:00")).collect().head
    assert(h0.getAs[Double]("m_mean") === (10 + 11 + 12 + 13) / 4.0)

    // metadata bypass: byte-identical copies
    assert(res.ledger.bypassed === 4)
    val copied = fs.globStatus(new org.apache.hadoop.fs.Path(s"${res.metadataOut}/*.parquet"))
    assert(copied.length === 4)
    val srcBytes = Files.readAllBytes(java.nio.file.Paths.get(m0.toUri.getPath))
    val dstBytes = Files.readAllBytes(java.nio.file.Paths.get(copied.head.getPath.toUri.getPath))
    assert(java.util.Arrays.equals(srcBytes, dstBytes))

    // ledger: clean run — all listed processed, no discrepancies
    assert(res.ledger.listed > 0)
    assert(res.ledger.discrepancies.isEmpty)
    assert(res.ledger.processed === res.ledger.listed)
    assert(res.ledger.inputRows === 32)
    assert(res.ledger.outputRows === 8)
    assert(res.ledger.toJson.contains("\"Listed but not Uploaded\""))
  }

  test("schema drift: added+missing columns reported, output schema pinned") {
    val root = Files.createTempDirectory("graft_etl_drift").toString
    val src = s"$root/src"
    // upgrade=0 conforms to the declared schema (timestamp, bldg_id, m)
    Seq((ts("2024-03-01 00:00:00"), 1L, 2.0, 0, "AK"),
      (ts("2024-03-01 00:15:00"), 1L, 4.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.partitionBy("upgrade", "state").parquet(src)
    // upgrade=1 drifted: column m MISSING, column zz_extra ADDED
    Seq((ts("2024-03-01 00:00:00"), 2L, "surprise", 1, "AK"))
      .toDF("timestamp", "bldg_id", "zz_extra", "upgrade", "state")
      .write.mode("append").partitionBy("upgrade", "state").parquet(src)
    // upgrade=2 type-drifted: m present but stored as STRING (the scan
    // silently drops the file via ignoreCorruptFiles — the drift report
    // is the only place the loss shows a cause)
    Seq((ts("2024-03-01 00:00:00"), 3L, "0.5", 2, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.mode("append").partitionBy("upgrade", "state").parquet(src)

    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("bldg_id", LongType),
      StructField("m", DoubleType)))
    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1, 2), src, s"$root/nometa",
      declaredSchema = Some(declared))
    val res = JobRunner.run(spark, spec, s"$root/out", "run1")

    // job succeeded; output schema is the declared contract — no zz_extra
    val got = spark.read.parquet(res.dataOut)
    assert(got.columns.sorted ===
      Array("bldg_id_min", "m_mean", "state", "timestamp", "timestamp_min", "upgrade"))
    // conforming partition aggregated normally
    assert(got.filter($"upgrade" === 0).collect().head.getAs[Double]("m_mean") === 3.0)
    // drifted partition still processed: its m reads as null, row group kept
    assert(got.filter($"upgrade" === 1).count() === 1)
    assert(got.filter($"upgrade" === 1).collect().head.isNullAt(got.columns.indexOf("m_mean")))
    // both drifted FILES are reported, reference-style, in the ledger
    assert(res.ledger.schemaDrift.size === 2)
    val d = res.ledger.schemaDrift.find(_.path.contains("upgrade=1")).get
    assert(d.missing === Seq("m") && d.extra === Seq("zz_extra") && d.typeMismatch.isEmpty)
    val t2 = res.ledger.schemaDrift.find(_.path.contains("upgrade=2")).get
    assert(t2.typeMismatch === Seq("m: declared double, stored BINARY"))
    // the type-drifted file's rows were DROPPED by ignoreCorruptFiles —
    // it shows in the discrepancy list, and the drift report names why
    assert(res.ledger.discrepancies.exists(_.contains("upgrade=2")))
    assert(!res.ledger.discrepancies.exists(_.contains("upgrade=1")))
    assert(res.ledger.toJson.contains("\"schema_drift\":[{\"file\""))
    assert(res.ledger.toJson.contains("\"type_mismatch\":[\"m: declared double, stored BINARY\"]"))
  }

  test("drift sink: systemic many-file drift stays off the driver; detect is capped") {
    // 48 files, EVERY one drifting (m missing, zz_extra added) — the
    // systemic-drift shape where a driver collect would be file-count-sized
    val root = Files.createTempDirectory("graft_etl_driftsink").toString
    val src = s"$root/src"
    (1 to 48).foreach { i =>
      Seq((ts("2024-03-01 00:00:00"), i.toLong, s"x$i"))
        .toDF("timestamp", "bldg_id", "zz_extra")
        .write.mode("append").parquet(src)
    }
    val files = new java.io.File(src).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).toSeq
    assert(files.size === 48)
    // plus one corrupt file: its footer read fails mid-slice, and the
    // slice's other files must still be reported
    val corrupt = s"$root/zz-corrupt.parquet"
    Files.write(java.nio.file.Paths.get(corrupt), Array[Byte](1, 2, 3, 4, 5))
    val all = files.take(24) ++ Seq(corrupt) ++ files.drop(24)
    // detectDS cuts at most defaultParallelism * 4 slices; at 3+ files per
    // slice, the corrupt file shares its slice (and one set of read
    // options) with at least two drifted files
    assert(all.size >= 3 * spark.sparkContext.defaultParallelism * 4)
    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("bldg_id", LongType),
      StructField("m", DoubleType)))

    // sink face: a frame you aggregate/write, never collect
    val report = SchemaEnforce.detectDS(spark, all, declared).toDF()
    assert(report.count() === 48L)
    val byMissing = report.selectExpr("explode(missing) AS miss")
      .groupBy($"miss").count().collect()
    assert(byMissing.map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("m", 48L)))
    report.write.parquet(s"$root/report")
    assert(spark.read.parquet(s"$root/report").count() === 48L)
    // file for file: every drifted file reported as such, the corrupt one
    // skipped
    assert(SchemaEnforce.detectDS(spark, all, declared).collect().toSet ===
      files.map(p => SchemaEnforce.Drift(p, Seq("m"), Seq("zz_extra"))).toSet)

    // ledger face: capped, lexicographically-first, top-k planned (no
    // full collect even under systemic drift)
    val capped = SchemaEnforce.detect(spark, all, declared, maxReport = 7)
    assert(capped.size === 7)
    assert(capped.map(_.path) === files.sorted.take(7))
    assert(capped.forall(d => d.missing === Seq("m") && d.extra === Seq("zz_extra")))
    val plan = SchemaEnforce.detectDS(spark, all, declared)
      .orderBy($"path").limit(7).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("single pass: the job's SQL executions contain exactly one FileScan") {
    val root = Files.createTempDirectory("graft_etl_onescan").toString
    val src = s"$root/src"
    Seq((ts("2024-03-01 00:00:00"), 1L, 1.0, 0, "AK"),
      (ts("2024-03-01 00:15:00"), 1L, 3.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.partitionBy("upgrade", "state").parquet(src)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(f -> qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // drain any stray events from earlier actions in this shared session
    org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      JobRunner.run(spark, JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa"),
        s"$root/out", "run1")
      // listener bus is async — wait for the write's plan to land
      org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val counted = plans.asScala.map { case (f, p) =>
        // AQE's toString prints the Initial Plan below the Final Plan —
        // count scans in the final section only, or the same scan doubles
        val finalOnly = p.split("== Initial Plan ==").head
        (f, "FileScan parquet".r.findAllIn(finalOnly).length,
          p.linesIterator.take(3).mkString(" | "))
      }
      val scans = counted.map(_._2).sum
      assert(scans === 1,
        s"expected exactly one FileScan across the job, got $scans: " +
          counted.map(c => s"[${c._1} scans=${c._2}] ${c._3}").mkString(" ;; "))
    } finally spark.listenerManager.unregister(listener)
  }

  test("runAllStamped mints a yyyy-MM-dd'T'HHmm run id and runs under it") {
    val root = Files.createTempDirectory("graft_etl_stamp").toString
    val src = s"$root/src"
    Seq((ts("2024-03-01 00:00:00"), 1L, 2.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.partitionBy("upgrade", "state").parquet(src)
    val cfg = EtlConfig(s"$root/out",
      Seq(JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa")))
    val (runId, results) = JobRunner.runAllStamped(spark, cfg)
    assert(runId.matches("""\d{4}-\d{2}-\d{2}T\d{4}"""))
    assert(results.head.dataOut.contains(s"/out/$runId/data/"))
    assert(spark.read.parquet(results.head.dataOut).count() === 1)
  }

  test("committer contract: dynamic overwrite locally, write-once on object stores") {
    // scheme detection drives the default
    val hc = spark.sparkContext.hadoopConfiguration
    assert(JobRunner.isObjectStore("s3a://bucket/warehouse/out", hc))
    assert(JobRunner.isObjectStore("gs://bucket/out", hc))
    assert(!JobRunner.isObjectStore("hdfs://nn/warehouse/out", hc))
    assert(!JobRunner.isObjectStore("/tmp/local/out", hc))
    assert(!JobRunner.isObjectStore("file:/tmp/local/out", hc))

    def freshSrc(): String = {
      val root = Files.createTempDirectory("graft_etl_commit").toString
      val src = s"$root/src"
      Seq((ts("2024-03-01 00:00:00"), 1L, 2.0, 0, "AK"),
        (ts("2024-03-01 00:00:00"), 1L, 4.0, 1, "AK"))
        .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
        .write.partitionBy("upgrade", "state").parquet(src)
      root
    }

    // rename-capable FS (default here): re-running a SUBSET of upgrades
    // into the same runId replaces only the partitions it writes —
    // upgrade=0 survives the second run
    val r1 = freshSrc()
    val specAll = JobSpec("rel", "2024", "AK", Seq(0, 1), s"$r1/src", s"$r1/nometa")
    val resDyn = JobRunner.run(spark, specAll, s"$r1/out", "run1")
    JobRunner.run(spark, specAll.copy(upgrades = Seq(1)), s"$r1/out", "run1")
    assert(spark.read.parquet(resDyn.dataOut)
      .select("upgrade").distinct().as[Int].collect().sorted === Array(0, 1))

    // object-store contract (forced on local FS to exercise the path):
    // dynamic overwrite is withheld, the whole per-job run dir is
    // replaced — upgrade=0 is gone, write-once-per-runId semantics
    val r2 = freshSrc()
    val specOs = JobSpec("rel", "2024", "AK", Seq(0, 1), s"$r2/src", s"$r2/nometa")
    val resOs = JobRunner.run(spark, specOs, s"$r2/out", "run1",
      objectStoreCommit = Some(true))
    JobRunner.run(spark, specOs.copy(upgrades = Seq(1)), s"$r2/out", "run1",
      objectStoreCommit = Some(true))
    assert(spark.read.parquet(resOs.dataOut)
      .select("upgrade").distinct().as[Int].collect().sorted === Array(1))
  }

  test("source root with a space: ledger and manifest compare decoded paths") {
    // _metadata.file_path is URI-encoded (co%20x) while the listing is
    // decoded (co x); the ledger must match them file for file
    val root = Files.createTempDirectory("graft_etl_space").toString
    val src = s"$root/co x/src"
    val out = s"$root/out"
    Seq((ts("2024-03-01 00:00:00"), 1L, 1.0, 0, "AK"),
      (ts("2024-03-01 00:00:00"), 2L, 3.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .repartition(2, $"bldg_id")
      .write.partitionBy("upgrade", "state").parquet(src)
    Files.write(java.nio.file.Paths.get(s"$src/upgrade=0/state=AK/zz-corrupt.parquet"),
      Array[Byte](1, 2, 3, 4, 5))

    // declared schema: footer reads (SchemaEnforce) also open the
    // space-containing paths, and no scan infers a schema from the
    // corrupt file
    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("bldg_id", LongType),
      StructField("m", DoubleType)))
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa",
      declaredSchema = Some(declared))
    val res = JobRunner.run(spark, spec, out, "run1")
    assert(res.ledger.schemaDrift.isEmpty)
    assert(res.ledger.listed === 3)
    assert(res.ledger.processed === res.ledger.listed - 1)
    assert(res.ledger.discrepancies.size === 1 &&
      res.ledger.discrepancies.head.endsWith("/co x/src/upgrade=0/state=AK/zz-corrupt.parquet"))
    assert(spark.read.parquet(res.dataOut).count() === 2)

    // the manifest holds the decoded paths of the two good files
    val manifest = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$out/run1/manifest/rel/2024/AK/processed.txt")), "UTF-8").linesIterator.toSeq
    assert(manifest.size === 2)
    assert(manifest.forall(p => p.startsWith(s"$src/") && !p.contains("%20")))
    assert(JobRunner.processedSoFar(spark, out, spec) === manifest.toSet)

    // an incremental re-run sees both good files as done: only the
    // corrupt file (never processed, so never in a manifest) is new work,
    // and once it is gone there is nothing new at all
    val inc = JobRunner.runIncremental(spark, spec, out, "run2")
    assert(inc.ledger.listed === 1 && inc.ledger.processed === 0)
    assert(inc.ledger.discrepancies === res.ledger.discrepancies)
    Files.delete(java.nio.file.Paths.get(s"$src/upgrade=0/state=AK/zz-corrupt.parquet"))
    assert(JobRunner.runIncremental(spark, spec, out, "run3").ledger.listed === 0)
  }

  test("ledger listing: exactly the recursive .parquet set under each partition") {
    val root = Files.createTempDirectory("graft_etl_listing").toString
    val src = s"$root/src"
    Seq((ts("2024-03-01 00:00:00"), 1L, 1.0, 0, "AK"),
      (ts("2024-03-01 00:00:00"), 2L, 3.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .repartition(2, $"bldg_id")
      .write.partitionBy("upgrade", "state").parquet(src)
    val part = s"$src/upgrade=0/state=AK"
    // a nested sub-directory of .parquet files (one level deeper still), a
    // hidden `_`-prefixed one, a non-.parquet file and a _SUCCESS marker
    // inside the partition
    Seq((ts("2024-03-01 00:00:00"), 3L, 5.0)).toDF("timestamp", "bldg_id", "m")
      .write.parquet(s"$part/nested")
    Seq((ts("2024-03-01 00:00:00"), 4L, 7.0)).toDF("timestamp", "bldg_id", "m")
      .write.parquet(s"$part/nested/deeper")
    Seq((ts("2024-03-01 00:00:00"), 5L, 9.0)).toDF("timestamp", "bldg_id", "m")
      .write.parquet(s"$part/_hidden")
    Files.write(java.nio.file.Paths.get(s"$part/notes.txt"), "not data".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$part/_SUCCESS"), Array.emptyByteArray)

    val expected = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(part)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).filterNot(_.contains("/_hidden/")).toSet
    }
    assert(expected.size === 4 && expected.count(_.contains("/nested/")) === 2)

    // declared schema: the scan never infers one from a footer, so the
    // unreadable notes.txt cannot be picked as the schema source
    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("bldg_id", LongType),
      StructField("m", DoubleType)))
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa",
      declaredSchema = Some(declared))
    val res = JobRunner.run(spark, spec, s"$root/out", "run1")
    // the hidden `_hidden/` dir is neither listed nor read, like Spark's
    // own file index; every listed file, nested ones included, is read
    assert(res.ledger.listed === expected.size)
    assert(res.ledger.schemaDrift.isEmpty)
    assert(res.ledger.discrepancies.isEmpty)
    assert(res.ledger.processed === expected.size)
    assert(spark.read.parquet(res.dataOut).select($"bldg_id_min").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
    assert(JobRunner.processedSoFar(spark, s"$root/out", spec) === expected)
  }

  test("a readable zero-row file is processed; a footer-less one is a discrepancy") {
    val root = Files.createTempDirectory("graft_etl_emptyfile").toString
    val src = s"$root/src"
    Seq((ts("2024-03-01 00:00:00"), 1L, 1.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.partitionBy("upgrade", "state").parquet(src)
    val part = s"$src/upgrade=0/state=AK"
    // a valid parquet file with a footer and no row
    Seq.empty[(Timestamp, Long, Double)].toDF("timestamp", "bldg_id", "m")
      .coalesce(1).write.parquet(s"$root/empty")
    val empty = new java.io.File(s"$root/empty").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(empty.toPath, java.nio.file.Paths.get(s"$part/zz-empty.parquet"))
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa")

    val res = JobRunner.run(spark, spec, s"$root/out", "run1")
    assert(res.ledger.listed === 2)
    assert(res.ledger.processed === res.ledger.listed)
    assert(res.ledger.discrepancies.isEmpty)
    assert(res.ledger.inputRows === 1)
    assert(JobRunner.processedSoFar(spark, s"$root/out", spec).exists(_.endsWith("zz-empty.parquet")))

    // magic bytes and no footer: still listed but not processed
    Files.write(java.nio.file.Paths.get(s"$part/zz-corrupt.parquet"), Array[Byte](1, 2, 3, 4, 5))
    val res2 = JobRunner.run(spark, spec, s"$root/out", "run2")
    assert(res2.ledger.listed === 3 && res2.ledger.processed === 2)
    assert(res2.ledger.discrepancies === Seq(s"$part/zz-corrupt.parquet"))
  }

  test("corrupt file surfaces in the discrepancy ledger, job still succeeds") {
    val root = Files.createTempDirectory("graft_etl_bad").toString
    val src = s"$root/src"
    Seq((ts("2024-03-01 00:00:00"), 1L, 1.0, 0, "AK"),
      (ts("2024-03-01 00:15:00"), 1L, 3.0, 0, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .write.partitionBy("upgrade", "state").parquet(src)
    // plant a corrupt parquet alongside (fixture A.4 / README.md:339-362)
    val bad = java.nio.file.Paths.get(s"$src/upgrade=0/state=AK/zz-corrupt.parquet")
    Files.write(bad, Array[Byte](1, 2, 3, 4, 5))

    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa")
    val res = JobRunner.run(spark, spec, s"$root/out", "run1")

    assert(res.ledger.discrepancies.exists(_.endsWith("zz-corrupt.parquet")))
    assert(res.ledger.processed === res.ledger.listed - 1)
    assert(spark.read.parquet(res.dataOut).count() === 1)
    assert(res.ledger.bypassed === 0) // metadata dir absent → nothing copied
  }
}
