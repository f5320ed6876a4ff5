package graft.etl

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The ETL job's one-stage plan (FileLocalAggregate) against the shuffle
  * plan (HourlyAggregate) it replaces: same rows, bit for bit, and the same
  * written parquet schema; and the cases whose footers cannot prove groups
  * file-local plan the shuffle. */
class FileLocalAggregateSpec extends SparkSpec {
  import spark.implicits._

  private val declared = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("bldg_id", LongType),
    StructField("m", DoubleType),
    StructField("m2", DoubleType)))

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  /** `steps` 15-min rows of building `b`, with measures that do not sum
    * exactly in binary floating point. */
  private def rows(b: Long, u: Int, steps: Int = 12, from: Int = 0): DataFrame =
    (from until from + steps).map(q =>
      (new Timestamp(t0 + q * 900000L), b, (b * 7 + q) * 0.1, q * 0.3 + b, u, "AK"))
      .toDF("timestamp", "bldg_id", "m", "m2", "upgrade", "state")

  /** Appends `df` to the source as one file. */
  private def file(src: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("append").partitionBy("upgrade", "state").parquet(src)

  private def corrupt(src: String, u: Int): Unit =
    Files.write(Paths.get(s"$src/upgrade=$u/state=AK/zz-corrupt.parquet"),
      Array[Byte](1, 2, 3, 4, 5))

  /** The SQL plans the body runs. */
  private def plansOf(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The shuffle plan over the same scan, written the way the job writes. */
  private def shufflePlan(spec: JobSpec, out: String): String = {
    val read = spark.read
      .option("basePath", spec.srcRoot)
      .option("ignoreCorruptFiles", "true")
      .schema(spec.declaredSchema.get)
      .parquet(spec.upgrades.map(u => s"${spec.srcRoot}/upgrade=$u/state=${spec.state}"): _*)
    HourlyAggregate(read, measureCols = Seq("m", "m2"), extraKeys = Seq("upgrade", "state"))
      .write.mode("overwrite").option("compression", "snappy")
      .partitionBy("upgrade", "state").parquet(out)
    out
  }

  /** Parquet schema and Spark row metadata of one written part file. */
  private def writtenSchema(dir: String): (String, String) = {
    val part = Files.walk(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.toUri), spark.sparkContext.hadoopConfiguration))
    try {
      val meta = reader.getFooter.getFileMetaData
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally reader.close()
  }

  private def assertSameOutput(got: String, want: String): Unit = {
    val g = spark.read.parquet(got)
    val w = spark.read.parquet(want)
    assert(g.count() === w.count())
    assert(g.exceptAll(w).count() === 0)
    assert(w.exceptAll(g).count() === 0)
    assert(writtenSchema(got) === writtenSchema(want))
  }

  private def fastPath(plans: Seq[String]): Unit = {
    assert(plans.exists(_.contains("FileLocalHourlyAggregate")), plans.mkString("\n"))
    assert(!plans.exists(_.contains("Exchange")), plans.mkString("\n"))
  }

  private def fallback(plans: Seq[String]): Unit = {
    assert(plans.exists(_.contains("Exchange")), plans.mkString("\n"))
    assert(!plans.exists(_.contains("FileLocalHourlyAggregate")), plans.mkString("\n"))
  }

  /** Runs the job on `src`, pins its plan, and compares its output with
    * the shuffle plan's. */
  private def check(root: String, expectFast: Boolean): JobRunner.Result = {
    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1), s"$root/src", s"$root/nometa",
      declaredSchema = Some(declared))
    var res: JobRunner.Result = null
    val plans = plansOf { res = JobRunner.run(spark, spec, s"$root/out", "run1") }
    if (expectFast) fastPath(plans) else fallback(plans)
    assertSameOutput(res.dataOut, shufflePlan(spec, s"$root/want"))
    res
  }

  test("one building per file: one stage, equal to the shuffle plan in UTC and +05:30") {
    for (zone <- Seq("UTC", "Asia/Kolkata")) {
      val root = Files.createTempDirectory("graft_filelocal").toString
      val src = s"$root/src"
      for (u <- Seq(0, 1); b <- Seq(10L, 20L, 30L)) file(src, rows(b + u, u))
      // a file missing a declared measure: its means are null
      file(src, rows(40L, 0).drop("m2"))
      corrupt(src, 1)
      val before = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", zone)
      try {
        val res = check(root, expectFast = true)
        assert(res.ledger.listed === 8 && res.ledger.processed === 7)
        assert(res.ledger.discrepancies.map(_.split('/').last) === Seq("zz-corrupt.parquet"))
        // 12 quarter hours from a whole UTC hour: 3 hours in UTC, 4 in +05:30
        val hours = if (zone == "UTC") 3 else 4
        assert(res.ledger.inputRows === 7 * 12 && res.ledger.outputRows === 7 * hours)
        assert(res.ledger.schemaDrift.map(_.missing) === Seq(Seq("m2")))
        val out = spark.read.parquet(res.dataOut)
        assert(out.filter($"bldg_id_min" === 40L && $"m2_mean".isNull).count() === hours)
      } finally spark.conf.set("spark.sql.session.timeZone", before)
    }
  }

  test("a building split across two files plans the shuffle") {
    val root = Files.createTempDirectory("graft_filelocal_split").toString
    val src = s"$root/src"
    file(src, rows(10L, 0))
    file(src, rows(20L, 0, from = 0, steps = 6))
    file(src, rows(20L, 0, from = 6, steps = 6))
    file(src, rows(30L, 1))
    check(root, expectFast = false)
  }

  test("overlapping bldg_id ranges in one partition plan the shuffle") {
    val root = Files.createTempDirectory("graft_filelocal_overlap").toString
    val src = s"$root/src"
    file(src, rows(10L, 0).union(rows(50L, 0)))
    file(src, rows(30L, 0))
    file(src, rows(30L, 1))
    check(root, expectFast = false)
  }

  test("a multi-row-group file: one stage unless a split can cut it") {
    val root = Files.createTempDirectory("graft_filelocal_rowgroups").toString
    val src = s"$root/src"
    rows(10L, 0, steps = 6000).coalesce(1).write.mode("append")
      .option("parquet.block.size", "8192")
      .partitionBy("upgrade", "state").parquet(src)
    file(src, rows(20L, 0))
    file(src, rows(30L, 1))
    val big = Files.walk(Paths.get(s"$src/upgrade=0/state=AK")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
      .maxBy(p => Files.size(Paths.get(p)))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(big), spark.sparkContext.hadoopConfiguration))
    val rowGroups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(rowGroups > 1)

    // smaller than any split: each file is read by one task
    check(root, expectFast = true)

    val size = Files.size(Paths.get(big))
    spark.conf.set("spark.sql.files.maxPartitionBytes", (size / 4).toString)
    try {
      val again = Files.createTempDirectory("graft_filelocal_rowgroups2").toString
      Files.move(Paths.get(src), Paths.get(s"$again/src"))
      check(again, expectFast = false)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("no readable footer and no declared schema: nothing read, every file a discrepancy") {
    val root = Files.createTempDirectory("graft_filelocal_unreadable").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa")
    file(src, rows(10L, 0))
    val first = JobRunner.run(spark, spec, out, "run1")
    assert(first.ledger.processed === 1)

    // the only new file is corrupt: no footer to take a schema from
    corrupt(src, 0)
    val inc = JobRunner.runIncremental(spark, spec, out, "run2")
    assert(inc.ledger.listed === 1 && inc.ledger.processed === 0)
    assert(inc.ledger.inputRows === 0 && inc.ledger.outputRows === 0)
    assert(inc.ledger.discrepancies.map(_.split('/').last) === Seq("zz-corrupt.parquet"))
    assert(!Files.exists(Paths.get(inc.dataOut)))

    // a full run over a source whose every file is corrupt
    val bad = Files.createTempDirectory("graft_filelocal_allbad").toString
    Files.createDirectories(Paths.get(s"$bad/src/upgrade=0/state=AK"))
    corrupt(s"$bad/src", 0)
    val full = JobRunner.run(spark, spec.copy(srcRoot = s"$bad/src"), s"$bad/out", "run1")
    assert(full.ledger.listed === 1 && full.ledger.processed === 0)
    assert(full.ledger.discrepancies.size === 1)
  }

  test("the strategy plans only its own node and installs once") {
    assert(FileLocalAggregate.Strategy(spark.range(3).queryExecution.optimizedPlan) === Nil)
    val before = spark.experimental.extraStrategies
    FileLocalAggregate.setup(spark)
    FileLocalAggregate.setup(spark)
    // the test session injects it through GraftExtensions already
    assert(spark.experimental.extraStrategies === before)
  }
}
