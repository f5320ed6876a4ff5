package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Local disk under the `countfs://` scheme that records every directory
  * listed and every file opened through it, from the driver and from the
  * (in-process) executors alike. */
class CountingFileSystem extends SchemeLocalFileSystem {
  override protected def scheme: String = "countfs"
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val listed = new ConcurrentLinkedQueue[String]()
  val opened = new ConcurrentLinkedQueue[String]()
  def reset(): Unit = { listed.clear(); opened.clear() }
}

/** The ETL job lists its source once and its scan opens exactly what that
  * listing holds. */
class ListingScanSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val hc = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    c.set("fs.countfs.impl.disable.cache", "true")
    c
  }

  /** 20 one-row files per upgrade=0/1 dir: more new files than Spark's
    * parallel-listing threshold (32) if a scan were handed them one by one. */
  private def cleanSource(root: String): String = {
    val src = s"$root/clean"
    (for (u <- Seq(0, 1); b <- 1 to 20)
      yield (ts("2024-03-01 00:15:00"), b.toLong + 100 * u, b.toDouble, u, "AK"))
      .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .coalesce(1)
      .write.option("maxRecordsPerFile", 1).partitionBy("upgrade", "state").parquet(src)
    src
  }

  /** A valid one-row parquet file for building `b`, at `dest`. */
  private def plantParquet(root: String, b: Long, dest: String): Unit = {
    val tmp = s"$root/plant_$b"
    Seq((ts("2024-03-01 00:15:00"), b, 1e6)).toDF("timestamp", "bldg_id", "m")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dest).getParent)
    Files.copy(part.toPath, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(dir: String): Set[String] =
    spark.read.parquet(dir).collect().map(_.toString).toSet

  test("run and runIncremental list each source dir once and open only listed files") {
    hc
    val root = Files.createTempDirectory("graft_listing_scan").toString
    val clean = cleanSource(root)
    // the same source, plus a hidden file, a writer's _temporary/ subtree
    // and a non-.parquet file in one partition dir: each would add a
    // building (900, 901) to the output if the job read it
    val planted = s"$root/planted"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(clean),
      new java.io.File(planted))
    val part = s"$planted/upgrade=0/state=AK"
    plantParquet(root, 900L, s"$part/.hidden.parquet")
    plantParquet(root, 901L, s"$part/_temporary/0/part-x.parquet")
    Files.write(Paths.get(s"$part/notes.txt"), "not data".getBytes("UTF-8"))
    val dirs = Seq(0, 1).map(u => s"$planted/upgrade=$u/state=AK")
    val visible = dirs.flatMap(d => new java.io.File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.getPath))
    assert(visible.size === 40)

    val expected = rows(JobRunner.run(spark,
      JobSpec("rel", "2024", "AK", Seq(0, 1), clean, s"$root/nometa"),
      s"$root/out_clean", "r").dataOut)
    assert(expected.size === 40)

    val listingJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) listingJobs.incrementAndGet()
    }
    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1), s"countfs://local$planted",
      s"$root/nometa")
    GraftBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((face, go) <- Seq[(String, () => JobRunner.Result)](
          "run" -> (() => JobRunner.run(spark, spec, s"$root/out_run", "r")),
          "runIncremental" -> (() => JobRunner.runIncremental(spark, spec, s"$root/out_inc", "r")))) {
        CountingFileSystem.reset()
        listingJobs.set(0)
        val res = go()
        GraftBridge.drainListeners(spark.sparkContext)
        assert(CountingFileSystem.listed.asScala.toSeq.sorted === dirs, face)
        assert(listingJobs.get === 0, s"$face launched a listing job")
        assert(CountingFileSystem.opened.asScala.toSet === visible.toSet, face)
        assert(res.ledger.listed === 40 && res.ledger.processed === 40, face)
        assert(res.ledger.discrepancies.isEmpty, face)
        assert(rows(res.dataOut) === expected, face)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the seeded scan has spark.read's schema, with and without a declared schema") {
    val root = Files.createTempDirectory("graft_listing_schema").toString
    val src = cleanSource(root)
    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1), src, s"$root/nometa")
    val files = JobRunner.listParquet(spark, spec)
    assert(files.size === 40)
    val dirs = files.map(_.dir.toString).distinct
    def reader = spark.read.option("basePath", src)

    // declared, with a partition column typed by the declaration
    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("bldg_id", LongType),
      StructField("m", DoubleType),
      StructField("upgrade", LongType)))
    val seeded = JobRunner.scan(spark, src, files, declared)
    val viaReader = reader.schema(declared).parquet(dirs: _*)
    assert(seeded.schema === viaReader.schema)
    assert(seeded.collect().map(_.toString).toSet ===
      viaReader.collect().map(_.toString).toSet)

    // undeclared: the job reads the first footer's schema
    val first = SchemaEnforce.footers(spark, files.map(_.uri), None, "bldg_id")
      .firstSchema.get
    val undeclared = JobRunner.scan(spark, src, files, first)
    assert(undeclared.schema === reader.schema(first).parquet(dirs: _*).schema)
    assert(undeclared.schema === reader.parquet(dirs: _*).schema)
    assert(undeclared.schema.fieldNames.toSeq ===
      Seq("timestamp", "bldg_id", "m", "upgrade", "state"))
    // each row knows its file, and the files are exactly the listed ones
    assert(undeclared.select($"_metadata.file_path").distinct().as[String].collect()
      .map(p => new Path(new java.net.URI(p)).toUri.getPath).toSet ===
      files.map(_.path).toSet)
  }
}
