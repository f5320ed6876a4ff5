package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.etl.{JobRunner, JobSpec, SchemeLocalFileSystem}

/** An OEDI-shaped source: one file per building, each holding the
  * building's whole multi-day 15-min series under `upgrade=0/state=AK`. */
private object HourlyFixture {
  val Buildings = 7
  val Days = 2

  def write(spark: SparkSession, src: String): Unit = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-05-01 00:00:00").getTime
    (1L to Buildings.toLong).foreach { b =>
      (0 until Days * 96).map(q =>
        (new Timestamp(t0 + q * 900000L), b, (b * 7 + q) * 0.1, q % 5 + b * 0.3, 0, "AK"))
        .toDF("timestamp", "bldg_id", "m", "out.m2", "upgrade", "state")
        .coalesce(1).write.mode("append").partitionBy("upgrade", "state").parquet(src)
    }
  }

  /** Stored hourly rows in the job's column order, sorted. */
  def rows(df: DataFrame): Seq[Row] =
    df.select("timestamp", "bldg_id_min", "timestamp_min", "m_mean", "`out.m2_mean`",
        "upgrade", "state")
      .orderBy("bldg_id_min", "timestamp").collect().toSeq
}

/** The ETL's file stream: `JobRunner.runStream` over the same source as
  * `JobRunner.run`, through the same per-batch step. */
private object EtlStream {
  def spec(src: String, root: String): JobSpec =
    JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/nometa")

  /** The hourly rows stored under every one of `dataOuts`, in one frame. */
  def storedAt(spark: SparkSession, dataOuts: Seq[String]): DataFrame =
    dataOuts.map(spark.read.parquet(_)).reduce(_ unionByName _)

  /** The hourly rows every batch with output stored. */
  def stored(spark: SparkSession, results: Seq[JobRunner.Result]): DataFrame =
    storedAt(spark, results.filter(_.ledger.outputRows > 0).map(_.dataOut))

  /** The `.parquet` files under `dir`, as the ledger writes them. */
  def parquetFiles(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator.asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSet
}

class StreamingSpec extends SparkSpec {
  import EtlStream._

  test("file stream in micro-batches equals JobRunner.run row for row") {
    val root = Files.createTempDirectory("graft_stream").toString
    HourlyFixture.write(spark, s"$root/src")
    val results = JobRunner.runStream(spark, spec(s"$root/src", root), s"$root/out",
      s"$root/ckpt", maxFilesPerTrigger = 2)
    // 7 files, 2 per trigger: four micro-batches
    assert(results.map(_.ledger.listed) === Seq(2, 2, 2, 1))

    val res = JobRunner.run(spark,
      JobSpec("rel", "2024", "AK", Seq(0), s"$root/src", s"$root/nometa"),
      s"$root/job", "run1")
    val batch = HourlyFixture.rows(spark.read.parquet(res.dataOut))
    val streamed = HourlyFixture.rows(stored(spark, results))
    assert(batch.length === HourlyFixture.Buildings * HourlyFixture.Days * 24)
    assert(streamed === batch)
    // each building's last hour is there: no group waits on a watermark
    val last = Timestamp.valueOf("2024-05-02 23:00:00")
    assert(streamed.count(_.getTimestamp(0) == last) === HourlyFixture.Buildings)
  }

  test("a corrupt file is one batch's discrepancy, not the stream's failure") {
    val root = Files.createTempDirectory("graft_stream_corrupt").toString
    val src = s"$root/src"
    HourlyFixture.write(spark, src)
    val corrupt = s"$src/upgrade=0/state=AK/zz-corrupt.parquet"
    Files.write(Paths.get(corrupt), Array[Byte](1, 2, 3, 4, 5)) // no footer
    val results = JobRunner.runStream(spark, spec(src, root), s"$root/out",
      s"$root/ckpt", maxFilesPerTrigger = 2)
    assert(results.size === 4)
    assert(results.map(_.ledger.listed).sum === HourlyFixture.Buildings + 1)
    assert(results.map(_.ledger.discrepancies).filter(_.nonEmpty) === Seq(Seq(corrupt)))

    val res = JobRunner.run(spark, spec(src, root), s"$root/job", "run1")
    assert(res.ledger.discrepancies === Seq(corrupt))
    assert(HourlyFixture.rows(stored(spark, results)) ===
      HourlyFixture.rows(spark.read.parquet(res.dataOut)))
    // the checkpoint holds every file, the corrupt one too: nothing to redo
    assert(JobRunner.runStream(spark, spec(src, root), s"$root/out", s"$root/ckpt",
      maxFilesPerTrigger = 2).isEmpty)
  }

  test("a drained stream leaves runIncremental nothing to list") {
    val root = Files.createTempDirectory("graft_stream_handoff").toString
    val src = s"$root/src"
    HourlyFixture.write(spark, src)
    JobRunner.runStream(spark, spec(src, root), s"$root/out", s"$root/ckpt",
      maxFilesPerTrigger = 2)
    val all = parquetFiles(s"$src/upgrade=0/state=AK")
    assert(JobRunner.processedSoFar(spark, s"$root/out", spec(src, root)) === all)
    val inc = JobRunner.runIncremental(spark, spec(src, root), s"$root/out", "inc1")
    assert(inc.ledger.listed === 0)
  }

  test("source root with a space and a '%': ledger and manifest hold decoded paths") {
    // the stream's `path` column is decoded (a b%x) while
    // _metadata.file_path is encoded (a%20b%25x); neither may be decoded twice
    val root = Files.createTempDirectory("graft_stream_space").toString
    val src = s"$root/a b%x/src"
    HourlyFixture.write(spark, src)
    val good = parquetFiles(s"$src/upgrade=0/state=AK")
    val corrupt = s"$src/upgrade=0/state=AK/zz-corrupt.parquet"
    Files.write(Paths.get(corrupt), Array[Byte](1, 2, 3, 4, 5))
    val results = JobRunner.runStream(spark, spec(src, root), s"$root/out",
      s"$root/ckpt", maxFilesPerTrigger = 3)
    assert(results.flatMap(_.ledger.discrepancies) === Seq(corrupt))
    assert(results.map(_.ledger.processed).sum === HourlyFixture.Buildings)
    assert(JobRunner.processedSoFar(spark, s"$root/out", spec(src, root)) === good)

    val res = JobRunner.run(spark, spec(src, root), s"$root/job", "run1")
    assert(HourlyFixture.rows(stored(spark, results)) ===
      HourlyFixture.rows(spark.read.parquet(res.dataOut)))
  }

  test("no file under streaming/ runs the ETL transform itself") {
    val root = new File("src/main/scala/graft/streaming")
    assert(root.isDirectory, root.getAbsolutePath)
    val offending = for {
      f <- root.listFiles.toSeq if f.getName.endsWith(".scala")
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      c = code.split("//", 2).head
      if c.contains("HourlyAggregate(") || c.contains("FileLocalAggregate(")
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}

class HoppingWindowSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hopping windows equal the batch face (q65's operator)") {
    val dir = Files.createTempDirectory("graft_hop").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = (0 until 48).map(i =>
      (new Timestamp(ts("2024-05-01 00:00:00").getTime + i * 17 * 60 * 1000L),
        (i % 5).toDouble))
    val df = rows.toDF("ts", "v")
    df.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      // delay wider than the fixture's ~14 h span, and the sentinel is
      // STAGED after the real backlog drains: files drain in arbitrary
      // order inside one backlog, so a co-loaded sentinel can advance the
      // watermark mid-drain and lateness-drop everything after it (same
      // determinism rules as StreamJoinSpec)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("window.start").as("w"), col("n"), col("sv"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("hop_out").start()
    q.processAllAvailable() // real rows in state, watermark below them all
    Seq((ts("2024-05-03 00:00:00"), 0.0)).toDF("ts", "v")
      .write.mode("append").parquet(dir) // sentinel closes every window
    q.processAllAvailable()
    q.stop()

    val sentinelWindows = Set(ts("2024-05-02 23:00:00"), ts("2024-05-03 00:00:00"))
    val streamed = spark.table("hop_out")
      .filter(!col("w").isin(sentinelWindows.toSeq: _*))
      .orderBy("w").as[(Timestamp, Long, Double)].collect().toSeq
    val batch = df
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("window.start").as("w"), col("n"), col("sv"))
      .orderBy("w").as[(Timestamp, Long, Double)].collect().toSeq
    assert(streamed === batch)
    // every non-edge event lands in exactly size/slide = 2 windows
    assert(batch.map(_._2).sum === 2L * 48)
  }
}

/** Local disk under `failfs://` whose first create of batch 2's manifest
  * throws, once armed: the batch has stored its rows, its manifest is not
  * written and the stream has not committed it. */
class FailOnceFileSystem extends SchemeLocalFileSystem {
  override protected def scheme: String = "failfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (f.toUri.getPath.contains("/batch-2/manifest/") && FailOnceFileSystem.armed.getAndSet(false))
      throw new java.io.IOException(s"injected failure creating $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailOnceFileSystem {
  val armed = new AtomicBoolean(false)
}

class StreamingParquetSinkSpec extends SparkSpec {
  import EtlStream._

  test("restart after a failure in batch 2 equals a clean run") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.failfs.impl", classOf[FailOnceFileSystem].getName)
    hc.set("fs.failfs.impl.disable.cache", "true")
    val root = Files.createTempDirectory("graft_psink").toString
    val src = s"$root/src"
    HourlyFixture.write(spark, src)
    val clean = JobRunner.runStream(spark, spec(src, root), s"$root/clean",
      s"$root/clean_ckpt", maxFilesPerTrigger = 2)

    // the first attempt of batch 2 stores its rows, then fails on its
    // manifest before Spark commits the batch; the restart replays batch 2
    // from the checkpoint and goes on to batch 3
    val out = s"failfs://local$root/out"
    FailOnceFileSystem.armed.set(true)
    intercept[StreamingQueryException](JobRunner.runStream(spark, spec(src, root), out,
      s"$root/ckpt", maxFilesPerTrigger = 2))
    assert(!FailOnceFileSystem.armed.get)
    assert(Files.isDirectory(Paths.get(s"$root/out/batch-2/data")))
    val restart = JobRunner.runStream(spark, spec(src, root), out, s"$root/ckpt",
      maxFilesPerTrigger = 2)
    assert(restart.map(_.dataOut) === Seq(2, 3).map(i => s"$out/batch-$i/data/rel/2024/AK"))

    val restarted = HourlyFixture.rows(
      storedAt(spark, (0 to 3).map(i => s"$out/batch-$i/data/rel/2024/AK")))
    assert(restarted === HourlyFixture.rows(stored(spark, clean)))
    val res = JobRunner.run(spark, spec(src, root), s"$root/job", "run1")
    assert(restarted === HourlyFixture.rows(spark.read.parquet(res.dataOut)))
    assert(restarted.map(r => (r.getLong(1), r.getTimestamp(0))).distinct.length ===
      restarted.length)
    assert(JobRunner.processedSoFar(spark, out, spec(src, root)) ===
      parquetFiles(s"$src/upgrade=0/state=AK"))
  }
}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("stateful dedup drops cross-batch duplicates within the watermark") {
    val dir = Files.createTempDirectory("graft_sdedup").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // two files → two micro-batches with maxFilesPerTrigger=1
    Seq((1L, "alpha beta", ts("2024-05-01 10:00:00")),
      (2L, "gamma delta", ts("2024-05-01 10:01:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/f1")
    Seq((3L, "ALPHA  beta", ts("2024-05-01 10:02:00")), // dup after normalization
      (4L, "epsilon zeta", ts("2024-05-01 10:03:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/f2")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/f*")
    val deduped = StreamingDedup.exactByContent(stream, "text", "ts")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdedup_out").select("doc_id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 4L)) // doc 3 dropped as duplicate of 1
  }

  test("dedup state is evicted by the watermark (bounded-state contract)") {
    val dir = Files.createTempDirectory("graft_sdedup_evict").toString
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: first copy at 10:00
    Seq((1L, "alpha beta", ts("2024-05-01 10:00:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/f1")
    // batch 2: unrelated event at 13:00 advances the watermark to 12:00
    // (1 h retention) — past the 11:00 expiry of doc 1's fingerprint state
    Seq((2L, "gamma delta", ts("2024-05-01 13:00:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/f2")
    // batch 3: eviction runs during the batch AFTER the watermark advances —
    // this batch's end-of-batch cleanup removes doc 1's expired state row
    Seq((4L, "eta theta", ts("2024-05-01 14:00:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/f3")
    // batch 4: a late duplicate of doc 1 — its state is gone, so it emits
    Seq((3L, "alpha beta", ts("2024-05-01 14:01:00")))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$dir/f4")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/f*")
    val deduped = StreamingDedup.exactByContent(stream, "text", "ts", "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_evict_out").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdedup_evict_out").select("doc_id").as[Long].collect().sorted
    // doc 3 re-emits: its duplicate arrived beyond the retention horizon,
    // proving the state row was dropped (not retained forever)
    assert(ids === Array(1L, 2L, 3L, 4L))
  }
}

class QueryRegistrySpec extends SparkSpec {
  import graft.queries.QueryRegistry
  import spark.implicits._

  test("saved queries render and run; names snake-case like the CDK") {
    assert(QueryRegistry.savedQueries.map(_.snakeName) === Seq(
      "total_number_of_individual_building_models",
      "number_of_buildings_by_building_type_group",
      "isolated_individual_building_models"))

    // metadata + hourly-data fixture honoring the _min rename contract
    Seq(
      (1L, "AK", "AK, Ketchikan Gateway Borough", "Hospital", "Healthcare"),
      (2L, "AK", "AK, Ketchikan Gateway Borough", "Hospital", "Healthcare"),
      (3L, "AK", "AK, Ketchikan Gateway Borough", "SmallOffice", "Office"),
      (4L, "AK", "AK, Other Borough", "Hospital", "Healthcare"))
      .toDF("bldg_id", "in.state", "in.county_name",
        "in.comstock_building_type", "in.comstock_building_type_group")
      .createOrReplaceTempView("meta_v")
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("bldg_id_min", "x_mean")
      .createOrReplaceTempView("data_v")
    val b = Map("metadata_table" -> "meta_v", "data_table" -> "data_v")

    assert(QueryRegistry.run(spark,
      "total_number_of_individual_building_models", b)
      .collect().head.getLong(0) === 2L)
    val byGroup = QueryRegistry.run(spark,
      "number_of_buildings_by_building_type_group", b)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup === Map("Healthcare" -> 2L, "Office" -> 1L))
    val isolated = QueryRegistry.run(spark,
      "isolated_individual_building_models", b)
      .collect().map(_.getLong(0)).sorted
    assert(isolated === Array(1L, 2L))
  }
}
