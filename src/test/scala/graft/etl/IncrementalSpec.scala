package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** One building's 15-min rows (the reference's one-building-per-file
    * layout — the precondition that makes file-level increments exact). */
  private def building(b: Long, u: Int): Seq[(Timestamp, Long, Double, Int, String)] =
    (0 until 8).map(q =>
      (ts(f"2024-03-01 ${q / 4}%02d:${(q % 4) * 15}%02d:00"), b, (b + q).toDouble, u, "AK"))

  test("incremental run processes only files no prior run has seen") {
    val root = Files.createTempDirectory("graft_incr").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/meta")

    // initial corpus: buildings 10 and 20, one file each
    building(10L, 0).toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .coalesce(1).write.partitionBy("upgrade", "state").mode("append").parquet(src)
    building(20L, 0).toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .coalesce(1).write.partitionBy("upgrade", "state").mode("append").parquet(src)
    val r1 = JobRunner.run(spark, spec, out, "run1")
    assert(r1.ledger.listed === 2 && r1.ledger.processed === 2)

    // a new building lands; incremental run must touch ONLY its file
    building(30L, 0).toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .coalesce(1).write.partitionBy("upgrade", "state").mode("append").parquet(src)
    val r2 = JobRunner.runIncremental(spark, spec, out, "run2")
    assert(r2.ledger.listed === 1, "only the unseen file is work")
    assert(r2.ledger.processed === 1)
    assert(r2.ledger.inputRows === 8)
    val incOut = spark.read.parquet(r2.dataOut)
    assert(incOut.select("bldg_id_min").distinct().as[Long].collect().toSeq === Seq(30L))

    // union of run outputs == a full run over everything
    val union = spark.read.parquet(r1.dataOut).unionByName(incOut)
    val full = JobRunner.run(spark, spec, out, "runFull")
    val fullDf = spark.read.parquet(full.dataOut)
    assert(union.count() === fullDf.count())
    assert(union.exceptAll(fullDf).count() === 0)
  }

  test("incremental run with nothing new is an empty no-op run") {
    val root = Files.createTempDirectory("graft_incr2").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/meta")
    building(10L, 0).toDF("timestamp", "bldg_id", "m", "upgrade", "state")
      .coalesce(1).write.partitionBy("upgrade", "state").parquet(src)
    JobRunner.run(spark, spec, out, "run1")
    val r2 = JobRunner.runIncremental(spark, spec, out, "run2")
    assert(r2.ledger.listed === 0 && r2.ledger.inputRows === 0)
    // and a third run still sees nothing (run2 wrote no manifest entries)
    val r3 = JobRunner.runIncremental(spark, spec, out, "run3")
    assert(r3.ledger.listed === 0)
  }

  test("incremental runs chain: each file processed exactly once overall") {
    val root = Files.createTempDirectory("graft_incr3").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val spec = JobSpec("rel", "2024", "AK", Seq(0), src, s"$root/meta")
    for ((b, run) <- Seq((10L, "r1"), (20L, "r2"), (30L, "r3"))) {
      building(b, 0).toDF("timestamp", "bldg_id", "m", "upgrade", "state")
        .coalesce(1).write.partitionBy("upgrade", "state").mode("append").parquet(src)
      val r = JobRunner.runIncremental(spark, spec, out, run)
      assert(r.ledger.listed === 1, s"run $run sees exactly the new file")
    }
    val processed = JobRunner.processedSoFar(spark, out, spec)
    assert(processed.size === 3)
  }

  test("chained incremental outputs union to exactly one full run") {
    val root = Files.createTempDirectory("graft_incr4").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val spec = JobSpec("rel", "2024", "AK", Seq(0, 1), src, s"$root/meta")
    // two buildings per step, across both upgrades, one file each
    val outputs = for ((bs, run) <- Seq((Seq(10L, 11L), "r1"), (Seq(20L, 21L), "r2"),
        (Seq(30L, 31L), "r3"))) yield {
      for (b <- bs) building(b, (b % 2).toInt)
        .toDF("timestamp", "bldg_id", "m", "upgrade", "state")
        .coalesce(1).write.partitionBy("upgrade", "state").mode("append").parquet(src)
      val r = JobRunner.runIncremental(spark, spec, out, run)
      assert(r.ledger.listed === 2 && r.ledger.processed === 2)
      spark.read.parquet(r.dataOut)
    }
    val union = outputs.reduce(_ unionByName _)
    val full = spark.read.parquet(JobRunner.run(spark, spec, out, "full").dataOut)
    assert(full.count() === 6 * 2)
    assert(union.count() === full.count())
    assert(union.exceptAll(full).count() === 0)
    assert(full.exceptAll(union).count() === 0)
  }
}
