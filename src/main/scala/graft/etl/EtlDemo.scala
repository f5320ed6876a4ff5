package graft.etl

import java.nio.file.Files
import java.sql.Timestamp

/** Runnable end-to-end ETL demo: builds a hive-partitioned 15-min fixture
  * (reference source layout, FIXTURES §A.1), runs [[JobRunner]], prints the
  * ledger JSON (the reference's run summary, README.md:339-362) and the
  * output schema head. Usage: `sbt "runMain graft.etl.EtlDemo"`. */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.builder("local[4]", "graft-etl-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = args.headOption.getOrElse(
      Files.createTempDirectory("graft_etl_demo").toString)
    val src = s"$root/src"

    val rows = for {
      u <- Seq(0, 1); b <- Seq(101L, 202L); q <- 0 until 96 // one day of 15-min
    } yield (
      new Timestamp(Timestamp.valueOf("2024-06-01 00:00:00").getTime + q * 15 * 60 * 1000L),
      b, (b % 7 + q % 5).toDouble, (b % 3 + q % 11) / 10.0, u, "AK")
    rows.toDF("timestamp", "bldg_id",
        "out.electricity.total.energy_consumption",
        "out.electricity.total.energy_consumption_intensity",
        "upgrade", "state")
      .write.mode("overwrite").partitionBy("upgrade", "state").parquet(src)

    val spec = JobSpec("demo_release", "2024", "AK", Seq(0, 1), src, s"$root/meta")
    val res = JobRunner.run(spark, spec, s"$root/out", "demo")

    println(s"LEDGER ${res.ledger.toJson}")
    val out = spark.read.parquet(res.dataOut)
    println(s"OUTPUT rows=${out.count()} cols=${out.columns.mkString(",")}")
    out.orderBy("upgrade", "bldg_id_min", "timestamp").show(5, truncate = false)
    spark.stop()
  }
}
