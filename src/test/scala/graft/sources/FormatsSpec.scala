package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("CSV round-trip preserves rows and partitioned layout") {
    val root = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "a", 1.5, "x"), (2L, "b", 2.5, "x"), (3L, "c", 3.5, "y"))
      .toDF("id", "name", "score", "part")
    Formats.writeCsv(df, s"$root/out", partitionBy = Seq("part"))
    // hive layout on disk
    assert(Files.exists(Paths.get(s"$root/out/part=x")))
    val back = Formats.readCsv(spark, s"$root/out", schema)
    val rows = Formats.parsedRows(back).orderBy("id")
      .select("id", "name", "score", "part")
      .as[(Long, String, Double, String)].collect().toSeq
    assert(rows === Seq((1L, "a", 1.5, "x"), (2L, "b", 2.5, "x"), (3L, "c", 3.5, "y")))
  }

  test("JSON round-trip matches the parquet path exactly") {
    val root = Files.createTempDirectory("graft_json").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    Formats.writeJson(df, s"$root/j")
    df.write.parquet(s"$root/p")
    val viaJson = Formats.parsedRows(Formats.readJson(spark, s"$root/j", schema))
      .orderBy("id").collect().toSeq
    val viaParquet = spark.read.parquet(s"$root/p")
      .select("id", "name", "score").orderBy("id").collect().toSeq
    assert(viaJson === viaParquet)
  }

  test("malformed lines are captured, not fatal (ledger parity)") {
    val root = Files.createTempDirectory("graft_badcsv").toString
    Files.write(Paths.get(root, "data.csv"),
      "id,name,score\n1,a,1.5\nnot-a-long,b,oops\n3,c,3.5\n".getBytes)
    // one materialized parse shared by the ledger and the corrupt stream
    val back = graft.core.Materialize(Formats.readCsv(spark, s"$root/data.csv", schema))
    val ledger = Formats.parseLedger(back)
    assert(ledger === Formats.ParseLedger(parsed = 2, corrupt = 1))
    // the lazy parsed path works for any query touching a data column
    assert(Formats.parsedRows(back).select("id").as[Long].collect().sorted === Array(1L, 3L))
    val bad = Formats.corruptRows(back).select(Formats.CorruptCol)
      .as[String].collect()
    assert(bad.length === 1 && bad.head.startsWith("not-a-long"))
  }

  test("ORC round-trip matches parquet; filter pushes into the ORC scan") {
    val root = Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "score")
    Formats.writeOrc(df, s"$root/o")
    df.write.parquet(s"$root/p")
    val viaOrc = Formats.readOrc(spark, s"$root/o", df.schema)
      .orderBy("id").collect().toSeq
    val viaParquet = spark.read.parquet(s"$root/p").orderBy("id").collect().toSeq
    assert(viaOrc === viaParquet)
    // predicate pushdown reaches the ORC scan like it does parquet
    val plan = Formats.readOrc(spark, s"$root/o", df.schema)
      .filter($"score" > 2.0).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(score), GreaterThan(score,2.0)"),
      s"missing pushed filter in ORC scan:\n$plan")
  }

  test("partitioned ORC write preserves hive layout for pruning") {
    val root = Files.createTempDirectory("graft_orcpart").toString
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "x", 3.5))
      .toDF("id", "part", "score")
    Formats.writeOrc(df, s"$root/o", partitionBy = Seq("part"))
    assert(new java.io.File(s"$root/o/part=x").isDirectory)
    val back = Formats.readOrc(spark, s"$root/o")
    assert(back.filter($"part" === "x").select("id").as[Long]
      .collect().sorted === Array(1L, 3L))
  }

  test("Avro round-trip matches parquet; nulls, timestamps, partitions survive") {
    val root = Files.createTempDirectory("graft_avro").toString
    val df = Seq(
      (1L, Option("a"), Option(1.5), java.sql.Timestamp.valueOf("2026-01-02 03:04:05"), "x"),
      (2L, Option.empty[String], Option.empty[Double], java.sql.Timestamp.valueOf("2026-02-03 04:05:06"), "y"),
      (3L, Option("c"), Option(3.5), java.sql.Timestamp.valueOf("2026-03-04 05:06:07"), "x")
    ).toDF("id", "name", "score", "ts", "part")
    Formats.writeAvro(df, s"$root/a", partitionBy = Seq("part"))
    df.write.parquet(s"$root/p")
    // hive layout on disk (partition pruning keeps working downstream)
    assert(new java.io.File(s"$root/a/part=x").isDirectory)
    val viaAvro = Formats.readAvro(spark, s"$root/a")
      .select("id", "name", "score", "ts", "part")
      .orderBy("id").collect().toSeq
    val viaParquet = spark.read.parquet(s"$root/p")
      .select("id", "name", "score", "ts", "part")
      .orderBy("id").collect().toSeq
    assert(viaAvro === viaParquet)
    // declared-schema read path (data columns only live in the files)
    val declared = Formats.readAvro(spark, s"$root/a",
      org.apache.spark.sql.types.StructType(df.schema.filter(_.name != "part")))
    assert(declared.filter($"part" === "y").count() === 1L)
  }
}
