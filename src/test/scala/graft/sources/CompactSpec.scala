package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("many small files rewrite to few target-sized files, data intact") {
    val root = Files.createTempDirectory("graft_compact").toString
    // 40 tiny files
    (1 to 40).foreach { i =>
      Seq((i.toLong, s"payload_$i" * 50)).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(s"$root/src")
    }
    val (filesBefore, bytes) = Compact.dirStats(spark, s"$root/src")
    assert(filesBefore === 40)

    val stats = Compact.parquetDir(spark, s"$root/src", s"$root/out",
      targetFileBytes = bytes / 3)
    assert(stats.outFiles === 3 || stats.outFiles === 4) // ceil(bytes / (bytes/3))
    val (filesAfter, _) = Compact.dirStats(spark, s"$root/out")
    assert(filesAfter === stats.outFiles)
    // content unchanged
    val before = spark.read.parquet(s"$root/src").orderBy("id").collect()
    val after = spark.read.parquet(s"$root/out").orderBy("id").collect()
    assert(after === before)
  }

  test("dirStats counts committed files only, not in-flight or hidden ones") {
    val root = Files.createTempDirectory("graft_compact_stats").toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"payload_$i")).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(s"$root/src")
    }
    val committed = new java.io.File(s"$root/src").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(committed.length === 3)
    // a writer's in-flight task output and a hidden (e.g. half-uploaded) file
    val inFlight = java.nio.file.Paths.get(s"$root/src/_temporary/0/part-x.parquet")
    Files.createDirectories(inFlight.getParent)
    Files.write(inFlight, Array.fill[Byte](1000)(1))
    Files.write(java.nio.file.Paths.get(s"$root/src/.x.parquet"), Array.fill[Byte](500)(1))

    assert(Compact.dirStats(spark, s"$root/src") ===
      ((committed.length.toLong, committed.map(_.length).sum)))
  }
}
