package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[BatchStore]]: the replace policy (a superseding replay leaves none
  * of the first attempt's rows, in the one-level and the
  * `(batch_id, list_id)` layout), the explicit-schema read of a store no
  * batch has written, the committed-snapshot lookup and the listing of a
  * missing dir. */
class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_bs").toString

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("list_id", IntegerType), StructField("batch_id", LongType)))

  private def stored(dir: String): Seq[(Long, Int, Long)] =
    BatchStore.read(spark, dir, schema)
      .select("id", "list_id", "batch_id").as[(Long, Int, Long)]
      .collect().sorted.toSeq

  test("a superseding replay with fewer or no rows replaces the batch") {
    Seq(Nil, Seq("list_id")).foreach { partitionBy =>
      val dir = tmp()
      def write(batchId: Long, rows: (Long, Int)*): Unit =
        BatchStore.write(rows.toDF("id", "list_id"), dir, batchId,
          partitionBy: _*)
      write(0L, (1L, 0), (2L, 1), (3L, 2))
      write(1L, (4L, 1))
      write(0L, (5L, 0))
      assert(stored(dir) === Seq((4L, 1, 1L), (5L, 0, 0L)), partitionBy)
      write(0L)
      assert(stored(dir) === Seq((4L, 1, 1L)), partitionBy)
      assert(BatchStore.ids(spark, dir, "batch_id") === Seq(1L), partitionBy)
    }
  }

  test("read of a missing or never-written dir is empty with the schema") {
    Seq(tmp() + "/missing", tmp()).foreach { dir =>
      val df = BatchStore.read(spark, dir, schema)
      assert(df.schema === schema)
      assert(df.count() === 0L)
    }
  }

  test("latestCommitted skips uncommitted snapshots and those at or above before") {
    val dir = tmp()
    (0 to 3).foreach(v => Seq(v).toDF("n").write.parquet(s"$dir/v=$v"))
    Files.delete(java.nio.file.Paths.get(s"$dir/v=3/_SUCCESS"))
    def latest(before: Long): Option[Int] =
      BatchStore.latestCommitted(spark, dir, before)
        .map(_.as[Int].head())
    assert(latest(Long.MaxValue) === Some(2))
    assert(latest(2L) === Some(1))
    assert(latest(0L) === None)
    assert(BatchStore.latestCommitted(spark, tmp() + "/missing", 5L) === None)
  }

  test("ids of a missing dir is empty; drop removes the named subdirs") {
    assert(BatchStore.ids(spark, tmp() + "/missing", "batch_id") === Nil)
    val dir = tmp()
    (0L to 2L).foreach(b => BatchStore.write(Seq(b).toDF("id"), dir, b))
    BatchStore.drop(spark, dir, Seq(0L, 2L), "batch_id")
    assert(BatchStore.ids(spark, dir, "batch_id") === Seq(1L))
  }
}
