package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** [[StreamingDedupIndex]]: continuous exact dedup against a persisted
  * hash index. Pins (1) equivalence with the batch fold
  * ([[graft.ext.IncrementalDedup.foldBatchesExact]]), (2) replay
  * idempotence (the at-least-once contract of foreachBatch), (3) the
  * real streaming wrapper end-to-end over a MemoryStream, also across a
  * failure and a restart from its checkpoint. */
class StreamingDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sdi").toString

  private val b0 = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"))
  private val b1 = Seq((4L, "bbb"), (5L, "ccc"))
  private val b2 = Seq((6L, "ccc"), (7L, "ddd"))

  private def outIds(outDir: String): Set[Long] =
    spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet

  test("batch-by-batch processing equals the batch fold") {
    // a `file:` URI dir must find its index exactly as a bare path does
    Seq(() => tmp(), () => "file:" + tmp()).foreach { dir =>
      val (idx, out) = (dir(), dir())
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        StreamingDedupIndex.processBatch(
          b.toDF("doc_id", "text"), i.toLong, "doc_id", "text", idx, out)
      }
      val folded = graft.ext.IncrementalDedup.foldBatchesExact(
          spark, Seq(b0, b1, b2).map(_.toDF("doc_id", "text")), "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(outIds(out) === folded)
      assert(outIds(out) === Set(1L, 2L, 5L, 7L))
    }
  }

  test("replaying a batch is bit-identical (at-least-once safety)") {
    val (idx, out) = (tmp(), tmp())
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingDedupIndex.processBatch(
        b.toDF("doc_id", "text"), i.toLong, "doc_id", "text", idx, out)
    }
    // crash-after-commit replay of batch 1
    StreamingDedupIndex.processBatch(
      b1.toDF("doc_id", "text"), 1L, "doc_id", "text", idx, out)
    assert(outIds(out) === Set(1L, 2L, 5L, 7L),
      "replay must not drop or duplicate batch-1 survivors")
    // index partition count is stable too (overwritten, not appended)
    // distinct texts per batch: b0 {aaa,bbb}, b1 {bbb,ccc}, b2 {ccc,ddd}
    val idxRows = spark.read.parquet(idx).count()
    assert(idxRows === 6, s"index must hold one row per distinct (text, batch): $idxRows")
  }

  test("the streaming wrapper dedups a MemoryStream end-to-end") {
    val (idx, out, ckpt) = (tmp(), tmp(), tmp())
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedupIndex.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, out, ckpt)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(outIds(out) === Set(1L, 2L, 5L, 7L))
  }

  test("restart from the checkpoint after a failure between sink write and " +
      "batch commit equals a clean run") {
    implicit val sq = spark.sqlContext
    // failOn = Some(1): the first attempt of batch 1 runs processBatch,
    // then throws before Spark commits the batch; the restarted query
    // replays batch 1 from the same checkpoint
    def run(failOn: Option[Long]): (Set[Long], Long) = {
      val (idx, out, ckpt) = (tmp(), tmp(), tmp())
      val mem = MemoryStream[(Long, String)]
      val df = mem.toDF().toDF("doc_id", "text")
      var failed = false
      val q0 = df.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          StreamingDedupIndex.processBatch(b.toDF(), id, "doc_id", "text",
            idx, out)
          if (failOn.contains(id) && !failed) {
            failed = true
            throw new IllegalStateException(s"injected failure in batch $id")
          }
        }
        .start()
      try {
        mem.addData(b0: _*); q0.processAllAvailable()
        mem.addData(b1: _*)
        if (failOn.isDefined)
          intercept[StreamingQueryException](q0.processAllAvailable())
        else q0.processAllAvailable()
      } finally q0.stop()
      assert(failed === failOn.isDefined)
      val q1 = StreamingDedupIndex.start(df, "doc_id", "text", idx, out, ckpt)
      try {
        q1.processAllAvailable()
        mem.addData(b2: _*); q1.processAllAvailable()
      } finally q1.stop()
      (outIds(out), spark.read.parquet(idx).count())
    }
    val clean = run(None)
    assert(clean === ((Set(1L, 2L, 5L, 7L), 6L)))
    assert(run(Some(1L)) === clean)
  }
}
