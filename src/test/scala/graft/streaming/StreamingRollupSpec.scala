package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.etl.MaterializedRollup
import graft.plans.RollupViewRewrite

/** [[StreamingRollup]]: micro-batch maintenance of an X91 rollup. Pins
  * (1) the maintained rollup ≡ a from-scratch build over everything that
  * has streamed (integer measures, exact), (2) replay idempotence — a
  * re-fired batch replaces its own partials partition and re-merges to a
  * bit-identical rollup (foreachBatch is at-least-once and a naive merge
  * would double-count), (3) the real streaming wrapper end-to-end over a
  * MemoryStream, with the rewrite answering from the maintained file,
  * (4) a restart from the checkpoint after a failed batch. */
class StreamingRollupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_sr").toString

  private val b0 = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L))
  private val b1 = Seq(("a", 100L, -7L), ("c", 4L, 4L))
  private val b2 = Seq(("b", -1L, 0L), ("c", 40L, 9L))

  private def rollupRows(mvPath: String): Seq[String] =
    spark.read.parquet(mvPath).collect().map(_.toString).sorted.toSeq

  test("maintained rollup equals a from-scratch build; replay is idempotent") {
    val (partials, mv) = (tmp() + "/p", tmp() + "/mv")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      StreamingRollup.processBatch(b.toDF("k", "v", "w"), i.toLong,
        keys = Seq("k"), measures = Seq("v", "w"), partials, mv)
    }
    val want = MaterializedRollup.build(
      (b0 ++ b1 ++ b2).toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .collect().map(_.toString).sorted.toSeq
    assert(rollupRows(mv) === want)

    // replay batch 1 (at-least-once): partition replaced, rollup unchanged
    StreamingRollup.processBatch(b1.toDF("k", "v", "w"), 1L,
      keys = Seq("k"), measures = Seq("v", "w"), partials, mv)
    assert(rollupRows(mv) === want)
    // a replay with DIFFERENT content for the same batch id supersedes it
    // (the partition is the batch's single source of truth)
    StreamingRollup.processBatch(b1.take(1).toDF("k", "v", "w"), 1L,
      keys = Seq("k"), measures = Seq("v", "w"), partials, mv)
    val wantSuperseded = MaterializedRollup.build(
      (b0 ++ b1.take(1) ++ b2).toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .collect().map(_.toString).sorted.toSeq
    assert(rollupRows(mv) === wantSuperseded)
  }

  test("compaction bounds the partial history; merges stay exact") {
    val root = tmp()
    val (partials, mv) = (s"$root/p", s"$root/mv")
    val batches = Seq.tabulate(24) { i =>
      Seq(("k" + (i % 3), i.toLong, (i * 7 % 11).toLong),
        ("k" + ((i + 1) % 3), -i.toLong, 1L))
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingRollup.processBatch(b.toDF("k", "v", "w"), i.toLong,
        keys = Seq("k"), measures = Seq("v", "w"), partials, mv,
        compactEvery = 8)
    }
    def partialDirs(): Seq[String] =
      new java.io.File(partials).listFiles().map(_.getName).toSeq
        .filter(_.startsWith("batch_id="))
    def snapshotDirs(): Seq[String] =
      new java.io.File(partials + "__compacted").listFiles()
        .map(_.getName).toSeq.filter(_.startsWith("upto="))
    // history was folded: far fewer partials on disk than batches, one
    // consolidated snapshot, and the rollup equals a from-scratch build
    assert(partialDirs().size < 10 && snapshotDirs().size === 1)
    val want = MaterializedRollup.build(
      batches.flatten.toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .collect().map(_.toString).sorted.toSeq
    assert(rollupRows(mv) === want)

    // replay of the LATEST batch stays idempotent after compaction (the
    // current−2 fold margin keeps every replayable batch out of the fold)
    StreamingRollup.processBatch(batches.last.toDF("k", "v", "w"), 23L,
      keys = Seq("k"), measures = Seq("v", "w"), partials, mv,
      compactEvery = 8)
    assert(rollupRows(mv) === want)

    // crash garbage is inert: a leftover partial the snapshot already
    // covers is ignored by the read discipline (batch_id > upto only)
    MaterializedRollup.build(
        Seq(("POISON", 1000L, 1000L)).toDF("k", "v", "w"),
        Seq("k"), Seq("v", "w"))
      .withColumn("batch_id", lit(0L))
      .write.mode("append").partitionBy("batch_id").parquet(partials)
    StreamingRollup.processBatch(batches.last.toDF("k", "v", "w"), 23L,
      keys = Seq("k"), measures = Seq("v", "w"), partials, mv,
      compactEvery = 8)
    assert(rollupRows(mv) === want)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("compaction sweeps crash-orphaned partials and superseded snapshots") {
    // a crash mid-GC can leave (a) partials at ids ≤ the watermark that an
    // earlier fold already consumed and (b) snapshots below the max upto.
    // Both are inert for correctness (read discipline), but the sweep must
    // remove them at the NEXT compaction or they accumulate across crashes.
    val root = tmp()
    val (partials, mv) = (s"$root/p", s"$root/mv")
    def run(range: Range): Unit = range.foreach { i =>
      StreamingRollup.processBatch(
        Seq(("k" + (i % 3), i.toLong, 1L)).toDF("k", "v", "w"), i.toLong,
        keys = Seq("k"), measures = Seq("v", "w"), partials, mv,
        compactEvery = 8)
    }
    run(0 until 12) // first fold happened; watermark = some upto
    def dirs(d: String, prefix: String): Set[String] = {
      val f = new java.io.File(d)
      if (!f.exists()) Set.empty
      else f.listFiles().map(_.getName).filter(_.startsWith(prefix)).toSet
    }
    // simulate crash leftovers: a consumed partial back at id=0 and a
    // stale snapshot below the current max
    MaterializedRollup.build(
        Seq(("ORPHAN", 99L, 99L)).toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .withColumn("batch_id", lit(0L))
      .write.mode("append").partitionBy("batch_id").parquet(partials)
    MaterializedRollup.build(
        Seq(("STALE", 1L, 1L)).toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .write.parquet(s"${partials}__compacted/upto=1")
    assert(dirs(partials, "batch_id=").contains("batch_id=0"))
    assert(dirs(s"${partials}__compacted", "upto=").size === 2)

    run(12 until 24) // drives the next compaction
    // swept: no partial at or below the watermark, exactly one snapshot
    val upto = dirs(s"${partials}__compacted", "upto=")
      .map(_.stripPrefix("upto=").toLong)
    assert(upto.size === 1)
    val ids = dirs(partials, "batch_id=").map(_.stripPrefix("batch_id=").toLong)
    assert(!ids.exists(_ <= upto.head))
    // and the rollup still equals a from-scratch build over the real feed
    val want = MaterializedRollup.build(
      (0 until 24).map(i => ("k" + (i % 3), i.toLong, 1L))
        .toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .collect().map(_.toString).sorted.toSeq
    assert(rollupRows(mv) === want)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("MemoryStream end-to-end: the rewrite answers from the maintained rollup") {
    val root = tmp()
    val (partials, mv, ckpt) = (s"$root/p", s"$root/mv", s"$root/ckpt")
    try {
      // a base table the registered view nominally fronts (the stream IS
      // its append feed in this contract)
      (b0 ++ b1).toDF("k", "v", "w")
        .write.mode("overwrite").parquet(s"$root/base")
      val mem = MemoryStream[(String, Long, Long)](spark)
      val q = StreamingRollup.start(mem.toDF().toDF("k", "v", "w"),
        keys = Seq("k"), measures = Seq("v", "w"), partials, mv, ckpt,
        registerAs = Some("sr_view"), basePath = s"$root/base")
      try {
        mem.addData(b0: _*); q.processAllAvailable()
        mem.addData(b1: _*); q.processAllAvailable()
      } finally q.stop()

      val base = spark.read.parquet(s"$root/base")
      val agg = base.groupBy($"k").agg(
        count(lit(1)).as("c"), sum($"v").as("sv"), avg($"v").as("av"),
        min($"w").as("mnw"), max($"w").as("mxw"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      assert(scanned.exists(_.contains(mv)) && !scanned.exists(_.contains("base")))
      val got = agg.collect().map(_.toString).sorted.toSeq
      spark.conf.set(RollupViewRewrite.EnabledKey, "false")
      val want =
        try base.groupBy($"k").agg(
          count(lit(1)).as("c"), sum($"v").as("sv"), avg($"v").as("av"),
          min($"w").as("mnw"), max($"w").as("mxw"))
          .collect().map(_.toString).sorted.toSeq
        finally spark.conf.unset(RollupViewRewrite.EnabledKey)
      assert(got === want)
    } finally {
      RollupViewRewrite.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("restart from the checkpoint after a failure between sink write and " +
      "batch commit equals a clean run") {
    // failOn = Some(1): the first attempt of batch 1 runs processBatch,
    // then throws before Spark commits the batch; the restarted query
    // replays batch 1 from the same checkpoint
    def run(failOn: Option[Long]): Seq[String] = {
      val root = tmp()
      val (partials, mv, ckpt) = (s"$root/p", s"$root/mv", s"$root/ckpt")
      val (keys, measures) = (Seq("k"), Seq("v", "w"))
      val mem = MemoryStream[(String, Long, Long)](spark)
      val df = mem.toDF().toDF("k", "v", "w")
      var failed = false
      val q0 = df.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          StreamingRollup.processBatch(b.toDF(), id, keys, measures,
            partials, mv)
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
      val q1 = StreamingRollup.start(df, keys, measures, partials, mv, ckpt)
      try {
        q1.processAllAvailable()
        mem.addData(b2: _*); q1.processAllAvailable()
      } finally q1.stop()
      try rollupRows(mv)
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    val clean = run(None)
    assert(clean === MaterializedRollup.build(
      (b0 ++ b1 ++ b2).toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
      .collect().map(_.toString).sorted.toSeq)
    assert(run(Some(1L)) === clean)
  }
}
