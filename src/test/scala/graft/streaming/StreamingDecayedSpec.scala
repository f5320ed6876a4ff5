package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[StreamingDecayed]] — continuous trending counters. Pinned: the
  * folded stream state equals the one-shot batch aggregate at the same
  * final reference, and a replayed batch is bit-identical. */
class StreamingDecayedSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private val H = 3600.0

  private def events(rows: (String, String, Double)*): DataFrame =
    rows.map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "ts", "v")

  private val batch1 = events(
    ("a", "2024-01-01 10:00:00", 1.0), ("b", "2024-01-01 10:30:00", 2.0))
  private val batch2 = events(
    ("a", "2024-01-01 11:00:00", 3.0), ("c", "2024-01-01 12:00:00", 4.0))

  private def collectState(dir: String): Seq[(String, Double, Double)] =
    StreamingDecayed.readState(spark, dir).get
      .select(col("k"), round(col("dcount"), 10), round(col("dsum"), 10))
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq

  test("two folded batches equal the one-shot aggregate; replay is bit-identical") {
    // a `file:` URI dir must find its predecessor as a bare path does
    val tmp = () => Files.createTempDirectory("graft_decay_state").toString
    Seq(tmp(), "file:" + tmp()).foreach { dir =>
      StreamingDecayed.processBatch(batch1, 0L, Seq("k"), "ts", "v", H, dir)
      StreamingDecayed.processBatch(batch2, 1L, Seq("k"), "ts", "v", H, dir)
      val folded = collectState(dir)
      // one-shot reference = batch2's max ts (12:00)
      val oneShot = graft.etl.DecayedCounter
        .aggregate(batch1.unionByName(batch2), Seq("k"), "ts", "v",
          "2024-01-01 12:00:00", H)
        .select(col("k"), round(col("dcount"), 10), round(col("dsum"), 10))
        .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
      folded.zip(oneShot).foreach { case ((k1, c1, s1), (k2, c2, s2)) =>
        assert(k1 === k2)
        assert(math.abs(c1 - c2) < 1e-9 && math.abs(s1 - s2) < 1e-9)
      }
      // replay batch 1: reads the same (empty) predecessor, rewrites v=0;
      // the LATEST state (v=1) is untouched and overall state unchanged
      StreamingDecayed.processBatch(batch1, 0L, Seq("k"), "ts", "v", H, dir)
      assert(collectState(dir) === folded)
      // replay batch 2: reads v=0 again, rewrites v=1 bit-identically
      StreamingDecayed.processBatch(batch2, 1L, Seq("k"), "ts", "v", H, dir)
      assert(collectState(dir) === folded)
    }
  }

  test("streaming query folds file micro-batches into the same state") {
    val root = Files.createTempDirectory("graft_decay_stream").toString
    // one part file per logical batch: the file source delivers part
    // files as separate micro-batches in NONDETERMINISTIC order, so the
    // expected value is computed at the final state's OWN reference —
    // re-referencing is exact in either time direction, making the fold
    // order-independent; this assertion pins exactly that
    batch1.repartition(1).write.parquet(s"$root/src/b1")
    batch2.repartition(1).write.parquet(s"$root/src/b2")
    val stream = spark.readStream.schema(batch1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/src/*")
    val q = StreamingDecayed.start(stream, Seq("k"), "ts", "v", H,
      s"$root/state", s"$root/chk")
    q.processAllAvailable()
    q.stop()
    val st = StreamingDecayed.readState(spark, s"$root/state").get
    val refUs = st.select("ref_us").head().getDouble(0)
    val got = collectState(s"$root/state")
    val expect = graft.etl.DecayedCounter
      .aggregateAt(batch1.unionByName(batch2), Seq("k"), "ts", "v",
        lit(refUs), H)
      .select(col("k"), round(col("dcount"), 10), round(col("dsum"), 10))
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got === expect)
  }
}
