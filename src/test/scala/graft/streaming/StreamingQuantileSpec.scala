package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** [[StreamingQuantile]] — bounded-state streaming percentiles. Pinned:
  * folded stream state equals the one-shot sample of everything seen
  * (order-free mergeability), replays bit-identical. */
class StreamingQuantileSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, "g" + (i % 2), i.toDouble)).toDF("id", "g", "v")

  private val K = 15

  private def collectState(dir: String): Seq[(Long, String, Double)] =
    StreamingQuantile.readState(spark, dir).get
      .select("id", "g", "v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq

  test("folded micro-batches equal the one-shot sample; replay bit-identical") {
    // a `file:` URI dir must find its predecessor as a bare path does
    val tmp = () => Files.createTempDirectory("graft_q_state").toString
    Seq(tmp(), "file:" + tmp()).foreach { dir =>
      StreamingQuantile.processBatch(rows(1 to 80), 0L, Seq("g"), "v", "id", K, 42L, dir)
      StreamingQuantile.processBatch(rows(81 to 200), 1L, Seq("g"), "v", "id", K, 42L, dir)
      StreamingQuantile.processBatch(rows(201 to 240), 2L, Seq("g"), "v", "id", K, 42L, dir)
      val folded = collectState(dir)
      val oneShot = graft.etl.IncrementalQuantile
        .sample(rows(1 to 240), Seq("g"), "v", "id", K)
        .select("id", "g", "v").as[(Long, String, Double)]
        .collect().sortBy(_._1).toSeq
      assert(folded === oneShot)
      // replay the middle batch: reads v=0 again, rewrites v=1; latest
      // state (v=2) and the overall answer are untouched
      StreamingQuantile.processBatch(rows(81 to 200), 1L, Seq("g"), "v", "id", K, 42L, dir)
      assert(collectState(dir) === folded)
      // estimates come straight off the state
      val est = graft.etl.IncrementalQuantile
        .estimate(StreamingQuantile.readState(spark, dir).get,
          Seq("g"), "v", Seq(0.5))
        .as[(String, Double)].collect().toMap
      assert(est.size === 2 && est.values.forall(m => m > 0 && m <= 240))
    }
  }

  test("streaming query folds file micro-batches; state bounded at k per key") {
    val root = Files.createTempDirectory("graft_q_stream").toString
    rows(1 to 120).write.parquet(s"$root/src/b1")
    rows(121 to 300).write.parquet(s"$root/src/b2")
    val stream = spark.readStream.schema(rows(1 to 1).schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/src/*")
    val q = StreamingQuantile.start(stream, Seq("g"), "v", "id", K,
      s"$root/state", s"$root/chk")
    q.processAllAvailable()
    q.stop()
    val st = StreamingQuantile.readState(spark, s"$root/state").get
    val sizes = st.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ === K.toLong))
    assert(st.select("id", "g", "v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
      === graft.etl.IncrementalQuantile
        .sample(rows(1 to 300), Seq("g"), "v", "id", K)
        .select("id", "g", "v").as[(Long, String, Double)]
        .collect().sortBy(_._1).toSeq)
  }
}
