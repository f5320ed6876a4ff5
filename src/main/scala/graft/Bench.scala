package graft

import org.apache.spark.sql.SparkSession

/** Bench protocol (BASELINE.md t3): headline queries Q01–Q21 plus the ETL
  * slice (events → hourly snappy parquet) on SPARK_GRAFT_SF_DIR, one warm-up
  * then 3 timed runs per query, median reported. Queries are materialized
  * through the noop sink so every projected column is computed (a bare
  * count() would let column pruning skip the real work).
  * Prints ONE JSON line. */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Sessions.local(appName = "graft-bench")

    // Optional comma-separated subset (e.g. "q15_lag_window,q27_asof_join")
    // for focused perf iteration; full suite when unset.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val headline: Seq[String] = queries.Queries.queries.map(_._1)
      .filter(n => only.forall(_.contains(n)))

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      name match {
        case "etl_slice" =>
          val out = java.nio.file.Files.createTempDirectory("graft_bench_etl").toString
          graft.etl.HourlyAggregate(
            core.Tables.load(spark, sfDir, "events"),
            timeCol = "ts", idCol = "user_id",
            measureCols = Seq("value"), byId = true)
            .write.mode("overwrite").option("compression", "snappy").parquet(out)
        case n =>
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // the subset filter governs etl_slice too — a focused run should not
    // pay 5 ETL parquet writes it didn't ask for. (etl_slice is now also a
    // Queries entry for its oracle face; distinct keeps it benched once —
    // as the WRITE, which the runOnce special case matches first.)
    val names = (headline :+ "etl_slice").distinct
      .filter(n => only.forall(_.contains(n)))
    // between-row memory isolation (round 14): a spilling query (q14 at
    // sf100) leaves unified-memory churn + undeleted shuffle files that
    // contaminate the NEXT rows' records (q15 read 40.2 s in-suite vs
    // 11.2 s focused at sf100 — §6.13). Clearing the cache and forcing a
    // GC lets the ContextCleaner reap dead shuffle/broadcast state so
    // every suite row is individually quotable. Runs OUTSIDE the timed
    // window.
    def isolateRow(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200) // let the async cleaner drain before the next row
    }
    val results = names.map { n =>
      try {
        runOnce(n); runOnce(n) // warm-ups: JIT tiering + codegen + listing caches
        val m = median(Seq.fill(3)(runOnce(n)))
        isolateRow()
        n -> m
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $n failed: ${e.getMessage}")
          isolateRow()
          n -> -1.0
      }
    }
    // The four composed flagships are timed as first-class rows (round 12):
    // their correctness is oracle/require-gated elsewhere, but only a
    // wall-time record catches a composition-level plan regression (a lost
    // broadcast between stages) that each stage's own face cannot see.
    // Kept OUT of total_median — the headline total is the 87-query set
    // DuckDB also runs, and the ratio must stay pairable round-over-round.
    // One warm-up + one timed run: these are multi-second compositions
    // where the signal is 2x-regression detection, not 5% precision.
    val flagshipNames = Seq("x0_pipeline", "x0_web_pipeline", "x0_linkage",
      "x0_media_pipeline").filter(n => only.forall(_.contains(n)))
    val flagships = flagshipNames.map { n =>
      try { runOnce(n); val v = runOnce(n); isolateRow(); n -> v }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $n failed: ${e.getMessage}")
          isolateRow()
          n -> -1.0
      }
    }
    def toJson(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total_median","value":$total,"unit":"sec","queries":${
        toJson(results)},"flagships":${toJson(flagships)},"sf":"$sfDir"}"""
    println(line)
    // the committed r11 stdout artifact arrived truncated (only the tail
    // of the queries map survived capture) — ALSO write the full line to a
    // file so the per-query record is always recoverable
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // refuse to clobber a file that is NOT a prior bench output (the
    // driver's flow reads bench_out.json from CWD, so the default path
    // must stay — but an unrelated file of that name is someone's data)
    val outPath = java.nio.file.Paths.get(outFile)
    if (java.nio.file.Files.exists(outPath)) {
      val head = new String(java.nio.file.Files.readAllBytes(outPath),
        java.nio.charset.StandardCharsets.UTF_8).take(64)
      require(head.startsWith("""{"metric":"""),
        s"$outFile exists and is not a prior bench output — refusing to " +
          "overwrite; set SPARK_GRAFT_BENCH_OUT to another path")
    }
    java.nio.file.Files.write(outPath,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
