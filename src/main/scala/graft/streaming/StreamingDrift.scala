package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Drift

/** Streaming face of X69's PSI drift monitor: a continuously-ingesting
  * numeric stream keeps per-EVENT-TIME-WINDOW histograms fresh, and
  * [[report]] scores each window's distribution against a fixed
  * reference — the "did last hour's traffic still look like training
  * data" alert, maintained micro-batch by micro-batch with the history
  * never rescanned.
  *
  * State is the mergeable sufficient statistic, not raw values: counts
  * per (window_start, bin), binned with EXACTLY [[Drift.binOf]] so the
  * maintained histogram can never desynchronize from the batch
  * statistic. Maintenance delegates to [[StreamingRollup.processBatch]]
  * with keys = (win, bin) and no measures — the same per-batch partials
  * (replay contract: [[BatchStore]]'s), compaction, and atomic swap,
  * applied to histograms (counts are the rollup algebra's cnt column).
  * A replayed batch therefore reproduces identical histograms, and
  * per-batch cost stays O(compactEvery) partitions.
  *
  * [[report]] replicates [[Drift.psiDetail]]'s arithmetic term for term
  * (epsilon smoothing, window-partitioned normalization, (p−q)·ln(p/q),
  * the +1e-9 rounding guard) against the reference histogram — the spec
  * pins streamed report ≡ the batch [[Drift.psi]] over the same rows,
  * bit for bit. */
object StreamingDrift {

  /** (win, bin) rows of one micro-batch: event-time window start +
    * [[Drift.binOf]] bin of the value; null values drop (absence). */
  def binned(batch: DataFrame, timeCol: String, valueCol: String,
      windowDuration: String, bins: Int, lo: Double, hi: Double): DataFrame =
    batch.filter(col(s"`$valueCol`").isNotNull)
      .select(
        window(col(s"`$timeCol`"), windowDuration)
          .getField("start").as("win"),
        Drift.binOf(col(s"`$valueCol`"), bins, lo, hi).as("bin"))

  /** One micro-batch: fold this batch's (win, bin) counts into the
    * maintained histogram state (StreamingRollup's recipe verbatim). */
  def processBatch(batch: DataFrame, batchId: Long, timeCol: String,
      valueCol: String, windowDuration: String, bins: Int, lo: Double,
      hi: Double, partialsDir: String, statePath: String,
      compactEvery: Int = 16): Unit =
    StreamingRollup.processBatch(
      binned(batch, timeCol, valueCol, windowDuration, bins, lo, hi),
      batchId, keys = Seq("win", "bin"), measures = Nil,
      partialsDir, statePath, compactEvery = compactEvery)

  /** Reference histogram of a static frame (bin, n_ref) — compute once,
    * persist or broadcast; KB-sized (bins+2 rows). */
  def referenceHistogram(ref: DataFrame, valueCol: String, bins: Int,
      lo: Double, hi: Double): DataFrame =
    ref.filter(col(s"`$valueCol`").isNotNull)
      .groupBy(Drift.binOf(col(s"`$valueCol`"), bins, lo, hi).as("bin"))
      .agg(count(lit(1)).as("n_ref"))

  /** Per-window PSI of the maintained state vs the reference histogram:
    * (win, psi) — Drift.psi's exact arithmetic, the reference replicated
    * into every window by the cross join (it is bins+2 rows). */
  def report(spark: SparkSession, statePath: String, refHist: DataFrame,
      epsilon: Double = 1e-6, roundTo: Int = 4): DataFrame = {
    val cur = spark.read.parquet(statePath)
      .select(col("win"), col("bin"), col("cnt").as("na"))
    val wins = cur.select(col("win")).distinct()
    val before = wins.crossJoin(broadcast(refHist))
      .select(col("win"), col("bin"), col("n_ref").as("nb"))
    val joined = before.join(cur, Seq("win", "bin"), "full_outer")
      .select(col("win"), col("bin"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("na"), lit(0L)).as("na"))
    val w = Window.partitionBy(col("win"))
    val p: Column = (col("nb") + epsilon) / sum(col("nb") + epsilon).over(w)
    val q: Column = (col("na") + epsilon) / sum(col("na") + epsilon).over(w)
    joined
      .withColumn("term", (p - q) * log(p / q))
      .groupBy(col("win"))
      .agg(round(sum(col("term")) + lit(1e-9), roundTo).as("psi"))
  }

  /** Start the stream: every micro-batch through [[processBatch]]. */
  def start(stream: DataFrame, timeCol: String, valueCol: String,
      windowDuration: String, bins: Int, lo: Double, hi: Double,
      partialsDir: String, statePath: String, checkpointDir: String,
      compactEvery: Int = 16): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.toDF(), id, timeCol, valueCol, windowDuration,
          bins, lo, hi, partialsDir, statePath, compactEvery)
      }
      .start()
}
