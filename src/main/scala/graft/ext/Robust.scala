package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust (median/MAD-based) statistics — the outlier screen that
  * actually works on pipeline telemetry and data-quality metrics, where
  * mean/stddev are themselves dragged by the outliers they are supposed
  * to find. MAD = median(|x − median(x)|); a point is anomalous when
  * |x − median| > k·MAD (k≈3–5 ≈ the robust analog of z > 2–3.4).
  *
  * Plan shape: two exact-median aggregations (groups × 1 rows each) with
  * the tiny group-stats relations broadcast back onto the rows — rows
  * shuffle only for the aggregations themselves, and the final screen is
  * a row-local comparison at scan speed. The branch-off-scan re-read
  * (input is scanned once per aggregation pass — SURVEY §6.3) is the
  * honest cost of exact medians; swap in `approx_percentile(0.5)` via
  * `approxMedians = true` to collapse the screen to one pass when
  * 1%-quantile error is acceptable (it usually is for outlier screens).
  *
  * The stats relation is broadcast on the assumption that outlier
  * screens group by COARSE dimensions (entity types, sources, shards —
  * thousands of groups, not millions). A high-cardinality key would
  * make the broadcast itself the problem; drop the `broadcast()` hints
  * and let AQE pick a shuffled join in that regime.
  */
object Robust {

  /** Per-group (median, MAD) of `valueCol`.
    *
    * Exact-median machinery is chosen by the optimizer's SIZE ESTIMATE
    * (the q14 broadcast-gate pattern): below the threshold the builtin
    * `median()` aggregate runs — it buffers each group's values, which
    * is fast while groups fit comfortably in executor memory; above it
    * (or for any single-key input the estimate deems large) the medians
    * run through [[Quantiles.exactQuantiles]] — distributed selection,
    * NO per-group buffering, so a billion-row group cannot OOM an
    * executor. Composite keys always use the buffered path (the
    * coarse-screen assumption). Both engines produce the same
    * interpolated-median semantics (pinned by q51's oracle).
    *
    * Threshold calibration (SURVEY §6.6, at the 100× bench set, 10 M
    * rows / 5 groups): buffered 2.2 s, selection 8.8 s (4.8 s with the
    * input persisted), percentile_approx 2.4 s — the selection path pays
    * its fixed multi-stage cost TWICE (median, then MAD over
    * deviations), so it only earns its keep where per-group buffers
    * genuinely threaten task memory; note approx buys nothing over
    * buffered-exact at this scale, which is why the default stays
    * exact. The gate bounds the PESSIMISTIC case — a single group
    * holding the whole input: a 512 MB (g, x) estimate ≈ 20 M rows
    * ≈ 160 MB of value buffer in one task, the upper edge of
    * comfortable; beyond that, selection's memory-boundedness is worth
    * its constant factor. */
  def madStats(df: DataFrame, keyCols: Seq[String], valueCol: String,
      approxMedians: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    val keys = keyCols.map(k => col(s"`$k`"))
    val x = col(s"`$valueCol`")
    val big = df.queryExecution.optimizedPlan.stats.sizeInBytes > (512L << 20)
    if (!approxMedians && big && isLowCardinality(df, valueCol)) {
      // telemetry values are typically fixed-precision: when distincts
      // are a small fraction of rows, the EXACT answer needs only the
      // (key, value) → count histogram — one partial-aggregated shuffle
      // whose width is the distinct count, then both medians fall out of
      // tiny weighted-median windows. Beats buffering 10^7 doubles per
      // group AND the selection path's repeated fixed cost (measured at
      // the 100× set: 0.9 s vs buffered 2.2 s vs selection 8.8 s).
      madStatsHistogram(df, keyCols, valueCol)
    } else if (!approxMedians && keyCols.size == 1 && big) {
      val g = keyCols.head
      val m1 = Quantiles.exactQuantiles(df, g, Seq((valueCol, 0.5, "med")))
      val dev = df.join(broadcast(m1), Seq(g))
        .withColumn("__dev", abs(x - col("med")))
      val m2 = Quantiles.exactQuantiles(dev, g, Seq(("__dev", 0.5, "mad")))
      m1.join(m2, Seq(g))
    } else {
      def med(c: Column): Column =
        if (approxMedians) percentile_approx(c, lit(0.5), lit(10000)) else median(c)
      val m1 = df.groupBy(keys: _*).agg(med(x).as("__med"))
      df.join(broadcast(m1), keyCols)
        .groupBy(keys: _*)
        .agg(first(col("__med")).as("med"),
          med(abs(x - col("__med"))).as("mad"))
    }
  }

  /** One-pass cardinality probe: true when `approx_count_distinct` says
    * distinct values are ≤ 1/8 of rows (partial-aggregated — the sketch
    * shuffle is bytes per partition, never row-sized). */
  private def isLowCardinality(df: DataFrame, valueCol: String): Boolean = {
    val r = df.agg(
      approx_count_distinct(col(s"`$valueCol`")).as("d"),
      count(lit(1)).as("n")).head()
    r.getLong(1) > 0 && r.getLong(0) * 8 <= r.getLong(1)
  }

  /** Exact per-group (median, MAD) through the (key, value) → count
    * histogram — the right plan when values repeat heavily (fixed-
    * precision telemetry, quantized metrics): the only row-sized work is
    * one partial-aggregated groupBy; the weighted-median windows run
    * over |distinct values| rows per group. Interpolation matches the
    * builtin `median()`/`percentile(0.5)`: lower + (upper − lower)·0.5
    * over the two middle order statistics. */
  def madStatsHistogram(df: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame =
    histStats(buildHist(df, keyCols, valueCol)
      .repartition(keyCols.map(col): _*).persist(), keyCols)

  /** (key, value) → count histogram of non-null values — the only
    * row-sized stage of the histogram path (partial-aggregated shuffle).
    * Nulls are dropped to mirror `median()`; a group whose values are
    * ALL null yields no stats row (callers join stats back, so such rows
    * simply stay unflagged). */
  private def buildHist(df: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val x = col(s"`$valueCol`")
    df.filter(x.isNotNull)
      .groupBy(keyCols.map(col) :+ x.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** Per-group interpolated median of a (__v, __c) histogram. Matches
    * the builtin `median()`/`percentile(0.5)`: lower + (upper−lower)·0.5
    * over the two middle order statistics. */
  private def weightedMedian(hist: DataFrame, keyCols: Seq[String],
      out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(keyCols.map(col): _*)
    val h = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wTot))
    // 1-indexed middle order statistics: lo = floor((n+1)/2),
    // hi = floor(n/2)+1 (equal when n is odd)
    val lo = floor((col("__n") + 1) / 2)
    val hi = floor(col("__n") / 2) + 1
    h.groupBy(keyCols.map(col): _*)
      .agg({
        val vLo = min(when(col("__cum") >= lo, col("__v")))
        val vHi = min(when(col("__cum") >= hi, col("__v")))
        (vLo + (vHi - vLo) * 0.5).as(out)
      })
  }

  /** (median, MAD) per group from a prebuilt histogram.
    *
    * r16 (guide §2.4 — share one exchange): the histogram is hash-
    * repartitioned by the GROUP KEYS once; every downstream stage — both
    * weighted-median windows (partitionBy keys), the deviation
    * projection (broadcast join, partitioning-preserving) and the
    * callers' final groupBy(keys) — then satisfies its clustering
    * requirement from that single exchange, where the old shape paid a
    * fresh Exchange per window plus a deviation re-aggregation (5
    * exchanges → 2 on q77; 11 jobs → 6). The deviation re-agg is dropped
    * outright: [[weightedMedian]] is duplicate-tolerant (tied __v rows
    * carry the same value, so the cum-threshold selection is unchanged —
    * only the relation is a little longer). Values identical; q77/x30
    * oracle faces pin it. */
  private def histStats(histDf: DataFrame, keyCols: Seq[String]): DataFrame = {
    val hist = histDf
    val med = weightedMedian(hist, keyCols, "med")
    val devHist = hist.join(broadcast(med), keyCols)
      .select(keyCols.map(col) ++ Seq(abs(col("__v") - col("med")).as("__v"),
        col("__c")): _*)
    med.join(weightedMedian(devHist, keyCols, "mad"), keyCols)
  }

  /** Per-group outlier SUMMARY — (n, n_outliers, med, mad) — computed
    * entirely from the value histogram: the raw relation is scanned
    * exactly ONCE (the partial-aggregated histogram build); medians, MAD
    * and the outlier counts all derive from the compacted (key, value,
    * count) rows. This is the scale shape for group-level screens: the
    * per-row `flagOutliers` join-back is only needed when the caller
    * wants the rows themselves. High-cardinality values degrade the
    * histogram toward row count — the shuffle is then the same size the
    * buffered-median path pays anyway, and the per-group window sort
    * spills instead of buffering in an aggregate. */
  def outlierSummary(df: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Double = 5.0): DataFrame = {
    // keys-clustered once (see histStats): the two median windows and
    // the final groupBy below all reuse this single exchange
    val hist = buildHist(df, keyCols, valueCol)
      .repartition(keyCols.map(col): _*).persist()
    val stats = histStats(hist, keyCols)
    hist.join(broadcast(stats), keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(abs(col("__v") - col("med")) > lit(k) * col("mad"),
          col("__c")).otherwise(lit(0L))).as("n_outliers"),
        sum(col("__c")).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"))
  }

  /** Rows flagged with `outlierCol` = 1 when |x − median| > k·MAD within
    * their group (0 otherwise; a zero-MAD group flags everything not
    * equal to the median — degenerate but well-defined). */
  def flagOutliers(df: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Double = 5.0, outlierCol: String = "is_outlier",
      approxMedians: Boolean = false): DataFrame = {
    val stats = madStats(df, keyCols, valueCol, approxMedians)
    df.join(broadcast(stats), keyCols)
      .withColumn(outlierCol,
        when(abs(col(s"`$valueCol`") - col("med")) > lit(k) * col("mad"), lit(1))
          .otherwise(lit(0)))
  }

  /** X83 — robust per-group z-normalization (feature scaling that
    * survives outliers): z = (x − median) / (1.4826·MAD), the
    * median/MAD analog of standardization — the mean/stddev version
    * shifts with the very outliers X30 screens for, which is why
    * robust-z is the featurization default for telemetry and reward
    * signals. 1.4826 is the Gaussian consistency constant (makes the
    * denominator estimate σ under normality, so thresholds transfer).
    * A zero-MAD group (constant values) has no defined scale: its rows
    * emit NULL rather than ±∞ — callers impute or drop explicitly.
    *
    * Plan: [[madStats]]'s one/two-pass exact medians (|groups| rows,
    * broadcast back), then a row-local projection — the scan stays the
    * only row-sized stage. Rounded to `roundTo` with the q44 +1e-9
    * guard so the x83 oracle face compares bit-stably. */
  def normalize(df: DataFrame, keyCols: Seq[String], valueCol: String,
      outCol: String = "robust_z", roundTo: Int = 4,
      approxMedians: Boolean = false): DataFrame = {
    val stats = madStats(df, keyCols, valueCol, approxMedians)
    df.join(broadcast(stats), keyCols)
      .withColumn(outCol,
        when(col("mad") > 0,
          round((col(s"`$valueCol`") - col("med"))
            / (lit(1.4826) * col("mad")) + lit(1e-9), roundTo)))
      .drop("med", "mad")
  }
}
