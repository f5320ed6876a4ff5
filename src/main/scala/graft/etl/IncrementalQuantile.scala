package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X64 — incremental QUANTILE maintenance: the percentile face of the
  * incremental-rollup family ([[MaterializedRollup]] maintains
  * cnt/sum/min/max/mean algebraically; quantiles are not algebraic, so
  * they need a mergeable STATE — this one is a deterministic per-key
  * bottom-k row sample).
  *
  * State = for each key, the k rows whose seeded id-hash draws are
  * smallest. That state is EXACTLY mergeable: bottom-k of a union is the
  * bottom-k of the unioned bottom-k's — so [[update]] folds an arriving
  * batch against the k-row state without ever rescanning history, and
  * any batch slicing yields the identical state (spec-proven, the X33
  * contract). Because the draw hashes only (id, seed), the sample is a
  * uniform random row sample that is REPRODUCIBLE across reruns and
  * growth-stable (an id's draw never changes; new rows can only displace
  * by drawing smaller).
  *
  * [[estimate]] computes exact interpolated percentiles OVER THE SAMPLE
  * (builtin `percentile`, the q51-pinned interpolation) — estimator
  * error is the standard uniform-sampling bound O(1/√k) on the rank,
  * with the quantile value exact for the sampled rank. The whole path is
  * windows + hash aggs: state size is k rows/key, estimate shuffles only
  * the sample.
  *
  * @note the `draw` hook mirrors X54/X60: engine-native draw is
  *   `xxhash64(id, seed)`; the oracle face passes a portable md5 draw so
  *   DuckDB reproduces the identical sample and percentile.
  */
object IncrementalQuantile {

  private def drawCol(idCol: String, seed: Long,
      draw: Option[Column]): Column =
    draw.getOrElse(xxhash64(col(s"`$idCol`"), lit(seed)))

  /** Bootstrap the per-key bottom-k sample state:
    * (keys..., id, value, __draw). */
  def sample(rows: DataFrame, keys: Seq[String], valueCol: String,
      idCol: String, k: Int, seed: Long = 42L,
      draw: Option[Column] = None): DataFrame = {
    require(k >= 1, "sample size must be positive")
    val keyed = rows.select(
      keys.map(c => col(s"`$c`")) :+ col(s"`$idCol`") :+ col(s"`$valueCol`")
        :+ drawCol(idCol, seed, draw).as("__draw"): _*)
    val w = Window.partitionBy(keys.map(c => col(s"`$c`")): _*)
      .orderBy(col("__draw"), col(s"`$idCol`"))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Fold a delta batch into the state: union, re-take bottom-k. The
    * state's stored draws are reused; only the DELTA is hashed — history
    * is never rescanned (its k surviving rows per key ARE the state). */
  def update(state: DataFrame, delta: DataFrame, keys: Seq[String],
      valueCol: String, idCol: String, k: Int, seed: Long = 42L,
      draw: Option[Column] = None): DataFrame = {
    require(k >= 1, "sample size must be positive")
    val deltaKeyed = delta.select(
      keys.map(c => col(s"`$c`")) :+ col(s"`$idCol`") :+ col(s"`$valueCol`")
        :+ drawCol(idCol, seed, draw).as("__draw"): _*)
    val w = Window.partitionBy(keys.map(c => col(s"`$c`")): _*)
      .orderBy(col("__draw"), col(s"`$idCol`"))
    state.unionByName(deltaKeyed)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Interpolated percentiles over the sample: one row per key with a
    * `p<q>` column per requested quantile (exact `percentile` over the
    * k-row sample). */
  def estimate(state: DataFrame, keys: Seq[String], valueCol: String,
      qs: Seq[Double], roundTo: Int = 4): DataFrame = {
    require(qs.nonEmpty, "at least one quantile")
    val aggs = qs.map { q =>
      round(expr(s"percentile(`$valueCol`, $q)") + lit(1e-9), roundTo)
        .as(s"p${(q * 100).round}")
    }
    state.groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
