package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X65 — exponentially time-decayed counters: the "what's hot NOW"
  * maintenance pass (trending domains, bursty users, recency-weighted
  * token counts). A decayed count at reference time T is
  * Σ e^(−λ(T − ts)) over events (and `dsum` the value-weighted analog);
  * half-life h ⇒ λ = ln 2 / h — an event h ago counts half.
  *
  * Why this belongs to the incremental family: the decayed sum is
  * ALGEBRAIC under re-referencing — C(T') = C(T)·e^(−λ(T'−T)) + Σ_delta
  * e^(−λ(T'−ts)) — so the state is just (key, ref_us, dcount, dsum):
  * [[update]] decays the old state by one scalar factor and folds only
  * the DELTA's rows; history is never rescanned (the X33 contract of
  * [[MaterializedRollup.merge]], extended to recency weighting). Merging two states =
  * decay both to a common reference and add.
  *
  * Numerics: time is exact integer MICROSECONDS on both engine and
  * oracle (`unix_micros` ↔ DuckDB `epoch_us`), so the exp argument is
  * the same double everywhere; e^(a+b) vs e^a·e^b splits differ in last
  * ulps, which the rounded outputs absorb (the q44 nudge) — the oracle
  * computes the single-pass closed form and hash-matches the folded
  * state, which is simultaneously the incremental ≡ full proof.
  */
object DecayedCounter {

  private def lambdaPerUs(halfLifeSec: Double): Double =
    math.log(2.0) / (halfLifeSec * 1e6)

  private def decayAt(refUs: Column, tsCol: String, lam: Double): Column =
    exp(-(lit(lam) * (refUs - unix_micros(col(s"`$tsCol`")).cast("double"))))

  /** Bootstrap the state at `refTs`: (keys..., ref_us, dcount, dsum).
    * `valueCol` weights `dsum` (dcount always weights each event 1). */
  def aggregate(rows: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, refTs: String, halfLifeSec: Double): DataFrame =
    aggregateAt(rows, keys, tsCol, valueCol,
      unix_micros(lit(refTs).cast("timestamp")).cast("double"), halfLifeSec)

  /** [[aggregate]] with the reference as a microseconds Column — the
    * streaming face derives its reference from the batch itself. */
  def aggregateAt(rows: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, refUs: Column, halfLifeSec: Double): DataFrame = {
    val lam = lambdaPerUs(halfLifeSec)
    val w = decayAt(refUs, tsCol, lam)
    rows.groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(sum(w).as("dcount"),
        sum(col(s"`$valueCol`") * w).as("dsum"))
      .withColumn("ref_us", refUs)
  }

  /** Decay the state to `newRefTs` and fold a delta batch in — one
    * scalar decay for ALL of history, per-event weights only for the
    * delta. Keys present in only one side pass through (decayed or
    * fresh). */
  def update(state: DataFrame, delta: DataFrame, keys: Seq[String],
      tsCol: String, valueCol: String, newRefTs: String,
      halfLifeSec: Double): DataFrame =
    updateAt(state, delta, keys, tsCol, valueCol,
      unix_micros(lit(newRefTs).cast("timestamp")).cast("double"), halfLifeSec)

  /** [[update]] with the new reference as a microseconds Column. */
  def updateAt(state: DataFrame, delta: DataFrame, keys: Seq[String],
      tsCol: String, valueCol: String, newRefUs: Column,
      halfLifeSec: Double): DataFrame = {
    val lam = lambdaPerUs(halfLifeSec)
    val carried = state.select(
      keys.map(c => col(s"`$c`"))
        :+ (col("dcount") * exp(-(lit(lam) * (newRefUs - col("ref_us")))))
          .as("dcount")
        :+ (col("dsum") * exp(-(lit(lam) * (newRefUs - col("ref_us")))))
          .as("dsum"): _*)
    val fresh = aggregateAt(delta, keys, tsCol, valueCol, newRefUs,
      halfLifeSec).drop("ref_us")
    carried.unionByName(fresh)
      .groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(sum(col("dcount")).as("dcount"), sum(col("dsum")).as("dsum"))
      .withColumn("ref_us", newRefUs)
  }
}
