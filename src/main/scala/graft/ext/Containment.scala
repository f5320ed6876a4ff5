package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X73 — containment (asymmetric near-dup) detection: for document pair
  * (A, B), containment C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
  * — "how much of A is inside B". Jaccard (X2) misses the single most
  * common real-corpus duplication shape: a SHORT document wholly embedded
  * in a much longer one (quote farms, aggregator pages, prefix crawls,
  * truncated mirrors) has near-zero Jaccard (the union is dominated by the
  * long side) but containment ≈ 1. Broder's original resemblance paper
  * defines both measures for exactly this reason; dedup pipelines keep
  * Jaccard for symmetric near-dups and containment for subsumption.
  *
  * Plan shape (the X2 wire discipline): shingles hash to 64-bit
  * immediately, the inverted index joins and groups on 8-byte keys —
  * text never leaves the scan. Candidate generation is the
  * frequency-capped shingle equi-join (no crossJoin; the cap bounds the
  * per-shingle fan-out exactly as in [[NgramJaccard]]), intersection
  * counts come from one partial-agged groupBy, and the asymmetric ratio
  * only divides by the CONTAINED side's shingle count. Recall contract:
  * a pair with containment > 0 shares >= 1 shingle, so at
  * `maxShingleFreq` = ∞ the index has FULL recall; the cap trades tail
  * recall on stop-shingles for boundedness, exactly like X2.
  *
  * Emits BOTH directions' ratios per unordered pair (id_a < id_b,
  * `containment_a` = how much of a is in b; `containment_b` = how much of
  * b is in a) and keeps the pair when EITHER direction clears the
  * threshold — subsumption in either direction marks redundancy.
  */
object Containment {

  /** Pairs with max-direction containment >= `minContainment`.
    * Output: (id_a, id_b, na, nb, inter, containment_a, containment_b). */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.9,
      maxShingleFreq: Int = 1000): DataFrame =
    Dedup.shingleOverlap(df, idCol, textCol, n, Some(maxShingleFreq))
      .withColumn("containment_a",
        Dedup.round4(col("inter").cast("double") / col("na")))
      .withColumn("containment_b",
        Dedup.round4(col("inter").cast("double") / col("nb")))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)
      .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("inter"),
        col("containment_a"), col("containment_b"))

  /** Subsumption dedup: drop every document whose shingle set is
    * (near-)contained in a LARGER document (more shingles; smaller id
    * breaks exact ties) — the "remove the quote, keep the article" pass.
    * Per-pair loser marking, not components: a doc contained in ANY
    * other is redundant regardless of what its container links to, and
    * chains resolve naturally (A ⊂ B ⊂ C drops A and B — each is a
    * loser in at least one pair — and keeps C, which loses nowhere). */
  def dedupContained(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.9,
      maxShingleFreq: Int = 1000): DataFrame = {
    val p = pairs(df, idCol, textCol, n, minContainment, maxShingleFreq)
    // loser = the contained side: fewer shingles, id as tiebreak
    val losers = p.select(
      when(col("na") < col("nb"), col("id_a"))
        .when(col("nb") < col("na"), col("id_b"))
        .when(col("id_a") > col("id_b"), col("id_a"))
        .otherwise(col("id_b")).as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }
}
