package graft.ext

import org.apache.spark.sql.DataFrame

/** X62 — cross-corpus near-duplicate JOIN: which documents of corpus A
  * have a near-duplicate in corpus B. The decontamination shape X4's
  * n-gram overlap screen ([[Contamination]]) approximates at hash-space
  * granularity — this operator gives the per-pair answer (benchmark doc ↔
  * training doc, with the actual Jaccard), the evidence a contamination
  * audit publishes. Same machinery covers cross-snapshot dedup (this
  * crawl vs the last one) and supplier-catalog linkage.
  *
  * Two faces, one contract (token n-gram Jaccard ≥ threshold):
  *  - [[jaccardJoin]] — EXACT: inverted-index equi-join on shared
  *    shingle hashes. A qualifying pair (Jaccard > 0) must share a
  *    shingle, so recall is exactly 1 when the frequency cap is off —
  *    which is what makes the face oracle-checkable against an
  *    exhaustive SQL cross join. Candidate volume is Σ_s df_A(s)·df_B(s):
  *    bounded by the SMALLER side's index (the benchmark in the
  *    decontamination case) and, at scale, by `maxShingleFreq` capping
  *    each side's document frequency (dropping a boilerplate shingle can
  *    only LOWER a measured Jaccard, never create a false positive).
  *  - [[lshJoin]] — MinHash-banded: both sides sketched with the same
  *    [[Dedup.MinHashParams]], candidates only where a band bucket is
  *    shared (the X2 recall/precision trade), verified with the same
  *    exact [[graft.functions.JaccardSorted]] merge kernel. Use when
  *    BOTH sides are corpus-sized and even the capped inverted index is
  *    too hot.
  *
  * Output: (id_l, id_r, jaccard) — ALL qualifying cross pairs, including
  * id_l = id_r when the corpora overlap (cross semantics: the sides are
  * different tables; no within-side pairs are ever emitted).
  */
object CrossDedup {

  /** Exact cross-corpus Jaccard join (recall 1 with the cap off). */
  def jaccardJoin(left: DataFrame, right: DataFrame,
      idL: String, textL: String, idR: String, textR: String,
      n: Int = 3, minJaccard: Double = 0.7,
      maxShingleFreq: Option[Int] = Some(10000)): DataFrame =
    Dedup.overlapJaccard(
      Dedup.shingleOverlapBetween(left, right, idL, textL, idR, textR, n,
        maxShingleFreq),
      "l", "r", minJaccard)

  /** MinHash-banded cross join for two corpus-sized sides: candidates
    * share an LSH band bucket, verification is the exact merge-based
    * Jaccard over the full shingle-hash sets. Recall follows the X2
    * banding curve (tune `p.bands`/`p.numPerm` to the threshold). */
  def lshJoin(left: DataFrame, right: DataFrame,
      idL: String, textL: String, idR: String, textR: String,
      p: Dedup.MinHashParams = Dedup.MinHashParams()): DataFrame =
    Dedup.nearDupPairsBetween(Dedup.sketch(left, idL, textL, p),
      Dedup.sketch(right, idR, textR, p), p)
}
