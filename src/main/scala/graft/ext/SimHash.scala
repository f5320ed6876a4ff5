package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X2 — SimHash near-dup detection (Charikar fingerprints).
  *
  * simhash64: per token, hash to 64 bits; accumulate +1/-1 per bit position;
  * final bit b is 1 iff the accumulated weight is positive. Documents within
  * small Hamming distance of each other are near-duplicates.
  *
  * Candidate generation uses the pigeonhole banding trick: split the 64-bit
  * fingerprint into `maxHamming + 1` chunks — any pair within `maxHamming`
  * bit flips must agree exactly on at least one chunk, so an equi-join per
  * chunk finds all such pairs with no crossJoin (the plan that survives
  * 100 TB; the verify step is bit_count(xor) on the candidate set only).
  *
  * Entirely builtin higher-order expressions — codegen'd, no UDF.
  */
object SimHash {

  /** 64-bit SimHash of a token array: each token string-hashed once
    * (builtin xxhash64), bit-weight accumulation in the native codegen'd
    * [[graft.functions.SimHash64]] kernel. */
  def simhash64(tokens: Column): Column =
    graft.functions.HashFunctions.simhash64(transform(tokens, t => xxhash64(t)))

  /** Fingerprints: (id, simhash) for a text column. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), simhash64(TextStats.tokens(col(textCol))).as("simhash"))

  /** All pairs (id_a < id_b) with Hamming(simhash_a, simhash_b) <= maxHamming.
    * Candidate generation + verify via the shared pigeonhole kernel
    * [[Hamming.pairs64]]. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    Hamming.pairs64(fingerprints(df, idCol, textCol), "id", "simhash", maxHamming)

  /** Token-multiset-identical duplicate pairs, found through the SimHash
    * machinery — the PROVABLE subcase (the [[ImageDedup.exactDupPairs]]
    * pattern): simhash64 accumulates per-token hash bits order-
    * independently, so an identical token multiset gives an identical
    * fingerprint ⇒ Hamming 0 ⇒ the banding join finds the pair with
    * recall 1 BY CONSTRUCTION; candidates are then verified by sorted-
    * token-array equality, making precision exact (not merely up to a
    * 64-bit collision). The verify join moves token arrays for the tiny
    * candidate set only — the corpus-sized relation stays (id, simhash).
    * Oracle-checkable: DuckDB recomputes the pairs as a sorted-token-list
    * equality self-join (x2_simhash_neardup). */
  def exactDupPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      array_sort(TextStats.tokens(col(textCol))).as("st"))
    val h0 = Hamming.pairs64(fingerprints(df, idCol, textCol),
      "id", "simhash", maxHamming = 0)
    h0.join(toks.select(col("id").as("id_a"), col("st").as("st_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("st").as("st_b")), "id_b")
      .filter(col("st_a") === col("st_b"))
      .select(col("id_a"), col("id_b"))
  }
}

/** X2 — exact n-gram Jaccard similarity via inverted-index join (the
  * no-approximation reference point for MinHash).
  *
  * Plan shape: explode distinct shingles → (shingle, id) inverted index →
  * self-equi-join on shingle → per-pair intersection counts → Jaccard from
  * |A|, |B|, |A∩B|. `maxShingleFreq` drops shingles that occur in more than
  * F documents before the join — the standard guard against quadratic
  * blowup on boilerplate shingles at scale (dropped shingles can only lower
  * measured Jaccard, never create false positives above the threshold from
  * nothing; log the cap when tuning recall).
  */
object NgramJaccard {

  /** (id_a, id_b, jaccard) at Jaccard >= `minJaccard`; shingles are
    * 64-bit hashed, so counts match strings up to 2^-64 collisions. */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.7,
      maxShingleFreq: Int = 1000): DataFrame =
    Dedup.overlapJaccard(
      Dedup.shingleOverlap(df, idCol, textCol, n, Some(maxShingleFreq)),
      "a", "b", minJaccard)
}
