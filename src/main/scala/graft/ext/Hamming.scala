package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pigeonhole Hamming-distance pairing over ANY 64-bit fingerprint column
  * — the shared candidate-generation kernel behind SimHash text near-dup
  * ([[SimHash]]) and perceptual media near-dup ([[ImageDedup]],
  * [[AudioDedup]], [[VideoDedup]] — whose pair faces live here once).
  *
  * Split the 64-bit fingerprint into `maxHamming + 1` chunks: two
  * fingerprints within `maxHamming` bit flips MUST agree exactly on at
  * least one chunk (pigeonhole), so a per-chunk equi-join finds every
  * qualifying pair with no crossJoin — the shape that survives 100 TB.
  * The verify step (`bit_count(xor)`) runs on the candidate set only, so
  * the output is EXACT: recall 1 by the pigeonhole argument, precision 1
  * by the verify filter. Entirely builtin codegen'd expressions.
  *
  * Chunk-key skew (a near-constant fingerprint region across the corpus —
  * e.g. letterboxed images sharing black borders) is the one scale hazard:
  * `maxChunkFreq` drops chunk buckets holding more than F fingerprints
  * before the self-join, bounding candidate volume at F per bucket like
  * [[NgramJaccard]]'s `maxShingleFreq`. A dropped bucket can only lose
  * pairs whose EVERY agreeing chunk is boilerplate — log the cap when
  * tuning recall; `None` (default) keeps exactness.
  */
object Hamming {

  /** All pairs (id_a < id_b) with Hamming(hash_a, hash_b) <= maxHamming.
    *
    * When 64 doesn't divide evenly into maxHamming+1 chunks, the top
    * `64 mod chunks` bits belong to no chunk — the pigeonhole argument
    * is unaffected (a differing bit outside every chunk kills zero
    * chunks, so ≤ maxHamming differing bits still leave ≥ 1 of the
    * maxHamming+1 chunks agreeing), and the final `bit_count` verify
    * runs on the full 64 bits regardless.
    *
    * @param df one row per item; `idCol` orderable, `hashCol` LONG.
    *   NULL fingerprints (undecodable items) are skipped.
    * @return (id_a, id_b, hamming) — exact when maxChunkFreq is None. */
  def pairs64(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxChunkFreq: Option[Int] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63, "maxHamming in [0, 63]")
    val capped = banded(df, idCol, hashCol, maxHamming, maxChunkFreq)
    val a = capped.as("a")
    val b = capped.as("b")
    verified(a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key")
          && col("a.id") < col("b.id")), "a", "b", maxHamming)
  }

  /** All CROSS pairs (id_l from `left`, id_r from `right`) with
    * Hamming(hash_l, hash_r) <= maxHamming — the two-relation face of
    * [[pairs64]] for probe-vs-index shapes (a new ingest batch against
    * an accumulated fingerprint index, corpus A against corpus B). Same
    * pigeonhole exactness; no id ordering constraint, and an id present
    * in both relations WILL pair with itself at distance 0 (callers
    * filter if identity pairs are unwanted). `maxChunkFreq` caps bucket
    * frequency per side independently. */
  def pairsBetween64(left: DataFrame, right: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int,
      maxChunkFreq: Option[Int] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63, "maxHamming in [0, 63]")
    val l = banded(left, idCol, hashCol, maxHamming, maxChunkFreq).as("l")
    val r = banded(right, idCol, hashCol, maxHamming, maxChunkFreq).as("r")
    verified(l.join(r, col("l.chunk") === col("r.chunk") && col("l.key") === col("r.key")),
      "l", "r", maxHamming)
  }

  /** Perceptual near-dup pairs of a media fingerprint relation
    * `(media_id, <hashCol>, …)` — the one body behind
    * [[ImageDedup.nearDupPairs]], [[AudioDedup.nearDupPairs]] and
    * [[VideoDedup.nearDupPairs]], which differ only in the hash column and
    * the default radius: (media_a, media_b, hamming), exact for the radius. */
  def mediaNearDupPairs(fp: DataFrame, hashCol: String, maxHamming: Int,
      maxChunkFreq: Option[Int]): DataFrame =
    pairs64(fp, "media_id", hashCol, maxHamming, maxChunkFreq)
      .select(col("id_a").as("media_a"), col("id_b").as("media_b"),
        col("hamming"))

  /** Content-identical media pairs found PERCEPTUALLY — the one body
    * behind the three modalities' `exactDupPairs`: radius-0 banding
    * candidates over `hashCol`, verified by equality of the decoded
    * content's `checksum`. Recall 1 by construction (identical content ⇒
    * identical hash ⇒ every band chunk agrees); precision 1 up to 64-bit
    * checksum collision. At radius 0 the single band IS the full hash, so
    * with `maxChunkFreq` a duplicate group larger than the cap contributes
    * zero pairs. (media_a, media_b). */
  def mediaExactDupPairs(fp: DataFrame, hashCol: String,
      maxChunkFreq: Option[Int]): DataFrame = {
    val h0 = pairs64(fp, "media_id", hashCol, maxHamming = 0, maxChunkFreq)
    val cks = fp.select(col("media_id"), col("checksum"))
    h0.join(cks.as("ca"), col("id_a") === col("ca.media_id"))
      .join(cks.as("cb"), col("id_b") === col("cb.media_id"))
      .filter(col("ca.checksum") === col("cb.checksum"))
      .select(col("id_a").as("media_a"), col("id_b").as("media_b"))
  }

  /** The shared tail of both pairings: (id_x, id_y, hamming) for the
    * candidate pairs of the joined banded sides aliased `x` and `y` that
    * lie within `maxHamming`. The distinct collapses candidates found via
    * SEVERAL agreeing chunks; at maxHamming = 0 there is exactly one
    * chunk, so every pair appears once and the distinct would be a pure
    * extra exchange (a distinct on data that is already unique). */
  private def verified(cand: DataFrame, x: String, y: String,
      maxHamming: Int): DataFrame = {
    val pairs = cand.select(col(s"$x.id").as(s"id_$x"), col(s"$y.id").as(s"id_$y"),
      col(s"$x.h").as(s"h_$x"), col(s"$y.h").as(s"h_$y"))
    (if (maxHamming == 0) pairs else pairs.distinct())
      .withColumn("hamming", bit_count(col(s"h_$x").bitwiseXOR(col(s"h_$y"))))
      .filter(col("hamming") <= maxHamming)
      .select(col(s"id_$x"), col(s"id_$y"), col("hamming"))
  }

  /** Shared banding stage: (id, h, chunk, key) rows, optionally
    * frequency-capped per (chunk, key) bucket. */
  private def banded(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxChunkFreq: Option[Int]): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPerChunk = 64 / chunks
    val fp = df.select(col(idCol).as("id"), col(hashCol).as("h"))
      .filter(col("h").isNotNull)
    val out = fp.select(col("id"), col("h"),
      posexplode(transform(
        sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftrightunsigned", col("h"), (c * bitsPerChunk).cast("int"))
          .bitwiseAND(if (bitsPerChunk >= 64) lit(-1L)
            else shiftleft(lit(1L), bitsPerChunk) - 1L)))
        .as(Seq("chunk", "key")))
    maxChunkFreq match {
      case Some(f) => out.join(
        out.groupBy(col("chunk"), col("key"))
          .agg(count(lit(1)).as("__cf")).filter(col("__cf") <= f)
          .select(col("chunk"), col("key")),
        Seq("chunk", "key"))
      case None => out
    }
  }
}
