package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed diff of two table versions: which rows were ADDED, REMOVED, or
  * CHANGED between snapshots — the audit face of the incremental family
  * ([[Upsert]] applies deltas, [[Scd2]] records history, this one
  * explains what a run DID; the reference's ledger answers the same
  * question one level down, at file granularity).
  *
  * Scale shape: rows are compared by a 64-bit content hash of their
  * non-key columns, so the join shuffles (key, hash) — ~16 bytes/row —
  * never the wide rows themselves. The hash is
  * `xxhash64(non-key columns...)`: collisions (~2⁻⁶⁴ per key) can only
  * mask a change, and the exactness-critical consumers (tests, the
  * oracle query) pass `exact = true` to compare null-safe structs
  * instead. Presence is tracked with synthetic flags so NULL keys and
  * all-NULL rows never masquerade as absence.
  */
object SnapshotDiff {

  /** One row per differing key: (keys..., change ∈ added|removed|changed).
    * Unchanged keys produce nothing.
    *
    * The content column is computed BELOW the join on each side (a
    * projection under the exchange), so in hash mode the shuffle really
    * does carry (key, 8-byte hash, flag) and nothing else — computing the
    * hash after the join would drag every wide attribute column through
    * both exchanges, because Catalyst prunes unused columns but never
    * pushes computed expressions below a join on its own. */
  def diff(before: DataFrame, after: DataFrame, keys: Seq[String],
      exact: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val attrCols = before.columns.filterNot(keys.contains)
    require(after.columns.filterNot(keys.contains).sorted.sameElements(attrCols.sorted),
      "snapshots must share the same non-key columns")
    def side(df: DataFrame, flag: String): DataFrame = {
      val content: Column =
        if (exact) struct(attrCols.map(c => col(s"`$c`")): _*)
        else xxhash64(attrCols.map(c => col(s"`$c`")): _*)
      df.select(keys.map(k => col(s"`$k`"))
        :+ content.as("__c") :+ lit(1).as(flag): _*)
    }
    val b = side(before, "__b").alias("b")
    val a = side(after, "__a").alias("a")
    b.join(a, keys.map(k => col(s"b.`$k`") <=> col(s"a.`$k`")).reduce(_ && _),
        "full_outer")
      .withColumn("change",
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(!(col("b.__c") <=> col("a.__c")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(k => coalesce(col(s"b.`$k`"), col(s"a.`$k`")).as(k))
        :+ col("change"): _*)
  }

  /** Summary counts: (change, n) for added/removed/changed. */
  def summary(before: DataFrame, after: DataFrame, keys: Seq[String],
      exact: Boolean = false): DataFrame =
    diff(before, after, keys, exact)
      .groupBy(col("change")).agg(count(lit(1)).as("n"))
      .orderBy(col("change"))

  /** Delta-sized diff: `auditDelta(base, delta, keys)` ≡
    * `diff(base, Upsert.upsert(base, delta, keys), keys, exact = true)`
    * — WITHOUT materializing (or even deriving) the after-image. The
    * row-granularity analog of the manifest→diff routing in
    * [[Manifest]]: when the run's delta is in hand, the change set can
    * only involve delta keys, so the audit is O(|delta|), not
    * O(|corpus|) — an upsert can never produce `removed`, a delta key
    * absent from base is `added`, and a delta key present in base is
    * `changed` iff its content differs (a no-op upsert row reports
    * nothing, exactly like the full diff).
    *
    * Plan shape: the base is narrowed with a BLOOM filter over the
    * delta's key hashes ([[graft.ext.BloomPrune]]'s kernel, X11) — a
    * fixed ~numBits/8-byte literal probed inside the base's scan stage,
    * so the wide base neither shuffles nor feeds a giant broadcast hash
    * table. Bloom false positives are harmless here: the final join is
    * DRIVEN BY THE DELTA (left join from it), so any untouched base row
    * that sneaks through the filter simply matches nothing and adds a
    * few extra rows to a delta-sized exchange. No false negatives ⇒
    * exact output. If the delta is so large the Bloom would saturate,
    * fall back to the generic [[diff]].
    *
    * The delta subtree is consumed twice (sketch build + content
    * compare), so it is pinned once before first use
    * ([[graft.core.Materialize]]) — an expensive lazy delta
    * can never be silently recomputed, and a delta that is already
    * checkpointed is used as is, with no second checkpoint job.
    *
    * Contract (same as [[Upsert.upsert]]): delta keys are unique; NULL
    * key components match null-safely on both paths. Delta must carry
    * the same columns as base. AuditDeltaSpec pins ≡ diff-of-upsert on
    * randomized data including no-op updates, pure inserts, and NULL
    * keys.
    *
    * @param numBits Bloom size in bits; the 2^24 default (2 MB) holds
    *   ~2M delta keys at ~1% fpp — size up with the delta. */
  def auditDelta(base: DataFrame, rawDelta: DataFrame,
      keys: Seq[String], numBits: Int = 1 << 24): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val delta = graft.core.Materialize(rawDelta)
    val attrCols = base.columns.filterNot(keys.contains)
    require(delta.columns.filterNot(keys.contains).sorted.sameElements(attrCols.sorted),
      "delta must share the base's non-key columns")
    import graft.functions.BloomFunctions.{bloomBuild, bloomMightContain}
    def keyHash(df: DataFrame): Column =
      xxhash64(keys.map(k => df(s"`$k`")): _*)
    val numHashes = 5
    val bitset = delta
      .agg(bloomBuild(keyHash(delta), numBits, numHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    val touched = base.filter(
      bloomMightContain(lit(bitset), keyHash(base), numHashes))
    def side(df: DataFrame, contentName: String, flag: String): DataFrame =
      df.select(keys.map(k => col(s"`$k`"))
        :+ struct(attrCols.map(c => col(s"`$c`")): _*).as(contentName)
        :+ lit(1).as(flag): _*)
    val b = side(touched, "__bc", "__b").alias("b")
    val d = side(delta, "__dc", "__d").alias("d")
    d.join(b, keys.map(k => col(s"d.`$k`") <=> col(s"b.`$k`")).reduce(_ && _),
        "left")
      .withColumn("change",
        when(col("__b").isNull, lit("added"))
          .when(!(col("__bc") <=> col("__dc")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(k => col(s"d.`$k`").as(k)) :+ col("change"): _*)
  }
}
