package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.core.Materialize

/** Size gate for the dedup probe sets (r17, guide §3.1 "broadcast only
  * what fits"): [[LineDedup]] and [[SpanDedup]] probe the corpus rows
  * against a hash set that is tiny BY ASSUMPTION (boilerplate lines /
  * repeated k-grams are the head of a skewed frequency distribution).
  * The pre-r17 shape hard-hinted `broadcast(set)` — on a template-heavy
  * 100 TB crawl (exactly the corpus these operators target) the
  * assumption can fail and the unconditional hint builds a driver-killing
  * broadcast relation regardless of size.
  *
  * The gate pins the set once with its key count observed on the same
  * job ([[Materialize.counted]] — the set is needed by the join anyway,
  * so this adds a block write of the tiny relation, not a recomputation),
  * then:
  *   - when the keys (8-byte hashes) fit in Spark's
  *     `spark.sql.autoBroadcastJoinThreshold`: broadcast, the fast path —
  *     the corpus side is never shuffled for the probe. At the default
  *     10 MB that is up to 1.31 M keys;
  *   - otherwise, or when the threshold is negative (broadcast off): the
  *     plain join, which the planner runs as a shuffled hash/sort-merge
  *     join on the 8-byte hash — the corpus side shuffles (hash, position,
  *     id) METADATA rows only, never text, so the fallback stays inside
  *     the operators' no-text-on-the-wire contract.
  */
object DedupGate {

  /** The probe set, pinned and counted in one job, broadcast-hinted only
    * when it fits. */
  def sizeGated(keys: DataFrame): DataFrame = {
    val (set, n) = Materialize.counted(keys, count(lit(1)))
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    if (threshold >= 0 && n * 8 <= threshold) broadcast(set) else set
  }
}
