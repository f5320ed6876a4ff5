package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.core.Materialize

/** X95 — sorted-neighborhood blocking (merge/purge candidate generation).
  *
  * Record linkage cannot score all pairs: n² comparisons die at any
  * scale. Equality blocking (compare only within `blockKeys`) is the
  * classic first cut — the reference's catalog joins on exact keys
  * (`/root/reference/sql/saved-queries.sql:10-24` joins metadata on
  * `bldg_id`) — but inside a wide block it is still quadratic: round 12
  * measured nation-only blocking at 2.4 s (sf0.1) → 45 s (10×) → hours
  * (100×) on the linkage flagship. The production shape is SORTED
  * NEIGHBORHOOD: order each block by a discriminating key and compare
  * each row only against its `window` nearest successors — O(n log n)
  * sort + O(w·n) comparisons. A dirty key (typo in position 1 moves a
  * record far away in sort order) is recovered by MULTI-PASS: run again
  * with an independent second sort key and union the candidate pairs
  * ([[multiPass]]).
  *
  * Scale design — why this is NOT a `Window.partitionBy(block)` + `lead`:
  * a partitionBy window puts an ENTIRE block on one task, so one hot
  * block (one nation, one zip prefix, one null key) becomes the
  * straggler that owns a terabyte. Instead the input is range-partitioned
  * on the full `(blockKeys, sortKeys, idCol)` order — the range
  * partitioner SAMPLES the distribution and splits hot or all-tied
  * regions across tasks on the unique-id tiebreak, so no block ever
  * lands whole on one executor. Within-partition neighbors come from a
  * single sliding pass (`mapPartitions` — the documented last-resort
  * case: a "previous w rows" scan is a sequential recurrence no
  * Catalyst expression expresses, same justification as
  * [[Smooth.ewma]]). Pairs that straddle a partition boundary are
  * closed EXACTLY from per-partition head/tail strips of at most
  * `window` rows each — ≤ 2w·numPartitions rows collected to the
  * driver, KB-sized by construction — using global ranks rebuilt from
  * the per-partition counts (a pair within rank distance w of a
  * boundary has both endpoints inside the strips; middle partitions
  * smaller than w are fully contained in their own strips).
  *
  * Pair count is linear BY CONSTRUCTION — a block of identical sort
  * keys emits w·n − w(w+1)/2 pairs, never n²/2 (ties are ordered by
  * the id tiebreak like everything else; BlockingSpec pins this).
  *
  * Output: one row per candidate pair, a-side strictly before b-side in
  * `(blockKeys, sortKeys, idCol)` order, columns `<id>_a, <id>_b` then
  * `<c>_a, <c>_b` per carry column. Blocks are compared null-safely
  * (a null block key is one block, like GROUP BY). `idCol` must be
  * unique and non-null — it is the order tiebreak and pair identity.
  */
object Blocking {

  /** One sorted-neighborhood pass: every pair of same-block rows within
    * `window` positions of each other in `(sortKeys, idCol)` order.
    *
    * @param carry columns duplicated onto both sides of each pair
    *              (`<c>_a`/`<c>_b`) so scorers need no re-join
    * @param numPartitions explicit range-partition count (tests force
    *              tiny partitions to exercise boundary strips); default
    *              is spark.sql.shuffle.partitions
    */
  def sortedNeighborhood(df: DataFrame, idCol: String,
      blockKeys: Seq[String], sortKeys: Seq[String], window: Int = 1,
      carry: Seq[String] = Nil,
      numPartitions: Option[Int] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(sortKeys.nonEmpty, "at least one sort key")
    val spark = df.sparkSession

    val keep = (blockKeys ++ sortKeys ++ Seq(idCol) ++ carry).distinct
    val in = df.select(keep.map(c => col(s"`$c`")): _*)
    val orderCols = (blockKeys ++ sortKeys :+ idCol).map(c => col(s"`$c`"))

    // ONE materialization serving both consumers below: the range
    // boundaries are sampled, so re-executing the exchange for the
    // strips job could partition rows differently than the pairs job —
    // the strips would then describe boundaries that don't exist.
    // The pin fixes one layout (and pays one linear write, the price of
    // exactness; the repo's standard fan-out discipline).
    val sorted = Materialize(numPartitions
      .map(n => in.repartitionByRange(n, orderCols: _*))
      .getOrElse(in.repartitionByRange(orderCols: _*))
      .sortWithinPartitions(orderCols: _*))

    val schema = in.schema
    val blockIdx = blockKeys.map(schema.fieldIndex).toArray
    val payloadIdx = (idCol +: carry).map(schema.fieldIndex).toArray
    val outSchema = StructType((idCol +: carry).flatMap { c =>
      val f = schema(schema.fieldIndex(c))
      Seq(StructField(s"${f.name}_a", f.dataType, f.nullable),
        StructField(s"${f.name}_b", f.dataType, f.nullable))
    })

    def sameBlock(a: Row, b: Row): Boolean =
      blockIdx.forall(i => a.get(i) == b.get(i)) // null-safe: null == null
    def pairRow(a: Row, b: Row): Row =
      Row.fromSeq(payloadIdx.flatMap(i => Seq(a.get(i), b.get(i))).toSeq)

    // within-partition pairs: sliding buffer of the previous `window`
    // rows; blocks are contiguous in the global order, so the buffer
    // always holds the nearest min(window, available) same-block
    // predecessors
    val w = window
    val within = sorted.mapPartitions { rows =>
      val buf = new java.util.ArrayDeque[Row](w)
      rows.flatMap { r =>
        val out = new ArrayBuffer[Row](w)
        val it = buf.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (sameBlock(p, r)) out += pairRow(p, r)
        }
        if (buf.size == w) buf.removeFirst()
        buf.addLast(r)
        out
      }
    }(RowEncoder.encoderFor(outSchema))

    // cross-boundary pairs: strips of the first/last `window` rows per
    // partition (+ the partition's row count). Any pair with rank
    // distance <= window whose endpoints sit in different partitions has
    // its a-side in some partition's tail strip and its b-side in a later
    // partition's head strip, with every skipped middle partition smaller
    // than window and hence fully inside the strips — so global ranks
    // rebuilt from the counts are exact for every strip row.
    val strips = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val head = new ArrayBuffer[Row](w)
      val tail = new java.util.ArrayDeque[Row](w)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < w) head += r
        if (tail.size == w) tail.removeFirst()
        tail.addLast(r)
        n += 1
      }
      import scala.jdk.CollectionConverters._
      Iterator.single((pid, n, head.toArray, tail.iterator().asScala.toArray))
    }.collect().sortBy(_._1)

    val cum = strips.scanLeft(0L)(_ + _._2)
    // (globalRank, partitionId, row), deduped — a row of a partition
    // smaller than 2w appears in both its strips
    val entries = strips.zipWithIndex.flatMap { case ((_, n, head, tail), i) =>
      head.zipWithIndex.map { case (r, j) => (cum(i) + j, i, r) } ++
        tail.zipWithIndex.map { case (r, j) =>
          (cum(i) + n - tail.length + j, i, r)
        }
    }.distinctBy(_._1).sortBy(_._1)

    val boundary = new ArrayBuffer[Row]
    var i = 0
    while (i < entries.length) {
      var j = i + 1
      while (j < entries.length && entries(j)._1 - entries(i)._1 <= w) {
        if (entries(i)._2 != entries(j)._2 &&
            sameBlock(entries(i)._3, entries(j)._3))
          boundary += pairRow(entries(i)._3, entries(j)._3)
        j += 1
      }
      i += 1
    }

    if (boundary.isEmpty) within
    else {
      import scala.jdk.CollectionConverters._
      within.unionByName(
        spark.createDataFrame(boundary.asJava, outSchema))
    }
  }

  /** Multi-pass merge/purge: one [[sortedNeighborhood]] pass per entry of
    * `passes` (each an independent sort-key list — e.g. name-first, then
    * zip-first, so a typo in one key is recovered by the other), pairs
    * unioned and deduplicated under a canonical orientation (a-side =
    * smaller id; per-pass orientation is sort position, which differs
    * across passes). */
  def multiPass(df: DataFrame, idCol: String, blockKeys: Seq[String],
      passes: Seq[Seq[String]], window: Int = 1, carry: Seq[String] = Nil,
      numPartitions: Option[Int] = None): DataFrame = {
    require(passes.nonEmpty, "at least one pass")
    val all = passes
      .map(sk => sortedNeighborhood(df, idCol, blockKeys, sk, window,
        carry, numPartitions))
      .reduce(_ unionByName _)
    val ida = col(s"`${idCol}_a`")
    val idb = col(s"`${idCol}_b`")
    val fields = (idCol +: carry)
    val canon = all.select(fields.flatMap { c =>
      val (a, b) = (col(s"`${c}_a`"), col(s"`${c}_b`"))
      Seq(when(ida <= idb, a).otherwise(b).as(s"${c}_a"),
        when(ida <= idb, b).otherwise(a).as(s"${c}_b"))
    }: _*)
    canon.dropDuplicates(Seq(s"${idCol}_a", s"${idCol}_b"))
  }
}
