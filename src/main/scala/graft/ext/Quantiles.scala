package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.ColumnOps.doubleSortBits

/** Exact grouped quantiles as a DATAFRAME PLAN instead of Spark's built-in
  * `percentile` aggregate.
  *
  * Why not the builtin: `Percentile` is a TypedImperativeAggregate that
  * buffers a (value → count) map per group inside one executor's
  * aggregation buffer — a generic heap structure that is slow on
  * continuous columns and a memory hazard for large groups (measured 2.1 s
  * on 6 M rows, and the map is as big as the group's distinct count).
  *
  * This operator is DISTRIBUTED SELECTION — find the values at the target
  * ranks without ever sorting or shuffling the data. Values bucket by a
  * PREFIX OF THEIR ORDER-PRESERVING IEEE-754 BITS
  * ([[graft.functions.DoubleSortBits]]) — monotone by construction, so no
  * statistics pass (and no second sequential barrier) is needed:
  *  1. bucket-count pass: melt the requested columns with posexplode (one
  *     scan for all columns), count rows per (group, column, bucket) —
  *     codegen'd with partial aggregation, output bounded by occupied
  *     buckets, not rows. A cumulative sum per (group, column) over this
  *     TINY relation turns counts into rank spans [off+1, off+bc] per
  *     bucket, and n = Σ counts rides the same window. The quantile_cont
  *     position `pos = 1 + p (n-1)` needs ranks floor(pos) and ceil(pos)
  *     only, so the buckets whose spans contain a target rank — at most 2
  *     per quantile spec — are selected IN the tiny relation and
  *     broadcast. Null values keep a null-bucket row here, carrying group
  *     presence and per-column null accounting for free;
  *  2. selection pass: rows landing in a target bucket survive (a ~2^-20
  *     sliver of each group per target for smooth value distributions);
  *     per distinct surviving value a tiny aggregation + window assigns
  *     exact global ranks (bucket offset + local cumulative count);
  *  3. interpolation: `v_lo (1-frac) + v_hi frac` as a conditional
  *     weighted SUM over the handful of surviving distinct values — one
  *     hash aggregation for all requested quantiles.
  *
  * NO row-count-sized shuffle and no row-count-sized window exist in the
  * plan: the input is scanned twice (bucket counts, selection), both
  * cheap codegen'd passes with partial aggregation, and everything
  * shuffled or windowed afterwards is bounded by occupied buckets. That
  * is what survives a 1000-executor / 100 TB input — sort-based and
  * histogram-shuffle formulations do not. For an expensive computed
  * input, cache it first. Degenerate distributions (a point mass at one
  * double) can crowd a bucket; a crowded TARGET bucket only grows the
  * selection output, never breaks exactness — and a point mass is its own
  * answer for any rank inside it.
  */
object Quantiles {

  /** @param specs (valueCol, p, outputName) triples; p in [0,1].
    * @param bucketBits prefix bits of the sort-ordered value used as the
    *   bucket id. More bits → narrower buckets → fewer pass-2 selection
    *   survivors (each target bucket holds ~n/2^bits rows) at the price
    *   of a larger pass-1 histogram — which is BOUNDED at
    *   min(2^bits, distinct values) per (group, col) and map-side
    *   combined, so it stays metadata-sized while pass-2 savings scale
    *   with the corpus. The optimum moved UP from 14 once the prefilter
    *   became exact bucket MEMBERSHIP rather than a [min,max] span
    *   (round 12 at the 100× set, SURVEY §6.10 q77 row: a span
    *   straddling p25..p90 admitted most of the corpus into the
    *   broadcast probe — 6.2 s; isin + 14 bits 4.4 s; isin + 18 bits
    *   2.4 s).
    *   Near-unique continuous columns are what make pass 1 sensitive —
    *   integer-like columns occupy few buckets at any setting.
    * @return one row per group: groupCol plus one double column per spec.
    *
    * Building the returned DataFrame launches Spark jobs: pass 1 (the
    * bucket histogram checkpoint and the collect of its needed spans)
    * runs inside this call, before any action on the result. */
  def exactQuantiles(
      df: DataFrame, groupCol: String,
      specs: Seq[(String, Double, String)],
      bucketBits: Int = 18): DataFrame = {
    require(specs.nonEmpty, "at least one (column, p, name) spec")
    require(specs.forall { case (_, p, _) => p >= 0.0 && p <= 1.0 },
      s"quantile points must be in [0,1]: ${specs.map(_._2)}")
    require(specs.map(_._3).distinct.length == specs.length,
      "output names must be unique")
    require(bucketBits >= 1 && bucketBits <= 63, "bucketBits in [1, 63]")

    val valueCols = specs.map(_._1).distinct
    val tagOf = valueCols.zipWithIndex.toMap
    def vcol(v: String): Column = col(s"`$v`").cast("double")

    // melt all requested columns in ONE scan: posexplode of a plain
    // double array — (pos = tag, col = value)
    def melt(d: DataFrame): DataFrame = d.select(
      col(s"`$groupCol`").as("__g"),
      posexplode(array(valueCols.map(vcol): _*)))
      .toDF("__g", "__t", "__v")

    // monotone bucket id: top `bucketBits` of the order-preserving bits
    // (arithmetic shift keeps the sign, hence the order); null for null v
    def bucketId(v: Column): Column =
      shiftright(doubleSortBits(v), 64 - bucketBits)

    // (1) bucket row counts → cumulative rank spans and n per (group,
    // tag); null-value rows keep a null-bucket row for group presence.
    // Everything below the groupBy is reducer-side work on a TINY
    // relation. r17: the histogram is MATERIALIZED (eager localCheckpoint)
    // before its two pass-1 consumers — the rank-span branch and the
    // distinct-group branch of the union below. The r16 comment claimed
    // AQE stage reuse made the input "scanned exactly once here"; measured
    // (OPTIMIZATION_r17.md VERDICT item 5, 10× set;
    // plans/r17/q51_percentiles_probe.txt) pass 1 ran TWO full melt scans —
    // column pruning drops `__bc` from the distinct-group branch's partial
    // aggregate and the rank branch's isnotnull(__b) pushes below the
    // exchange, either of which breaks plan canonicalization and with it
    // the reuse (the exact x43_ngram_lm failure mode from r16). A
    // checkpoint of the bucket-bounded relation makes the single scan
    // STRUCTURAL instead of canonicalization-fragile; the blocks are
    // ContextCleaner-reclaimed. Callers sharing the pattern (q51, Robust's
    // median/MAD, x58 winsorize) all inherit the removed scan.
    val bucketCounts = Materialize(melt(df)
      .select(col("__g"), col("__t"), bucketId(col("__v")).as("__b"))
      .groupBy(col("__g"), col("__t"), col("__b"))
      .agg(count(lit(1)).as("__bc")))
    val wCum = Window.partitionBy(col("__g"), col("__t")).orderBy(col("__b"))
    val spans = bucketCounts
      .filter(col("__b").isNotNull)
      .withColumn("__off", sum(col("__bc")).over(wCum) - col("__bc"))
      .withColumn("__n", sum(col("__bc")).over(
        Window.partitionBy(col("__g"), col("__t"))))
    val targetRank: Seq[Column] = specs.flatMap { case (v, p, _) =>
      val pos = lit(1.0) + lit(p) * (col("__n").cast("double") - 1.0)
      Seq(floor(pos), ceil(pos)).map(r =>
        col("__t") === tagOf(v)
          && r.between(col("__off") + 1.0, col("__off") + col("__bc")))
    }
    val needed = spans
      .filter(targetRank.reduce(_ || _))
      .select(col("__g"), col("__t"), col("__b"), col("__off"), col("__n"))

    // Materialize pass 1's TINY outputs on the driver in ONE action (the
    // bucketCounts exchange is computed once and reused within it): the
    // needed spans AND the distinct group list. Size is O(specs × groups)
    // — exactly the bound the broadcast join below already imposed; this
    // just makes it explicit, and it buys the selection scan a literal
    // bucket-RANGE prefilter. (Eager at call time — same precedent as
    // Dedup's checkpointed sketch; for a lazy plan use the join without
    // the prefilter.) The per-tag [min,max] bucket window rejects
    // non-candidate rows with two literal comparisons BEFORE the hash
    // probe: measured 1078 → 278 ms on the 10× selection stage, because
    // a BHJ probe pays ~40 ns/row even on misses while the range test is
    // branch-predictable arithmetic.
    val spark = df.sparkSession
    val gType = df.select(col(s"`$groupCol`")).schema.head.dataType
    val kindTag = java.lang.Integer.valueOf(-1)
    val combined = needed
      .select(col("__g"), col("__t"), col("__b"), col("__off"), col("__n"))
      .unionByName(bucketCounts.select(col("__g")).distinct()
        .select(col("__g"), lit(kindTag).as("__t"), lit(null).cast("long").as("__b"),
          lit(null).cast("long").as("__off"), lit(null).cast("long").as("__n")))
      .collect()
    val (groupRows, neededRows) = combined.partition(_.getInt(1) == -1)
    val neededSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__g", gType),
      org.apache.spark.sql.types.StructField("__t", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("__b", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__off", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__n", org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    val neededLocal = spark.createDataFrame(neededRows.toSeq.asJava, neededSchema)
    // EXACT bucket membership, not a [min,max] span (round 12, SURVEY §6.10):
    // the needed buckets are ≤ 2·|specs| discrete values per tag, but the
    // quantile points straddle the distribution (p25..p90), so a span
    // prefilter admits most of the corpus into the broadcast probe —
    // measured at sf10: 6.2 s → 3.4 s for q51 just by rejecting on the
    // ≤8-literal isin before the hash probe.
    val prefilter: Column = neededRows.toSeq
      .groupBy(_.getInt(1))
      .map { case (t, rows) =>
        val bs = rows.map(_.getLong(2)).distinct
        col("__t") === t && col("__b").isin(bs: _*)
      }
      .reduceOption(_ || _).getOrElse(lit(false))

    // (2) selection: only rows in target buckets survive, then exact
    // ranks for their distinct values — bucket offset + cumulative count
    // over the tiny survivor relation. The join is broadcast; <=> keeps
    // NULL group keys (a legal SQL group).
    val meltedNN = melt(df).filter(col("__v").isNotNull)
      .select(col("__g"), col("__t"), col("__v"), bucketId(col("__v")).as("__b"))
      .filter(prefilter)
      .as("__s")
    val neededA = neededLocal.as("__nd")
    val survivors = meltedNN
      .join(broadcast(neededA),
        col("__s.__g") <=> col("__nd.__g")
          && col("__s.__t") === col("__nd.__t")
          && col("__s.__b") === col("__nd.__b"))
      .select(col("__s.__g").as("__g"), col("__s.__t").as("__t"),
        col("__s.__v").as("__v"), col("__nd.__n").as("__n"),
        col("__s.__b").as("__b"), col("__nd.__off").as("__off"))
    val ranked = survivors
      .groupBy(col("__g"), col("__t"), col("__v"), col("__n"),
        col("__b"), col("__off"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__hi_rank",
        (sum(col("__c")).over(
          Window.partitionBy(col("__g"), col("__t"), col("__b"))
            .orderBy(col("__v")))
          + col("__off")).cast("double"))
      .withColumn("__lo_rank", col("__hi_rank") - col("__c") + 1.0)
      .withColumn("__nd", col("__n").cast("double"))

    // (3) single final aggregation. SQL null semantics: a group with NO
    // non-null values in a column yields NULL for that column's quantiles
    // (tracked via per-tag survivor counts — a target bucket is non-empty
    // whenever n > 0), and a group present in the input at all stays in
    // the output (restored from the tiny bucket relation — not a second
    // scan of the input).
    val aggs = specs.map { case (v, p, name) =>
      val pos = lit(1.0) + lit(p) * (col("__nd") - 1.0)
      val lo = floor(pos)
      val hi = ceil(pos)
      val frac = pos - lo
      val loIn = lo.between(col("__lo_rank"), col("__hi_rank"))
      val hiIn = hi.between(col("__lo_rank"), col("__hi_rank"))
      sum(
        when(col("__t") =!= tagOf(v), lit(0.0))
          .when(loIn && hiIn, col("__v"))
          .when(loIn, col("__v") * (lit(1.0) - frac))
          .when(hiIn, col("__v") * frac)
          .otherwise(lit(0.0))).as(name)
    }
    val tagCounts = valueCols.map(v =>
      sum(when(col("__t") === tagOf(v), lit(1L)).otherwise(lit(0L)))
        .as(s"__cnt_${tagOf(v)}"))
    val quantiled = ranked
      .groupBy(col("__g"))
      .agg((aggs ++ tagCounts).head, (aggs ++ tagCounts).tail: _*)
      .select(col("__g") +: specs.map { case (v, _, name) =>
        when(col(s"__cnt_${tagOf(v)}") === 0L, lit(null))
          .otherwise(col(s"`$name`")).as(name)
      }: _*)

    // null-safe (<=>) restore join: SQL GROUP BY treats NULL as a real
    // group, so a NULL group key must pick up its computed quantiles, not
    // fall out of a null-rejecting equi-join. The group list comes from
    // the pass-1 collect above (it includes all-null-value groups, which
    // `needed` by design does not), so the final plan re-reads nothing.
    val groups = spark.createDataFrame(
      groupRows.map(r => org.apache.spark.sql.Row(r.get(0))).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__g", gType)))).as("__groups")
    val quantA = quantiled.as("__quant")
    groups
      .join(quantA, col("__groups.__g") <=> col("__quant.__g"), "left")
      .select(col("__groups.__g").as(groupCol) +:
        specs.map { case (_, _, name) => col(s"__quant.`$name`").as(name) }: _*)
  }

  /** Exact value at an integer RANK (1-based, value order, duplicates
    * counted) of a long-valued column — the order statistic the X96
    * temporal split needs for its cutoff: rank semantics must return an
    * EXISTING value with zero float drift, which rules out routing
    * through [[exactQuantiles]]'s p ∈ [0,1] interpolation (mapping a
    * rank to p and back through `1 + p(n−1)` reintroduces an ulp that
    * can smear the selected value across two ranks).
    *
    * Same selection shape as [[exactQuantiles]], all-integer, with
    * RECURSIVE NARROWING: a signed long is its own order-preserving bit
    * pattern, so the level-0 bucket id is just an arithmetic right shift
    * (overflow-safe across the full signed range, where `v − min` is
    * not). Level 0 — bucket counts (map-side combined, ≤ 2^bucketBits
    * rows) collected and cumulated on the driver to locate the one
    * bucket containing the rank. The raw high-bit prefix degenerates
    * when the data occupies a narrow value band — epoch-microsecond
    * timestamps span ~2^40 of the 2^64 range, so at the default 18 bits
    * every row lands in ONE bucket (the round-13 advisory finding, the
    * same driver-OOM class as the q14 build-partition defect) — so
    * while the located bucket still holds more than `maxCollect` rows,
    * it is RE-BUCKETED on its own observed span (`(v − lo) >> k` with k
    * sized from the span — exact integer arithmetic, no float), each
    * level one cheap scan + metadata-sized collect that narrows the
    * span by 2^bucketBits. The final pass groups the surviving sliver
    * by value (≤ 2^bucketBits distinct values by construction); the
    * cumulative walk over that tiny list lands on the answer. Level
    * count is ⌈(64 − bucketBits) / bucketBits⌉ at worst (3 scans past
    * level 0 at the default 18 bits), data-independent. NULLs are
    * excluded (SQL order-statistic convention). Throws if rank >
    * non-null count.
    * @param maxCollect largest per-level driver collect tolerated
    *   before another narrowing level is spent (rows in the located
    *   bucket, an upper bound on its distinct values) */
  def valueAtRankLong(df: DataFrame, valueCol: String, rank: Long,
      bucketBits: Int = 18, maxCollect: Long = 1L << 17): Long = {
    require(rank >= 1, s"rank must be >= 1, got $rank")
    require(bucketBits >= 1 && bucketBits <= 62, "bucketBits in [1, 62]")
    require(maxCollect >= 1, "maxCollect must be >= 1")
    val v = col(s"`$valueCol`").cast("long")
    val nn = df.filter(v.isNotNull)

    // walk a sorted (bucket, count) list to the bucket containing `rank`
    // given `off` ranks precede it; returns (bucket, its count, new off)
    def locate(counts: Array[org.apache.spark.sql.Row], off0: Long)
        : (Long, Long, Long) = {
      var off = off0
      var i = 0
      while (off + counts(i).getLong(1) < rank) {
        off += counts(i).getLong(1); i += 1
      }
      (counts(i).getLong(0), counts(i).getLong(1), off)
    }

    // level 0: top-bit prefix buckets over the full signed range
    val counts0 = nn
      .select(shiftright(v, 64 - bucketBits).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__b"))
      .collect()
    val total = counts0.map(_.getLong(1)).sum
    require(rank <= total,
      s"rank $rank exceeds non-null count $total of $valueCol")
    val (b0, c0, off0) = locate(counts0, 0L)
    // value bounds of the located level-0 bucket (inclusive); span − 1 =
    // 2^(64−bucketBits) − 1 fits a long for bucketBits ≥ 1
    var lo = b0 << (64 - bucketBits)
    var hi = lo + ((1L << (64 - bucketBits)) - 1)
    var cnt = c0
    var off = off0

    // narrowing levels: re-bucket the located bucket on its own span
    while (cnt > maxCollect) {
      val spanM1 = hi - lo // ≥ 0, fits (level-0 bound above)
      // smallest k with 2^(k + bucketBits) ≥ span: sub-bucket width 2^k
      val k = math.max(0,
        (64 - java.lang.Long.numberOfLeadingZeros(spanM1)) - bucketBits)
      if (k == 0) {
        // sub-buckets would be single values — the final pass's groupBy
        // by value collects ≤ 2^bucketBits rows regardless of cnt
        cnt = 0L
      } else {
        val counts = nn.filter(v.between(lo, hi))
          .select(shiftright(v - lit(lo), k).as("__b"))
          .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
          .orderBy(col("__b"))
          .collect()
        val (b, c, o) = locate(counts, off)
        lo = lo + (b << k)
        hi = lo + ((1L << k) - 1)
        cnt = c
        off = o
      }
    }

    // final pass: the surviving sliver, grouped by value
    val values = nn
      .filter(v.between(lo, hi))
      .select(v.as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__v"))
      .collect()
    var cum = off
    var vi = 0
    while (cum + values(vi).getLong(1) < rank) {
      cum += values(vi).getLong(1); vi += 1
    }
    values(vi).getLong(0)
  }
}
