package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** X39 — damped PageRank over a weighted directed edge list (SURVEY
  * §2.8): the standard graph-centrality pass a crawl pipeline runs to
  * prioritize domains/hosts before fetching — and the suite's only
  * ITERATIVE NUMERIC fixpoint (q80/x2_components propagate set/label
  * state; this propagates weighted mass with damping).
  *
  * Recurrence (fixed iteration count, no dangling-mass redistribution —
  * the simple well-defined variant, so an oracle can state it exactly):
  *
  *   r_0(v)     = 1 / N
  *   r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u) · w(u,v) / outw(u)
  *
  * Scale shape: per iteration one equi-join ranks⋈edges on src and one
  * groupBy(dst) partial-aggregated sum — both shuffle (id, double) pairs,
  * never adjacency lists; the rank table is nodes-sized, edges stream.
  * Lineage is cut per iteration ([[Materialize]]) so deep iteration
  * counts do not accrete an unplannable tree — same discipline as
  * [[Dedup.connectedComponents]]' loop. Total node count is computed once
  * and broadcast as a literal-free 1-row join (no driver collect of data,
  * just the count aggregate).
  *
  * Oracle (x39_pagerank): three iterations UNROLLED as SQL CTEs in
  * DuckDB over the same customer→supplier purchase graph — engine and
  * oracle state the identical arithmetic, so ranks hash-match within
  * float tolerance.
  */
object Rank {

  /** PageRank over weighted directed edges.
    *
    * @param edges      (src, dst, w) — parallel edges should be
    *                   pre-aggregated; w must be positive
    * @param iterations fixed iteration count (≥ 0 → returns r_0)
    * @param damping    d in [0, 1]
    * @return (id, rank) for every node appearing as src or dst
    */
  def pageRank(edges: DataFrame, iterations: Int,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping >= 0 && damping <= 1, s"damping out of range: $damping")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double"))
    val outw = e.groupBy("src").agg(sum("w").as("ow"))
    val nodes = Materialize(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // N as a 1-row frame joined in (cross join of a single row — stays a
    // broadcast, never a driver-side collect of table data)
    val n = nodes.agg(count(lit(1)).as("n_nodes"))

    var ranks = Materialize(nodes.crossJoin(n)
      .select(col("id"), (lit(1.0) / col("n_nodes")).as("rank")))
    for (_ <- 0 until iterations) {
      val contrib = e
        .join(outw, "src")
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"),
          (col("rank") * col("w") / col("ow")).as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      ranks = Materialize(nodes.join(contrib, Seq("id"), "left")
        .crossJoin(n)
        .select(col("id"),
          ((lit(1.0) - damping) / col("n_nodes") +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank")))
    }
    ranks
  }
}
