package graft.ext

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineSim, dotProduct}

/** X3 — similarity search over embedding columns (SURVEY §2.8).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact — broadcast the (small) query set against the
  *    corpus, score with the codegen'd [[graft.functions.CosineSimilarity]],
  *    take per-query top-k via a rank window (Catalyst rewrites rn<=k to
  *    WindowGroupLimit, so each shuffle partition keeps only k rows). The
  *    corpus is never shuffled before scoring — the only shuffle is the
  *    (queries × k)-sized ranked set.
  *  - [[lshTopK]]: approximate scale path — random-hyperplane LSH buckets
  *    both sides; candidates form only inside matching buckets (multi-probe
  *    over single-bit flips restores recall). At 100 TB the bucket join
  *    replaces the corpus-wide score: cost drops from |C|·|Q| to
  *    |C|·|Q| / 2^bits · probes, and the corpus shuffles once on bucket id.
  */
object Similarity {

  /** Exact top-k cosine neighbors per query.
    * @param corpus  (idCol, vecCol)
    * @param queries (qidCol, vecCol) — assumed small enough to broadcast
    *                (a query batch, not a second corpus). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("qvec"))
    rankTopK(c.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"),
        cosineSim(col("cvec"), col("qvec")).as("score")), k)
  }

  /** The one per-query top-k rank step of the vector-search family
    * ([[Ivf]], [[Pq]], [[AnnIndex]] and this object): `scored` carries
    * `(query_id, id, score)` — ranked by score descending — or
    * `(query_id, id, dist)` — ranked by distance ascending; ties go to
    * the smaller id. Adds `rank` (1-based) and keeps `rank <= k`; Catalyst
    * rewrites the rank filter to a WindowGroupLimit, so each shuffle
    * partition keeps at most k rows per query. Every search path ranks
    * here, so index and ad-hoc faces cannot rank differently. */
  private[ext] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val metric =
      if (scored.columns.contains("dist")) col("dist") else col("score").desc
    val w = Window.partitionBy(col("query_id")).orderBy(metric, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k via the single-pass [[graft.functions.TopKByScore]]
    * aggregate instead of a rank window: partial aggregation keeps a
    * k-element heap per (query, map task), so the exchange after scoring
    * carries at most k pairs per query per task — no per-partition sort,
    * no scored-matrix shuffle. Same results as [[bruteForceTopK]]
    * (identical tie-breaking: score desc, id asc). Ids must be integral
    * (the aggregate buffer stores them as 64-bit longs — int ids are cast
    * up); use [[bruteForceTopK]] for string or other non-integral ids. */
  def bruteForceTopKAgg(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.TopKFunctions.topKBy
    val c = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("cvec"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("qvec"))
    c.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"),
        cosineSim(col("cvec"), col("qvec")).as("score"))
      .groupBy(col("query_id"))
      .agg(topKBy(col("score"), col("id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "hit")))
      .select(col("query_id"), col("hit.id").as("id"),
        col("hit.score").as("score"), (col("r") + 1).cast("int").as("rank"))
  }

  /** Deterministic random hyperplanes (seeded), as a literal nested array —
    * shipped in the plan, no broadcast variable needed. */
  private def hyperplanes(dim: Int, bits: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new Random(seed)
    Seq.fill(bits)(Seq.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Sign-bit LSH bucket id of a vector column. */
  def lshBucket(vec: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, b)) =>
      acc.bitwiseOR(
        when(dotProduct(vec, typedlit(p)) > 0, shiftleft(lit(1L), b)).otherwise(0L))
    }

  /** XOR masks for all buckets within Hamming `radius` of a query bucket:
    * every mask with at most `radius` of the low `bits` set — sum of
    * C(bits, r) masks for r = 0..radius. Probe count (and thus candidate
    * volume) grows ~bits^radius, so radius > 2 is rarely worth it over
    * adding tables. */
  private[ext] def probeMasks(bits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= bits,
      s"probeRadius must be in [0, $bits], got $radius")
    def combos(start: Int, r: Int): Seq[Long] =
      if (r == 0) Seq(0L)
      else (start until bits).flatMap(b => combos(b + 1, r - 1).map(_ | (1L << b)))
    (0 to radius).flatMap(r => combos(0, r))
  }

  /** Per-table (tableId, bucket) ids for a vector: standard multi-table LSH.
    * Table t uses its own seeded hyperplane set; the bucket carries the table
    * id in the high bits so one equi-join key covers all tables. */
  def lshTableBuckets(vec: Column, dim: Int, bits: Int, tables: Int, seed: Long): Column =
    array((0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, seed + t)
      lshBucket(vec, planes).bitwiseOR(lit(t.toLong << 48))
    }: _*)

  /** Approximate top-k via multi-table LSH: L independent sign-hash tables;
    * a corpus vector is a candidate if it shares a bucket with the query in
    * ANY table (plus single-bit probes per table). Recall compounds across
    * tables (1-(1-p^bits)^L) while candidate volume stays ≈ L·|C|/2^bits —
    * the knob set (bits↑ for selectivity, tables↑ for recall) that keeps
    * per-bucket occupancy flat as the corpus grows to 100 TB. The corpus is
    * shuffled once on bucket id; no crossJoin anywhere. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 8, tables: Int = 8, seed: Long = 42, probeRadius: Int = 1,
      dim: Int = 64,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"),
      explode(lshTableBuckets(col(vecCol), dim, bits, tables, seed)).as("bucket"))
    val masks = probeMasks(bits, probeRadius)
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("qvec"),
        explode(lshTableBuckets(col(vecCol), dim, bits, tables, seed)).as("b0"))
      .withColumn("bucket",
        explode(transform(typedlit(masks), m => col("b0").bitwiseXOR(m))))
      .drop("b0")
    rankTopK(c.join(q, "bucket")
      .select(col("query_id"), col("id"), col("cvec"), col("qvec"))
      .dropDuplicates("query_id", "id")
      .select(col("query_id"), col("id"),
        cosineSim(col("cvec"), col("qvec")).as("score")), k)
  }

  /** X2 embedding-cosine near-dup pairs: corpus self-match through LSH
    * buckets (exact bucket only — near-identical vectors land together with
    * overwhelming probability), verified by exact cosine ≥ threshold. */
  def nearDupPairs(
      corpus: DataFrame, threshold: Double = 0.95,
      bits: Int = 8, seed: Long = 42, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(dim, bits, seed)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val a = c.as("a")
    val b = c.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineSim(col("a.vec"), col("b.vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }
}
