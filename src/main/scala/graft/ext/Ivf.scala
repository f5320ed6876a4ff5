package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineSim, topCentroids}

/** X3 — IVF (inverted-file) approximate nearest neighbor: the
  * centroid-partitioned alternative to [[Similarity.lshTopK]].
  *
  * Index: k coarse centroids (k-means, a few Lloyd iterations as Spark
  * jobs); every corpus vector is assigned to its nearest centroid's
  * inverted list in ONE codegen'd scan ([[graft.functions.TopCentroids]]).
  * Query: score a vector only against the `nprobe` lists whose centroids
  * are nearest to it — an equi-join on list id, exactly the LSH bucket-join
  * shape, so cost drops from |C|·|Q| to ≈ |C|·|Q|·nprobe/k.
  *
  * Scale story (100 TB):
  *  - training runs on a SAMPLE (`sampleFraction`); the model is k×dim
  *    floats — driver/plan-literal sized, shipped in the closure, never a
  *    shuffle;
  *  - assignment is a map-only pass; persisting the corpus partitioned by
  *    `list_id` (e.g. `partitionBy("list_id")` parquet) turns every later
  *    query batch into a partition-pruned scan of nprobe/k of the data;
  *  - the probe join shuffles queries (tiny) to the corpus's list
  *    partitioning, never the reverse.
  */
object Ivf {

  final case class Model(centroids: Seq[Seq[Float]]) {
    def k: Int = centroids.size
    /** Plan-literal centroid matrix column. */
    def lit: Column = typedlit(centroids)
  }

  /** Persist the trained coarse quantizer: one parquet row per centroid,
    * `(centroid_id, centroid)`. The model a Monday training run writes and
    * every later scoring run [[load]]s — k×dim floats, so the file is
    * KB-sized and the load is a driver-side collect, exactly matching how
    * the model ships into plans (a literal, never a join side). Parquet
    * round-trips float arrays exactly ⇒ loaded scores ≡ in-memory scores
    * (ModelStoreSpec pins both). */
  def save(model: Model, path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("centroid_id", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def load(path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("centroid_id").cast("int"), col("centroid"))
      .as[(Int, Seq[Float])].collect()
    require(rows.nonEmpty, s"no centroids at $path")
    Model(rows.sortBy(_._1).map(_._2.toIndexedSeq).toIndexedSeq)
  }

  /** Nearest-centroid list id of a vector under `model`. */
  def listId(vec: Column, model: Model): Column =
    element_at(topCentroids(vec, model.lit, org.apache.spark.sql.functions.lit(1)), 1)

  /** Train k centroids with `iters` Lloyd iterations (deterministic:
    * seeded hash-ordered init, fixed iteration count). Each iteration is
    * one assignment scan + one (list, dim)-keyed mean — the standard
    * distributed k-means step expressed as DataFrame aggregation.
    * @param sampleFraction train on a corpus sample (1.0 = all rows) */
  def train(corpus: DataFrame, k: Int, iters: Int = 3, seed: Long = 42,
      vecCol: String = "embedding", sampleFraction: Double = 1.0): Model = {
    val base = corpus.select(col(vecCol).as("v"))
    val sample =
      if (sampleFraction >= 1.0) base
      else base.where(pmod(xxhash64(col("v"), lit(seed)), lit(1000000)) <
        lit((sampleFraction * 1000000).toLong))
    // deterministic init: k hash-ordered distinct vectors
    var cents: Seq[Seq[Float]] = sample
      .dropDuplicates("v")
      .orderBy(xxhash64(col("v"), lit(seed)))
      .limit(k)
      .collect().map(_.getSeq[Float](0).toIndexedSeq).toIndexedSeq
    require(cents.nonEmpty, "IVF training needs a non-empty corpus")

    for (_ <- 1 to iters) {
      val model = Model(cents)
      val next = sample
        .select(listId(col("v"), model).as("list_id"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (lid, rows) =>
          lid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toIndexedSeq
        }
      // empty lists keep their previous centroid (standard k-means fix-up)
      cents = cents.indices.map(j => next.getOrElse(j, cents(j)))
    }
    Model(cents)
  }

  /** Corpus with its inverted-list assignment. Persist this partitioned by
    * `list_id` to make later query batches partition-pruned. */
  def assign(corpus: DataFrame, model: Model,
      vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("list_id", listId(col(vecCol), model))

  /** Approximate top-k neighbors per query via nprobe inverted lists. */
  def topK(corpus: DataFrame, queries: DataFrame, model: Model, k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = assign(corpus, model, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("cvec"), col("list_id"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("qvec"),
        explode(topCentroids(col(vecCol), model.lit, lit(nprobe))).as("list_id"))
    Similarity.rankTopK(c.join(q, "list_id")
      .select(col("query_id"), col("id"),
        cosineSim(col("cvec"), col("qvec")).as("score")), k)
  }

  /** FILTERED top-k, ad-hoc (non-persisted) sibling of
    * [[graft.ext.AnnIndex.topKFiltered]]: k nearest corpus rows that
    * satisfy `predicate` (evaluated against the corpus row — its
    * attribute columns travel with it, no side join). Per-query probe
    * depth is the exact minimal d whose d nearest lists hold ≥ k eligible
    * candidates (nLists when no depth suffices — then exact over the
    * eligible set), floored at nprobe0; the final pass scores each
    * query at its own depth. See the
    * AnnIndex scaladoc for the full contract; the persisted-index face
    * is the scale path (partition-pruned + predicate-pushed list scans),
    * this one serves one-shot corpora. */
  def topKFiltered(corpus: DataFrame, queries: DataFrame, model: Model,
      predicate: Column, k: Int, nprobe0: Int = 4,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe0 >= 1, s"nprobe0 must be >= 1, got $nprobe0")
    val c = assign(corpus, model, vecCol).filter(predicate)
      .select(col(s"`$idCol`").as("id"), col(s"`$vecCol`").as("cvec"),
        col("list_id"))
    val qs = queries.select(col(s"`$qidCol`").as("query_id"),
      col(s"`$vecCol`").as("qvec"))
    val probed = qs.join(broadcast(probeDepth(c, qs, col("qvec"), model, k,
        nprobe0)), Seq("query_id"))
      .select(col("query_id"), col("qvec"),
        explode(topCentroids(col("qvec"), model.lit, col("__np"))).as("list_id"))
    Similarity.rankTopK(c.join(probed, "list_id")
      .select(col("query_id"), col("id"),
        cosineSim(col("cvec"), col("qvec")).as("score")), k)
  }

  /** The one probe-depth rule of filtered search ([[topKFiltered]] here
    * and [[AnnIndex.topKFiltered]]): `(query_id, __np)`, each query's
    * EXACT MINIMAL depth — the smallest d whose d nearest lists hold
    * ≥ k rows of `eligible` (nLists when no depth suffices), floored at
    * `nprobe0`. One logical plan, nothing collected: `eligible` (rows
    * carrying `list_id`) aggregates to per-list counts (≤ nLists rows,
    * broadcast), each query explodes its full centroid ranking once
    * (nLists tiny ints), and a running sum over that ranking finds the
    * depth. See the AnnIndex scaladoc for the contract.
    * @param queries one row per `query_id`; `qvec` is its vector */
  private[ext] def probeDepth(eligible: DataFrame, queries: DataFrame,
      qvec: Column, model: Model, k: Int, nprobe0: Int): DataFrame = {
    val nLists = model.k
    val perList = eligible.groupBy(col("list_id")).agg(count(lit(1)).as("__c"))
    val ranked = queries.select(col("query_id"),
      posexplode(topCentroids(qvec, model.lit, lit(nLists)))
        .as(Seq("__rk", "list_id")))
    val wcum = Window.partitionBy(col("query_id")).orderBy(col("__rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .join(broadcast(perList), Seq("list_id"), "left")
      .withColumn("__cum", sum(coalesce(col("__c"), lit(0L))).over(wcum))
      .groupBy(col("query_id"))
      .agg(coalesce(min(when(col("__cum") >= k, col("__rk") + 1)),
        lit(nLists)).cast("int").as("__d"))
      .select(col("query_id"),
        greatest(col("__d"), lit(math.min(nprobe0, nLists))).as("__np"))
  }
}
