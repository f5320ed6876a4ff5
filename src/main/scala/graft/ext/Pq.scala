package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X90 — Product Quantization (PQ) for embedding compression + ANN search:
  * the codebook-compressed fourth leg of the similarity family
  * (brute force → LSH buckets → IVF lists → PQ codes).
  *
  * A d-dim float vector (d·4 bytes) is split into `m` contiguous
  * subvectors; each subspace gets its own k-entry codebook (k-means over
  * the subvectors), and a vector is stored as its `m` nearest-centroid
  * codes — `m` small ints, a 32× compression at d=64/m=8/k≤256. Distances
  * are answered from the codes alone via ADC (asymmetric distance
  * computation): per query, an m×k lookup table of exact
  * query-subvector→centroid squared-L2 distances; the approximate distance
  * to any corpus vector is the sum of its m table entries — the corpus
  * floats are never touched at query time.
  *
  * Scale story (100 TB):
  *  - training runs on a sample, one scan per Lloyd iteration covering ALL
  *    m subspaces at once (explode to (sub_id, subvec), assign, mean);
  *    the model is m×k×(d/m) floats — KB-sized, a plan literal;
  *  - encoding is a map-only pass; the encoded corpus is ~m bytes/vector,
  *    so a 10-billion-vector index fits where the raw floats cannot —
  *    THE property that makes exhaustive ADC scans affordable;
  *  - ADC scoring is scan + per-row array lookups (no shuffle of the
  *    corpus; queries broadcast); compose with IVF lists ([[ivfPqTopK]])
  *    to scan only nprobe/k of the codes — the FAISS IVF-PQ layout.
  *
  * Metric: squared L2, ascending (the PQ-native decomposable metric; for
  * cosine over unit-normalized vectors the ranking is equivalent since
  * ‖q−x‖² = 2−2·cos on the unit sphere).
  *
  * Exactness contract used by the oracle face: when every distinct
  * subvector of the corpus appears in its subspace codebook
  * ([[exactModel]]), encoding is lossless and ADC equals the true squared
  * L2 distance in exact arithmetic — and the summation ORDER (left-to-right
  * within a subspace, then left-to-right across subspaces) is pinned so an
  * IEEE-double oracle reproducing that grouping matches bit-for-bit.
  */
object Pq {

  /** `codebooks(j)(c)` = centroid `c` of subspace `j` (length d/m each). */
  final case class Model(codebooks: Seq[Seq[Seq[Float]]]) {
    def m: Int = codebooks.size
    def k: Int = codebooks.head.size
    def sub: Int = codebooks.head.head.size
    def dim: Int = m * sub
    require(codebooks.forall(cb => cb.nonEmpty && cb.forall(_.size == sub)),
      "ragged PQ codebooks")
  }

  /** Left-to-right squared L2 between two float-array columns (cast to
    * double per element; summation order is part of the ADC exactness
    * contract — see the object doc). */
  private[ext] def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0),
      (acc, e) => acc + e)

  /** Errors (rather than silently mis-computing) on any vector whose
    * length is not the model's dim: a short vector would make zip_with
    * null-pad, l2sq go NULL for the affected subspaces, and array_min
    * pick an argmin among the survivors — wrong codes, no signal. The
    * guard matches the explicit `dim % m` require in training. */
  private def dimChecked(vec: Column, model: Model): Column =
    when(vec.isNull || size(vec) === model.dim, vec) // null stays null-in-null-out
      .otherwise(raise_error(concat(
        lit(s"PQ vector length mismatch: expected ${model.dim}, got "),
        size(vec).cast("string"))))

  /** PQ codes of a vector column under `model`: array of m ints, each the
    * 0-based argmin-distance centroid of its subspace (first index wins
    * ties, so encoding is deterministic). */
  def encode(vec: Column, model: Model): Column = {
    val v = dimChecked(vec, model)
    val codes = model.codebooks.zipWithIndex.map { case (cb, j) =>
      val sl = slice(v, j * model.sub + 1, model.sub)
      val dists = transform(typedlit(cb), c => l2sq(sl, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(codes: _*)
  }

  /** Per-query ADC lookup tables: array (m) of arrays (k) of exact
    * squared-L2 distances from the query's subvector j to centroid c. */
  def luts(qvec: Column, model: Model): Column = {
    val v = dimChecked(qvec, model)
    val ls = model.codebooks.zipWithIndex.map { case (cb, j) =>
      val sl = slice(v, j * model.sub + 1, model.sub)
      transform(typedlit(cb), c => l2sq(sl, c))
    }
    array(ls: _*)
  }

  /** ADC distance: sum over subspaces of the code's table entry. */
  def adc(codes: Column, lutsCol: Column): Column =
    aggregate(
      zip_with(codes, lutsCol, (code, lut) => element_at(lut, code + 1)),
      lit(0.0),
      (acc, e) => acc + e)

  /** Corpus with its PQ codes (keep this + the id, DROP the floats — the
    * compressed index a 100 TB deployment persists). */
  def encodeCorpus(corpus: DataFrame, model: Model,
      vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("codes", encode(col(vecCol), model))

  /** Exhaustive ADC top-k per query over a pre-encoded corpus: queries
    * (small batch) broadcast, scan of codes only, per-query rank window
    * (rn<=k collapses to WindowGroupLimit). Ascending distance; ties by id. */
  def adcTopK(corpusCodes: DataFrame, queries: DataFrame, model: Model,
      k: Int, idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpusCodes.select(col(idCol).as("id"), col("codes"))
    val q = queries.select(col(qidCol).as("query_id"),
      luts(col(vecCol), model).as("luts"))
    Similarity.rankTopK(c.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"), adc(col("codes"), col("luts")).as("dist")), k)
  }

  /** IVF-PQ: ADC scoring restricted to the query's `nprobe` nearest
    * coarse-centroid lists (non-residual encoding: codes quantize the raw
    * vectors, so one codebook serves every list). The production shape:
    * corpus persisted partitioned by `list_id` carrying only (id, codes) —
    * a query batch reads nprobe/k of an m-bytes-per-vector index. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, coarse: Ivf.Model,
      model: Model, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = Ivf.assign(corpus, coarse, vecCol)
      .select(col(idCol).as("id"), col("list_id"),
        encode(col(vecCol), model).as("codes"))
    val q = queries.select(col(qidCol).as("query_id"),
      luts(col(vecCol), model).as("luts"),
      explode(graft.functions.VectorFunctions.topCentroids(
        col(vecCol), coarse.lit, lit(nprobe))).as("list_id"))
    Similarity.rankTopK(c.join(q, "list_id")
      .select(col("query_id"), col("id"), adc(col("codes"), col("luts")).as("dist")), k)
  }

  /** ADC shortlist + exact re-rank: the production PQ pattern. The code
    * scan cuts the corpus to `shortlist` candidates per query (cheap, no
    * raw floats touched), then ONLY those candidates join back to their
    * raw vectors for exact squared-L2 re-ranking — at 100 TB the exact
    * math runs on shortlist/|corpus| of the data, and recall equals the
    * probability the true top-k survives the shortlist (≫ raw-ADC-rank
    * recall, since ADC only has to be coarsely right). `corpus` must carry
    * (idCol, vecCol); codes are derived in the same pass. */
  def refineTopK(corpus: DataFrame, queries: DataFrame, model: Model, k: Int,
      shortlist: Int = 100, idCol: String = "vec_id",
      qidCol: String = "query_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k=$k")
    refine(adcTopK(encodeCorpus(corpus, model), queries, model,
        k = shortlist, idCol, qidCol, vecCol),
      corpus, queries, k, idCol, qidCol, vecCol, "refineTopK")
  }

  /** The one refine step of the PQ family ([[refineTopK]],
    * [[AnnIndex.topKRefined]], [[AnnIndex.topKRefinedFiltered]]): the
    * shortlist's `(query_id, id)` pairs fetch their raw vectors from
    * `vectors` and re-rank by exact squared L2. LEFT join + in-plan
    * guard: a shortlist id missing from `vectors` (a stale or partial
    * primary store) FAILS the query, naming `caller` and the id, instead
    * of silently shrinking the result — an inner join would drop the row
    * and hand back a plausible-looking top-k over whatever survived. */
  private[ext] def refine(shortlist: DataFrame, vectors: DataFrame,
      queries: DataFrame, k: Int, idCol: String, qidCol: String,
      vecCol: String, caller: String): DataFrame = {
    val withVec = shortlist.select(col("query_id"), col("id")).join(
      vectors.select(col(s"`$idCol`").as("id"), col(s"`$vecCol`").as("cvec")),
      Seq("id"), "left")
    val q = queries.select(col(s"`$qidCol`").as("query_id"),
      col(s"`$vecCol`").as("qvec"))
    Similarity.rankTopK(withVec.join(broadcast(q), "query_id")
      .select(col("query_id"), col("id"),
        when(col("cvec").isNotNull, l2sq(col("cvec"), col("qvec")))
          .otherwise(raise_error(concat(
            lit(s"$caller: shortlist id missing from vectors "),
            lit("(stale or partial primary store): id="),
            col("id").cast("string"))))
          .as("dist")), k)
  }

  /** Exact brute-force squared-L2 top-k (same join/rank shape and
    * tie-break as [[adcTopK]]) — the recall baseline ADC is judged
    * against, and the exact-metric sibling of
    * [[Similarity.bruteForceTopK]]'s cosine. */
  def exactTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", qidCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("qvec"))
    Similarity.rankTopK(c.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"), l2sq(col("cvec"), col("qvec")).as("dist")), k)
  }

  /** Exact codebooks = the distinct subvectors themselves (hash-ordered,
    * deterministic). Encoding under this model is lossless, so ADC ≡ true
    * squared L2 — the provable subcase behind the x90_pq_exact oracle.
    * Bounded: requires ≤ maxK distinct subvectors per subspace. */
  def exactModel(corpus: DataFrame, m: Int, vecCol: String = "embedding",
      maxK: Int = 4096, seed: Long = 42): Model = {
    val subbed = explodeSubs(corpus, m, vecCol)
    val rows = subbed.dropDuplicates("sub_id", "subvec")
      .select(col("sub_id"), col("subvec"))
      .withColumn("h", xxhash64(col("subvec"), lit(seed)))
      .collect()
    val bySub = rows.groupBy(_.getInt(0))
    require(bySub.size == m, s"expected $m subspaces, saw ${bySub.size}")
    Model((0 until m).map { j =>
      val cents = bySub(j).sortBy(_.getLong(2))
        .map(_.getSeq[Float](1).toIndexedSeq).toIndexedSeq
      require(cents.size <= maxK,
        s"subspace $j has ${cents.size} distinct subvectors > maxK=$maxK")
      cents
    })
  }

  /** (sub_id, subvec) exploded view: one row per (vector, subspace). */
  private def explodeSubs(corpus: DataFrame, m: Int, vecCol: String): DataFrame = {
    val first = corpus.select(size(col(vecCol))).head()
    val dim = first.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val subs = (0 until m).map(j => slice(col(vecCol), j * sub + 1, sub))
    corpus.select(posexplode(array(subs: _*)).as(Seq("sub_id", "subvec")))
  }

  /** Train m codebooks of k centroids with `iters` Lloyd iterations — ONE
    * scan + one (sub, code, pos)-keyed mean per iteration for ALL
    * subspaces (the exploded view), deterministic (seeded hash-ordered
    * init, fixed iteration count). Empty cells keep their previous
    * centroid. Train on a sample at scale (`sampleFraction`). */
  def train(corpus: DataFrame, m: Int, k: Int, iters: Int = 3,
      seed: Long = 42, vecCol: String = "embedding",
      sampleFraction: Double = 1.0): Model = {
    val base =
      if (sampleFraction >= 1.0) corpus
      else corpus.where(pmod(xxhash64(col(vecCol), lit(seed)),
        lit(1000000)) < lit((sampleFraction * 1000000).toLong))
    val subbed = explodeSubs(base, m, vecCol).cache()
    try {
      // init: per subspace, k hash-ordered distinct subvectors
      val w = Window.partitionBy(col("sub_id"))
        .orderBy(xxhash64(col("subvec"), lit(seed)))
      val initRows = subbed.dropDuplicates("sub_id", "subvec")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("sub_id"), col("rn"), col("subvec"))
        .collect()
      var books: IndexedSeq[IndexedSeq[Seq[Float]]] =
        (0 until m).map { j =>
          val cs = initRows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
            .map(_.getSeq[Float](2).toIndexedSeq).toIndexedSeq
          require(cs.nonEmpty, s"PQ training: subspace $j has no vectors")
          cs
        }

      for (_ <- 1 to iters) {
        val litBooks = typedlit(books.map(_.toSeq).toSeq)
        val dists = transform(element_at(litBooks, col("sub_id") + 1),
          c => l2sq(col("subvec"), c))
        val next = subbed
          .select(col("sub_id"),
            (array_position(dists, array_min(dists)) - 1).cast("int").as("code"),
            posexplode(col("subvec")).as(Seq("pos", "x")))
          .groupBy(col("sub_id"), col("code"), col("pos"))
          .agg(avg(col("x")).as("mu"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (key, rows) =>
            key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toIndexedSeq
          }
        books = books.zipWithIndex.map { case (cb, j) =>
          cb.indices.map(c => next.getOrElse((j, c), cb(c))).toIndexedSeq
        }
      }
      Model(books.map(_.map(_.toSeq).toSeq).toSeq)
    } finally subbed.unpersist()
  }

  /** Persist the codebooks: one row per (sub_id, code, centroid) — KB-sized,
    * exact float round-trip, so a loaded model encodes and scores
    * bit-identically (the Ivf/Pca ModelStore contract). */
  def save(model: Model, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, i) => (j, i, c) }
    }.toDF("sub_id", "code", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def load(path: String)(implicit spark: SparkSession): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("sub_id").cast("int"), col("code").cast("int"), col("centroid"))
      .as[(Int, Int, Seq[Float])].collect()
    require(rows.nonEmpty, s"no PQ codebooks at $path")
    val m = rows.map(_._1).max + 1
    Model((0 until m).map { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3.toIndexedSeq).toIndexedSeq
    })
  }
}
