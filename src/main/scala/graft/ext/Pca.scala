package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.letCol
import graft.functions.MomentsFunctions.vectorMoments

/** X41 — PCA / whitening for embedding columns: the dimensionality-
  * reduction pass a large-scale embedding pipeline runs before storage,
  * ANN indexing, or semantic dedup (SemDeDup itself clusters PCA-reduced
  * embeddings). No reference analog — built Spark-first for the north
  * star.
  *
  * Shape: [[fit]] is ONE aggregation pass — the
  * [[graft.functions.VectorMoments]] kernel accumulates count / per-dim
  * sums / upper-triangular product sums map-side, so the driver receives
  * d + d(d+1)/2 + 1 doubles total (d=1024 → ~4 MB), never rows; the d×d
  * covariance eigendecomposition then runs on the driver with a cyclic
  * Jacobi solver — O(d³) per sweep on a matrix that fits in L2, the
  * standard split (same as every distributed PCA: moments distributed,
  * eigen local). [[project]] is row-local arithmetic over plan-literal
  * components — builtin `zip_with`/`aggregate` HOFs with the centered
  * vector let-bound once ([[letCol]]), codegen'd, no UDFs, no shuffle.
  *
  * Scale levers: `sampleFraction` fits on a deterministic hash-sample
  * (moments of a 1% sample of 100 TB are plenty for 64-1024 dims);
  * whitening divides each projected coordinate by √eigenvalue so
  * downstream cosine/L2 treat directions isotropically.
  *
  * Determinism: the moments sum is order-dependent in floating point at
  * the last ulp, but the Jacobi solver and the sign convention (largest-
  * magnitude entry of each component made positive) pin the OUTPUT
  * orientation, and the spec pins axis recovery, orthonormality,
  * reconstruction, and whitened variance rather than bitwise equality.
  */
object Pca {

  /** Fitted model: `mean` (d), `components` (k×d, orthonormal rows in
    * decreasing eigenvalue order), `eigenvalues` (k, the projected-
    * coordinate variances). */
  final case class Model(
      mean: IndexedSeq[Double],
      components: IndexedSeq[IndexedSeq[Double]],
      eigenvalues: IndexedSeq[Double]) {
    def dim: Int = mean.length
    def k: Int = components.length
    /** Fraction of total variance the kept components explain (of the
      * full-rank trace, carried through from fit). */
    def explained(totalVariance: Double): Double =
      if (totalVariance <= 0) 0.0 else eigenvalues.sum / totalVariance
  }

  /** Persist a fitted model: one parquet row per component,
    * `(component_id, component, eigenvalue)`, plus a `component_id = -1`
    * row carrying the mean — self-describing, mergeable with plain
    * readers, and KB-sized (doubles round-trip parquet exactly, so loaded
    * projections ≡ in-memory projections; ModelStoreSpec pins it). For
    * the RESUMABLE state persist [[Moments]] instead ([[saveMoments]]) —
    * a model alone cannot absorb new batches. */
  def saveModel(model: Model, path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val rows = (-1, model.mean, 0.0) +:
      model.components.zipWithIndex.map { case (c, i) =>
        (i, c, model.eigenvalues(i))
      }
    rows.toDF("component_id", "component", "eigenvalue")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadModel(path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("component_id").cast("int"), col("component"), col("eigenvalue"))
      .as[(Int, Seq[Double], Double)].collect()
    val mean = rows.find(_._1 == -1)
      .getOrElse(sys.error(s"no mean row at $path"))._2.toIndexedSeq
    val comps = rows.filter(_._1 >= 0).sortBy(_._1)
    Model(mean, comps.map(_._2.toIndexedSeq).toIndexedSeq,
      comps.map(_._3).toIndexedSeq)
  }

  /** Persist accumulated [[Moments]] (one row) — the incremental-PCA
    * state: load, [[Moments.merge]] a new batch's moments, save back,
    * [[fitFromMoments]] whenever a refreshed model is wanted. */
  def saveMoments(mom: Moments, path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    Seq((mom.n, mom.sums, mom.prods)).toDF("n", "sums", "prods")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadMoments(path: String)
      (implicit spark: org.apache.spark.sql.SparkSession): Moments = {
    import spark.implicits._
    val r = spark.read.parquet(path)
      .select(col("n").cast("long"), col("sums"), col("prods"))
      .as[(Long, Seq[Double], Seq[Double])].head()
    Moments(r._1, r._2.toIndexedSeq, r._3.toIndexedSeq)
  }

  /** The sufficient statistics of a fit: count, per-dim sums, upper-
    * triangular product sums. ALGEBRAIC — `merge` of two corpora's
    * moments equals the union's moments exactly (addition of exact
    * per-batch sums), which is what makes PCA INCREMENTAL here: persist
    * the tiny state (d(d+3)/2 + 1 doubles), fold each arriving batch's
    * moments in, refit anytime — history is never rescanned, the same
    * contract as [[graft.etl.MaterializedRollup.merge]] /
    * [[IncrementalDedup]]. */
  final case class Moments(n: Long, sums: IndexedSeq[Double],
      prods: IndexedSeq[Double]) {
    def dim: Int = sums.length
    def merge(other: Moments): Moments = {
      if (n == 0) return other
      if (other.n == 0) return this
      require(other.dim == dim, s"moments dim ${other.dim} != $dim")
      Moments(n + other.n,
        sums.zip(other.sums).map { case (a, b) => a + b },
        prods.zip(other.prods).map { case (a, b) => a + b })
    }
  }

  /** One aggregation pass → the corpus's [[Moments]].
    * @param sampleFraction deterministic hash-sample of the corpus
    *   (1.0 = all rows); the same seeded `xxhash64` gate as
    *   [[Ivf.train]], so refits see the same sample. */
  def moments(corpus: DataFrame, vecCol: String = "embedding",
      sampleFraction: Double = 1.0, seed: Long = 42): Moments = {
    val base = corpus.select(col(vecCol).as("v")).filter(col("v").isNotNull)
    val sample =
      if (sampleFraction >= 1.0) base
      else base.where(pmod(xxhash64(col("v"), lit(seed)), lit(1000000)) <
        lit((sampleFraction * 1000000).toLong))
    val m = sample.select(vectorMoments(col("v")).as("m")).head().getStruct(0)
    Moments(m.getLong(0), m.getSeq[Double](1).toIndexedSeq,
      m.getSeq[Double](2).toIndexedSeq)
  }

  /** Fit a k-component model in one aggregation pass (+ driver eigen). */
  def fit(corpus: DataFrame, k: Int, vecCol: String = "embedding",
      sampleFraction: Double = 1.0, seed: Long = 42): (Model, Double) =
    fitFromMoments(moments(corpus, vecCol, sampleFraction, seed), k)

  /** Eigendecompose accumulated [[Moments]] into a model — the refit step
    * of the incremental path (driver-only, no Spark job). */
  def fitFromMoments(mom: Moments, k: Int): (Model, Double) = {
    require(k >= 1, "k >= 1")
    val n = mom.n
    require(n >= 2, s"PCA needs at least 2 vectors, got $n")
    val sums = mom.sums.toArray
    val prods = mom.prods.toArray
    val d = sums.length
    require(k <= d, s"k=$k > dimension $d")

    val mean = sums.map(_ / n)
    // population covariance: E[x xT] - mean meanT
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = prods(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        t += 1
        j += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEig(cov)
    val order = eigVals.indices.sortBy(idx => -eigVals(idx))
    val totalVar = eigVals.filter(_ > 0).sum
    val comps = order.take(k).map { idx =>
      val v = Array.tabulate(d)(r => eigVecs(r)(idx))
      // sign convention: largest-|entry| positive — pins orientation
      val pivot = v.indices.maxBy(r => math.abs(v(r)))
      (if (v(pivot) < 0) v.map(-_) else v).toIndexedSeq
    }.toIndexedSeq
    val model = Model(mean.toIndexedSeq, comps,
      order.take(k).map(idx => math.max(eigVals(idx), 0.0)).toIndexedSeq)
    (model, totalVar)
  }

  /** Projection column: `array<double>` of length `model.k` — the
    * centered input's coordinates along each component; `whiten = true`
    * divides by √eigenvalue (components with eigenvalue ≤ `eps` yield
    * 0.0 rather than blowing up on numerically-dead directions). Pure
    * row-local builtin HOF arithmetic over plan literals. */
  def projectCol(vec: Column, model: Model, whiten: Boolean = false,
      eps: Double = 1e-12): Column = {
    val centered = zip_with(vec, typedlit(model.mean), (x, m) => x.cast("double") - m)
    val scales: IndexedSeq[Double] =
      if (!whiten) IndexedSeq.fill(model.k)(1.0)
      else model.eigenvalues.map(ev => if (ev <= eps) 0.0 else 1.0 / math.sqrt(ev))
    letCol(centered) { c =>
      transform(
        typedlit(model.components.zip(scales)),
        cs => aggregate(
          zip_with(c, cs.getField("_1"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) * cs.getField("_2"))
    }
  }

  /** Corpus plus a `pca` column. */
  def project(df: DataFrame, model: Model, vecCol: String = "embedding",
      outCol: String = "pca", whiten: Boolean = false): DataFrame =
    df.withColumn(outCol, projectCol(col(s"`$vecCol`"), model, whiten))

  /** Reconstruction column (`array<double>`, length d): mean + Σ pᵢ·vᵢ —
    * the rank-k approximation of the input; with k = d this inverts
    * [[projectCol]] up to float rounding (spec-pinned). */
  def reconstructCol(proj: Column, model: Model): Column = {
    val d = model.dim
    letCol(proj) { p =>
      transform(
        typedlit((0 until d).map(j =>
          (model.mean(j), model.components.map(c => c(j))))),
        mj => mj.getField("_1") + aggregate(
          zip_with(p, mj.getField("_2"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with eigenvectors as COLUMNS).
    * Deterministic; converges quadratically, 30-sweep cap is far beyond
    * what d ≤ a few thousand needs. */
  private[ext] def jacobiEig(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 30 && offNorm > 1e-22) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val tTan =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tTan * tTan + 1.0)
            val s = tTan * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            var j = 0
            while (j < d) {
              val apj = a(p)(j); val aqj = a(q)(j)
              a(p)(j) = c * apj - s * aqj
              a(q)(j) = s * apj + c * aqj
              j += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
