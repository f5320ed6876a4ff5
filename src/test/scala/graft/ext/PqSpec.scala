package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val queries = emb.filter($"vec_id" < 8)
    .select($"vec_id".as("query_id"), $"embedding")

  test("lossless codebooks make ADC identical to exact squared L2") {
    val model = Pq.exactModel(emb, m = 8)
    val adc = Pq.adcTopK(Pq.encodeCorpus(emb, model), queries, model, k = 5)
      .select($"query_id", $"id", $"dist", $"rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val exact = Pq.exactTopK(emb, queries, k = 5)
      .select($"query_id", $"id", $"dist", $"rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    // identical ids and ranks; distances equal up to summation GROUPING
    // (ADC sums per subspace then across — exact in real arithmetic, a few
    // ulps from the flat sum in doubles; the DuckDB oracle reproduces the
    // grouped order instead, where the match is bit-for-bit)
    assert(adc.map(r => (r._1, r._2, r._4)).toSeq
      === exact.map(r => (r._1, r._2, r._4)).toSeq)
    adc.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a._3 - e._3) <= 1e-12 * math.max(1.0, e._3.abs))
    }
    // and rank 1 is self at distance exactly 0
    adc.filter(_._4 == 1).foreach { case (q, id, d, _) =>
      assert(q === id && d === 0.0)
    }
  }

  test("training is deterministic with the right shapes; codes in range") {
    val m1 = Pq.train(emb, m = 8, k = 4, iters = 2, seed = 11)
    val m2 = Pq.train(emb, m = 8, k = 4, iters = 2, seed = 11)
    assert(m1.codebooks === m2.codebooks)
    assert(m1.m === 8 && m1.k === 4 && m1.sub === 8 && m1.dim === 64)
    val codes = Pq.encodeCorpus(emb, m1)
      .select($"codes").as[Seq[Int]].collect()
    assert(codes.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 4)))
  }

  test("trained ADC recall@10 grows with codebook size; refine lifts it") {
    // Calibrated on the isotropic random embeddings (n=500, SURVEY §6.9):
    // raw ADC k=4 0.23 / k=16 0.31; shortlist-100 refine 0.87 at k=16.
    val exact = Pq.exactTopK(emb, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    def recall(got: Set[(Long, Long)]): Double =
      (exact intersect got).size.toDouble / exact.size
    def adc(k: Int): Set[(Long, Long)] = {
      val model = Pq.train(emb, m = 8, k = k, iters = 2)
      Pq.adcTopK(Pq.encodeCorpus(emb, model), queries, model, k = 10)
        .select("query_id", "id").as[(Long, Long)].collect().toSet
    }
    val r4 = recall(adc(4))
    val r16 = recall(adc(16))
    assert(r16 >= r4, s"recall@10 k=16 $r16 < k=4 $r4")
    assert(r16 > 0.2, s"recall@10 k=16 = $r16")
    val model = Pq.train(emb, m = 8, k = 16, iters = 2)
    val refined = Pq.refineTopK(emb, queries, model, k = 10, shortlist = 100)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val rr = recall(refined)
    assert(rr > 0.75, s"refined recall@10 = $rr")
    // shortlist covering the whole corpus makes refine EXACTLY exact
    val all = Pq.refineTopK(emb, queries, model, k = 10, shortlist = 1000)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(all === exact)
  }

  test("IVF-PQ with full probe width equals the exhaustive ADC scan") {
    val model = Pq.train(emb, m = 8, k = 8, iters = 2)
    val coarse = Ivf.train(emb, k = 4, iters = 2)
    val full = Pq.adcTopK(Pq.encodeCorpus(emb, model), queries, model, k = 5)
      .select($"query_id", $"id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val ivfpq = Pq.ivfPqTopK(emb, queries, coarse, model, k = 5, nprobe = 4)
      .select($"query_id", $"id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivfpq === full)
    // narrow probing returns a subset of per-query candidates, still ranked
    val narrow = Pq.ivfPqTopK(emb, queries, coarse, model, k = 5, nprobe = 1)
    assert(narrow.groupBy($"query_id").count().collect().forall(_.getLong(1) <= 5))
  }

  test("model persists to parquet and loads bit-identically") {
    val root = java.nio.file.Files.createTempDirectory("graft_pq_model").toString
    val model = Pq.train(emb, m = 8, k = 8, iters = 2, seed = 3)
    Pq.save(model, s"$root/pq")(spark)
    val loaded = Pq.load(s"$root/pq")(spark)
    assert(loaded.codebooks === model.codebooks)
    val a = Pq.encodeCorpus(emb, model).select($"vec_id", $"codes")
      .as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1)
    val b = Pq.encodeCorpus(emb, loaded).select($"vec_id", $"codes")
      .as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1)
    assert(a === b)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("dim not divisible by m is refused; exactModel bounds its collect") {
    intercept[IllegalArgumentException] {
      Pq.train(emb, m = 7, k = 4, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Pq.exactModel(emb, m = 8, maxK = 3)
    }
  }

  test("wrong-length vectors error out of encode/luts; nulls stay null") {
    val model = Pq.train(emb, m = 8, k = 4, iters = 1, seed = 3)
    // a short vector must raise, not silently emit argmins over the
    // null-padded subspaces (wrong codes with no signal)
    val short = Seq((1L, Array.fill(17)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      short.select(Pq.encode($"embedding", model)).collect()
    }
    assert(e.getMessage.contains("length mismatch")
      || e.getCause != null && e.getCause.getMessage.contains("length mismatch"))
    intercept[Exception] {
      short.select(Pq.luts($"embedding", model)).collect()
    }
    // null vectors do NOT raise (pre-guard behavior preserved: null
    // propagates through slice/l2sq to null codes)
    val nulls = Seq((1L, Option.empty[Array[Float]])).toDF("vec_id", "embedding")
    val codes = nulls.select(Pq.encode($"embedding", model))
      .collect().head.getSeq[Any](0)
    assert(codes.forall(_ == null))
  }
}
