package graft.ext

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, GraftTestBridge}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("t").select(c).collect().head.get(0)

  test("token counts") {
    assert(one(TextStats.tokenCount($"t"), "a b  c") === 3)
    assert(one(TextStats.tokenCount($"t"), "  padded  ") === 1)
    assert(one(TextStats.tokenCount($"t"), "") === 0)
    assert(one(TextStats.bpeTokenCount($"t"), "hello, world42!") === 5) // hello , world 42 !
  }

  test("mean token length and punct ratio") {
    assert(one(TextStats.meanTokenLength($"t"), "ab cdef") === 3.0)
    assert(one(TextStats.punctRatio($"t"), "a.b.") === 0.5)
    assert(one(TextStats.punctRatio($"t"), "") === 0.0)
  }

  test("language id heuristic") {
    assert(one(TextStats.languageId($"t"),
      "the cat and the dog sat in a house that it owned") === "en")
    assert(one(TextStats.languageId($"t"),
      "der hund und die katze ist nicht auf dem tisch") === "de")
    assert(one(TextStats.languageId($"t"),
      "el perro y la casa es un lugar que por la noche") === "es")
    assert(one(TextStats.languageId($"t"),
      "le chien et la maison est dans une rue pour les gens") === "fr")
    assert(one(TextStats.languageId($"t"), "这是一个中文句子的测试文本") === "zh")
    assert(one(TextStats.languageId($"t"), "xyzzy qwerty plugh") === "und")
  }

  test("quality score bounded and ordered sensibly") {
    val good = one(TextStats.qualityScore($"t"),
      "the quick brown fox jumps over the lazy dog and runs far into the quiet field " * 5).asInstanceOf[Double]
    val junk = one(TextStats.qualityScore($"t"), "!!! ??? ***").asInstanceOf[Double]
    assert(good > junk)
    assert(good <= 1.0 && junk >= 0.0)
  }

  test("fingerprint is whitespace/case insensitive; rolling hash survives append") {
    val a = one(TextStats.fingerprint64($"t"), "Hello   World\tfoo")
    val b = one(TextStats.fingerprint64($"t"), "hello world foo")
    assert(a === b)
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val r1 = one(TextStats.rollingMinHash($"t"), base)
    val r2 = one(TextStats.rollingMinHash($"t"), base + " tail") // shared window may win
    // not asserting equality (min could move), but determinism:
    assert(r1 === one(TextStats.rollingMinHash($"t"), base))
    assert(r2 === one(TextStats.rollingMinHash($"t"), base + " tail"))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup of 1
    (4L, "totally different content about completely other things entirely"),
    (5L, "unrelated words nothing shared with any other document here")
  ).toDF("doc_id", "text")

  test("exactByContent keeps the min-id winner") {
    val kept = Dedup.exactByContent(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 3L, 4L, 5L))
  }

  test("duplicateGroups counts copies") {
    val g = Dedup.duplicateGroups(docs, "text", "doc_id")
      .select("keep_id", "n_copies").orderBy("keep_id")
      .as[(Long, Long)].collect()
    assert(g.head === ((1L, 2L))) // keep_id=1 has 2 copies
    assert(g.length === 4)
  }

  test("savingsReport: cluster-size histogram with exact rows/bytes saved") {
    val got = Dedup.savingsReport(docs, "text", "doc_id")
      .orderBy("n_copies")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // 3 singletons (no savings) and one 2-copy cluster saving 1 row of
    // the 46-char text
    val textLen = "alpha beta gamma delta epsilon zeta eta theta".length
    assert(got === Seq((1L, 3L, 0L, 0L), (2L, 1L, 1L, textLen.toLong)))
  }

  test("minhash near-dup finds the near pair, not unrelated docs") {
    val p = Dedup.MinHashParams(numPerm = 64, bands = 32, shingleSize = 2, threshold = 0.5)
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", p)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup always collides
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("connected components merges a chain; dedupNear keeps min representative") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // driver union-find path
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(cc(1L) === 1L && cc(2L) === 1L && cc(3L) === 1L)
    assert(cc(10L) === 10L && cc(11L) === 10L)
    // distributed label-propagation path must agree
    val ccDist = Dedup.connectedComponents(pairs, driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(ccDist === cc)

    val p = Dedup.MinHashParams(numPerm = 64, bands = 32, shingleSize = 2, threshold = 0.5)
    val survivors = Dedup.dedupNear(docs, "doc_id", "text", p)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(1L) && !survivors.contains(2L))
    assert(survivors.contains(4L) && survivors.contains(5L))
  }

  test("the sketch and pair pins leave nothing in the session cache") {
    val p = Dedup.MinHashParams(numPerm = 64, bands = 32, shingleSize = 2, threshold = 0.5)
    spark.catalog.clearCache()
    assert(Dedup.dedupNear(docs, "doc_id", "text", p).count() === 3L)
    assert(GraftTestBridge.cacheIsEmpty(spark))
    assert(Dedup.nearDupPairs(docs, "doc_id", "text", p).count() >= 1L)
    assert(GraftTestBridge.cacheIsEmpty(spark))
  }

  test("dedupNear reads its sketch at the coalesced width: no stage of shuffle.partitions tasks") {
    // the sketch comes out of a shuffle, as in x0_pipeline; a cached
    // sketch would keep that shuffle's uncoalesced width on every read
    val key = "spark.sql.shuffle.partitions"
    val width = 13
    val p = Dedup.MinHashParams(numPerm = 64, bands = 32, shingleSize = 2, threshold = 0.5)
    val sc = spark.sparkContext
    val stages = scala.collection.mutable.ListBuffer.empty[(Int, String)]
    val own = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized(stages += ((e.stageInfo.numTasks, e.stageInfo.name)))
    }
    val old = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(own)
    try Dedup.dedupNear(docs.repartition($"doc_id"), "doc_id", "text", p)
    finally {
      GraftBridge.drainListeners(sc)
      sc.removeSparkListener(own)
      spark.conf.set(key, old)
    }
    val seen = own.synchronized(stages.toList)
    assert(seen.nonEmpty)
    assert(!seen.exists(_._1 == width), seen.mkString("\n"))
  }

  test("distributed components converge on long chains in O(log d) rounds") {
    // sorted-neighborhood edge sets are CHAINS — the worst case for 1-hop
    // min-label propagation (O(diameter) rounds); pointer jumping must
    // label a 200-node chain within the default 10 rounds, where the old
    // 1-hop loop silently returned split components (round-12 fix)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(cc.size === 200 && cc.values.forall(_ == 0L))
    // two chains + a singleton pair keep distinct components
    val two = ((0L until 50L).map(i => (i, i + 1)) ++
      (1000L until 1050L).map(i => (i, i + 1)) :+ (5000L, 5001L))
      .toDF("id_a", "id_b")
    val cc2 = Dedup.connectedComponents(two, driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert((0L to 50L).forall(cc2(_) == 0L))
    assert((1000L to 1050L).forall(cc2(_) == 1000L))
    assert(cc2(5000L) === 5000L && cc2(5001L) === 5000L)
  }

  test("knownEdges skips the probe but labels identically on both regimes") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val expect = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // driver path (3 <= limit) with the probe bypassed
    val viaKnown = Dedup.connectedComponents(pairs, knownEdges = Some(3L))
      .as[(Long, Long)].collect().toMap
    assert(viaKnown === expect)
    // distributed path chosen from the CALLER's count, not a probe
    val viaKnownDist = Dedup.connectedComponents(pairs, driverEdgeLimit = 2,
      knownEdges = Some(3L)).as[(Long, Long)].collect().toMap
    assert(viaKnownDist === expect)
  }

  test("driver union-find output partitions stay bounded by parallelism") {
    // a many-partition pair source must not yield one output partition
    // per collected chunk (r15 verdict: 10 000-partition inputs)
    val pairs = (0L until 200L).map(i => (i * 2, i * 2 + 1))
      .toDF("id_a", "id_b").repartition(100)
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.rdd.getNumPartitions <=
      math.max(1, spark.sparkContext.defaultParallelism))
    assert(cc.count() === 400L)
  }

  test("defaultDriverEdgeLimit derives from the heap: quarter-heap / 100 B") {
    // the scaladoc math IS the code (r15 verdict #8)
    assert(Dedup.driverEdgeLimitFor(8L * 1024 * 1024 * 1024) ===
      8L * 1024 * 1024 * 1024 / 4 / 100)
    assert(Dedup.driverEdgeLimitFor(0L) === 1000000L)          // floor
    assert(Dedup.driverEdgeLimitFor(Long.MaxValue) === 256000000L) // cap
    assert(Dedup.defaultDriverEdgeLimit ===
      Dedup.driverEdgeLimitFor(Runtime.getRuntime.maxMemory))
  }
}

class SimHashSpec extends SparkSpec {
  import spark.implicits._

  test("identical texts → hamming 0; small edit → small hamming") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "one two three four five six seven eight nine ten eleven thirteen"),
      (4L, "zz yy xx ww vv uu tt ss rr qq pp oo")
    ).toDF("doc_id", "text")
    val fps = SimHash.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) < 20)
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(4L)) > 10)

    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("exactDupPairs: multiset duplicates recalled, reorderings included, edits excluded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // identical → pair
      (3L, "delta gamma beta alpha"),   // same multiset, reordered → pair
      (4L, "alpha beta gamma epsilon"), // one-token edit → no pair
      (5L, "alpha alpha beta gamma delta") // different multiplicity → no pair
    ).toDF("doc_id", "text")
    val got = SimHash.exactDupPairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}

class NgramJaccardSpec extends SparkSpec {
  import spark.implicits._

  test("exact jaccard on crafted overlap") {
    // 2-gram shingles: A = {a b, b c, c d}, B = {a b, b c, c e} → J = 2/4
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val got = NgramJaccard.pairs(docs, "doc_id", "text", n = 2, minJaccard = 0.1)
      .collect().head
    assert(got.getLong(0) === 1L && got.getLong(1) === 2L)
    assert(got.getDouble(2) === 0.5)
  }
}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(2.0f, 0.0f, 0.0f)),
    (4L, Array(1.0f, 1.0f, 0.0f)),
    (5L, Array(0.0f, 0.0f, 0.0f))
  ).toDF("id", "v")

  test("cosine similarity: parallel=1, orthogonal=0, zero-vector=0") {
    val self = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        VectorFunctions.cosineSim(col("a.v"), col("b.v")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(self((1L, 3L)) === 1.0)
    assert(self((1L, 2L)) === 0.0)
    assert(self((1L, 5L)) === 0.0)
    assert(math.abs(self((1L, 4L)) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("dot product + SQL registration path") {
    VectorFunctions.register(spark)
    vecs.createOrReplaceTempView("vecs_test")
    val viaSql = spark.sql(
      """SELECT a.id, b.id, dot_product(a.v, b.v), cosine_sim(a.v, b.v)
        | FROM vecs_test a JOIN vecs_test b ON a.id = 1 AND b.id = 4""".stripMargin)
      .collect().head
    assert(viaSql.getDouble(2) === 1.0)
    assert(math.abs(viaSql.getDouble(3) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("matches builtin HOF formulation (cross-check the codegen)") {
    val hof = vecs.filter($"id" === 4).select(
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0d), (acc, x) => acc + x))
      .as[Double].collect().head
    val expr = vecs.filter($"id" === 4).select(
      VectorFunctions.dotProduct($"v", $"v")).as[Double].collect().head
    assert(math.abs(hof - expr) < 1e-12)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("brute force top-k: self is rank 1 with score 1") {
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val top = Similarity.bruteForceTopK(emb, queries, k = 3)
    val r1 = top.filter($"rank" === 1).select($"query_id", $"id", $"score")
      .as[(Long, Long, Double)].collect()
    assert(r1.length === 5)
    r1.foreach { case (q, id, s) => assert(q === id && s > 0.999999) }
  }

  test("lsh top-k recall vs brute force is reasonable on clustered data") {
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall > 0.5, s"recall@10 = $recall")
  }

  test("single-pass top-k aggregate equals the window top-k exactly") {
    val queries = emb.filter($"vec_id" < 15)
      .select($"vec_id".as("query_id"), $"embedding")
    val win = Similarity.bruteForceTopK(emb, queries, k = 7)
      .select("query_id", "id", "rank").as[(Long, Long, Int)].collect().toSet
    val agg = Similarity.bruteForceTopKAgg(emb, queries, k = 7)
      .select("query_id", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(agg === win)
    // plan shape: no Window operator, partial aggregation present
    val plan = Similarity.bruteForceTopKAgg(emb, queries, k = 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowGroupLimit") && plan.contains("ObjectHashAggregate"))
  }

  test("probeMasks enumerates the full <=radius Hamming ball") {
    assert(Similarity.probeMasks(8, 0) === Seq(0L))
    assert(Similarity.probeMasks(8, 1).length === 1 + 8)
    val r2 = Similarity.probeMasks(8, 2)
    assert(r2.length === 1 + 8 + 28) // C(8,0)+C(8,1)+C(8,2)
    assert(r2.distinct.length === r2.length)
    assert(r2.forall(m => java.lang.Long.bitCount(m) <= 2))
    intercept[IllegalArgumentException](Similarity.probeMasks(8, 9))
  }

  test("top_centroids with n <= 0 returns an empty array, not a phantom hit") {
    val df = emb.limit(3).select(
      graft.functions.VectorFunctions.topCentroids(
        $"embedding",
        typedlit(Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))),
        lit(0)).as("t"))
    assert(df.collect().forall(_.getSeq[Int](0).isEmpty))
  }

  test("radius-2 probing finds at least the radius-1 candidate set") {
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val r1 = Similarity.lshTopK(emb, queries, k = 5, probeRadius = 1)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val r2 = Similarity.lshTopK(emb, queries, k = 5, probeRadius = 2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // radius-2 candidate superset can only improve (or tie) the top-k score,
    // and with the same scoring it must recover every exact-radius-1 self hit
    assert(r2.count(p => p._1 == p._2) >= r1.count(p => p._1 == p._2))
  }

  test("near-dup pairs finds planted exact copy") {
    val planted = emb.unionByName(
      emb.filter($"vec_id" === 7).withColumn("vec_id", lit(999999L)))
    val pairs = Similarity.nearDupPairs(planted, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 999999L)))
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("training is deterministic and produces k centroids of the right dim") {
    val m1 = Ivf.train(emb, k = 8, iters = 2, seed = 7)
    val m2 = Ivf.train(emb, k = 8, iters = 2, seed = 7)
    assert(m1.k === 8)
    assert(m1.centroids.forall(_.length === m1.centroids.head.length))
    assert(m1.centroids === m2.centroids)
  }

  test("every corpus vector lands in exactly one list; self is its own neighbor") {
    val model = Ivf.train(emb, k = 16, iters = 3)
    val assigned = Ivf.assign(emb, model)
    assert(assigned.count() === emb.count())
    assert(assigned.filter($"list_id" < 0 || $"list_id" >= 16).count() === 0)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val top = Ivf.topK(emb, queries, model, k = 3, nprobe = 2)
    // a query probes its own vector's list first → rank-1 hit is itself
    val r1 = top.filter($"rank" === 1).select($"query_id", $"id", $"score")
      .as[(Long, Long, Double)].collect()
    assert(r1.length === 10)
    r1.foreach { case (q, id, s) => assert(q === id && s > 0.999999) }
  }

  test("list-partitioned IVF layout gives partition-pruned probe scans") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_layout").toString
    val model = Ivf.train(emb, k = 8, iters = 2)
    Ivf.assign(emb, model).write.partitionBy("list_id").parquet(s"$root/index")
    val index = spark.read.parquet(s"$root/index")
    val probed = index.filter($"list_id".isin(0, 1))
    val plan = probed.queryExecution.executedPlan.toString
    // the probe filter reaches the scan as a partition filter → only the
    // probed lists' directories are read (the nprobe/k scan-cost claim)
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(800))
    val prunedParts = probed.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(prunedParts.subsetOf(Set(0, 1)))
  }

  test("ivf recall vs brute force is reasonable on clustered data") {
    val model = Ivf.train(emb, k = 16, iters = 3)
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val ivf4 = Ivf.topK(emb, queries, model, k = 10, nprobe = 4)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall4 = (bf intersect ivf4).size.toDouble / bf.size
    assert(recall4 > 0.5, s"recall@10 nprobe=4 = $recall4")
    // recall must rise monotonically-ish with probe width
    val ivf8 = Ivf.topK(emb, queries, model, k = 10, nprobe = 8)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val recall8 = (bf intersect ivf8).size.toDouble / bf.size
    assert(recall8 >= recall4, s"recall@10 nprobe=8 = $recall8 < nprobe=4 = $recall4")
    assert(recall8 > 0.7, s"recall@10 nprobe=8 = $recall8")
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("one-pass profile: nulls, distincts, ranges, means per column") {
    val df = Seq(
      (1L, Some("aa"), Some(10.0)),
      (2L, None, Some(20.0)),
      (3L, Some("cccc"), None),
      (4L, Some("aa"), Some(30.0))
    ).toDF("id", "s", "v")
    val p = Profile.describe(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(2) === 4) // rows
    assert(p("s").getLong(3) === 1 && p("s").getDouble(4) === 0.25) // nulls
    assert(p("v").getLong(5) === 3) // distinct (exact at this size)
    assert(p("v").getString(6) === "10.0" && p("v").getString(7) === "30.0")
    assert(math.abs(p("v").getAs[Double]("mean") - 20.0) < 1e-9)
    assert(math.abs(p("s").getAs[Double]("mean") - (2 + 4 + 2) / 3.0) < 1e-9)
    assert(p("id").getString(6) === "1" && p("id").getString(7) === "4")
  }

  test("unorderable columns (map) profile without failing; min/max null") {
    val df = Seq((1L, Map("a" -> "b")), (2L, Map("c" -> "d")))
      .toDF("id", "m")
    val p = Profile.describe(df).collect().map(r => r.getString(0) -> r).toMap
    assert(p("m").getLong(2) === 2)
    assert(p("m").isNullAt(6) && p("m").isNullAt(7)) // min/max skipped
    assert(p("id").getString(6) === "1")
  }

  test("profile runs one scan over a real table") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val prof = Profile.describe(docs)
    assert(prof.count() === docs.columns.length)
    val byCol = prof.collect().map(r => r.getString(0) -> r).toMap
    assert(byCol("doc_id").getLong(3) === 0) // ids never null
    assert(byCol("lang").getLong(5) >= 2) // at least two languages
  }
}

class MultimodalSpec extends SparkSpec {

  test("synthesize → batched decode: valid geometry, corrupt items flagged") {
    val feats = Multimodal.extractFeatures(Multimodal.synthesize(spark, 200)).cache()
    assert(feats.count() === 200)
    val bad = feats.filter(!col("valid")).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(bad === Set(13L, 110L)) // i % 97 == 13 under 200
    // media 0 is a REAL PNG (image arm): geometry comes from ImageIO decode
    val f0 = feats.filter(col("media_id") === 0).collect().head
    assert(f0.width === 8 && f0.height === 8 && f0.n_frames === 1)
    assert(f0.size_bytes > 16) // PNG container, not the 16-byte stub header
    // media 4 is synthetic (video arm): stub header drives geometry
    val f4 = feats.filter(col("media_id") === 4).collect().head
    assert(f4.width === 8 + 4 * 4 && f4.n_frames === 1 + 4 % 7)
    assert(f4.size_bytes === 16 + f4.width * f4.height)
    // determinism of the checksum (media 42 is a real PNG: pixel checksum
    // must be stable across independent encode→decode round trips)
    val again = Multimodal.extractFeatures(Multimodal.synthesize(spark, 200))
      .filter(col("media_id") === 42).collect().head.checksum
    assert(again === feats.filter(col("media_id") === 42).collect().head.checksum)
    feats.unpersist()
  }

  test("real PNG bytes round-trip through the ImageIO codec arm") {
    // encode real bytes here in the test, decode through the public API
    val png = Multimodal.MediaCodec.encodePng(11, 7, seed = 99L)
    assert(png.take(4).map(_ & 0xff) === Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val Some((w, h, f, sum)) = Multimodal.MediaCodec.decode(png)
    assert(w === 11 && h === 7 && f === 1)
    // checksum is over decoded pixels: re-encoding identical pixels yields
    // the same checksum even if the compressed bytes differed
    assert(Multimodal.MediaCodec.decode(Multimodal.MediaCodec.encodePng(11, 7, 99L)).get._4 === sum)
    // truncated PNG = corrupt, not a crash
    assert(Multimodal.MediaCodec.decode(png.take(20)) === None)
  }

  test("real JPEG bytes round-trip through the ImageIO codec arm") {
    // JPEG is the first format a real web-crawl image corpus hits; the
    // JRE decodes it natively — magic FF D8 FF must route to ImageIO,
    // not fall through to the synthetic-header stub
    val jpg = Multimodal.MediaCodec.encodeJpeg(13, 9, seed = 7L)
    assert(jpg.take(3).map(_ & 0xff) === Array(0xff, 0xd8, 0xff))
    val Some((w, h, f, sum)) = Multimodal.MediaCodec.decode(jpg)
    assert(w === 13 && h === 9 && f === 1)
    // decode is deterministic: same bytes → same pixel checksum (JPEG is
    // lossy, so unlike PNG we pin decode(bytes), not encode(pixels))
    assert(Multimodal.MediaCodec.decode(jpg).get._4 === sum)
    // a JPEG survives the thumbnail arm too (ImageIO sniffing, no magic
    // dispatch needed there) — geometry scales, aspect preserved
    val thumb = Multimodal.MediaCodec.thumbnailPng(jpg, maxDim = 4).get
    val img = Multimodal.MediaCodec.decodeImage(thumb).get
    assert(img.getWidth === 4 && img.getHeight === 3)
    // truncated JPEG = corrupt, not a crash
    assert(Multimodal.MediaCodec.decode(jpg.take(20)) === None)
  }

  test("thumbnails resize real images and null out non-images") {
    import spark.implicits._
    val media = Multimodal.synthesize(spark, 30)
    val thumbs = Multimodal.thumbnails(media, maxDim = 4)
      .collect().map(r => r.getLong(0) -> r.get(2)).toMap
    // media 0: real 8x8 PNG → decodable 4x4 thumbnail
    val t0 = thumbs(0L).asInstanceOf[Array[Byte]]
    val img = Multimodal.MediaCodec.decodeImage(t0).get
    assert(img.getWidth === 4 && img.getHeight === 4)
    // media 4: synthetic container → ImageIO can't decode → null, row kept
    assert(thumbs(4L) == null)
    assert(thumbs.size === 30)
  }

  test("frame sampling emits every Nth frame index") {
    val frames = Multimodal.sampleFrames(Multimodal.synthesize(spark, 50), everyN = 2)
    val m4 = frames.filter(col("media_id") === 4) // video arm: 1 + 4%7 = 5 frames → 0,2,4
    assert(m4.select("frame_idx").collect().map(_.getInt(0)).sorted === Array(0, 2, 4))
    // real PNGs are single-frame: exactly one sampled index
    val m6 = frames.filter(col("media_id") === 6)
    assert(m6.select("frame_idx").collect().map(_.getInt(0)) === Array(0))
  }

  test("real WAV bytes round-trip through the javax.sound codec arm") {
    val wav = Multimodal.MediaCodec.encodeWav(nSamples = 40, sampleRate = 8000, seed = 7L)
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    // decode() overloads geometry for audio: (rate, channels, frames, pcm checksum)
    val Some((rate, ch, frames, sum)) = Multimodal.MediaCodec.decode(wav)
    assert(rate === 8000 && ch === 1 && frames === 40)
    // checksum is over PCM: identical samples → identical checksum
    assert(Multimodal.MediaCodec.decode(
      Multimodal.MediaCodec.encodeWav(40, 8000, 7L)).get._4 === sum)
    // truncated WAV = corrupt, not a crash
    assert(Multimodal.MediaCodec.decode(wav.take(20)) === None)
  }

  test("audioFeatures extracts rate/channels/samples/RMS; non-audio null") {
    val feats = Multimodal.audioFeatures(Multimodal.synthesize(spark, 30))
      .collect().map(r => r.getLong(0) -> r).toMap
    // media 2: audio arm, real WAV (32 + 2%50 = 34 samples @8kHz mono)
    val a = feats(2L)
    assert(a.getInt(2) === 8000 && a.getInt(3) === 1 && a.getLong(4) === 34L)
    val rms = a.getDouble(5)
    assert(rms > 0.0 && rms <= 1.0) // LCG noise: nonzero, normalized
    // deterministic: same synthesis → same RMS
    val again = Multimodal.audioFeatures(Multimodal.synthesize(spark, 30))
      .filter(col("media_id") === 2).collect().head.getDouble(5)
    assert(again === rms)
    // media 0 is a PNG: kept with null audio features
    assert(feats(0L).isNullAt(2) && feats(0L).isNullAt(5))
    assert(feats.size === 30)
  }
}
