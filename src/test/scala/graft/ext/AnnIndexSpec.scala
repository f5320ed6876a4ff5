package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AnnIndex]] (X94): incremental IVF(-PQ) index maintenance. Pins the
  * three contract points — fold ≡ one-shot rebuild under frozen models,
  * replay idempotence (byte-level row content), folded rows immediately
  * searchable with index ≡ ad-hoc ranking — plus the X93 retrain gate. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._
  private implicit val s: SparkSession = spark

  private lazy val emb =
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val corpus = emb.filter($"vec_id" >= 20)
  private lazy val batch1 = emb.filter($"vec_id" < 10)
  private lazy val batch2 = emb.filter($"vec_id" >= 10 && $"vec_id" < 20)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_annidx").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("fold == one-shot rebuild under the same frozen models (IVF-PQ)") {
    val (d1, d2) = (tmp(), tmp())
    val coarse = Ivf.train(emb, k = 8, iters = 2)
    val pq = Some(Pq.train(emb, m = 8, k = 8, iters = 2))
    // incremental: corpus, then two folds
    val idx = AnnIndex.createWithModels(corpus, d1, coarse, pq)
    AnnIndex.fold(batch1, idx, batchId = 1)
    AnnIndex.fold(batch2, idx, batchId = 2)
    // one-shot: everything at once under the SAME models
    val all = AnnIndex.createWithModels(emb, d2, coarse, pq)
    assert(rows(AnnIndex.lists(idx).drop("batch_id"))
      === rows(AnnIndex.lists(all).drop("batch_id")))
    Seq(d1, d2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("replay idempotence; superseding re-fold replaces the batch") {
    val d = tmp()
    val idx = AnnIndex.create(corpus, d, k = 8, iters = 2,
      pqSubspaces = Some((8, 8)))
    AnnIndex.fold(batch1, idx, batchId = 1)
    val before = rows(AnnIndex.lists(idx))
    val corpusBefore = rows(AnnIndex.lists(idx).filter($"batch_id" === -1))
    assert(corpusBefore.nonEmpty) // the corpus fold is batch −1
    AnnIndex.fold(batch1, idx, batchId = 1) // at-least-once replay
    assert(rows(AnnIndex.lists(idx)) === before)
    // corrected replay supersedes: only the batch's own partitions move
    AnnIndex.fold(batch1.limit(3), idx, batchId = 1)
    val after = AnnIndex.lists(idx)
    assert(after.filter($"batch_id" === 1).count() === 3)
    assert(rows(after.filter($"batch_id" === -1)) === corpusBefore)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("folded vectors are searchable; index ranking == ad-hoc ranking") {
    val d = tmp()
    val idx = AnnIndex.create(corpus, d, k = 8, iters = 2) // raw IVF
    AnnIndex.fold(batch1, idx, batchId = 1)
    val queries = batch1.select($"vec_id".as("query_id"), $"embedding")
    val viaIndex = AnnIndex.topK(AnnIndex.open(d), queries, k = 3, nprobe = 3)
    // ad-hoc: the batch-mode operator over the union under the same model
    val adHoc = Ivf.topK(corpus.unionByName(batch1), queries, idx.coarse,
      k = 3, nprobe = 3)
    assert(rows(viaIndex.select($"query_id", $"id", $"rank"))
      === rows(adHoc.select($"query_id", $"id", $"rank")))
    // every query is a folded corpus member: top-1 must be itself
    viaIndex.filter($"rank" === 1).collect().foreach { r =>
      assert(r.getLong(0) === r.getLong(1))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("folded IVF-PQ index under TRAINED codebooks holds the recall floor") {
    // fold ≡ rebuild proves consistency, not quality: this pins QUALITY —
    // an index that has absorbed two folded batches under lossy trained
    // codebooks, searched where the folded content is the answer, against
    // the exact squared-L2 brute force (the x90_pq_topk gate pattern).
    val d = tmp()
    val big = graft.core.Tables.load(spark, "/root/testdata/sf0.01",
      "embeddings").filter($"vec_id" < 500)
    val base = big.filter($"vec_id" >= 100)
    val b1 = big.filter($"vec_id" < 50)
    val b2 = big.filter($"vec_id" >= 50 && $"vec_id" < 100)
    val idx = AnnIndex.create(base, d, k = 16, iters = 2,
      pqSubspaces = Some((8, 16)))
    AnnIndex.fold(b1, idx, batchId = 1)
    AnnIndex.fold(b2, idx, batchId = 2)
    // queries from BOTH folded batches: the folded rows are what must rank
    val queries = big.filter($"vec_id" < 10 ||
        ($"vec_id" >= 50 && $"vec_id" < 60))
      .select($"vec_id".as("query_id"), $"embedding")
    val opened = AnnIndex.open(d)
    val exact = Pq.exactTopK(big, queries, k = 10)
      .select($"query_id", $"id")
    def recallOf(approx: DataFrame): Double =
      approx.select($"query_id", $"id")
        .join(exact, Seq("query_id", "id")).count().toDouble / (20 * 10)
    // raw ADC floor (measured 0.31 — PQ quantization dominates; matches
    // the PqSpec full-scan raw-ADC 0.31-0.33): a fold that mis-encodes or
    // mis-assigns folded rows collapses it toward 0
    val raw = recallOf(AnnIndex.topK(opened, queries, k = 10, nprobe = 4))
    assert(raw >= 0.25, f"folded IVF-PQ raw-ADC recall@10 $raw%.2f < 0.25")
    // refined floor: shortlist from the index's codes, exact re-rank
    // against the primary store — the x90_pq_topk gate applied to an
    // index that has absorbed two folded batches. nprobe 8/16: coarse
    // pruning caps what refine can recover (0.54 at nprobe 4)
    val refined = recallOf(AnnIndex.topKRefined(opened, queries, big,
      k = 10, shortlist = 100, nprobe = 8))
    info(f"folded IVF-PQ recall@10: raw ADC $raw%.2f, refined $refined%.2f")
    assert(refined >= 0.6, f"folded IVF-PQ refined recall@10 $refined%.2f < 0.6")
    assert(refined >= raw, "refine must not lose recall")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("10-fold endurance: drift plant trips the gate mid-sequence; " +
      "retrain-on-trip holds the recall floor a stale index loses") {
    // The r12 verdict's coupling ask: the gate test and the recall test
    // proved their halves separately — this runs the PRODUCTION PROTOCOL
    // (gate every batch BEFORE folding; on trip, retrain over everything
    // seen and continue) across 10 folds with a regime change (encoder
    // swap: +3.0 per dim) planted at batch 6, and checks all three legs:
    // the gate is silent through 5 in-distribution folds, fires exactly
    // at the plant, and the retrained index ends at the recall floor a
    // no-retrain control provably sinks below on drifted queries.
    val big = graft.core.Tables.load(spark, "/root/testdata/sf0.1",
      "embeddings")
    def slice(lo: Int, hi: Int) =
      big.filter($"vec_id" >= lo && $"vec_id" < hi)
    def shifted(df: DataFrame) = df.select($"vec_id",
      transform($"embedding", x => x + lit(3.0f)).as("embedding"), $"label")
    val base = slice(1000, 2000)
    val batches = (0 until 10).map { i =>
      val b = slice(i * 100, i * 100 + 100)
      if (i < 5) b else shifted(b)
    }

    var corpus = base
    var idx = AnnIndex.create(base, tmp(), k = 16, iters = 2,
      pqSubspaces = Some((8, 16)))
    val firedAt = scala.collection.mutable.ArrayBuffer[Int]()
    batches.zipWithIndex.foreach { case (b, i) =>
      val (_, trip) = AnnIndex.retrainGate(corpus, b)
      corpus = corpus.unionByName(b).localCheckpoint(true)
      if (trip) {
        firedAt += i
        idx = AnnIndex.create(corpus, tmp(), k = 16, iters = 2,
          pqSubspaces = Some((8, 16)))
      } else AnnIndex.fold(b, idx, batchId = i + 1)
    }
    // silent through the in-distribution prefix, fires AT the plant —
    // i.e. before any drifted vector was folded under stale models
    assert(firedAt.headOption === Some(5),
      s"gate fired at $firedAt, expected first trip at the batch-6 plant")

    val qOld = slice(0, 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val qNew = shifted(slice(500, 510))
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Pq.exactTopK(corpus, qOld.unionByName(qNew), k = 10)
      .select($"query_id", $"id").localCheckpoint(true)
    def recallOf(approx: DataFrame, ids: Column): Double =
      approx.select($"query_id", $"id").join(exact, Seq("query_id", "id"))
        .filter(ids).count().toDouble / (10 * 10)

    // retrained index: floor holds on BOTH regimes. nprobe 8/16 (not the
    // small-corpus test's 4/8): 2000 vectors over k=16 lists make coarse
    // pruning the recall bound — the module scaladoc's "raise nprobe"
    // case. Measured r13 at 8/16: raw 0.20/0.24, refined 0.65/0.54
    // (old/new regime; raw is PQ-quantization-bound — identical at
    // nprobe 4); floors below are those values minus margin, and the
    // stale control on the same searches reads 0.10
    val qs = qOld.unionByName(qNew)
    val raw = AnnIndex.topK(idx, qs, k = 10, nprobe = 8)
    val refined = AnnIndex.topKRefined(idx, qs, corpus, k = 10,
      shortlist = 100, nprobe = 16)
    val (rawOld, rawNew) =
      (recallOf(raw, $"query_id" < 500), recallOf(raw, $"query_id" >= 500))
    val (refOld, refNew) = (recallOf(refined, $"query_id" < 500),
      recallOf(refined, $"query_id" >= 500))
    info(f"retrained recall@10: raw $rawOld%.2f/$rawNew%.2f " +
      f"refined $refOld%.2f/$refNew%.2f (old/new regime)")
    assert(rawOld >= 0.15 && rawNew >= 0.15,
      f"retrained raw recall $rawOld%.2f/$rawNew%.2f < 0.15")
    assert(refOld >= 0.45 && refNew >= 0.45,
      f"retrained refined recall $refOld%.2f/$refNew%.2f < 0.45")

    // control: IGNORE the gate — fold all 10 batches into the original
    // frozen models. Drifted queries sink below the raw floor (the +3
    // cloud collapses into few coarse lists under near-constant codes),
    // which is exactly the decay the gate fires to pre-empt.
    val stale = AnnIndex.create(base, tmp(), k = 16, iters = 2,
      pqSubspaces = Some((8, 16)))
    batches.zipWithIndex.foreach { case (b, i) =>
      AnnIndex.fold(b, stale, batchId = i + 1)
    }
    val staleNew = recallOf(
      AnnIndex.topK(stale, qs, k = 10, nprobe = 8), $"query_id" >= 500)
    info(f"stale (no retrain) drifted raw recall@10: $staleNew%.2f")
    assert(staleNew < 0.15,
      f"stale drifted recall $staleNew%.2f unexpectedly at floor — " +
        "the drift plant no longer demonstrates decay; re-derive the test")
  }

  test("retrain gate: shifted batch trips, in-distribution batch does not") {
    // sf0.01 (bigger samples): a 10-vector batch's per-dim means are too
    // noisy for a stable SMD — the gate is for production batch sizes
    val big = graft.core.Tables.load(spark, "/root/testdata/sf0.01",
      "embeddings")
    val ref = big.filter($"vec_id" >= 100)
    val batch = big.filter($"vec_id" < 100)
    val shifted = batch.select($"vec_id",
      transform($"embedding", x => x + lit(3.0f)).as("embedding"))
    val (_, retrainShift) = AnnIndex.retrainGate(ref, shifted)
    val (_, retrainSame) = AnnIndex.retrainGate(ref, batch)
    assert(retrainShift && !retrainSame)
  }

  // ---- revisioned publish: compact + retrain-and-swap (round 16) ------

  test("compact: identical search results, fewer files, replay-safe " +
      "newest batch, attrs preserved") {
    val d = tmp()
    val withAttr = (df: DataFrame) => df.withColumn("grp", $"vec_id" % 5)
    val idx0 = AnnIndex.create(withAttr(corpus), d, k = 8, iters = 2,
      attrCols = Seq("grp"))
    // 10 fold micro-batches -> one file subtree per (batch, list)
    (0 until 10).foreach { i =>
      AnnIndex.fold(withAttr(emb.filter($"vec_id" < 20 && $"vec_id" % 10 === i)),
        idx0, batchId = i.toLong)
    }
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    def topAll(i: AnnIndex.Index) =
      rows(AnnIndex.topK(i, qs, k = 5, nprobe = 8)
        .select($"query_id", $"id", $"rank"))
    def topFiltered(i: AnnIndex.Index) =
      rows(AnnIndex.topKFiltered(i, qs, $"grp" === 2, k = 3, nprobe0 = 8)
        .select($"query_id", $"id", $"rank"))
    val pre = AnnIndex.open(d)
    val (preAll, preF) = (topAll(pre), topFiltered(pre))
    val (post, (before, after)) = AnnIndex.compact(d)
    assert(after < before,
      s"compact must cut the file count ($before -> $after)")
    assert(post.attrCols === Seq("grp"))
    assert(topAll(post) === preAll)
    assert(topFiltered(post) === preF)
    // only batch -1 and the NEWEST stream batch (9) survive as subtrees
    val ids = AnnIndex.lists(post).select($"batch_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(ids === Seq(-1L, 9L))
    // at-least-once replay of the newest batch stays idempotent
    AnnIndex.fold(withAttr(emb.filter($"vec_id" < 20 && $"vec_id" % 10 === 9)),
      AnnIndex.open(d), batchId = 9L)
    assert(topAll(AnnIndex.open(d)) === preAll)
    // the PRE-compact reader is pinned to its revision and still answers
    assert(topAll(pre) === preAll)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("retrainAndSwap: reader racing the swap never tears; reopen sees " +
      "the new models; vacuum drops old revisions") {
    val d = tmp()
    val idx0 = AnnIndex.create(corpus, d, k = 4, iters = 1)
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val expected = rows(AnnIndex.topK(idx0, qs, k = 3, nprobe = 4)
      .select($"query_id", $"id"))
    // a reader thread hammers the OLD pinned index during the swap — it
    // must see its own revision's complete files throughout
    @volatile var readerFailure: Option[Throwable] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = rows(AnnIndex.topK(idx0, qs, k = 3, nprobe = 4)
            .select($"query_id", $"id"))
          assert(got === expected, "pinned reader saw a torn/changed index")
        }
      } catch { case t: Throwable => readerFailure = Some(t) }
    })
    reader.start()
    try {
      val idx1 = AnnIndex.retrainAndSwap(emb, d, k = 8, iters = 2)
      assert(idx1.root !== idx0.root)
      assert(idx1.coarse.k === 8)
    } finally { stop.set(true); reader.join(30000) }
    assert(readerFailure.isEmpty, s"reader failed: $readerFailure")
    // reopen resolves the NEW revision; searches include the full corpus
    val reopened = AnnIndex.open(d)
    assert(reopened.root !== idx0.root)
    assert(reopened.coarse.k === 8)
    assert(AnnIndex.topK(reopened, qs, k = 3, nprobe = 8).count() > 0)
    // vacuum drops the old revision; the current one keeps answering
    AnnIndex.vacuumRevisions(d)
    val dirs = new java.io.File(d).listFiles().map(_.getName).toSet
    assert(dirs.filter(_.startsWith("rev=")) === Set(reopened.root.stripPrefix(s"$d/")),
      s"a revision other than the head survived vacuum: $dirs")
    assert(AnnIndex.topK(AnnIndex.open(d), qs, k = 3, nprobe = 8).count() > 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("concurrent publishers: open returns the CAS winner's revision whole") {
    val even = emb.filter($"vec_id" % 2 === 0).select($"vec_id", $"embedding")
    val odd = emb.filter($"vec_id" % 2 === 1).select($"vec_id", $"embedding")
    val writers = Seq((even, Ivf.train(even, k = 4, iters = 1), 0L),
      (odd, Ivf.train(odd, k = 2, iters = 1), 1L))
    // both publishers must read the same head epoch; one that finishes
    // before the other starts is serial, not a race — try a fresh dir then
    val (d, outcomes) = Iterator.continually {
      val d = tmp()
      val start = new java.util.concurrent.CyclicBarrier(writers.size)
      val futures = writers.map { case (corpus, model, _) =>
        val f = new java.util.concurrent.FutureTask[AnnIndex.Index](() => {
          start.await()
          AnnIndex.createWithModels(corpus, d, model, None)
        })
        new Thread(f).start()
        f
      }
      (d, futures.map(f => scala.util.Try(
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })))
    }.take(5).find(_._2.count(_.isFailure) == 1)
      .getOrElse(fail("the two publishers never raced in 5 attempts"))
    val loser = outcomes.find(_.isFailure).get.failed.get
    assert(loser.isInstanceOf[IllegalArgumentException] &&
      loser.getMessage.contains(s"concurrent index publish at $d"), loser)
    val winnerAt = outcomes.indexWhere(_.isSuccess)
    val (winnerCorpus, winnerModel, parity) = writers(winnerAt)

    val opened = AnnIndex.open(d)
    assert(opened.root === outcomes(winnerAt).get.root)
    assert(opened.coarse.k === winnerModel.k)
    val ids = AnnIndex.lists(opened).select($"id").as[Long].collect()
    assert(ids.forall(_ % 2 == parity), "the loser's rows leaked into the winner's lists")
    assert(ids.sorted.toSeq === winnerCorpus.select($"vec_id").as[Long].collect().sorted.toSeq)
    // the loser's never-committed subtree goes at vacuum
    AnnIndex.vacuumRevisions(d)
    assert(new java.io.File(d).listFiles().map(_.getName).filter(_.startsWith("rev=")).toSet
      === Set(opened.root.stripPrefix(s"$d/")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("open fails, naming the directory, when no revision was published") {
    val d = tmp()
    // a bare model at the top level is not an index: only a committed
    // `rev=` subtree is
    Ivf.save(Ivf.train(corpus, k = 2, iters = 1), s"$d/centroids")
    val e = intercept[IllegalArgumentException](AnnIndex.open(d))
    assert(e.getMessage.contains(s"no published AnnIndex revision at $d"),
      e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("drift E2E: gate trips -> retrainAndSwap -> assignment recovers") {
    val d = tmp()
    // models trained on the base distribution only
    val base = emb.select($"vec_id", $"embedding").filter($"vec_id" >= 20)
    AnnIndex.create(base, d, k = 8, iters = 2)
    // a hard-shifted population arrives (the endurance test's plant)
    val shifted = emb.filter($"vec_id" < 20).select(
      ($"vec_id" + 1000L).as("vec_id"),
      transform($"embedding", x => x + lit(3.0f)).as("embedding"))
    val (_, trips) = AnnIndex.retrainGate(base, shifted)
    assert(trips, "the shifted batch must trip the X93 gate")
    // retrain over base + shifted and swap; the swapped index must rank
    // a shifted query's own vector first (raw IVF at full depth = exact)
    AnnIndex.retrainAndSwap(base.unionByName(shifted), d, k = 8, iters = 2)
    val sq = shifted.limit(5)
      .select($"vec_id".as("query_id"), $"embedding")
    val top1 = AnnIndex.topK(AnnIndex.open(d), sq, k = 1, nprobe = 8)
      .select($"query_id", $"id").as[(Long, Long)].collect().toMap
    top1.foreach { case (q, id) => assert(q === id,
      s"post-retrain top-1 of query $q was $id, not itself") }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  // ---- X97 filtered search (round 14) ---------------------------------

  private lazy val attrCorpus = emb.withColumn("grp", $"vec_id" % 100)
  private lazy val fQueries = emb.filter($"vec_id" < 10)
    .select($"vec_id".as("query_id"), $"embedding")

  test("filtered top-k delivers k under a 1%-selectivity filter; " +
      "post-filtering a fixed shortlist does not") {
    val d = tmp()
    // raw IVF (cosine path; the ADC path is the x97 oracle face)
    val idx = AnnIndex.createWithModels(attrCorpus, d,
      Ivf.train(attrCorpus, k = 16, iters = 2), pq = None,
      attrCols = Seq("grp"))
    val pred = col("grp") === 7 // 5 of 500 rows eligible — 1%
    val got = AnnIndex.topKFiltered(idx, fQueries, pred, k = 3, nprobe0 = 1)
      .select($"query_id", $"id").collect()
    // k-sufficiency: every query has exactly k rows, all eligible
    assert(got.length === 10 * 3)
    assert(got.forall(_.getLong(1) % 100 === 7))
    // the anti-pattern: filter AFTER a fixed unfiltered shortlist —
    // under-delivers k (a 1% filter leaves ~k/100 of the shortlist)
    val post = AnnIndex.topK(idx, fQueries, k = 3, nprobe = 1)
      .filter(col("id") % 100 === 7).count()
    assert(post < 10 * 3,
      s"post-filtering unexpectedly delivered k ($post rows) — " +
        "the selectivity plant no longer demonstrates the gap")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("filtered top-k at full probe depth equals exact filtered brute force") {
    val d = tmp()
    val idx = AnnIndex.createWithModels(attrCorpus, d,
      Ivf.train(attrCorpus, k = 16, iters = 2), pq = None,
      attrCols = Seq("grp"))
    val pred = col("grp") < 10 // 10% eligible
    val got = AnnIndex.topKFiltered(idx, fQueries, pred, k = 5, nprobe0 = 16)
      .select($"query_id", $"id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    // exact brute force over the eligible set (tiny: 50 x 10)
    val exact = {
      import graft.functions.VectorFunctions.cosineSim
      val c = attrCorpus.filter(pred)
        .select($"vec_id".as("id"), $"embedding".as("cvec"))
      val q = fQueries.select($"query_id", $"embedding".as("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy(col("score").desc, $"id")
      q.crossJoin(c)
        .select($"query_id", $"id", cosineSim($"cvec", $"qvec").as("score"))
        .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .select($"query_id", $"id", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    }
    assert(got.toSeq === exact.toSeq)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("fewer eligible items than k: all of them come back, nothing else") {
    val d = tmp()
    val idx = AnnIndex.createWithModels(attrCorpus, d,
      Ivf.train(attrCorpus, k = 8, iters = 2), pq = None,
      attrCols = Seq("grp"))
    val got = AnnIndex.topKFiltered(idx, fQueries, col("grp") === 42 &&
        $"id" === 42L, k = 5, nprobe0 = 2)
      .select($"query_id", $"id", $"rank").collect()
    assert(got.length === 10) // one row per query
    assert(got.forall(r => r.getLong(1) === 42L && r.getInt(2) === 1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("filtered+refined: k eligible rows, recall at or above raw filtered ADC") {
    val d = tmp()
    val corpus = emb.withColumn("grp", $"vec_id" % 5) // 20% eligible
    val idx = AnnIndex.create(corpus, d, k = 16, iters = 2,
      pqSubspaces = Some((8, 16)), attrCols = Seq("grp"))
    val pred = col("grp") === 2
    def hits(df: DataFrame): Map[Long, Set[Long]] = df
      .select($"query_id", $"id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val refined = AnnIndex.topKRefinedFiltered(idx, fQueries, corpus,
      pred, k = 5, shortlist = 30, nprobe0 = 2)
    val got = refined.select($"query_id", $"id", $"rank").collect()
    assert(got.length === 10 * 5)
    assert(got.forall(_.getLong(1) % 5 === 2), "predicate violated")
    // recall vs the exact filtered brute force, against the raw filtered
    // ADC baseline (refine exists to fix ADC rank inversions)
    val exact = hits(Pq.exactTopK(corpus.filter(pred), fQueries, k = 5))
    val raw = hits(AnnIndex.topKFiltered(idx, fQueries, pred, k = 5,
      nprobe0 = 16))
    def recall(m: Map[Long, Set[Long]]): Double =
      exact.map { case (q, e) => (m.getOrElse(q, Set.empty) & e).size / 5.0 }
        .sum / exact.size
    val (rRef, rRaw) = (recall(hits(refined)), recall(raw))
    info(f"filtered recall@5: raw ADC $rRaw%.2f, refined $rRef%.2f")
    assert(rRef >= rRaw - 1e-9, "refine made filtered recall worse")
    // floor pinned from the r15 recall sweep (SURVEY §6.15) at the
    // largest DISTINCT corpus (sf0.1, 10% selectivity): recall@10 0.55/0.79/1.00 at
    // shortlist 50/100/200 of 200 eligible — shortlist/|eligible| is the
    // recall knob (widening targets shortlist, so nprobe0 was flat across
    // the sweep); here shortlist 30 of ~100 eligible measures 0.66
    assert(rRef >= 0.6, f"refined filtered recall $rRef%.2f below floor")
    // the sweep's endpoint as a THEOREM of the construction: a shortlist
    // covering the whole eligible set forces the widening to reach every
    // eligible candidate, and exact re-rank over all of them IS the
    // exact filtered answer — recall exactly 1.0, not a floor
    val eligibleN = corpus.filter(pred).count().toInt
    val full = hits(AnnIndex.topKRefinedFiltered(idx, fQueries, corpus,
      pred, k = 5, shortlist = eligibleN, nprobe0 = 2))
    assert(recall(full) === 1.0,
      "shortlist >= |eligible| must make filtered+refined exact")
    // stale primary store: a shortlist id with no vector must FAIL loudly
    val stale = corpus.filter($"vec_id" =!= 2L) // grp 2 member removed
    val thrown = intercept[Exception] {
      AnnIndex.topKRefinedFiltered(idx, fQueries, stale, pred,
        k = 5, shortlist = 30, nprobe0 = 16).collect()
    }
    assert(thrown.getMessage != null)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("Ivf.topKFiltered ad-hoc sibling agrees with the index face") {
    val d = tmp()
    val model = Ivf.train(attrCorpus, k = 16, iters = 2)
    val idx = AnnIndex.createWithModels(attrCorpus, d, model, pq = None,
      attrCols = Seq("grp"))
    val pred = col("grp") < 10
    def key(df: DataFrame) = df.select($"query_id", $"id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    // full depth, and a partial one where the minimal-depth rule decides
    Seq(16, 1).foreach { np =>
      val viaIndex = key(
        AnnIndex.topKFiltered(idx, fQueries, pred, k = 4, nprobe0 = np))
      val adHoc = key(
        Ivf.topKFiltered(attrCorpus, fQueries, model, pred, k = 4,
          nprobe0 = np))
      assert(viaIndex === adHoc, s"nprobe0 = $np")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }
}
