package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.types.ArrayType

import graft.SparkSpec

/** [[IncrementalDedup]]: batch-folded dedup against an accumulated index.
  * The exact variant's fold ≡ full-recompute contract is oracle-checked
  * (x38_incremental_dedup); this spec pins the mechanics per batch, the
  * near-dup variant's cross-batch removal, and the PREFIX-CAUSAL contract
  * — including the documented divergence from connected-components on a
  * late-connector chain. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("exact: within-batch keep-first, cross-batch removal, fold equals recompute") {
    val b1 = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("doc_id", "text")
    val b2 = Seq((4L, "bbb"), (5L, "ccc")).toDF("doc_id", "text")
    val b3 = Seq((6L, "ccc"), (7L, "ddd"), (8L, "ddd")).toDF("doc_id", "text")

    val (c1, i1) = IncrementalDedup.addBatchExact(
      IncrementalDedup.emptyExactIndex(spark), b1, "doc_id", "text")
    assert(ids(c1) === Set(1L, 2L), "batch 1: doc 3 loses to doc 1 within batch")
    val (c2, i2) = IncrementalDedup.addBatchExact(i1, b2, "doc_id", "text")
    assert(ids(c2) === Set(5L), "batch 2: doc 4's text was seen in batch 1")
    val (c3, _) = IncrementalDedup.addBatchExact(i2, b3, "doc_id", "text")
    assert(ids(c3) === Set(7L), "batch 3: ccc seen in batch 2, ddd keeps first")

    val folded = IncrementalDedup.foldBatchesExact(
      spark, Seq(b1, b2, b3), "doc_id", "text")
    assert(ids(folded) === Set(1L, 2L, 5L, 7L))
  }

  test("exact: surviving rows keep their full schema") {
    val b = Seq((1L, "t", 9), (2L, "t", 8)).toDF("doc_id", "text", "extra")
    val (clean, _) = IncrementalDedup.addBatchExact(
      IncrementalDedup.emptyExactIndex(spark), b, "doc_id", "text")
    assert(clean.columns.toSeq === Seq("doc_id", "text", "extra"))
    assert(clean.as[(Long, String, Int)].collect().toSeq === Seq((1L, "t", 9)))
  }

  private val p = Dedup.MinHashParams(numPerm = 64, bands = 16, shingleSize = 3,
    threshold = 0.6)

  private def doc(words: String*): String = words.mkString(" ")
  // two texts sharing most shingles: base and base-with-one-word-appended
  private val base = doc((1 to 30).map(i => s"w$i"): _*)
  private val nearCopy = base + " extraword"
  private val other = doc((100 to 130).map(i => s"v$i"): _*)

  test("near-dup: cross-batch near copy removed, unique doc survives") {
    val b1 = Seq((1L, base)).toDF("doc_id", "text")
    val b2 = Seq((2L, nearCopy), (3L, other)).toDF("doc_id", "text")
    val (c1, i1) = IncrementalDedup.addBatchNear(
      IncrementalDedup.emptyNearIndex(spark, "doc_id", "text", p),
      b1, "doc_id", "text", p)
    assert(ids(c1) === Set(1L))
    val (c2, _) = IncrementalDedup.addBatchNear(i1, b2, "doc_id", "text", p)
    assert(ids(c2) === Set(3L), "near copy of batch-1 doc must be removed")
  }

  test("near-dup: the batch × history band join ships no shingle-hash arrays") {
    val (_, i1) = IncrementalDedup.addBatchNear(
      IncrementalDedup.emptyNearIndex(spark, "doc_id", "text", p),
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", p)
    val (c2, _) = IncrementalDedup.addBatchNear(i1,
      Seq((2L, nearCopy), (3L, other)).toDF("doc_id", "text"), "doc_id", "text", p)
    val bandJoins = c2.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists { c =>
        val names = c.references.map(_.name).toSet
        names("band") && names("key")
      } => j
    }
    assert(bandJoins.nonEmpty, c2.queryExecution.optimizedPlan.toString)
    for (j <- bandJoins; side <- Seq(j.left, j.right))
      assert(!side.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"band join input carries an array: ${side.output.mkString(", ")}")
  }

  // sliding-window chain: consecutive docs share 20 of 30 tokens
  // (shingle Jaccard ≈ 0.47, well above threshold), A and C share only 10
  // (J ≈ 0.17, below) — A ~ B ~ C with NO a–c edge, and far enough from
  // the 0.3 threshold that LSH banding is deterministic in practice
  private def chainDoc(start: Int): String =
    doc((start until start + 30).map(i => s"w$i"): _*)
  private val loose = Dedup.MinHashParams(numPerm = 64, bands = 32,
    shingleSize = 3, threshold = 0.3)

  test("near-dup: removed duplicates still index (chains remove transitively)") {
    // Arrival A, B, C: B removed via A, C removed via the INDEXED B.
    val (c1, i1) = IncrementalDedup.addBatchNear(
      IncrementalDedup.emptyNearIndex(spark, "doc_id", "text", loose),
      Seq((1L, chainDoc(1))).toDF("doc_id", "text"), "doc_id", "text", loose)
    val (c2, i2) = IncrementalDedup.addBatchNear(i1,
      Seq((2L, chainDoc(11))).toDF("doc_id", "text"), "doc_id", "text", loose)
    val (c3, _) = IncrementalDedup.addBatchNear(i2,
      Seq((3L, chainDoc(21))).toDF("doc_id", "text"), "doc_id", "text", loose)
    assert(ids(c1) === Set(1L) && ids(c2) === Set.empty[Long])
    assert(ids(c3) === Set.empty[Long],
      "C collides with removed-but-indexed B and must go")
  }

  test("near-dup: prefix-causal divergence from full recompute is the contract") {
    // Same chain, arrival order A, C, B: C survives (nothing earlier
    // collides), then B is removed via A. Full connected-components
    // recompute would keep only A — the documented streaming difference.
    val all = Seq((1L, chainDoc(1)), (2L, chainDoc(21)), (3L, chainDoc(11)))
      .toDF("doc_id", "text")

    var idx = IncrementalDedup.emptyNearIndex(spark, "doc_id", "text", loose)
    var kept = Set.empty[Long]
    for (id <- Seq(1L, 2L, 3L)) {
      val (c, i2) = IncrementalDedup.addBatchNear(idx,
        all.filter(all("doc_id") === id), "doc_id", "text", loose)
      idx = i2.localCheckpoint()
      kept ++= ids(c)
    }
    assert(kept === Set(1L, 2L), "incremental keeps the early-arriving C")
    val full = ids(Dedup.dedupNear(all, "doc_id", "text", loose))
    assert(full === Set(1L), "full recompute merges the chain retroactively")
  }

  // ------------------------------------------- perceptual (media, X88)

  private def mids(df: DataFrame): Set[Long] =
    df.select("media_id").as[Long].collect().toSet

  private def fpRows(rows: Seq[(Long, java.lang.Long, java.lang.Long)]): DataFrame =
    rows.toDF("media_id", "sig", "verify")

  test("hamming: within-batch greedy min-id, cross-batch removal, NULL sig survives") {
    // sigs 0x10 and 0x11 are 1 bit apart; 0xF0 is far from both
    val b1 = fpRows(Seq((1L, 0x10L, 100L), (2L, 0x11L, 200L), (3L, 0xF0L, 300L),
      (4L, null, null)))
    val b2 = fpRows(Seq((10L, 0x13L, 400L), (11L, 0x0FF0L, 500L)))

    val (c1, i1) = IncrementalDedup.addBatchHamming(
      IncrementalDedup.emptyHammingIndex(spark), b1, maxHamming = 2)
    assert(mids(c1) === Set(1L, 3L, 4L),
      "2 loses to 1 within batch; NULL-sig 4 survives")
    assert(i1.filter($"media_id" === 4L).count() === 0,
      "NULL signatures never enter the index")
    assert(i1.filter($"media_id" === 2L).count() === 1,
      "removed items' sigs stay in the index (prefix-causal chains)")

    val (c2, _) = IncrementalDedup.addBatchHamming(i1, b2, maxHamming = 2)
    // 0x13 is 1 bit from 0x11 (a REMOVED item) and 2 bits from 0x10 —
    // dies against history either way; 0xFF0 is far from everything
    assert(mids(c2) === Set(11L))
  }

  test("hamming: verify-match gating turns radius 0 into exact content identity") {
    // same sig, different verify checksum: perceptual collision, not a dup
    val b1 = fpRows(Seq((1L, 0x10L, 100L)))
    val b2 = fpRows(Seq((2L, 0x10L, 999L), (3L, 0x10L, 100L)))
    val (_, i1) = IncrementalDedup.addBatchHamming(
      IncrementalDedup.emptyHammingIndex(spark), b1, maxHamming = 0,
      requireVerifyMatch = true)
    val (c2, _) = IncrementalDedup.addBatchHamming(i1, b2, maxHamming = 0,
      requireVerifyMatch = true)
    assert(mids(c2) === Set(2L),
      "3 is content-identical to history; 2 only collides perceptually")
  }

  test("hamming fold: re-encoded image variants arriving in later batches are dropped") {
    import graft.ext.Multimodal.MediaRow
    def imgFp(rows: Seq[MediaRow]): DataFrame =
      ImageDedup.fingerprints(spark.createDataset(rows))
        .select($"media_id", $"dhash".as("sig"), $"checksum".as("verify"))
    // batch 1: originals (seeds 0..5); batch 2: JPEG re-encodes of seeds
    // 0..2 plus a new original (seed 6); batch 3: a resize of seed 6
    val b1 = imgFp((0L until 6L).map(s =>
      MediaRow(s, s"o/$s", "image/png", ImageDedup.encodeSmoothPng(64, 48, s))))
    val b2 = imgFp((0L until 3L).map(s =>
      MediaRow(100 + s, s"j/$s", "image/jpeg",
        ImageDedup.encodeSmoothJpeg(64, 48, s))) :+
      MediaRow(106, "o/6", "image/png", ImageDedup.encodeSmoothPng(64, 48, 6)))
    val b3 = imgFp(Seq(MediaRow(200, "t/6", "image/png",
      Multimodal.MediaCodec.thumbnailPng(
        ImageDedup.encodeSmoothPng(64, 48, 6), maxDim = 24).get)))
    val folded = IncrementalDedup.foldBatchesHamming(
      spark, Seq(b1, b2, b3), maxHamming = 10)
    assert(mids(folded) === (0L until 6L).toSet + 106L,
      "every re-encode/resize of something seen dies; new content survives")
  }

  test("hamming fold at radius 0 + verify equals the first-per-content recompute") {
    // content key c(i) = i % 5 planted across shuffled batches
    val rows = (0L until 30L).map(i => (i, (i % 5) * 7L, (i % 5) * 1000L))
    val batches = rows.grouped(10).map(g => fpRows(
      g.map { case (id, s, v) => (id, Long.box(s), Long.box(v)) })).toSeq
    val folded = IncrementalDedup.foldBatchesHamming(
      spark, batches, maxHamming = 0, requireVerifyMatch = true)
    assert(mids(folded) === (0L until 5L).toSet,
      "equivalence relation => fold == global min-id per content key")
  }
}
