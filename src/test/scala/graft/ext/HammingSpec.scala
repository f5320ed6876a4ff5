package graft.ext

import graft.SparkSpec

/** [[Hamming.pairsBetween64]] — the two-relation banding kernel behind
  * X88 incremental media dedup and cross-corpus media joins. The
  * self-join face ([[Hamming.pairs64]]) is pinned banding-≡-brute-force
  * in ImageDedupSpec/AudioDedupSpec/VideoDedupSpec; this spec pins the
  * cross face: exactness at radii where 64 divides unevenly into
  * chunks (the uncovered-high-bits pigeonhole subtlety), identity
  * pairs, and NULL-signature skipping. */
class HammingSpec extends SparkSpec {
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("pairsBetween64 ≡ brute force at uneven-chunk radii") {
    val rnd = new scala.util.Random(42)
    val left = (0L until 40L).map(i => (i, rnd.nextLong()))
    // right: some fresh, some near-copies of left sigs (flip <= r bits)
    val right = (100L until 130L).map(i => (i, rnd.nextLong())) ++
      (0L until 20L).map { i =>
        var s = left(i.toInt)._2
        (0 until rnd.nextInt(8)).foreach(_ => s ^= 1L << rnd.nextInt(64))
        (200 + i, s)
      }
    for (r <- Seq(0, 5, 6, 9)) { // 64/(r+1): uneven for 5 (10r6), 6 (9r1), 9 (6r4)
      val got = Hamming.pairsBetween64(
          left.toDF("media_id", "sig"), right.toDF("media_id", "sig"),
          "media_id", "sig", maxHamming = r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      val want = (for {
        (il, hl) <- left; (ir, hr) <- right
        if ham(hl, hr) <= r
      } yield (il, ir, ham(hl, hr))).toSet
      assert(got === want, s"radius $r")
    }
    // radius 0 has one chunk, so no pair is found twice and the plan skips
    // the distinct's exchange
    def exchanges(r: Int): Int = "Exchange".r.findAllIn(Hamming.pairsBetween64(
        left.toDF("media_id", "sig"), right.toDF("media_id", "sig"),
        "media_id", "sig", maxHamming = r)
      .queryExecution.executedPlan.toString).size
    assert(exchanges(0) === exchanges(1) - 1)
  }

  test("an id in both relations self-pairs at distance 0; NULL sigs skip") {
    val l = Seq((1L, Long.box(7L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("media_id", "sig")
    val r = Seq((1L, Long.box(7L)), (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("media_id", "sig")
    val got = Hamming.pairsBetween64(l, r, "media_id", "sig", maxHamming = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got === Set((1L, 1L, 0)))
  }
}
