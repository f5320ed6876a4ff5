package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[CrossDedup]] — cross-corpus near-dup join. The exhaustive-SQL face
  * is oracle-checked as x62_neardup_join. */
class CrossDedupSpec extends SparkSpec {
  import spark.implicits._

  // bench: 3 docs; corpus: an exact copy of b1, a near copy of b2 (one
  // token appended), an unrelated doc, and a second near copy of b1
  private def bench: DataFrame = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "one two three four five six seven eight"),
    (3L, "completely different benchmark text body here now"))
    .toDF("bid", "btext")

  private def corpus: DataFrame = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta"),
    (20L, "one two three four five six seven eight appended"),
    (30L, "unrelated corpus document with other words entirely"),
    (40L, "alpha beta gamma delta epsilon zeta eta theta tail"))
    .toDF("cid", "ctext")

  private def run(minJ: Double, cap: Option[Int] = None): Map[(Long, Long), Double] =
    CrossDedup.jaccardJoin(bench, corpus, "bid", "btext", "cid", "ctext",
        minJaccard = minJ, maxShingleFreq = cap)
      .as[(Long, Long, Double)].collect()
      .map { case (l, r, j) => (l, r) -> j }.toMap

  test("exact join finds identical and near copies, never unrelated docs") {
    val got = run(0.5)
    // identical: all 6 trigrams shared
    assert(got((1L, 10L)) === 1.0)
    // one appended token on 8: 6 trigrams shared of (6 + 7 - 6) = 6/7
    assert(got((2L, 20L)) === 0.8571)
    // b1 vs the 'tail' variant: 6/(6+7-6)
    assert(got.contains((1L, 40L)))
    assert(!got.keySet.exists(_._2 == 30L))
    // cross-only: no bench-bench or corpus-corpus pairs possible by shape
    assert(got.keySet.forall { case (l, r) => l <= 3L && r >= 10L })
  }

  test("threshold monotone; recall 1 with the cap off at threshold > 0") {
    assert(run(0.99).keySet === Set((1L, 10L)))
    assert(run(0.5).keySet.subsetOf(run(0.1).keySet))
  }

  test("frequency cap only lowers jaccard, never invents pairs") {
    val capped = run(0.1, cap = Some(1))
    val uncapped = run(0.1)
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, j) => assert(j <= uncapped(k) + 1e-9) }
  }

  test("lshJoin verified pairs agree with the exact join on caught candidates") {
    val lsh = CrossDedup.lshJoin(bench, corpus, "bid", "btext", "cid", "ctext",
        Dedup.MinHashParams(threshold = 0.5))
      .as[(Long, Long, Double)].collect()
      .map { case (l, r, j) => (l, r) -> j }.toMap
    val exact = run(0.5)
    // LSH may miss pairs (banding recall) but every emitted pair must be a
    // true pair with the same verified jaccard
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, j) => assert(math.abs(j - exact(k)) < 1e-9) }
    // identical docs share every band: the sure catch
    assert(lsh.contains((1L, 10L)))
  }

  test("self and cross faces agree: the cross join of a corpus with itself, above the diagonal") {
    val docs = bench.toDF("doc_id", "text").unionByName(corpus.toDF("doc_id", "text"))
    def pairs(df: DataFrame): Set[(Long, Long, Double)] =
      df.as[(Long, Long, Double)].collect().toSet
    def upper(cross: DataFrame): Set[(Long, Long, Double)] =
      pairs(cross.filter($"id_l" < $"id_r"))

    val exactSelf = pairs(NgramJaccard.pairs(docs, "doc_id", "text",
      maxShingleFreq = Int.MaxValue))
    assert(exactSelf.nonEmpty)
    assert(upper(CrossDedup.jaccardJoin(docs, docs, "doc_id", "text",
      "doc_id", "text", maxShingleFreq = None)) === exactSelf)

    val lshSelf = pairs(Dedup.nearDupPairs(docs, "doc_id", "text"))
    assert(lshSelf.nonEmpty)
    assert(upper(CrossDedup.lshJoin(docs, docs, "doc_id", "text",
      "doc_id", "text")) === lshSelf)
  }
}
