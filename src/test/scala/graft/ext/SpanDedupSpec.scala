package graft.ext

import graft.SparkSpec

/** [[SpanDedup]]: exact substring (≥k-token span) removal. The oracle
  * query (x37_span_dedup) pins the corpus face against DuckDB; this spec
  * pins the token-level semantics: span boundaries (the k-1 tail), spans
  * shorter than the resolution, overlapping spans merging, within-doc
  * repeats, and whole documents vanishing. */
class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  private def clean(rows: Seq[(Long, String)], k: Int,
      minCount: Long = 1L): Map[Long, String] =
    SpanDedup.dedupSpans(rows.toDF("doc_id", "text"), "doc_id", "text", k, minCount)
      .as[(Long, String)].collect().toMap

  test("a shared k-token passage is cut out, unique prose kept") {
    val docs = Seq(
      (1L, "alpha beta COPY1 COPY2 COPY3 gamma delta"),
      (2L, "epsilon COPY1 COPY2 COPY3 zeta"))
    assert(clean(docs, 3) === Map(
      1L -> "alpha beta gamma delta",
      2L -> "epsilon zeta"))
  }

  test("the span's k-1 tail tokens are removed too (window lookback)") {
    // shared span is exactly 5 tokens, k=3: dup 3-grams start at the first
    // 3 span positions; the last 2 tokens are covered only via lookback
    val span = "s1 s2 s3 s4 s5"
    val docs = Seq((1L, s"a $span b"), (2L, s"c $span d"))
    assert(clean(docs, 3) === Map(1L -> "a b", 2L -> "c d"))
  }

  test("repeats shorter than k tokens are below resolution and kept") {
    val docs = Seq(
      (1L, "x y shared pair u v"),
      (2L, "w z shared pair p q"))
    // "shared pair" repeats but no 3-gram does
    assert(clean(docs, 3) === Map(
      1L -> "x y shared pair u v", 2L -> "w z shared pair p q"))
  }

  test("overlapping duplicated spans merge into one removal") {
    // doc1 shares "m1 m2 m3" with doc2 and "m3 m4 m5" with doc3; in doc1
    // they overlap at m3 ⇒ m1..m5 all removed, one contiguous cut
    val docs = Seq(
      (1L, "head m1 m2 m3 m4 m5 tail"),
      (2L, "a m1 m2 m3 b"),
      (3L, "c m3 m4 m5 d"))
    val out = clean(docs, 3)
    assert(out(1L) === "head tail")
    assert(out(2L) === "a b")
    assert(out(3L) === "c d")
  }

  test("within-document repetition counts as duplication") {
    val docs = Seq((1L, "r1 r2 r3 mid r1 r2 r3"), (2L, "clean text here"))
    assert(clean(docs, 3) === Map(1L -> "mid", 2L -> "clean text here"))
  }

  test("document that is one big duplicated span disappears") {
    val docs = Seq(
      (1L, "d1 d2 d3 d4"), (2L, "d1 d2 d3 d4"), (3L, "other stuff entirely"))
    assert(clean(docs, 3) === Map(3L -> "other stuff entirely"))
  }

  test("minCount raises the duplication bar") {
    val docs = Seq(
      (1L, "p1 p2 p3 a"), (2L, "p1 p2 p3 b"), (3L, "p1 p2 p3 c"))
    // 3 occurrences: minCount=2 still trips, minCount=3 does not
    assert(clean(docs, 3, minCount = 2L) ===
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(clean(docs, 3, minCount = 3L) === Map(
      1L -> "p1 p2 p3 a", 2L -> "p1 p2 p3 b", 3L -> "p1 p2 p3 c"))
  }

  test("documents shorter than k tokens pass through untouched") {
    val docs = Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, ""))
    // "tiny doc" repeats wholesale but is under the k=3 resolution; a
    // token-LESS document has nothing to keep and is dropped (same
    // convention as LineDedup's all-boilerplate case)
    val out = clean(docs, 3)
    assert(out === Map(1L -> "tiny doc", 2L -> "tiny doc"))
  }

  test("probe gate: oversized dup set falls back to a shuffled join, " +
      "results identical") {
    val docs = Seq(
      (1L, "the same old passage again and unique one"),
      (2L, "the same old passage again and unique two"),
      (3L, "entirely fresh prose lives here"))
    val expected = clean(docs, 3) // broadcast path (default gate)
    // a negative broadcast threshold removes the gate's hint AND the
    // planner's own broadcast of the checkpointed dup set, which carries
    // its real (tiny) size — see LineDedupSpec's twin test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(clean(docs, 3) === expected, "fallback path must agree")
      val plan = SpanDedup
        .dedupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k = 3)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"a negative threshold must not hint a broadcast:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
