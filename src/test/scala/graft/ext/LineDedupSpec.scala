package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[LineDedup]]: corpus-frequent line removal. The oracle query
  * (x36_line_dedup) pins the happy path against DuckDB; this spec pins the
  * edges: threshold boundary, all-lines-removed documents, empty lines as
  * boilerplate, and order restoration with interleaved removals. */
class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  private def clean(rows: Seq[(Long, String)], maxOcc: Long): Map[Long, String] =
    LineDedup.dedupLines(rows.toDF("doc_id", "text"), "doc_id", "text", maxOcc)
      .as[(Long, String)].collect().toMap

  test("line at exactly the threshold is KEPT; above it removed") {
    // "twice" occurs 2×, "thrice" 3×
    val docs = Seq(
      (1L, "twice\nthrice\nown1"),
      (2L, "twice\nthrice\nown2"),
      (3L, "thrice\nown3"))
    assert(clean(docs, 2L) === Map(
      1L -> "twice\nown1", 2L -> "twice\nown2", 3L -> "own3"))
    assert(clean(docs, 3L) === Map(
      1L -> "twice\nthrice\nown1", 2L -> "twice\nthrice\nown2",
      3L -> "thrice\nown3"))
  }

  test("document whose every line is boilerplate disappears") {
    val docs = Seq(
      (1L, "spam"), (2L, "spam"), (3L, "spam"),
      (4L, "spam\nkeep me"))
    assert(clean(docs, 2L) === Map(4L -> "keep me"))
  }

  test("empty lines count as lines and get removed when frequent") {
    // every doc has the \n\n double newline ⇒ "" occurs 3× > 2
    val docs = Seq(
      (1L, "a\n\nb"), (2L, "c\n\nd"), (3L, "e\n\nf"))
    assert(clean(docs, 2L) === Map(1L -> "a\nb", 2L -> "c\nd", 3L -> "e\nf"))
  }

  test("order restored when removals interleave with survivors") {
    val boiler = (1 to 5).map(i => (100L + i, "X\nY\nZ"))
    val doc = Seq((1L, "X\nfirst\nY\nsecond\nZ\nthird"))
    val out = clean(boiler ++ doc, 4L)
    assert(out(1L) === "first\nsecond\nthird")
    assert(!out.contains(101L), "all-boilerplate docs are gone")
  }

  test("within-document repeats count toward the corpus total") {
    // "dup" appears 3 times in ONE document — corpus count is 3 > 2
    val docs = Seq((1L, "dup\na\ndup\nb\ndup"), (2L, "c"))
    assert(clean(docs, 2L) === Map(1L -> "a\nb", 2L -> "c"))
  }

  test("lineFrequencies reports exact text counts") {
    val docs = Seq((1L, "a\nb"), (2L, "a")).toDF("doc_id", "text")
    val freqs = LineDedup.lineFrequencies(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(freqs === Map("a" -> 2L, "b" -> 1L))
  }

  test("no line text on any shuffle (the scale contract)") {
    // r16 shape: the heavy-set probe is a broadcast hash join and the
    // only shuffle is the removed-POSITION list (ints) — reassembly is
    // row-local, so no window and no collect_list of line strings
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val plan = LineDedup.dedupLines(docs, "doc_id", "text", 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins:\n$plan")
    assert(!plan.contains("Window ["), s"expected no window:\n$plan")
    // the sole collect_list aggregates __pos (an int), never line text
    assert(!plan.contains("collect_list(__line") &&
      !plan.contains("collect_list(struct"),
      s"expected no text collect_list:\n$plan")
  }

  test("probe gate: oversized heavy set falls back to a shuffled join, " +
      "results identical") {
    val docs = Seq(
      (1L, "spam\nkeep1\neggs"), (2L, "spam\neggs"), (3L, "spam\nkeep3"),
      (4L, "eggs\nspam"))
    val expected = clean(docs, 2L) // broadcast path (default gate)
    // force the fallback: a negative broadcast threshold removes the
    // gate's hint, and the planner's own broadcast of the checkpointed
    // heavy set, which carries its REAL (tiny) size — at scale that size
    // exceeding the threshold IS the fallback trigger, here we simulate it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(clean(docs, 2L) === expected, "fallback path must agree")
      val plan = LineDedup
        .dedupLines(docs.toDF("doc_id", "text"), "doc_id", "text", 2L)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"a negative threshold must not hint a broadcast:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dense removals: boilerplate interleaved at every other line " +
      "(the linear-rebuild regression case)") {
    // 50 boilerplate lines interleaved with 50 unique lines per doc —
    // the shape where the r16 per-line array_contains probe went
    // quadratic; pins that the gap rebuild keeps exact order/content
    val body = (0 until 100).map { i =>
      if (i % 2 == 0) "BOILER" else s"unique-$i"
    }.mkString("\n")
    val docs = Seq((1L, body), (2L, "BOILER"), (3L, "BOILER"))
    val out = clean(docs, 2L)
    assert(out === Map(
      1L -> (1 until 100 by 2).map(i => s"unique-$i").mkString("\n")))
  }
}
