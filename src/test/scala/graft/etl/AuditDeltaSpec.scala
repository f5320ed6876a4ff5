package graft.etl

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[SnapshotDiff.auditDelta]]: the delta-sized diff must equal the full
  * exact diff of the upsert result, row for row, on data exercising every
  * classification edge: updates that change content, NO-OP updates
  * (delta row identical to base — must report nothing), pure inserts,
  * NULL attribute values, NULL key components, and multi-column keys. */
class AuditDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def check(base: DataFrame, delta: DataFrame, keys: Seq[String]): Unit = {
    val viaUpsert = SnapshotDiff.diff(
      base, Upsert.upsert(base, delta, keys), keys, exact = true)
    val direct = SnapshotDiff.auditDelta(base, delta, keys)
    assert(direct.columns.toSeq === viaUpsert.columns.toSeq)
    assert(rows(direct) === rows(viaUpsert))
  }

  test("randomized single-key delta ≡ diff of upsert") {
    val rnd = new scala.util.Random(11)
    val base = Seq.tabulate(300)(i =>
      (i.toLong, Option.when(rnd.nextInt(10) > 0)("s" + rnd.nextInt(5)), rnd.nextInt(100)))
      .toDF("k", "s", "v")
    // delta: ~1/3 changed, ~1/3 no-op copies of base rows, ~1/3 inserts
    val changed = base.filter($"k" % 3 === 0)
      .withColumn("v", $"v" + 1000)
    val noop = base.filter($"k" % 3 === 1)
    val inserts = base.filter($"k" % 3 === 2)
      .withColumn("k", $"k" + 10000L)
    check(base, changed.unionByName(noop).unionByName(inserts), Seq("k"))
  }

  test("no-op-only delta reports nothing") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val out = SnapshotDiff.auditDelta(base, base, Seq("k"))
    assert(out.count() === 0)
  }

  test("multi-column key with NULL key component (null-safe match)") {
    val base = Seq(
      (Some(1L), Some("x"), "old"), (Some(1L), None, "old-null"),
      (Some(2L), Some("y"), "keep"))
      .toDF("k1", "k2", "s")
    val delta = Seq(
      (Some(1L), None, "new-null"),     // changed (null key matched null-safely)
      (Some(3L), None, "added-null"),   // added
      (Some(2L), Some("y"), "keep"))    // no-op
      .toDF("k1", "k2", "s")
    check(base, delta, Seq("k1", "k2"))
    val out = SnapshotDiff.auditDelta(base, delta, Seq("k1", "k2"))
      .collect().map(r => (r.get(0), r.get(1), r.getString(2))).toSet
    assert(out === Set((1L, null, "changed"), (3L, null, "added")))
  }

  test("NULL attribute values compare null-safely") {
    val base = Seq((1L, Option("a")), (2L, Option.empty[String]), (3L, Option("c")))
      .toDF("k", "s")
    val delta = Seq(
      (1L, Option.empty[String]),  // a -> null   = changed
      (2L, Option.empty[String]),  // null -> null = no-op
      (3L, Option("c2")))          // c -> c2     = changed
      .toDF("k", "s")
    check(base, delta, Seq("k"))
    assert(rows(SnapshotDiff.auditDelta(base, delta, Seq("k"))) ===
      Set("1|changed", "3|changed"))
  }

  test("base is narrowed by a scan-stage Bloom probe, not a join") {
    // range-backed base: a LocalRelation would constant-fold the filter
    val base = spark.range(1000).select($"id".as("k"), ($"id" % 7).as("s"))
    val delta = Seq((1L, 5L)).toDF("k", "s")
    val plan = SnapshotDiff.auditDelta(base, delta, Seq("k"))
      .queryExecution.sparkPlan.toString
    assert(plan.contains("bloom_might_contain"))
    // exactly ONE join in the whole audit (the delta-driven left join);
    // the narrowing is a filter, never a semi join of the wide base
    assert("Join".r.findAllIn(plan).size <= 1)
  }

  test("a checkpointed delta is not checkpointed again; a lazy delta is, once") {
    val base = Seq.tabulate(50)(i => (i.toLong, s"v$i")).toDF("k", "s")
    val lazyDelta = base.filter($"k" % 5 === 0)
      .withColumn("s", concat($"s", lit("!")))
    val sc = spark.sparkContext
    // the call site (`<action> at <file>:<line>`) of every job that runs
    // while the audit is BUILT, not executed
    def jobsBuilding(delta: DataFrame): Seq[String] = {
      val sites = scala.collection.mutable.ListBuffer.empty[String]
      val own = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
          sites += e.stageInfos.maxBy(_.stageId).name
        }
      }
      GraftBridge.drainListeners(sc)
      sc.addSparkListener(own)
      try SnapshotDiff.auditDelta(base, delta, Seq("k"))
      finally {
        GraftBridge.drainListeners(sc)
        sc.removeSparkListener(own)
      }
      own.synchronized(sites.toList)
    }
    def checkpoints(sites: Seq[String]) = sites.count(_.startsWith("localCheckpoint"))
    val done = lazyDelta.localCheckpoint(true)
    val onDone = jobsBuilding(done)
    val onLazy = jobsBuilding(lazyDelta)
    assert(checkpoints(onDone) === 0, onDone)
    assert(checkpoints(onLazy) === 1, onLazy)
    assert(onLazy.size === onDone.size + 1, s"lazy $onLazy vs checkpointed $onDone")
  }

  test("bloom false positives cannot leak rows: tiny filter, disjoint keys") {
    // 64-bit bloom with many keys saturates → every base row survives the
    // filter; the delta-driven join must still emit only delta keys
    val base = Seq.tabulate(200)(i => (i.toLong, s"v$i")).toDF("k", "s")
    val delta = Seq((500L, "x"), (3L, "changed")).toDF("k", "s")
    val out = SnapshotDiff.auditDelta(base, delta, Seq("k"), numBits = 64)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((500L, "added"), (3L, "changed")))
  }
}
