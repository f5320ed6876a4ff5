package graft.core

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.etl.{EtlConfig, JobRunner, JobSpec, SchemaDefs}

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** `body`'s value and the start event of every job it ran. */
  private def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val starts = scala.collection.mutable.ListBuffer.empty[SparkListenerJobStart]
    val own = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(starts += e)
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(own)
    val value = try body finally {
      GraftBridge.drainListeners(sc)
      sc.removeSparkListener(own)
    }
    (value, own.synchronized(starts.toList))
  }

  private def group(e: SparkListenerJobStart): String =
    e.properties.getProperty("spark.jobGroup.id")

  private def stageName(e: SparkListenerJobStart): String =
    e.stageInfos.maxBy(_.stageId).name

  test("a frame over a plain RDD is pinned: two actions after one pin evaluate its rows once") {
    val evals = sc.longAccumulator("rows evaluated")
    val rdd = sc.parallelize(1 to 20, 4).map { i => evals.add(1); Row(i.toLong) }
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("v", LongType))))
    val pinned = Materialize(df)
    assert(pinned.count() === 20)
    assert(pinned.agg(sum("v")).head().getLong(0) === 210)
    assert(evals.value === 20)
  }

  test("a checkpoint comes back unchanged, with no job run") {
    val done = Materialize(spark.range(10).toDF("v"))
    val (again, jobs) = jobsDuring(Materialize(done))
    assert(again eq done)
    assert(jobs.isEmpty, jobs.map(stageName))
  }

  test("the pin runs eagerly, cuts lineage and keeps a static plan's output partitioning") {
    // an adaptive plan reports no output partitioning before it runs;
    // the components loop of Dedup pins with AQE off for this reason
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (pinned, jobs) = try jobsDuring(Materialize(spark.range(100).toDF("k").repartition(4, $"k")))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(jobs.nonEmpty)
    assert(pinned.filter($"k" > 50).queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LogicalRDD]))
    pinned.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning => assert(h.numPartitions === 4)
      case other => fail(s"expected hash partitioning, got $other")
    }
  }

  test("the counted pin reads its aggregate off the checkpoint job itself") {
    val df = spark.range(0, 100, 1, 4).toDF("v").filter($"v" % 3 === 0)
    val ((pinned, n), jobs) = jobsDuring(Materialize.counted(df, count(lit(1))))
    assert(n === 34)
    assert(jobs.size === 1, jobs.map(stageName))
    assert(pinned.count() === 34)
    val (_, none) = Materialize.counted(spark.range(0).toDF("v"), sum($"v"))
    assert(none === 0L)
  }

  test("each checkpoint job is named after the calling line; the previous call site is restored") {
    sc.setCallSite("outer")
    try {
      val (_, jobs) = jobsDuring(Materialize(spark.range(5).toDF("v")))
      assert(jobs.nonEmpty && jobs.forall(stageName(_).startsWith("localCheckpoint at MaterializeSpec.scala:")),
        jobs.map(stageName))
      assert(sc.getLocalProperty("callSite.short") === "outer")
    } finally sc.clearCallSite()
  }

  /** Creates every thread of Scala's global pool from a thread in another
    * job group, so pool threads that kept their creator's local properties
    * would run later jobs under that group. */
  private def warmGlobalPool(): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val warm = new Thread(() => {
      sc.setJobGroup("warm-up", "another thread's group")
      implicit val ec: ExecutionContext = ExecutionContext.global
      val running = new CountDownLatch(n)
      val all = Future.sequence((1 to n).map(_ => Future {
        running.countDown()
        running.await(10, TimeUnit.SECONDS)
      }))
      Await.ready(all, 30.seconds)
    })
    warm.start()
    warm.join()
  }

  /** Jobs `body` ran, each with the job group it carried; `body` runs
    * under the caller's group `caller`. */
  private def groupsUnderCaller[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    warmGlobalPool()
    sc.setJobGroup("caller", "the calling thread's group")
    try jobsDuring(body) finally sc.clearJobGroup()
  }

  test("all pins at once, in order, under the caller's job group and call site") {
    val (pinned, jobs) = groupsUnderCaller(
      Materialize.all((1 to 3).map(i => spark.range(i * 10L).toDF("v")): _*))
    assert(pinned.map(_.count()) === Seq(10L, 20L, 30L))
    assert(jobs.size >= 3)
    assert(jobs.map(group).distinct === Seq("caller"))
    assert(jobs.forall(stageName(_).startsWith("localCheckpoint at MaterializeSpec.scala:")),
      jobs.map(stageName))
  }

  test("runAllParallel runs every job under the caller's job group") {
    val root = Files.createTempDirectory("graft_groups").toString
    val t0 = Timestamp.valueOf("2024-02-01 00:00:00").getTime
    val rows = (0 until 4).map(q => Row.fromSeq(new Timestamp(t0 + q * 15 * 60 * 1000L) +:
      11L +: SchemaDefs.energyColumns.map(_ => 1.0)))
    val fixture = spark.createDataFrame(rows.asJava, SchemaDefs.timeseriesSchema)
    for (st <- Seq("AK", "CA")) {
      fixture.withColumn("upgrade", lit(0)).withColumn("state", lit(st))
        .write.partitionBy("upgrade", "state").parquet(s"$root/src_$st")
    }
    val cfg = EtlConfig(s"$root/out", Seq("AK", "CA").map(st =>
      JobSpec("r", "2024", st, Seq(0), s"$root/src_$st", s"$root/meta")))
    val (results, jobs) = groupsUnderCaller(JobRunner.runAllParallel(spark, cfg, "rung"))
    assert(results.map(_.ledger.outputRows) === Seq(1L, 1L))
    assert(jobs.nonEmpty)
    assert(jobs.map(group).distinct === Seq("caller"))
  }

  /** The `.cache()` and `.persist(` sites src/main keeps, by file and
    * trimmed line, with how many times the line occurs and why it stays.
    * Each needs its own A/B before it moves to [[Materialize]]. */
  private val sessionCacheSites = Map(
    ("ext/Dedup.scala", "val loopEdges = if (knownEdges.isEmpty) probed else edges.cache()") ->
      (1, "lazy: fills under the components loop's AQE-off conf, not the caller's"),
    ("ext/SemDedup.scala", ".persist(StorageLevel.MEMORY_AND_DISK)") ->
      (2, "assignment and representatives spill to disk instead of failing at scale"),
    ("ext/Pq.scala", "val subbed = explodeSubs(base, m, vecCol).cache()") ->
      (1, "the k-means iterations re-read the subvectors under the caller's conf"),
    ("ext/Robust.scala", ".repartition(keyCols.map(col): _*).persist(), keyCols)") ->
      (1, "lazy histogram reused by the median windows of madStatsHistogram"),
    ("ext/Robust.scala", ".repartition(keyCols.map(col): _*).persist()") ->
      (1, "lazy histogram reused by outlierSummary's windows and groupBy"))

  /** Every code line of src/main/scala outside core/Materialize.scala, with
    * its file's path under src/main/scala, its line number and its trimmed
    * text; comment lines are skipped and trailing comments cut. */
  private def mainCode(): Seq[(String, Int, String)] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: File): Seq[File] = d.listFiles.toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    for {
      f <- files(root) if !f.getPath.endsWith("core/Materialize.scala")
      rel = root.toPath.relativize(f.toPath).toString.stripPrefix("graft/")
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
    } yield (rel, i + 1, code.split("//", 2).head.trim)
  }

  test("no code in src/main pins or fans out outside core/Materialize.scala") {
    val code = mainCode()
    val offending = for {
      (f, n, c) <- code
      if c.contains(".localCheckpoint(") || c.contains("ExecutionContext.global")
    } yield s"$f:$n: $c"
    assert(offending.isEmpty, offending.mkString("\n"))
    // session-cache pins: only the allow-listed sites, each as often as listed
    val cached = code
      .filter { case (_, _, c) => c.contains(".cache()") || c.contains(".persist(") }
      .groupBy { case (f, _, c) => (f, c) }
    val unlisted = cached.filter { case (site, lines) =>
      !sessionCacheSites.get(site).exists(_._1 == lines.size)
    }.values.flatten.map { case (f, n, c) => s"$f:$n: $c" }
    assert(unlisted.isEmpty, unlisted.mkString("\n"))
    val stale = sessionCacheSites.keySet -- cached.keySet
    assert(stale.isEmpty, s"allow-listed but gone: ${stale.mkString(", ")}")
  }
}
