package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, GraftTestBridge}

import graft.SparkSpec

/** `Profile` on the sf0.001 set: what each phase reports, the round order,
  * name checking, and that it leaves no listener behind. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val A = "q01_scan_filter"
  private val B = "q06_multi_agg"

  private def profile(names: Seq[String], runs: Int, explain: Boolean = false,
      out: String => Unit = _ => ()): Seq[Profile.Run] =
    Profile.profile(spark, sf, names, runs, explain, out)

  test("shuffle is reported where an exchange runs, and only there") {
    val runs = profile(Seq(A, B), runs = 1)
    runs.filter(_.name == B).foreach { r =>
      assert(r.exec.shuffleWriteBytes > 0 && r.exec.shuffleWriteRecords > 0, r)
    }
    // q01's one exchange is its ORDER BY's range partitioning: every row
    // that passes the filter is written once and read once
    val rows = graft.SparkEntry.queries(A)(spark, sf).count()
    runs.filter(_.name == A).foreach { r =>
      assert(r.exec.shuffleWriteRecords == rows && r.exec.shuffleReadRecords == rows, r)
      assert(r.exec.shuffleWriteBytes > 0, r)
    }
    runs.filter(_.round > 0).foreach { r =>
      assert(r.build.shuffleWriteBytes == 0 && r.build.shuffleWriteRecords == 0, r)
    }
  }

  test("tasks and stages equal the completed stages' numTasks and count") {
    var stages = 0
    var tasks = 0L
    val own = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stages += 1; tasks += e.stageInfo.numTasks
      }
    }
    GraftBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(own)
    val runs = try profile(Seq(B), runs = 2)
      finally {
        GraftBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(own)
      }
    val total = runs.map(r => r.build + r.exec).reduce(_ + _)
    assert(stages > 0)
    assert(own.synchronized((total.stages, total.tasks) == ((stages, tasks))),
      s"profile $total vs listener stages=$stages tasks=$tasks")
  }

  test("building x36_line_dedup launches a job; building q01_scan_filter does not") {
    val runs = profile(Seq("x36_line_dedup", A), runs = 1)
    runs.filter(_.name == "x36_line_dedup").foreach(r => assert(r.build.jobs >= 1, r))
    // the warm-up may pay the table's first load; timed builds run nothing
    runs.filter(r => r.name == A && r.round > 0).foreach(r => assert(r.build.jobs == 0, r))
  }

  test("q01_scan_filter compiles its classes in the warm-up and none after") {
    val runs = profile(Seq(A), runs = 2)
    runs.filter(_.round > 0).foreach(r => assert(r.build.compiles + r.exec.compiles == 0, r))
  }

  test("two names over three rounds run A B / B A / A B after one warm-up each") {
    val runs = profile(Seq(A, B), runs = 3)
    assert(runs.map(r => (r.round, r.name)) == Seq(
      0 -> A, 0 -> B, 1 -> A, 1 -> B, 2 -> B, 2 -> A, 3 -> A, 3 -> B))
  }

  test("explain prints the final adaptive plan of the last run") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    profile(Seq(B), runs = 1, explain = true, out = lines += _)
    val plan = lines.find(_.startsWith(s"[profile] $B final plan"))
      .getOrElse(fail(lines.mkString("\n")))
    assert(plan.contains("AdaptiveSparkPlan") && plan.contains("isFinalPlan=true"), plan)
    assert(lines.last.contains(s"$B") && lines.last.contains("median"), lines.last)
  }

  test("an unknown name fails with the list of valid names") {
    val e = intercept[IllegalArgumentException](profile(Seq(A, "q00_no_such"), runs = 1))
    assert(e.getMessage.contains("q00_no_such"))
    assert(graft.SparkEntry.queries.keys.forall(e.getMessage.contains))
  }

  test("no listener is left registered, also after a run throws") {
    def isProfile(l: AnyRef) = l.getClass.getName.startsWith("graft.tools.Profile")
    profile(Seq(A), runs = 1, explain = true)
    intercept[Exception](
      Profile.profile(spark, "/nonexistent-sf-dir", Seq(A), 1, explain = true, _ => ()))
    assert(!GraftTestBridge.listeners(spark.sparkContext).exists(isProfile))
    assert(!GraftTestBridge.queryListeners(spark).exists(isProfile))
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }
}
