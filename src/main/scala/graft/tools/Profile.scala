package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, core}

/** The engine's profiler: times named `SparkEntry.queries` entries and
  * reports what Spark did for each.
  *
  * Each name gets one warm-up run (round 0), then `runs` rounds. Round r
  * runs the names rotated by r - 1, so two names run A B / B A / A B and
  * neither always goes first. A run has two timed phases:
  *  - build: the entry constructs its DataFrame and the physical plan is
  *    forced (`queryExecution.executedPlan`). Operators that launch a job
  *    while the DataFrame is built (size gates, quantile histograms) show
  *    their jobs here.
  *  - exec: the DataFrame is written to the noop sink, the way `Bench`
  *    materializes it.
  *
  * Every phase runs under Profile's job group; jobs without it (other
  * threads of an embedding JVM) are not counted. Compilations are the one
  * exception: Spark counts them per JVM, so a phase's `compiles` also
  * holds what other threads compiled meanwhile. After each phase the
  * listener bus is drained, so every event the phase caused is counted
  * toward it and none leaks into the next. Engine code that runs jobs on
  * other threads (`core.Materialize.concurrently`, the media flagship's
  * concurrent pins) hands them the calling thread's group, so those jobs
  * count toward the phase that started them. Phases still share one group
  * id: a pool outside the engine keeps the group its threads were created
  * under, and with one id such jobs still count when those threads were
  * made during an earlier phase.
  *
  * Usage: `Profile [--sf DIR] [--runs N] [--explain] name...`. `--sf`
  * defaults to /root/testdata/sf0.1; cores come from `core.Sessions.local`.
  * `--explain` prints the formatted final plan of each name's last run.
  * Exits 1 when a name is unknown or a run throws.
  */
object Profile {

  /** What one phase did. `tasks` is the sum of `numTasks` over the
    * phase's completed stages; `spillBytes` is spill to disk; `compiles`
    * is how many generated classes Janino compiled (codegen cache misses,
    * on the driver and in local executor threads alike). `widestTasks`
    * and `widestSite` are the task count and call site (the stage name)
    * of the phase's widest completed stage, the first one to complete
    * among equals: a stage far wider than its data shows here without a
    * probe. */
  final case class Phase(wallS: Double, jobs: Int, stages: Int, tasks: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, gcMs: Long, compiles: Long,
      widestTasks: Int, widestSite: String) {
    /** Field-wise sums; the widest stage is the wider one's, this one's on a tie. */
    def +(o: Phase): Phase = {
      val w = if (o.widestTasks > widestTasks) o else this
      Phase(wallS + o.wallS, jobs + o.jobs,
        stages + o.stages, tasks + o.tasks,
        shuffleReadBytes + o.shuffleReadBytes, shuffleReadRecords + o.shuffleReadRecords,
        shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteRecords + o.shuffleWriteRecords,
        spillBytes + o.spillBytes, gcMs + o.gcMs, compiles + o.compiles,
        w.widestTasks, w.widestSite)
    }

    override def toString: String =
      f"$wallS%8.3f s  jobs $jobs%3d  stages $stages%3d  tasks $tasks%5d  " +
        f"shufR $shuffleReadBytes%11d B $shuffleReadRecords%9d rec  " +
        f"shufW $shuffleWriteBytes%11d B $shuffleWriteRecords%9d rec  " +
        f"spill $spillBytes%d B  gc $gcMs%d ms  compiles $compiles%d  " +
        f"widest $widestTasks%d tasks @ $widestSite"
  }

  object Phase {
    val zero: Phase = Phase(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, "-")

    /** Field-wise (upper) median; the widest stage is the (upper) median
      * phase's by `widestTasks`, count and call site together. */
    def median(ps: Seq[Phase]): Phase = {
      def m[T: Ordering](f: Phase => T): T = ps.map(f).sorted.apply(ps.size / 2)
      val w = ps.sortBy(_.widestTasks).apply(ps.size / 2)
      Phase(m(_.wallS), m(_.jobs), m(_.stages), m(_.tasks),
        m(_.shuffleReadBytes), m(_.shuffleReadRecords),
        m(_.shuffleWriteBytes), m(_.shuffleWriteRecords), m(_.spillBytes), m(_.gcMs),
        m(_.compiles), w.widestTasks, w.widestSite)
    }
  }

  /** One run of one name; round 0 is the warm-up. */
  final case class Run(name: String, round: Int, build: Phase, exec: Phase)

  private val Group = "graft-profile"

  /** Sums the jobs and completed stages that run under [[Group]] until
    * [[take]] hands the total over and starts a new one. */
  private final class Collector extends SparkListener {
    private var acc = Phase.zero
    private val ours = scala.collection.mutable.Set.empty[(Int, Int)]

    private def inGroup(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == Group

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (inGroup(e.properties)) acc = acc.copy(jobs = acc.jobs + 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (inGroup(e.properties)) ours += ((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (ours.remove((i.stageId, i.attemptNumber())) && m != null) {
        val r = m.shuffleReadMetrics
        val w = m.shuffleWriteMetrics
        acc += Phase(0, 0, 1, i.numTasks, r.totalBytesRead, r.recordsRead,
          w.bytesWritten, w.recordsWritten, m.diskBytesSpilled, m.jvmGCTime, 0,
          i.numTasks, i.name)
      }
    }

    def take(): Phase = synchronized { val p = acc; acc = Phase.zero; p }
  }

  /** Profiles `names` on `sfDir` and returns every run in the order it ran,
    * warm-ups first. Prints one line per phase, a median line per name
    * and, with `explain`, each name's final plan. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int,
      explain: Boolean = false, out: String => Unit = println): Seq[Run] = {
    require(names.nonEmpty && runs >= 1, "at least one name and one run")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ${unknown.mkString(", ")}; valid names: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val sc = spark.sparkContext
    val collector = new Collector
    val lastWrite = new AtomicReference[QueryExecution]
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastWrite.set(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def phase[T](label: String)(body: => T): (T, Phase) = {
      sc.setJobGroup(Group, label, interruptOnCancel = false)
      val c0 = GraftBridge.compilations
      val t0 = System.nanoTime()
      val value = try body finally sc.clearJobGroup()
      val wallS = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(sc)
      (value, collector.take().copy(wallS = wallS,
        compiles = GraftBridge.compilations - c0))
    }
    def once(name: String, round: Int): Run = {
      val (df, build) = phase(s"$name r$round build") {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.executedPlan
        df
      }
      val (_, exec) = phase(s"$name r$round exec")(
        df.write.format("noop").mode("overwrite").save())
      val run = Run(name, round, build, exec)
      out(f"[profile] $name%-28s r$round%-2d build ${run.build}")
      out(f"[profile] $name%-28s r$round%-2d exec  ${run.exec}")
      run
    }

    sc.addSparkListener(collector)
    if (explain) spark.listenerManager.register(planListener)
    try {
      val warm = names.map(once(_, 0))
      val timed = (1 to runs).flatMap { r =>
        val k = (r - 1) % names.size
        (names.drop(k) ++ names.take(k)).map { n =>
          val run = once(n, r)
          if (explain && r == runs) out(s"[profile] $n final plan\n" +
            lastWrite.get.explainString(FormattedMode))
          run
        }
      }
      names.foreach { n =>
        val rs = timed.filter(_.name == n)
        if (rs.nonEmpty) {
          val total = Phase.median(rs.map(r => r.build + r.exec))
          out(f"[profile] $n%-28s median build ${Phase.median(rs.map(_.build)).wallS}%.3f s" +
            f"  exec ${Phase.median(rs.map(_.exec)).wallS}%.3f s  total $total")
        }
      }
      warm ++ timed
    } finally {
      GraftBridge.drainListeners(sc)
      if (explain) spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(collector)
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile [--sf DIR] [--runs N] [--explain] name..."
    def parse(rest: List[String], sf: String, runs: Int, explain: Boolean,
        names: Vector[String]): (String, Int, Boolean, Vector[String]) = rest match {
      case "--sf" :: dir :: t => parse(t, dir, runs, explain, names)
      case "--runs" :: n :: t if n.toIntOption.exists(_ > 0) =>
        parse(t, sf, n.toInt, explain, names)
      case "--explain" :: t => parse(t, sf, runs, true, names)
      case flag :: _ if flag.startsWith("--") => System.err.println(usage); sys.exit(1)
      case n :: t => parse(t, sf, runs, explain, names :+ n)
      case Nil => (sf, runs, explain, names)
    }
    val (sf, runs, explain, names) =
      parse(args.toList, "/root/testdata/sf0.1", 3, false, Vector.empty)
    if (names.isEmpty) { System.err.println(usage); sys.exit(1) }

    val spark = core.Sessions.local(appName = "graft-profile")
    println(s"[profile] sf=$sf cores=${spark.sparkContext.defaultParallelism} runs=$runs")
    val ok =
      try { profile(spark, sf, names, runs, explain); true }
      catch { case e: Exception => System.err.println(s"[profile] failed: $e"); false }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
