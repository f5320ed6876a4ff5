package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark metrics of one completed stage attempt, summed over its tasks. */
final case class StageAgg(
    tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    inBytes: Long, inRecords: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, spillDiskBytes: Long)

final class JobRec(val id: Int, val group: String, val description: String,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Listener that records every job (with the job group it ran under) and
  * the task metrics of every completed stage. Reads happen after
  * [[Tracer.drain]], so the bus thread is done writing. */
final class Collector extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, Int]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time)
    // a stage belongs to the first job that lists it; later jobs that reuse
    // it skip it
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages((i.stageId, i.attemptNumber())) = StageAgg(
      i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.diskBytesSpilled)
  }

  def owner(stageId: Int): Option[Int] = synchronized(stageOwner.get(stageId))
}

/** One traced call: name, wall interval and the span that caused it. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** What the jobs under one span did. */
final case class SpanStats(
    wallS: Double, jobs: Int, tasks: Long, runS: Double, cpuS: Double, gcS: Double,
    inBytes: Long, inRecords: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, spillDiskBytes: Long, listingTasks: Long,
    jobBusyS: Double) {
  /** wall time during which no Spark job of the span was running */
  def driverOnlyS: Double = math.max(0.0, wallS - jobBusyS)
}

object Tracer {
  /** A tracer that is never enabled, for the untimed warm-up operations. */
  val Off: Tracer = new Tracer(null)
}

/** Spans around the benchmark's calls into the engine. Each span runs its
  * body under its own Spark job group, so the collector can attribute jobs,
  * stages and tasks to it. When disabled, [[span]] only runs the body: the
  * untraced path adds no listener, no job group and no bookkeeping. */
final class Tracer(spark: SparkSession) {
  private def sc = spark.sparkContext
  val collector = new Collector
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var on = false

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(collector); on = true }

  def disable(): Unit = if (on) { drain(); sc.removeSparkListener(collector); on = false }

  def drain(): Unit = PerfbenchBus.drain(sc)

  private def group(s: Span) = s"perfbench-span-${s.id}"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size + 1, name, stack.headOption.fold(0)(_.id),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack ::= s
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Ids of `root` and every span below it. */
  private def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  def stats(root: Span): SpanStats = {
    drain()
    val groups = subtree(root).map(id => s"perfbench-span-$id")
    val jobs = collector.synchronized(
      collector.jobs.values.filter(j => groups.contains(j.group)).toList)
    val jobIds = jobs.map(_.id).toSet
    val listing = jobs.filter(_.description.startsWith("Listing leaf files")).map(_.id).toSet
    val st = collector.synchronized(collector.stages.toList)
      .flatMap { case ((sid, _), agg) => collector.owner(sid).filter(jobIds.contains).map(_ -> agg) }
    def sum(f: StageAgg => Long) = st.map(x => f(x._2)).sum
    SpanStats(
      wallS = root.wallS, jobs = jobs.size, tasks = sum(_.tasks),
      runS = sum(_.runMs) / 1e3, cpuS = sum(_.cpuNs) / 1e9, gcS = sum(_.gcMs) / 1e3,
      inBytes = sum(_.inBytes), inRecords = sum(_.inRecords),
      shuffleWriteBytes = sum(_.shuffleWriteBytes),
      shuffleWriteRecords = sum(_.shuffleWriteRecords),
      spillDiskBytes = sum(_.spillDiskBytes),
      listingTasks = st.filter(x => listing.contains(x._1)).map(_._2.tasks).sum,
      jobBusyS = unionMs(jobs.map(j => (j.startMs, if (j.endMs < 0) root.endMs else j.endMs))) / 1e3)
  }

  /** The last span recorded under `name`. */
  def last(name: String): Span = spans.findLast(_.name == name)
    .getOrElse(sys.error(s"no span named $name"))

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS)
  }
}
