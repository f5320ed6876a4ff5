package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.{Column, Dataset, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one materialization step: every intermediate result the
  * engine pins goes through here.
  *
  * A pin is an eager `localCheckpoint`. Callers rely on three guarantees:
  *  - it runs eagerly: the rows are computed and stored before the call
  *    returns, so session conf set around the call is in force when the
  *    plan runs (the x34/x35 rewrite rules), and a size read from the
  *    pin (the counted face) is known before the caller plans the next
  *    step;
  *  - it cuts lineage and is a pushdown barrier: the returned frame is a
  *    scan of the stored blocks, every later use reads the blocks instead
  *    of re-running the subtree, and no filter above it is pushed into
  *    the subtree (`x0_web_pipeline` relies on this to keep its quality
  *    screen off the pre-dedup scan);
  *  - it keeps the output partitioning of the frame's physical plan: with
  *    AQE off, a frame repartitioned by a key comes back hash-partitioned
  *    by that key, so joins on the key need no exchange (the
  *    co-partitioned rounds of `Dedup`'s connected-components loop, which
  *    turns AQE off for them). An adaptive plan reports no partitioning
  *    before it runs, so under AQE the pin comes back with none.
  *
  * A frame that is already a checkpoint comes back unchanged, with no job
  * run. A frame over a plain RDD (`createDataFrame(rdd, schema)`, a
  * `foreachBatch` micro-batch) is not one: it re-runs its RDD on every
  * use, so it is pinned like any other.
  *
  * The blocks are local: they live in executor storage, the
  * ContextCleaner reclaims them once the frame is unreachable, and an
  * executor lost takes its blocks with it.
  *
  * Each checkpoint job is named after the line that asked for it
  * (`localCheckpoint at ExtQueries.scala:1207`), as a direct
  * `localCheckpoint` call would be: the pin sets Spark's short call site
  * from the first stack frame outside this object and restores the
  * previous value afterwards.
  */
object Materialize {

  /** Spark's local property for a job's short call site (`CallSite.SHORT_FORM`). */
  private val ShortCallSite = "callSite.short"

  /** The plain pin: `ds` checkpointed eagerly, or `ds` itself when it
    * already is a checkpoint. */
  def apply[T](ds: Dataset[T]): Dataset[T] = pin(ds, callSite())

  /** The counted pin: `ds` checkpointed, with the one-row aggregate `agg`
    * (a `Long`: a count, or a sum of longs) observed on the checkpoint job
    * itself, so the value costs no second job. A null aggregate (the sum
    * of no rows) reads as 0. */
  def counted[T](ds: Dataset[T], agg: Column): (Dataset[T], Long) = {
    val obs = Observation()
    val pinned = pin(ds.observe(obs, agg.as("value")), callSite())
    (pinned, obs.get("value").asInstanceOf[Long])
  }

  /** Plain pins of independent frames, built at once; in argument order.
    * Their jobs overlap, so one pin's tail does not leave cores idle while
    * the next waits. */
  def all[T](dss: Dataset[T]*): Seq[Dataset[T]] =
    if (dss.isEmpty) Nil
    else {
      val site = callSite()
      concurrently(dss.head.sparkSession)(dss.map(ds => () => pin(ds, site)))
    }

  /** Runs `tasks` at once, at most one per core, and returns their results
    * in order; the first failure in that order is rethrown. Each task
    * runs with a copy of the caller's Spark local properties (job group,
    * description, scheduler pool), so its jobs are the caller's jobs; a
    * task may change its copy (say, its scheduler pool) without touching
    * the caller's. The copy is set explicitly because a pool thread keeps
    * the properties of whichever thread created it. */
  def concurrently[T](spark: SparkSession)(tasks: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val caller = GraftBridge.localProperties(sc)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, Runtime.getRuntime.availableProcessors)))
    try {
      val futures = tasks.map(task => pool.submit(new Callable[T] {
        def call(): T = GraftBridge.withLocalProperties(sc, caller)(task())
      }))
      futures.map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  private def pin[T](ds: Dataset[T], site: String): Dataset[T] =
    if (isCheckpoint(ds)) ds
    else {
      val sc = ds.sparkSession.sparkContext
      val previous = sc.getLocalProperty(ShortCallSite)
      sc.setLocalProperty(ShortCallSite, site)
      try ds.localCheckpoint(true)
      finally sc.setLocalProperty(ShortCallSite, previous)
    }

  private def isCheckpoint(ds: Dataset[_]): Boolean = ds.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _ => false
  }

  /** `localCheckpoint at <file>:<line>` of the first stack frame outside
    * this object: the line that asked for the pin. */
  private def callSite(): String = Thread.currentThread.getStackTrace
    .find { f =>
      val c = f.getClassName
      c != classOf[Thread].getName && c != "graft.core.Materialize" &&
        !c.startsWith("graft.core.Materialize$")
    }
    .fold("localCheckpoint")(f => s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")
}
