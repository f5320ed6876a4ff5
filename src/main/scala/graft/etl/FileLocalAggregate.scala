package graft.etl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** [[HourlyAggregate]] (`byId = true`) computed inside the scan's own
  * tasks: each input file's rows fold into final `(keys, id, hour)` groups,
  * emitted when the file path changes. No exchange, no final aggregate;
  * memory per task is one file's groups.
  *
  * Correct only when no group spans two files and no file spans two scan
  * splits — the caller proves that from parquet footers before planning
  * it (see `JobRunner`). Results equal the shuffle plan's bit for bit:
  * each mean is the same sequential double sum over the same rows, in
  * scan order, that the partial aggregate folds.
  */
object FileLocalAggregate {

  /** @param df       input with `extraKeys`, `idCol`, `timeCol`, every
    *                 measure and `fileCol` (the `_metadata.file_path` of
    *                 each row)
    * @return the columns of [[HourlyAggregate]], in its order and with
    *         its types */
  def apply(
      df: DataFrame,
      fileCol: String,
      measureCols: Seq[String],
      extraKeys: Seq[String],
      timeCol: String = "timestamp",
      idCol: String = "bldg_id"): DataFrame = {
    val spark = df.sparkSession
    setup(spark)
    val child = df.queryExecution.analyzed
    def attr(name: String): Attribute = child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name in ${child.output}"))
    val keys = extraKeys.map(attr)
    val id = attr(idCol)
    val time = attr(timeCol)
    val measures = measureCols.map(attr)
    val output =
      keys.map(k => AttributeReference(k.name, k.dataType)()) ++ Seq(
        AttributeReference(timeCol, TimestampType)(),
        AttributeReference(s"${idCol}_min", id.dataType)(),
        AttributeReference(s"${timeCol}_min", TimestampType)()) ++
        measures.map(m => AttributeReference(s"${m.name}_mean", DoubleType)())
    GraftBridge.ofRows(spark, FileLocalHourlyAggregate(keys, id, time, measures,
      attr(fileCol), spark.sessionState.conf.sessionLocalTimeZone, output, child))
  }

  /** Column types the operator reads; anything else plans the shuffle. */
  def supports(df: DataFrame, timeCol: String, idCol: String): Boolean = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    types.get(timeCol).contains(TimestampType) &&
      types.get(idCol).exists(t => t == LongType || t == IntegerType)
  }

  /** Plans [[FileLocalHourlyAggregate]]; `Nil` for every other node. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case a: FileLocalHourlyAggregate =>
        FileLocalHourlyAggregateExec(a.keys, a.idAttr, a.time, a.measures, a.file,
          a.timeZoneId, a.output, planLater(a.child)) :: Nil
      case _ => Nil
    }
  }

  /** Adds [[Strategy]] to a session built without `GraftExtensions`. */
  def setup(session: SparkSession): Unit =
    if (!session.sessionState.planner.strategies.contains(Strategy))
      session.experimental.extraStrategies = Strategy +: session.experimental.extraStrategies
}

final case class FileLocalHourlyAggregate(
    keys: Seq[Attribute],
    idAttr: Attribute,
    time: Attribute,
    measures: Seq[Attribute],
    file: Attribute,
    timeZoneId: String,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): FileLocalHourlyAggregate =
    copy(child = newChild)
}

final case class FileLocalHourlyAggregateExec(
    keys: Seq[Attribute],
    idAttr: Attribute,
    time: Attribute,
    measures: Seq[Attribute],
    file: Attribute,
    timeZoneId: String,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildInternal(newChild: SparkPlan): FileLocalHourlyAggregateExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val input = child.output
    def ordinal(a: Attribute): Int = input.indexWhere(_.exprId == a.exprId)
    val groupCols = keys :+ idAttr
    val groupExprs = groupCols.map(a => BindReferences.bindReference[Expression](a, input))
    val groupTypes = groupCols.map(_.dataType).toArray
    val fileOrd = ordinal(file)
    val timeOrd = ordinal(time)
    val measureOrds = measures.map(ordinal).toArray
    val outTypes = output.map(_.dataType).toArray
    val zone = timeZoneId
    // the level date_trunc('hour', ...) parses to
    val hourLevel = DateTimeUtils.parseTruncLevel(UTF8String.fromString("HOUR"))
    child.execute().mapPartitions { rows =>
      new FileGroups(rows, UnsafeProjection.create(groupExprs), groupTypes, fileOrd, timeOrd,
        measureOrds, UnsafeProjection.create(outTypes), hourLevel, DateTimeUtils.getZoneId(zone),
        numOutputRows)
    }
  }
}

/** A group key: the extra keys and the id (`prefix`), and the hour. */
private final case class Key(prefix: UnsafeRow, hour: Long, hourNull: Boolean)

/** A group's running `min(time)` and, per measure, the sum and count of
  * its non-null values. */
private final class Group(val key: Key, measures: Int) {
  var minTime: Long = Long.MaxValue
  var timeNull = true
  val sums = new Array[Double](measures)
  val counts = new Array[Long](measures)
}

/** One task's fold: the groups of the file being read, handed downstream
  * as soon as the next file's first row arrives. */
private final class FileGroups(
    rows: Iterator[InternalRow],
    groupKey: UnsafeProjection,
    groupTypes: Array[org.apache.spark.sql.types.DataType],
    fileOrd: Int,
    timeOrd: Int,
    measureOrds: Array[Int],
    toUnsafe: UnsafeProjection,
    hourLevel: Int,
    zone: java.time.ZoneId,
    numOutputRows: SQLMetric) extends Iterator[InternalRow] {

  private var file: UTF8String = null
  private var groups = new java.util.LinkedHashMap[Key, Group]()
  private var last: Group = null
  private var ready: java.util.Iterator[Group] = java.util.Collections.emptyIterator()
  /** group key columns before the id */
  private val nExtra = groupTypes.length - 1
  private val out = new GenericInternalRow(nExtra + 3 + measureOrds.length)

  override def hasNext: Boolean = ready.hasNext || { readFile(); ready.hasNext }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    numOutputRows += 1
    emit(ready.next())
  }

  /** Folds rows up to the end of the current file; the first row of the
    * next file starts that file's groups. */
  private def readFile(): Unit = {
    var nextFile = false
    while (!nextFile && rows.hasNext) {
      val row = rows.next()
      val path = row.getUTF8String(fileOrd)
      if (file == null || !file.equals(path)) {
        nextFile = file != null
        if (nextFile) handOver()
        file = path.clone()
      }
      fold(row)
    }
    if (!nextFile) handOver()
  }

  private def handOver(): Unit = {
    ready = groups.values.iterator
    groups = new java.util.LinkedHashMap[Key, Group]()
    last = null
  }

  private def fold(row: InternalRow): Unit = {
    val prefix = groupKey(row)
    val timeNull = row.isNullAt(timeOrd)
    val micros = if (timeNull) 0L else row.getLong(timeOrd)
    val hour =
      if (timeNull) 0L else DateTimeUtils.truncTimestamp(micros, hourLevel, zone)
    val g =
      if (last != null && last.key.hour == hour && last.key.hourNull == timeNull &&
          last.key.prefix.equals(prefix)) last
      else {
        val key = Key(prefix.copy(), hour, timeNull)
        var found = groups.get(key)
        if (found == null) {
          found = new Group(key, measureOrds.length)
          groups.put(key, found)
        }
        found
      }
    last = g
    if (!timeNull && (g.timeNull || micros < g.minTime)) {
      g.minTime = micros
      g.timeNull = false
    }
    var i = 0
    while (i < measureOrds.length) {
      if (!row.isNullAt(measureOrds(i))) {
        g.sums(i) += row.getDouble(measureOrds(i))
        g.counts(i) += 1
      }
      i += 1
    }
  }

  /** Output order of [[HourlyAggregate]]: keys, hour, id, min time, means. */
  private def emit(g: Group): InternalRow = {
    val k = g.key
    var i = 0
    while (i < nExtra) {
      out.update(i, k.prefix.get(i, groupTypes(i)))
      i += 1
    }
    out.update(nExtra, if (k.hourNull) null else k.hour)
    out.update(nExtra + 1, k.prefix.get(nExtra, groupTypes(nExtra)))
    out.update(nExtra + 2, if (g.timeNull) null else g.minTime)
    var m = 0
    while (m < measureOrds.length) {
      out.update(nExtra + 3 + m,
        if (g.counts(m) == 0) null else g.sums(m) / g.counts(m).toDouble)
      m += 1
    }
    toUnsafe(out)
  }
}
