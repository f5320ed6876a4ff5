package graft.etl

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Declared-schema enforcement for ETL input (SURVEY §2 S2; the gap the
  * round-2 review ranked #1): the reference re-crawls schemas every run and
  * its README documents the shared-metadata-table drift quirk
  * (`/root/reference/README.md:370`, crawler config `main.py:114-148`).
  * This engine inverts that: the job DECLARES the schema it processes
  * (`JobSpec.declaredSchema`), the scan reads with it — a file missing a
  * declared column yields nulls, extra columns are ignored, output schema
  * never drifts — and the per-file deviation is REPORTED, the way the
  * reference logs per-file column errors (`transform.py:121-122`,
  * `README.md:337-361`), instead of silently winning or losing a footer
  * race.
  *
  * Detection reads ONLY parquet footers, distributed over the executors
  * (file-count-bounded work, no row data): at 100 TB with millions of
  * files this is a listing-sized job, not a data-sized one.
  */
object SchemaEnforce {

  /** One drifted file: which declared columns its footer lacks, which
    * undeclared columns it carries, and which carry a parquet primitive
    * type that cannot produce the declared Spark type. */
  final case class Drift(
      path: String, missing: Seq[String], extra: Seq[String],
      typeMismatch: Seq[String] = Nil)

  /** Hadoop `Configuration` is not `Serializable`; ship it to executors via
    * its own `Writable` contract (the same trick Spark's internal
    * `SerializableConfiguration` uses, which is `private[spark]`). */
  final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** The hive partition columns: path segments, never in footers. */
  private val PartitionCols = Set("upgrade", "state")

  /** Drifted files the driver-side report holds at most. */
  private val MaxReport = 10000

  /** Parquet primitive type names a declared Spark type may legally be
    * stored as. Conservative: a pair not listed is reported as a
    * mismatch only when the declared type IS listed (unknown declared
    * types are never flagged — no false positives on exotic logical
    * types). */
  private val legalPrimitives: Map[String, Set[String]] = Map(
    "double" -> Set("DOUBLE"),
    "float" -> Set("FLOAT"),
    "long" -> Set("INT64"),
    "integer" -> Set("INT32"),
    "short" -> Set("INT32"),
    "byte" -> Set("INT32"),
    "boolean" -> Set("BOOLEAN"),
    "string" -> Set("BINARY"),
    "binary" -> Set("BINARY", "FIXED_LEN_BYTE_ARRAY"),
    "date" -> Set("INT32"),
    "timestamp" -> Set("INT64", "INT96"),
    "timestamp_ntz" -> Set("INT64", "INT96"))

  /** Footer-vs-declared diff for every listed file: missing/extra column
    * names plus type mismatches (a declared column stored as a parquet
    * primitive that cannot produce the declared Spark type — those files'
    * row groups are silently dropped by ignoreCorruptFiles, so the report
    * is the only place the loss is visible). Partition columns
    * (`upgrade=`/`state=` path segments) live in directory names, not
    * footers, and are excluded before diffing. Unreadable footers are
    * skipped here — the corrupt-file path already surfaces them as ledger
    * discrepancies.
    *
    * `files` must be FULL paths/URIs as listed from the source filesystem
    * (e.g. `s3a://bucket/...`) — scheme-stripped paths would resolve
    * against the default filesystem and silently find nothing.
    *
    * This is the SINK face: the report never touches the driver — write it
    * (`detectDS(...).write.parquet(reportDir)`), join it, aggregate it.
    * Under systemic drift (every one of millions of files drifting — e.g.
    * a release-wide column rename) the report is file-count-sized, which
    * is exactly why it must stay a dataset; the driver-side convenience
    * face [[detect]] caps what it materializes. */
  def detectDS(
      spark: SparkSession,
      files: Seq[String],
      declared: StructType,
      partitionCols: Set[String] = PartitionCols): Dataset[Drift] = {
    import spark.implicits._
    if (files.isEmpty) return spark.emptyDataset[Drift]
    val declaredTypes = typesOf(declared, partitionCols)
    spark.createDataset(withFooters(spark, files) { footers =>
      footers.flatMap { case (p, _, meta) => driftOf(p, meta, declaredTypes) }
    })
  }

  /** What the ETL job learns from one readable footer.
    * @param rowGroups non-empty row groups
    * @param idRange   `[min, max]` of the id column over every non-empty
    *                  row group; `None` unless every one of them carries
    *                  signed-integer statistics with zero nulls */
  final case class FileFooter(rowGroups: Int, rows: Long, idRange: Option[(Long, Long)])

  /** @param files       facts per readable file, keyed by its index in the
    *                    input list; unreadable files are absent
    * @param firstSchema without a declared schema: the Spark schema of the
    *                    first readable file in path order, the file Spark's
    *                    own inference would pick when it is readable
    * @param drift       what [[detect]] reports for a declared schema */
  final case class Footers(
      files: Map[Int, FileFooter], firstSchema: Option[StructType], drift: Seq[Drift])

  /** The ETL job's one footer pass: each footer opened once, for the drift
    * report, the read schema and the facts that decide the job's plan. One
    * small record per file reaches the driver (the driver already holds
    * the listing); drift stays capped per slice and overall, as in
    * [[detect]]. */
  def footers(
      spark: SparkSession,
      files: Seq[String],
      declared: Option[StructType],
      idCol: String): Footers = {
    if (files.isEmpty) return Footers(Map.empty, None, Nil)
    val declaredTypes = declared.map(typesOf(_, PartitionCols))
    // the session's parquet read settings (binary as string, int96, ntz,
    // nanos), so the schema matches what inference would produce; SQLConf
    // itself does not survive serialization, its settings do
    val sqlConfs = spark.sessionState.conf.getAllConfs
    val slices = withFooters(spark, files) { footers =>
      val facts = Array.newBuilder[(Int, FileFooter)]
      val drift = Array.newBuilder[Drift]
      var first: (String, ParquetMetadata) = null
      footers.foreach { case (p, i, meta) =>
        facts += i -> factsOf(meta, idCol)
        declaredTypes.foreach(d => drift ++= driftOf(p, meta, d))
        if (declaredTypes.isEmpty && (first == null || p < first._1)) first = (p, meta)
      }
      val schema = Option(first).map { case (p, meta) =>
        p -> ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(p), meta),
          new ParquetToSparkSchemaConverter(sqlConfOf(sqlConfs)))
      }
      Iterator((facts.result(), schema, drift.result().sortBy(_.path).take(MaxReport)))
    }.collect()
    Footers(
      slices.iterator.flatMap(_._1).toMap,
      slices.flatMap(_._2).minByOption(_._1).map(_._2),
      slices.flatMap(_._3).sortBy(_.path).take(MaxReport).toSeq)
  }

  private def sqlConfOf(settings: Map[String, String]): SQLConf = {
    val conf = new SQLConf
    settings.foreach { case (k, v) => conf.setConfString(k, v) }
    conf
  }

  private def typesOf(declared: StructType, partitionCols: Set[String]): Map[String, String] =
    declared.fields
      .filterNot(f => partitionCols.contains(f.name))
      .map(f => f.name -> f.dataType.typeName).toMap

  /** Opens every readable footer once, one set of read options per slice,
    * and hands `(path, index in files, footer)` to `perSlice`. Unreadable
    * footers are skipped — the corrupt-file path surfaces them as ledger
    * discrepancies. */
  private def withFooters[T: ClassTag](spark: SparkSession, files: Seq[String])(
      perSlice: Iterator[(String, Int, ParquetMetadata)] => Iterator[T]): RDD[T] = {
    val confBc = spark.sparkContext.broadcast(
      new SerializableConf(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(files.zipWithIndex, slices).mapPartitions { paths =>
      val conf = confBc.value.value
      // one options object per slice, from the job's conf: the
      // options-less `open(in)` builds a fresh default Configuration per
      // file, re-parsing Hadoop's XML resources — that parse, not the
      // footer read, was nearly all of this pass's time
      val options = HadoopReadOptions.builder(conf).build()
      perSlice(paths.flatMap { case (p, i) =>
        try {
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf), options)
          try Some((p, i, reader.getFooter)) finally reader.close()
        } catch {
          case _: Exception => None
        }
      })
    }
  }

  private def driftOf(p: String, meta: ParquetMetadata,
      declaredTypes: Map[String, String]): Option[Drift] = {
    val fields = meta.getFileMetaData.getSchema.getFields.asScala.toList
    val names = fields.map(_.getName).toSet
    val missing = (declaredTypes.keySet -- names).toSeq.sorted
    val extra = (names -- declaredTypes.keySet).toSeq.sorted
    val mismatch = fields.flatMap { f =>
      declaredTypes.get(f.getName).flatMap { sparkType =>
        legalPrimitives.get(sparkType).flatMap { legal =>
          val prim =
            if (f.isPrimitive) f.asPrimitiveType().getPrimitiveTypeName.name
            else "GROUP"
          if (legal.contains(prim)) None
          else Some(s"${f.getName}: declared $sparkType, stored $prim")
        }
      }
    }.sorted
    if (missing.isEmpty && extra.isEmpty && mismatch.isEmpty) None
    else Some(Drift(p, missing, extra, mismatch))
  }

  private def factsOf(meta: ParquetMetadata, idCol: String): FileFooter = {
    val blocks = meta.getBlocks.asScala.filter(_.getRowCount > 0).toSeq
    val ranges = blocks.map(_.getColumns.asScala
      .find(_.getPath.toArray.sameElements(Array(idCol))).flatMap(idRange))
    FileFooter(blocks.size, blocks.map(_.getRowCount).sum,
      if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
      else Some((ranges.map(_.get._1).min, ranges.map(_.get._2).max)))
  }

  private def idRange(c: ColumnChunkMetaData): Option[(Long, Long)] = {
    val signed = c.getPrimitiveType.getLogicalTypeAnnotation match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    val s = c.getStatistics
    if (!signed || s == null || s.isEmpty || !s.hasNonNullValue || !s.isNumNullsSet ||
        s.getNumNulls != 0) None
    else s match {
      case l: LongStatistics => Some((l.getMin, l.getMax))
      case i: IntStatistics => Some((i.getMin.toLong, i.getMax.toLong))
      case _ => None
    }
  }

  /** Driver-side convenience face (what the ledger embeds): the
    * lexicographically first `maxReport` drifted files. The cap is what
    * makes this safe under systemic drift — `orderBy.take` plans a
    * per-partition top-k + driver merge (TakeOrdered), never a full
    * collect; the complete report is [[detectDS]]. */
  def detect(
      spark: SparkSession,
      files: Seq[String],
      declared: StructType,
      partitionCols: Set[String] = PartitionCols,
      maxReport: Int = MaxReport): Seq[Drift] =
    detectDS(spark, files, declared, partitionCols)
      .orderBy(org.apache.spark.sql.functions.col("path"))
      .take(maxReport).toSeq
}
