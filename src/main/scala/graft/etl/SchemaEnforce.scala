package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

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
      declared: org.apache.spark.sql.types.StructType,
      partitionCols: Set[String] = Set("upgrade", "state")): Dataset[Drift] = {
    import spark.implicits._
    if (files.isEmpty) return spark.emptyDataset[Drift]
    val declaredTypes: Map[String, String] = declared.fields
      .filterNot(f => partitionCols.contains(f.name))
      .map(f => f.name -> f.dataType.typeName).toMap
    val confBc = spark.sparkContext.broadcast(
      new SerializableConf(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism * 4))
    val drifts = spark.sparkContext.parallelize(files, slices).mapPartitions { paths =>
      import scala.jdk.CollectionConverters._
      val conf = confBc.value.value
      // one options object per partition, from the job's conf: the
      // options-less `open(in)` builds a fresh default Configuration per
      // file, re-parsing Hadoop's XML resources — that parse, not the
      // footer read, was nearly all of this pass's time
      val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
      paths.flatMap { p =>
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in, options)
          val fields =
            try reader.getFileMetaData.getSchema.getFields.asScala.toList
            finally reader.close()
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
        } catch {
          case _: Exception => None // unreadable footer = corrupt-file path
        }
      }
    }
    spark.createDataset(drifts)
  }

  /** [[detectDS]] as an untyped frame (path, missing, extra, typeMismatch)
    * — the shape a report sink or downstream SQL wants. */
  def detectDF(
      spark: SparkSession,
      files: Seq[String],
      declared: org.apache.spark.sql.types.StructType,
      partitionCols: Set[String] = Set("upgrade", "state")): DataFrame =
    detectDS(spark, files, declared, partitionCols).toDF()

  /** Driver-side convenience face (what the ledger embeds): the
    * lexicographically first `maxReport` drifted files. The cap is what
    * makes this safe under systemic drift — `orderBy.take` plans a
    * per-partition top-k + driver merge (TakeOrdered), never a full
    * collect; the complete report is [[detectDS]]. */
  def detect(
      spark: SparkSession,
      files: Seq[String],
      declared: org.apache.spark.sql.types.StructType,
      partitionCols: Set[String] = Set("upgrade", "state"),
      maxReport: Int = 10000): Seq[Drift] =
    detectDS(spark, files, declared, partitionCols)
      .orderBy(org.apache.spark.sql.functions.col("path"))
      .take(maxReport).toSeq
}
