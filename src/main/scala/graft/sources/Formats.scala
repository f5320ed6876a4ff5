package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Materialize

/** Text source/sink parity (SURVEY §2.1 widened): CSV and JSON-lines
  * ingestion/egress with the same partitioned-layout contract as the
  * parquet path.
  *
  * Scale rules baked in:
  *  - schemas are DECLARED, never inferred — `inferSchema`/sampling reads
  *    the data twice, and on a 100 TB feed the second read is the bill;
  *  - malformed rows go to a capture column (PERMISSIVE + columnNameOfCorruptRecord)
  *    instead of killing the job — the file-level analog of the reference's
  *    per-file failure tolerance (`/root/reference/etl/oedi_etl/transform.py:121-122`);
  *  - writes preserve hive partitioning so partition pruning keeps working
  *    downstream regardless of format.
  */
object Formats {

  val CorruptCol = "_corrupt_record"

  /** Schema-explicit CSV read; malformed lines land in [[CorruptCol]]. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, "string"))
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  /** Schema-explicit JSON-lines read; malformed lines land in [[CorruptCol]]. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** Rows whose source line failed to parse (for a discrepancy ledger).
    * Spark disallows querying ONLY the corrupt-record column straight off a
    * text scan (column pruning would leave nothing to parse), so the rows
    * are pinned once ([[graft.core.Materialize]]) — which is what a ledger
    * pass wants anyway: one read serving both the parsed and corrupt
    * streams. Hand it a pinned frame to share the parse with
    * [[parseLedger]]; a pinned frame is not pinned again. */
  def corruptRows(df: DataFrame): DataFrame = {
    val fixed = Materialize(df)
    fixed.filter(fixed(CorruptCol).isNotNull)
  }

  /** Parsed rows with the capture column dropped. Lazy and pruning-friendly
    * — the common transform path. NOTE: counting these rows prunes the scan
    * down to the corrupt column alone, which Spark rejects for the reason
    * above; use [[parseLedger]] for counts. */
  def parsedRows(df: DataFrame): DataFrame =
    df.filter(df(CorruptCol).isNull).drop(CorruptCol)

  final case class ParseLedger(parsed: Long, corrupt: Long)

  /** Parsed/corrupt counts off a full materialized parse (the per-file
    * discrepancy accounting of the reference's ledger, at row granularity).
    * Hand it a pinned frame ([[graft.core.Materialize]]) to share the
    * parse with [[corruptRows]]. */
  def parseLedger(df: DataFrame): ParseLedger = {
    val fixed = Materialize(df)
    val corrupt = fixed.filter(fixed(CorruptCol).isNotNull).count()
    ParseLedger(fixed.count() - corrupt, corrupt)
  }

  def writeCsv(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      header: Boolean = true, compression: String = "gzip"): Unit = {
    val w = df.write.mode("overwrite")
      .option("header", header.toString)
      .option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }

  def writeJson(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      compression: String = "gzip"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
  }

  /** Schema-explicit ORC read — the second columnar format (some lakes
    * standardize on ORC; the engine should not care). Same rules as
    * parquet: vectorized scan, predicate pushdown + column pruning
    * (`PushedFilters` appears in the ORC scan exactly as in parquet —
    * pinned by FormatsSpec), partition discovery over hive layouts.
    * Declared schema, never footer-vote inference across files. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC read with footer-derived schema (for engine-owned roundtrips
    * where the writer IS this engine, so the schema is trusted). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      compression: String = "snappy"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Avro container files — the row-major interchange format of
    * Kafka-adjacent ingest dumps, completing X10's format matrix
    * (columnar: parquet/ORC; text: CSV/JSONL; row-binary: Avro). Spark 4
    * ships the Avro FileFormat inside spark-sql (it backs the streaming
    * state encoders) but leaves the short name "avro" unregistered —
    * resolution by class name reaches the same implementation, with
    * hive-partitioned layouts, column pruning, and codec options intact.
    * Row-major means NO predicate pushdown and whole-record decode per
    * row — Avro is an INGEST format here: land it, convert to parquet,
    * query the parquet (the same bypass-vs-decode split as the
    * reference's raw-copy path, `/root/reference/etl/oedi_etl/
    * fetch.py:143-196`). */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Schema-explicit Avro read (declared schema, same rule as every
    * other source: no inference pass over a 100 TB feed). */
  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).format(AvroFormat).load(path)

  /** Avro read with writer-embedded schema (engine-owned roundtrips —
    * every Avro container file carries its schema in the header, so
    * "inference" is one header read, not a data scan). */
  def readAvro(spark: SparkSession, path: String): DataFrame =
    spark.read.format(AvroFormat).load(path)

  def writeAvro(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      compression: String = "snappy"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
      .format(AvroFormat)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }
}
