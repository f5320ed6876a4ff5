package graft.etl

/** Job specification — the typed form of the reference's `etl_config` JSON
  * (`/root/reference/README.md:50-107`, consumed at
  * `/root/reference/etl/oedi_etl/main.py:69-93`).
  *
  * AWS-only knobs (bucket names, crawler names, backpressure caps) dissolve
  * into Spark's scheduler (SURVEY §2.7). The listing page size is
  * `maxFilesPerTrigger` of [[JobRunner.runStream]], and the idle timeout its
  * `AvailableNow` trigger.
  */
final case class JobSpec(
    releaseName: String,
    releaseYear: String,
    state: String,
    upgrades: Seq[Int],
    /** root of the hive-partitioned timeseries input */
    srcRoot: String,
    /** root holding per-state metadata parquet files */
    metadataRoot: String,
    /** reference per-file grouping semantics vs corrected (id, hour) */
    byId: Boolean = true,
    /** When set, the input is read WITH this schema (missing columns →
      * nulls, extra columns → ignored, output schema pinned) and every
      * file whose footer deviates is reported in the ledger
      * ([[SchemaEnforce]]). When None, schema comes from footer merge —
      * the reference's crawler behavior. */
    declaredSchema: Option[org.apache.spark.sql.types.StructType] = None)

final case class EtlConfig(
    outputRoot: String,
    jobs: Seq[JobSpec],
    /** Committer contract override for `outputRoot`; None = detect from
      * the scheme (see [[JobRunner.run]]). */
    objectStoreCommit: Option[Boolean] = None)

object EtlConfig {

  /** Parse the reference-shaped config JSON. Uses Jackson (ships with Spark)
    * — no extra dependency. Field names follow the reference's snake_case
    * (`README.md:50-107`). */
  def fromJson(json: String): EtlConfig = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = new ObjectMapper().readTree(json)
    def str(n: com.fasterxml.jackson.databind.JsonNode, f: String): String = {
      val v = n.get(f)
      require(v != null, s"missing config field: $f")
      v.asText
    }
    val jobs = root.get("job_specific") match {
      case null => Seq.empty[JobSpec]
      case arr =>
        (0 until arr.size).map { i =>
          val j = arr.get(i)
          val upgrades = j.get("upgrades") match {
            case null => Seq(0)
            case u => (0 until u.size).map(k => u.get(k).asInt)
          }
          // optional named schema contract; "energy_timeseries" is the
          // reference's 51-measure layout (SchemaDefs). Unknown names fail
          // fast rather than silently skipping enforcement. An explicit
          // JSON null is "absent", not the string "null" (NullNode.asText).
          val declared = Option(j.get("declared_schema"))
            .filterNot(_.isNull).map(_.asText).map {
            case "energy_timeseries" => SchemaDefs.timeseriesSchema
            case other => throw new IllegalArgumentException(
              s"unknown declared_schema '$other' (known: energy_timeseries)")
          }
          JobSpec(
            releaseName = str(j, "release_name"),
            releaseYear = str(j, "release_year"),
            state = str(j, "state"),
            upgrades = upgrades,
            srcRoot = str(j, "src_root"),
            metadataRoot = str(j, "metadata_root"),
            byId = Option(j.get("by_id")).filterNot(_.isNull)
              .forall(_.asBoolean(true)),
            declaredSchema = declared)
        }
    }
    EtlConfig(
      outputRoot = str(root, "output_root"),
      jobs = jobs,
      objectStoreCommit = Option(root.get("object_store_commit"))
        .filterNot(_.isNull).map(_.asBoolean))
  }
}
