package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Partition-path construction and the upgrade-label function (F1/F4,
  * `/root/reference/etl/oedi_etl/fetch.py:19-37,60-83`).
  *
  * The reference "pushes down" partition predicates by constructing listing
  * prefixes so non-matching data is never touched. The engine does the
  * same: [[JobRunner]] lists only the requested `upgrade=`/`state=`
  * prefixes and scans exactly what it listed; these helpers keep the
  * upgrade label and the metadata-filename convention.
  */
object PartitionPaths {

  /** `0 → "baseline"`, `1..9 → "upgrade0N"`, `≥10 → "upgradeN"`
    * (fetch.py:19-37). */
  def upgradeLabel(upgrade: Int): String =
    if (upgrade == 0) "baseline"
    else if (upgrade >= 1 && upgrade <= 9) s"upgrade0$upgrade"
    else s"upgrade$upgrade"

  /** Column form of [[upgradeLabel]] — pure builtin expressions, codegen'd
    * (no UDF). Matches the Scala form for all ints. */
  def upgradeLabelCol(upgrade: Column): Column =
    when(upgrade === 0, lit("baseline"))
      .when(upgrade.between(1, 9), concat(lit("upgrade0"), upgrade.cast("string")))
      .otherwise(concat(lit("upgrade"), upgrade.cast("string")))

  /** Metadata file keys for one (upgrade, state) — the basic + full
    * `metadata_and_annual_results` parquet pair (fetch.py:70-81). */
  def metadataKeys(metadataLocation: String, upgrade: Int, state: String): Seq[String] = {
    val label = upgradeLabel(upgrade)
    val base = s"$metadataLocation/state=$state/parquet"
    Seq(
      s"$base/${state}_${label}_basic_metadata_and_annual_results.parquet",
      s"$base/${state}_${label}_metadata_and_annual_results.parquet")
  }
}
