package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

import SchemaDefs.qcol

/** The reference's core transform: 15-minute rows → 1-hour groups with
  * `min` of the id/time columns and `mean` of every measure column, output
  * names suffixed `_min`/`_mean` (`/root/reference/etl/oedi_etl/transform.py:53-120`;
  * the suffix contract is load-bearing — the saved queries join on
  * `bldg_id_min`, `/root/reference/sql/saved-queries.sql:14`).
  *
  * Spark-first shape: one declarative groupBy over the whole dataset instead
  * of the reference's file-at-a-time Arrow kernel — partial (map-side)
  * aggregation plus a single hash-shuffle on the group keys, which is
  * correct whatever the file layout. When parquet footers prove every group
  * file-local, `JobRunner` plans [[FileLocalAggregate]] instead: the same
  * result in one stage, without the shuffle.
  *
  * Grouping semantics (SURVEY §2.4 A2, §7.4(2)): the reference groups by
  * hour ONLY because each input file holds exactly one building
  * (transform.py:59-61). A table-level engine must group by (building, hour)
  * to be equivalent. `byId = true` is that corrected table-level mode;
  * `byId = false` reproduces the reference's hour-only grouping for
  * per-file parity runs.
  */
object HourlyAggregate {

  /** The measure columns of `schema`: every double column that is not a
    * key (`timestamp`, `bldg_id`, `upgrade`, `state`). The reference
    * hardcodes its 51-name list and fails per file when one is missing
    * (transform.py:57-122); deriving the list from the schema generalizes
    * that contract without changing results on conforming data, since the
    * 51 are exactly the non-key doubles. */
  def measures(schema: StructType): Seq[String] = {
    val keys = Set("timestamp", "bldg_id", "upgrade", "state")
    schema.fields.filter(f => f.dataType == DoubleType && !keys.contains(f.name))
      .map(_.name).toSeq
  }

  /** @param timeCol      15-min resolution timestamp column
    * @param idCol        entity id column (`bldg_id` in the reference)
    * @param measureCols  columns to average (may contain dots)
    * @param byId         group by (id, hour) [table-level] vs hour-only
    *                     [reference per-file semantics]
    * @param extraKeys    extra group keys carried through (e.g. the hive
    *                     partition columns `upgrade`, `state`)
    */
  def apply(
      df: DataFrame,
      timeCol: String = "timestamp",
      idCol: String = "bldg_id",
      measureCols: Seq[String] = SchemaDefs.energyColumns,
      byId: Boolean = true,
      extraKeys: Seq[String] = Nil): DataFrame = {

    val hour = date_trunc("hour", qcol(timeCol)).as(timeCol)
    val keys: Seq[Column] =
      extraKeys.map(qcol) ++ (if (byId) Seq(qcol(idCol)) else Nil) :+ hour

    val aggs: Seq[Column] =
      min(qcol(idCol)).as(s"${idCol}_min") +:
        min(qcol(timeCol)).as(s"${timeCol}_min") +:
        measureCols.map(m => avg(qcol(m)).as(s"${m}_mean"))

    val out = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    // The raw id group key duplicates `<id>_min`; drop it so both modes
    // publish the reference's exact output schema.
    val dropped = if (byId) out.drop(idCol) else out
    // Stable column order: partition keys, then the published contract order.
    dropped.select(
      (extraKeys.map(qcol) ++
        Seq(qcol(timeCol), qcol(s"${idCol}_min"), qcol(s"${timeCol}_min")) ++
        measureCols.map(m => qcol(s"${m}_mean"))): _*)
  }
}
