package graft.ledger

/** The reference's operational-correctness net (M3/A5,
  * `/root/reference/etl/oedi_etl/monitor.py:44-137`): per-stage monotonic
  * counters plus a set-diff of listed-vs-uploaded files reported as
  * "Listed but not Uploaded" (worked example
  * `/root/reference/README.md:339-362`).
  *
  * Spark re-expression: counters AND the processed-file set come from
  * `Observation` metrics (count + collect_set of `_metadata.file_path`)
  * collected during the single pass over the data — the job's physical
  * plan has exactly one FileScan, no ledger re-scan. The set-diff then
  * runs driver-side against the listing the driver already holds
  * (file-count-bounded, the same memory class as the listing itself).
  */
object Ledger {

  final case class Report(
      listed: Long,
      processed: Long,
      bypassed: Long,
      inputRows: Long,
      outputRows: Long,
      discrepancies: Seq[String],
      schemaDrift: Seq[graft.etl.SchemaEnforce.Drift] = Nil) {

    /** Reference-shaped summary JSON (monitor.py:108-137). */
    def toJson: String = {
      // control characters (newline/tab are legal in POSIX file names) must
      // be \u-escaped or the one-line JSON protocol breaks
      def esc(s: String) = s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      def arr(xs: Seq[String]) = xs.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
      val drift = schemaDrift.map(d =>
        s"""{"file":"${esc(d.path)}","missing":${arr(d.missing)},""" +
          s""""extra":${arr(d.extra)},"type_mismatch":${arr(d.typeMismatch)}}""")
        .mkString("[", ",", "]")
      s"""{"counts":{"listed":$listed,"processed":$processed,"bypassed":$bypassed,""" +
        s""""input_rows":$inputRows,"output_rows":$outputRows},""" +
        s""""discrepancy":{"stage":"Listed but not Uploaded","files":${arr(discrepancies)}},""" +
        s""""schema_drift":$drift}"""
    }
  }
}
