package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-level helpers shared by the ext operators. */
object ColumnOps {

  /** Let-binding for Column expressions: evaluate `c` ONCE per row and bind
    * it to a lambda variable inside `body`.
    *
    * Catalyst evaluates any expression referenced inside a higher-order-
    * function lambda on EVERY lambda invocation — so nesting like
    * `transform(seq(0,63), k -> array_min(transform(shingles(text), ...)))`
    * re-tokenizes the document 64 times, and stacking stages multiplies
    * (observed: minhash band keys = 16 bands × 64 perms × ~90 slices × 1
    * regex split ≈ 10^5 redundant evals per row — a hang at 500 rows).
    * Wrapping the expensive value as a one-element array and binding it via
    * `transform` makes every use inside `body` a NamedLambdaVariable
    * reference (O(1)), restoring the intended per-stage cost. */
  def letCol(c: Column)(body: Column => Column): Column =
    element_at(transform(array(c), x => body(x)), 1)

  /** [[DoubleSortBits]] as a Column: bigint whose signed order equals the
    * double's value order. */
  def doubleSortBits(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      DoubleSortBits(org.apache.spark.sql.GraftBridge.expression(c)))

  /** [[JaroWinklerSim]] as a Column: codegen'd Jaro-Winkler similarity
    * of two string columns (DuckDB-compatible semantics). */
  def jaroWinklerSim(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      JaroWinklerSim(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** [[NfcNormalize]] as a Column. */
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      NfcNormalize(org.apache.spark.sql.GraftBridge.expression(c)))

  /** [[StripAccents]] as a Column. */
  def stripAccents(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      StripAccents(org.apache.spark.sql.GraftBridge.expression(c)))

  /** [[FixMojibake]] as a Column: scan-speed double-encoding repair. */
  def fixMojibake(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      FixMojibake(org.apache.spark.sql.GraftBridge.expression(c)))
}
