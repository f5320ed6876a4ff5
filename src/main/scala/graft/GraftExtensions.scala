package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, MinHashSignature, SimHash64, TopCentroids, TopKByScore}

/** SparkSessionExtensions injection point (SURVEY §4): registers the
  * engine's native expressions so any session built with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) can call them from SQL —
  * including sessions the engine's Scala API never touches (JDBC gateways,
  * notebooks on a shared cluster).
  *
  * cosine_sim / dot_product: array<float> vector kernels (X3).
  * minhash_signature(hashes, k) / simhash64(hashes): sketch kernels (X2).
  *
  * Also injects the engine's optimizer extensions, both conf-gated and
  * inert without their conf: [[graft.plans.RangeJoinRewrite]]
  * (`spark.graft.rangeJoin.binWidth`) and
  * [[graft.plans.OverlapJoinRewrite]] (`spark.graft.overlapJoin.binWidth`),
  * and the planner strategy for the ETL job's file-local hourly aggregate
  * ([[graft.etl.FileLocalAggregate.Strategy]], which plans only its own
  * node).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(hashes, k) - k-permutation MinHash signature of array<bigint>"),
      (es: Seq[Expression]) => MinHashSignature(es(0), {
        val v = es(1).eval(null)
        require(v != null, "minhash_signature: k must be a literal int")
        v.asInstanceOf[Number].intValue
      })))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(hashes) - 64-bit SimHash of array<bigint>"),
      (es: Seq[Expression]) => SimHash64(es(0))))
    e.injectFunction((
      FunctionIdentifier("top_centroids"),
      info("top_centroids",
        "top_centroids(vec, centroids, n) - indices of the n most cosine-similar centroids"),
      (es: Seq[Expression]) => TopCentroids(es(0), es(1), es(2))))
    e.injectFunction((
      FunctionIdentifier("top_k_by"),
      info("top_k_by",
        "top_k_by(score, id, k) - aggregate: k best (id, score) pairs, best first"),
      (es: Seq[Expression]) => TopKByScore(es(0), es(1), es(2))))
    e.injectFunction((
      FunctionIdentifier("double_sort_bits"),
      info("double_sort_bits",
        "double_sort_bits(x) - bigint whose signed order equals the double's value order"),
      (es: Seq[Expression]) => graft.functions.DoubleSortBits(es(0))))
    e.injectFunction((
      FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted",
        "jaccard_sorted(a, b) - exact Jaccard of two SORTED array<bigint> hash sets"),
      (es: Seq[Expression]) => graft.functions.JaccardSorted(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("char_entropy"),
      info("char_entropy",
        "char_entropy(s) - Shannon entropy (nats) over the string's code points"),
      (es: Seq[Expression]) => graft.functions.CharEntropy(es(0))))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonicalization"),
      (es: Seq[Expression]) => graft.functions.NfcNormalize(es(0))))
    e.injectFunction((
      FunctionIdentifier("strip_accents"),
      info("strip_accents",
        "strip_accents(s) - remove combining-mark diacritics (NFD, drop Mn)"),
      (es: Seq[Expression]) => graft.functions.StripAccents(es(0))))
    e.injectFunction((
      FunctionIdentifier("jaro_winkler_sim"),
      info("jaro_winkler_sim",
        "jaro_winkler_sim(a, b) - Jaro-Winkler similarity of two strings"),
      (es: Seq[Expression]) => graft.functions.JaroWinklerSim(es(0), es(1))))
    e.injectFunction((
      FunctionIdentifier("fix_mojibake"),
      info("fix_mojibake",
        "fix_mojibake(s) - repair latin1/cp1252 double-encoded UTF-8 text"),
      (es: Seq[Expression]) => graft.functions.FixMojibake(es(0))))
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    e.injectOptimizerRule(_ => graft.plans.OverlapJoinRewrite)
    e.injectOptimizerRule(_ => graft.plans.PreAggExpandRewrite)
    e.injectOptimizerRule(_ => graft.plans.RollupViewRewrite)
    e.injectPlannerStrategy(_ => graft.etl.FileLocalAggregate.Strategy)
  }
}
