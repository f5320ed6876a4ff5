package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.ext.{CrossDedup, Dedup, Multimodal, NgramJaccard, SemDedup, Similarity, SimHash, Skew, TextStats}
import graft.streaming.StreamingContamination

/** Extension-operator queries (SURVEY §2.8 X1–X66): the training-data-pipeline
  * surface. Oracle-checkable entries (portable SQL) are in [[oracleSql]];
  * the rest are Tier B (driver records rows-only; semantics verified by
  * ScalaTest/property specs).
  *
  * Near-dup queries run against `withPlantedDups`: the documents table plus
  * deterministic mutated copies, so the dedup operators demonstrably fire on
  * data whose true duplicate structure is known by construction (the raw
  * synthetic table has 500 fully distinct texts).
  */
object ExtQueries {

  import Queries.Q

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** documents ∪ near-copies: for doc_id < 25, append one token to the text
    * and re-id as doc_id + 1,000,000 (high Jaccard with the original);
    * for doc_id < 10 add an EXACT copy re-id'd + 2,000,000. */
  def withPlantedDups(docs: DataFrame): DataFrame = {
    val near = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" appended")))
    val exact = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    docs.unionByName(near).unionByName(exact)
  }

  /** The PROVABLE variant for the fully-oracled flagship: the +1M copies
    * are whitespace-doubled instead of token-appended — identical token
    * arrays (⇒ identical shingle sets ⇒ identical MinHash signatures, so
    * threshold-1.0 removal is provable, recall 1 by construction) but
    * different raw text, so exact dedup keeps them and the near-dup stage
    * is what demonstrably removes them. */
  def withPlantedDupsProvable(docs: DataFrame): DataFrame = {
    val near = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", regexp_replace(col("text"), " ", "  "))
    val exact = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    docs.unionByName(near).unionByName(exact)
  }

  // ------------------------------------------------ oracle-checked (SQL)

  /** X1 — exact dedup groups: surviving id + copy count per distinct text. */
  val x1_dedup_exact: Q = (s, d) =>
    Dedup.duplicateGroups(withPlantedDups(t(s, d, "documents")), "text", "doc_id")
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** X4 — token statistics through the TextStats operators. */
  val x4_text_stats: Q = (s, d) => {
    val text = col("text")
    t(s, d, "documents").select(
        col("doc_id"),
        TextStats.tokenCount(text).cast("long").as("n_tokens"),
        round(TextStats.meanTokenLength(text), 4).as("mean_token_len"),
        length(text).cast("long").as("len_chars"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ Tier B (rows-only)

  /** X1 — full exact-dedup operator output (content-hash shuffle path).
    * Oracle-checked (the x72 pattern): the oracle keeps min-doc_id per
    * TEXT where the engine partitions by (xxhash64, length) — equality
    * re-pins the hash-grouping fidelity at surviving-row granularity. */
  val x1_dedup_exact_rows: Q = (s, d) =>
    Dedup.exactByContent(withPlantedDups(t(s, d, "documents")), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** X2 — MinHash+LSH near-dup pairs (verified Jaccard ≥ 0.7),
    * ORACLE-CHECKED (promoted round 11 from Tier B): over the SF-stable
    * doc_id<500 slice + plants, DuckDB computes the EXHAUSTIVE
    * shingle-set Jaccard for all 143k pairs — so the engine's LSH recall
    * is ON THE HASH, not just its verified precision. The data makes
    * this sound: every true pair sits at j ≥ 0.90 (banding miss ≤ 1.1%
    * per pair against the default 8×8 banding — and deterministic: the
    * hashes and data are fixed, so present recall is permanent) and the
    * nearest non-pair is at j = 0.067, a 13× margin below the 0.7
    * threshold. Unbounded-corpus recall stays property-tested (an
    * exhaustive oracle cannot scale past the slice; that is WHY LSH
    * exists). */
  val x2_minhash_neardup: Q = (s, d) =>
    Dedup.nearDupPairs(
        withPlantedDups(t(s, d, "documents").filter(col("doc_id") < 500)),
        "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** X2 — SimHash near-dup, ORACLE-CHECKED subcase (promoted round 9,
    * the x3_ann_lsh/x84 pattern): the full SimHash pipeline —
    * fingerprint, Hamming banding, verify — run at radius 0 with a
    * sorted-token-equality verify gate. Identical token multisets give
    * identical fingerprints (simhash64 accumulates order-independently)
    * ⇒ recall 1 by construction; the verify gate makes precision exact.
    * DuckDB recomputes the pairs as a sorted-token-list equality
    * self-join. The probabilistic Hamming ≤ 3 radius on mutated copies
    * stays covered by SimHashSpec. */
  val x2_simhash_neardup: Q = (s, d) =>
    SimHash.exactDupPairs(withPlantedDups(t(s, d, "documents")), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** X2 — exact n-gram Jaccard pairs (inverted-index join). */
  val x2_ngram_jaccard: Q = (s, d) =>
    NgramJaccard.pairs(withPlantedDups(t(s, d, "documents")), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** X2 — embedding-cosine near-dup pairs (planted exact copies). */
  val x2_embed_neardup: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val planted = emb.unionByName(
      emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    Similarity.nearDupPairs(planted).orderBy(col("id_a"), col("id_b"))
  }

  /** X2 — MinHash dedup end-to-end, ORACLE-CHECKED (promoted round 9 from
    * Tier B): the full pipeline — shingle → signature → LSH banding →
    * exact-Jaccard verify → connected components → survivor selection —
    * run at verification threshold 1.0. At that threshold the output is
    * PROVABLE, not probabilistic: identical shingle sets ⇒ identical
    * signatures ⇒ identical band keys, so every qualifying pair is a
    * guaranteed candidate (recall 1 by construction); the verify step
    * keeps exactly Jaccard = 1.0, i.e. shingle-SET equality — an
    * equivalence relation, so components are equality classes and the
    * survivor set is min-id per class. DuckDB recomputes that class key
    * directly (sorted distinct 3-gram list per text) and windows over it.
    * The sub-1.0 probabilistic radius stays covered by x2_minhash_neardup
    * (Tier B by design) and the recall property specs. */
  val x2_minhash_dedup: Q = (s, d) =>
    Dedup.dedupNear(withPlantedDups(t(s, d, "documents")), "doc_id", "text",
        Dedup.MinHashParams(threshold = 1.0))
      .select(col("doc_id")).orderBy(col("doc_id"))

  /** X3 — exact brute-force cosine top-k (k=5, first 10 vectors as queries). */
  val x3_ann_bruteforce: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.bruteForceTopK(emb, queries, k = 5)
      .select(col("query_id"), col("id"), round(col("score"), 4).as("score"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** X3 — LSH-bucketed top-k, ORACLE-CHECKED subcase (promoted round 9
    * from Tier B): queries drawn FROM the corpus run the full multi-table
    * sign-LSH pipeline (bucket keys, single-bit probes, candidate join,
    * cosine scoring, rank window) and the rank-1 row is PROVABLE — an
    * identical vector lands in identical buckets in every table (self-
    * collision by construction), scores cosine 1.0, and nothing else can
    * reach 1.0 on this corpus — so top-1 = self for all 50 queries, which
    * DuckDB states directly. The approximate ranks 2..k remain covered by
    * the recall property specs.
    *
    * Precondition (shared with x3_ann_ivf): the generated embeddings
    * for vec_id < 50 are pairwise non-parallel — no second vector ties
    * at cosine 1.0. This holds for the driver's random generator by
    * construction; if a future generator ever planted a duplicate, the
    * rank window's (score DESC, id) tie-break makes the failure a
    * DETERMINISTIC hash mismatch on the smaller id, not a flaky one. */
  val x3_ann_lsh: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.lshTopK(emb, queries, k = 5)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("id"), round(col("score"), 4).as("score"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"))
  }

  /** X3 — exact top-k via the single-pass TopKByScore aggregate (same
    * queries/results as x3_ann_bruteforce; heap-merge shuffle, no window). */
  val x3_ann_topk_agg: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.bruteForceTopKAgg(emb, queries, k = 5)
      .select(col("query_id"), col("id"), round(col("score"), 4).as("score"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** X3 — IVF (inverted-file) top-k, ORACLE-CHECKED subcase (promoted
    * round 10 from Tier B, the x3_ann_lsh trick): queries drawn FROM the
    * corpus run the full pipeline — k-means training, inverted-list
    * assignment, nprobe centroid probe, list equi-join, cosine scoring,
    * rank window — and the rank-1 row is PROVABLE for ANY trained model:
    * the query IS a corpus vector, its indexed copy lives in the list of
    * its nearest centroid, and the probe set (the query's own nprobe ≥ 1
    * nearest centroids, same expression on the same vector) always
    * contains that list — so self is always a candidate, scores cosine
    * 1.0, and (the corpus has no duplicate/parallel vectors in this id
    * range — the x3_ann_lsh precondition) nothing else rounds to 1.0.
    * Top-1 = self for all 10 queries, which DuckDB states directly. The
    * approximate ranks 2..k remain covered by IvfSpec's recall pins. */
  val x3_ann_ivf: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val model = graft.ext.Ivf.train(emb, k = 16, iters = 3)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.ext.Ivf.topK(emb, queries, model, k = 5, nprobe = 4)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("id"), round(col("score"), 4).as("score"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"))
  }

  /** X4 — language-ID histogram over the enriched documents table. */
  /** X4 — language-ID histogram + quality means, oracle-checked (round
    * 8 promotion): BOTH heuristics — the stopword-profile argmax
    * language-ID and the 4-component qualityScore — are reproduced
    * component-for-component in DuckDB SQL (same regexes from the
    * RE2/Java-portable subset, same arithmetic order, the q44 +1e-9
    * round guards), so the kernels are pinned cross-engine, not just
    * spec-asserted. */
  val x4_langid: Q = (s, d) =>
    TextStats.enrich(t(s, d, "documents"))
      .groupBy(col("lang_id"))
      .agg(count(lit(1)).as("docs"),
        round(avg(col("quality")) + lit(1e-9), 4).as("avg_quality"))
      .orderBy(col("lang_id"))

  /** X4 — fingerprints: stable content hash + rolling min-hash over word
    * 5-gram windows. The face runs both kernels over the portable
    * md5-52-bit hash so DuckDB replays the identical normalization,
    * windowing and min — pinning the fingerprint ALGORITHM (trim →
    * whitespace-collapse → lower for fp64; token windows → min for the
    * rolling hash), not just row counts. Engine-native xxhash64
    * fingerprints (the production/streaming-dedup path) are spec-covered. */
  val x4_fingerprint: Q = (s, d) =>
    t(s, d, "documents").select(
        col("doc_id"),
        TextStats.fingerprint64(col("text"),
          TextStats.portableHash52).as("fp64"),
        TextStats.rollingMinHash(col("text"),
          hasher = TextStats.portableHash52).as("rolling_fp"))
      .orderBy(col("doc_id"))

  /** X5 — multimodal stub pipeline: synthesize → batched decode →
    * per-mime feature aggregate (includes planted-corrupt accounting). */
  /** X5 — multimodal feature extraction, ORACLE-CHECKED (promoted round
    * 10, the x9_zorder pattern): the synthesized corpus's geometry is a
    * pure function of the id (PNG/video width = 8+(i%5)·4, audio "width"
    * = the 8000 Hz sample rate; corrupt rows at i%97=13), so the per-mime
    * decode report — REAL ImageIO and javax.sound decodes included — is
    * SQL-stateable and hash-checked against DuckDB's range() formula.
    * The one non-SQL-able column (total encoded bytes: codec-dependent)
    * becomes a runtime gate instead of a reported number. */
  val x5_multimodal: Q = (s, d) => {
    val media = Multimodal.synthesize(s, 500)
    val feats = Multimodal.extractFeatures(media)
    val report = feats.groupBy(col("mime"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
        round(avg(when(col("valid"), col("width"))), 4).as("avg_width"),
        sum(col("size_bytes")).as("__bytes"))
      .orderBy(col("mime"))
      .collect()
    report.foreach { r =>
      require(r.getLong(r.fieldIndex("__bytes")) > 0,
        s"${r.getString(0)}: encoded corpus has zero bytes") }
    import s.implicits._
    report.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .toDF("mime", "n_items", "n_valid", "avg_width")
  }

  /** X4 — term frequency via explode + groupBy (the TF building block). */
  val x4_term_freq: Q = (s, d) =>
    t(s, d, "documents")
      .select(explode(TextStats.tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word"))

  /** A3 — approximate distinct (HLL++), ORACLE-CHECKED (promoted round
    * 11 from Tier B, the x8_hll_merge exact-regime pattern): a bounded
    * SF-STABLE key slice (o_custkey < 300 — the same distinct-key SET at
    * every SF, and HLL depends only on the distinct hash set) at
    * rsd 0.005 sits in the estimator's exact regime on this fixed data
    * (SURVEY §6.11: 300 == 300; the hashes are deterministic, so it stays
    * there), letting DuckDB state the expected estimate as the exact
    * COUNT(DISTINCT). The default-rsd approximate contract stays covered
    * by the exact column carried alongside in history + the sketch
    * property specs. */
  val a3_approx_distinct: Q = (s, d) =>
    t(s, d, "orders").filter(col("o_custkey") < 300)
      .agg(
        approx_count_distinct(col("o_custkey"), 0.005).as("approx_custs"),
        countDistinct(col("o_custkey")).as("exact_custs"))

  /** A4 — approximate quantiles (Greenwald-Khanna sketch),
    * ORACLE-CHECKED (promoted round 11 from Tier B): at accuracy 100000
    * over the SF-stable l_orderkey < 2000 slice (≤ 2700 rows/group at
    * any SF — ScaleUp shifts orderkeys, so scaled sets add no rows) the
    * GK rank error n/(2·accuracy) < 0.014 < 1/2, so the sketch returns
    * the EXACT order statistic; SURVEY §6.11 confirms Spark's rank
    * convention coincides with DuckDB's quantile_disc bit-for-bit on
    * all six (group, p) cells of this data. The loose-accuracy
    * approximate contract stays spec-covered; exact interpolated median
    * carried alongside (q44 +1e-9 rounding guard — price midpoints can
    * land on a .xx5 boundary). */
  val a4_approx_quantile: Q = (s, d) =>
    t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
      .groupBy(col("l_returnflag"))
      .agg(
        round(element_at(percentile_approx(col("l_extendedprice"),
          typedlit(Seq(0.5, 0.95)), lit(100000)), 1), 2).as("approx_p50"),
        round(element_at(percentile_approx(col("l_extendedprice"),
          typedlit(Seq(0.5, 0.95)), lit(100000)), 2), 2).as("approx_p95"),
        round(median(col("l_extendedprice")) + lit(1e-9), 2).as("exact_p50"))
      .orderBy(col("l_returnflag"))

  /** X8 — one-pass dataset profile over documents (Tier B: HLL distinct
    * estimates are engine-specific). */
  val x8_profile: Q = (s, d) =>
    graft.ext.Profile.describe(t(s, d, "documents"))
      .select(col("column"), col("type"), col("rows"), col("nulls"),
        round(col("null_frac"), 4).as("null_frac"))
      .orderBy(col("column"))

  /** Skew-mitigation surface: salted two-phase aggregation must equal the
    * plain group-by (checked against the SQL oracle). */
  val x6_salted_agg: Q = (s, d) =>
    Skew.saltedAggregate(
        t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity")),
        keys = Seq("l_returnflag"), saltFactor = 8,
        countCols = Seq("l_quantity"), sumCols = Seq("l_quantity"))
      .select(col("l_returnflag"), col("l_quantity_count"),
        round(col("l_quantity_sum"), 2).as("l_quantity_sum"))
      .orderBy(col("l_returnflag"))

  /** X7 — deterministic hash-sampling: stable ~10% subset selection by
    * content-hash threshold (how a 100 TB corpus gets a reproducible
    * training subsample without a full sort or RNG state). The face
    * draws with the portable md5-52-bit hash so DuckDB reproduces the
    * identical subset (the x54/x60 pattern); the engine-native
    * xxhash64 threshold draw is spec-covered. */
  val x7_hash_sample: Q = (s, d) =>
    t(s, d, "documents")
      .filter(pmod(graft.ext.TextStats.portableHash52(col("text")),
        lit(10L)) === 0L)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** X4 — token-window chunking (training-sequence packing). */
  val x4_chunking: Q = (s, d) =>
    graft.ext.TextChunk.chunkTokens(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text", maxTokens = 32, overlap = 4)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** X7 — deterministic weighted source mixing (training-mix op). The
    * face passes the portable md5-52-bit draw so DuckDB reproduces the
    * exact same per-source subsets (the x54/x60 pattern); the
    * engine-native xxhash64 draw is spec-covered. */
  val x7_weighted_mix: Q = (s, d) => {
    val docs = t(s, d, "documents")
    graft.ext.Mixing.weightedUnion(Seq(
        "en_heavy" -> (docs.filter(col("lang") === "en"), 0.9),
        "rest_light" -> (docs.filter(col("lang") =!= "en"), 0.3)),
        keyCol = "doc_id",
        drawHash = Some(name => pmod(graft.ext.TextStats.portableHash52(
          concat(col("doc_id").cast("string"), lit(":" + name))), lit(10000L))))
      .groupBy(col("mix_source"))
      .agg(count(lit(1)).as("docs"))
      .orderBy(col("mix_source"))
  }

  /** X5 — frame sampling, ORACLE-CHECKED (promoted round 10): the
    * per-modality frame counts of the synthesized corpus are pure
    * functions of the id (images decode to 1 frame, synthetic video to
    * 1+(i%7), WAV to its 32+(i%50) PCM frames; the i%97=13 corrupt is
    * excluded by the valid filter), so the every-2nd-frame explode is
    * exactly a DuckDB generate_series over the same formulas. */
  val x5_frame_sample: Q = (s, d) =>
    Multimodal.sampleFrames(Multimodal.synthesize(s, 100), everyN = 2)
      .select(col("media_id"), col("uri"),
        col("frame_idx").cast("long").as("frame_idx"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** X5 — real-image resize, ORACLE-CHECKED round trip (promoted round
    * 10): every PNG row runs encode → real ImageIO decode → bilinear
    * fit-to-4 resize → PNG re-encode, and the face decodes the
    * THUMBNAILS BACK through the same codec — the recovered geometry is
    * the pure resize arithmetic (tw = 4, th = round(32/w) for the
    * corpus's w = 8+(i%5)·4, h = 8 sources), which DuckDB states
    * directly. Non-image rows (video/audio/corrupt bytes) yield no
    * thumbnail and drop out, which the oracle's i%3=0 filter mirrors —
    * so the full decode–resize–re-encode–decode loop is hash-checked
    * per row, not just counted. */
  val x5_thumbnail: Q = (s, d) => {
    import s.implicits._
    val thumbs = Multimodal.thumbnails(Multimodal.synthesize(s, 200), maxDim = 4)
    val asMedia = thumbs.filter(col("thumb_png").isNotNull)
      .select(col("media_id"), col("uri"), lit("image/png").as("mime"),
        col("thumb_png").as("data"))
      .as[Multimodal.MediaRow]
    Multimodal.extractFeatures(asMedia)
      .filter(col("valid"))
      .select(col("media_id"), col("width").cast("long").as("thumb_w"),
        col("height").cast("long").as("thumb_h"))
      .orderBy(col("media_id"))
  }

  /** X5 — real-audio features, ORACLE-CHECKED (promoted round 10, the
    * x9_zorder pattern): every WAV row decodes through javax.sound
    * (16-bit PCM); the decoded rate/channels/sample-count are pure
    * functions of the id in the synthesized corpus (8000 Hz, mono,
    * 32+(i%50) samples; audio rows are i%3=2 minus the i%97=13 corrupts),
    * so the PER-ROW decode output hash-checks against DuckDB's range()
    * formula — a real encode→decode round trip certified cross-engine.
    * The non-SQL-able feature (RMS of the LCG noise: uniform white ⇒
    * ≈ 1/√3) becomes a runtime gate on every decoded row. */
  val x5_audio: Q = (s, d) => {
    val feats = Multimodal.audioFeatures(Multimodal.synthesize(s, 200))
    val rms = feats.filter(col("rms").isNotNull)
      .agg(min(col("rms")), max(col("rms"))).head()
    require(rms.getDouble(0) > 0.35 && rms.getDouble(1) < 0.8,
      s"decoded PCM RMS outside the uniform-noise band: $rms")
    feats.select(col("media_id"), col("sample_rate"), col("channels"),
        col("n_samples"))
      .orderBy(col("media_id"))
  }

  /** X7 — deterministic train/val/test split (~80/10/10): assignment by
    * md5 of the stable document id against hex thresholds — portable
    * across engines AND runs (no sample() nondeterminism, no shuffle; a
    * row's split never changes when the corpus grows, which is what
    * makes downstream eval sets stable). Oracle-checked string-for-string
    * on the assignment itself, not just the counts. */
  val x7_split: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        when(md5(col("doc_id").cast("string")) < "cccccccc", "train")
          .when(md5(col("doc_id").cast("string")) < "e6666666", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  /** X9 — Bloom-pruned semi join: exact semantics (oracle = plain IN); the
    * fact side dies against a 128 KB bitset of the dim keys before any
    * join machinery runs. */
  val x9_bloom_semi: Q = (s, d) =>
    graft.ext.BloomPrune.semiJoinPruned(
        t(s, d, "orders"),
        t(s, d, "customer").filter(col("c_acctbal") > 8000),
        "o_custkey", "c_custkey")
      .select(col("o_orderkey"))
      .orderBy(col("o_orderkey"))

  /** X3 — int8 quantization audit: per-vector scale plus exact integer
    * sums of the quantized codes (integer arithmetic → hash-exact across
    * engines; the float-level error bound lives in the spec). */
  val x3_quantize: Q = (s, d) => {
    val q = graft.ext.Quantize.quantizeInt8(t(s, d, "embeddings"))
    q.select(
        col("vec_id"),
        round(col("qscale"), 6).as("qscale"),
        aggregate(col("qvec"), lit(0L), _ + _).as("qsum"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x * x).as("qnorm"))
      .orderBy(col("vec_id"))
  }

  /** X41 oracle model: a deterministic literal model whose constants both
    * engines compute from the same closed forms — exact binary fractions
    * (sixteenths/eighths) so the per-term products stay exact and only
    * the 64-term accumulation order can differ at the last ulp (ROUND 4
    * absorbs it, the x3 cosine pattern). The FIT side (moments kernel +
    * Jacobi) is spec-verified (PcaSpec) — no SQL engine can replicate an
    * eigendecomposition, so the oracle pins the projection kernel. */
  private val pcaDim = 64
  private val pcaK = 3
  private def pcaComp(j: Int, i: Int): Double = (((i * 7 + j * 13) % 17) - 8) / 16.0
  private def pcaMean(i: Int): Double = ((i % 5) - 2) / 8.0
  private def pcaModel = graft.ext.Pca.Model(
    mean = (0 until pcaDim).map(pcaMean),
    components = (0 until pcaK).map(j => (0 until pcaDim).map(i => pcaComp(j, i))),
    eigenvalues = IndexedSeq.fill(pcaK)(1.0))

  /** X41 — PCA projection audit ([[graft.ext.Pca]]): embeddings projected
    * onto the deterministic literal model, coordinates as rounded columns. */
  val x41_pca_project: Q = (s, d) =>
    t(s, d, "embeddings")
      .select(col("vec_id"),
        graft.ext.Pca.projectCol(col("embedding"), pcaModel).as("p"))
      .select(col("vec_id"),
        round(element_at(col("p"), 1), 4).as("p0"),
        round(element_at(col("p"), 2), 4).as("p1"),
        round(element_at(col("p"), 3), 4).as("p2"))
      .orderBy(col("vec_id"))

  /** The DuckDB face of [[x41_pca_project]], generated from the SAME
    * constants: centered dot = raw dot − (mean·component), the second
    * term folded to a literal. */
  /** The DuckDB face of the WHOLE [[x0_pipeline]] chain — one 13-stage
    * CTE replaying every operator (see the query scaladoc). Generated so
    * the group-split hash bounds come from [[graft.ext.Splits.boundsHex]]
    * — the exact doubles byGroup assigns with. The planted double-space
    * mutation is written `' ' || ' '` because the oracle map collapses
    * whitespace runs, which would fold a two-space literal. */
  private[queries] def x0PipelineOracleSql: String = {
    val Seq(b80, b90) = graft.ext.Splits.boundsHex(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).toSeq
    s"""WITH planted AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, regexp_replace(text, ' ', ' ' || ' ', 'g'),
      |    source
      |  FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000, text, source FROM documents WHERE doc_id < 10),
      | s2 AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |    FROM planted) t WHERE rn = 1),
      | k3 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
      |         ELSE array_to_string(list_sort(list_distinct(
      |           list_transform(range(1, len(t) - 1),
      |             i -> array_to_string(t[i:i+2], chr(1))))), chr(2))
      |    END AS k
      |  FROM (SELECT doc_id, text,
      |      regexp_split_to_array(trim(text), '\\s+') AS t FROM s2) tt),
      | s3 AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rn
      |    FROM k3) t WHERE rn = 1),
      | l4 AS (
      |  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM s3) t),
      | h4 AS (SELECT line FROM l4 GROUP BY line HAVING COUNT(*) > 100),
      | s4 AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      |  FROM l4 WHERE line NOT IN (SELECT line FROM h4) GROUP BY doc_id),
      | t5 AS (
      |  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
      |  FROM (SELECT doc_id, str_split_regex(trim(text), '\\s+') AS arr
      |        FROM s4 WHERE len(trim(text)) > 0) t),
      | g5 AS (
      |  SELECT doc_id, pos, tok,
      |    CASE WHEN lead(tok, 7) OVER w IS NOT NULL THEN
      |      tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
      |      || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
      |      || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
      |      || ' ' || lead(tok, 7) OVER w
      |    END AS gram
      |  FROM t5 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      | d5 AS (SELECT gram FROM g5 WHERE gram IS NOT NULL
      |        GROUP BY gram HAVING COUNT(*) > 1),
      | c5 AS (
      |  SELECT doc_id, pos, tok,
      |    max(CASE WHEN gram IN (SELECT gram FROM d5) THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
      |  FROM g5),
      | s5 AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
      |        FROM c5 WHERE c = 0 GROUP BY doc_id),
      | f6 AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) AS DOUBLE) AS lc,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(str_split_regex(trim(text), '\\s+')) END AS ntok,
      |    len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS np,
      |    len(regexp_extract_all(text,
      |      '(?i)\\b(the|and|of|to|a|in|is|that|it|for)\\b')) AS hen,
      |    len(regexp_replace(trim(text), '\\s+', '', 'g')) AS nws,
      |    list_transform(list_zip(
      |        str_split_regex(trim(text), '\\s+')[1:-2],
      |        str_split_regex(trim(text), '\\s+')[2:]),
      |      p -> p[1] || ' ' || p[2]) AS g2
      |  FROM s5),
      | s6 AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      ROUND(least(lc / 400.0, 1.0) * 0.3
      |        + greatest(0.0, 1.0
      |            - (CASE WHEN lc = 0 THEN 0.0 ELSE np / lc END) * 5.0) * 0.2
      |        + (CASE WHEN (CASE WHEN ntok = 0 THEN 0.0
      |                      ELSE CAST(nws AS DOUBLE) / ntok END)
      |                BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
      |        + least((CASE WHEN ntok = 0 THEN 0.0
      |                 ELSE CAST(hen AS DOUBLE) / ntok END) * 4.0, 1.0) * 0.2
      |        + 1e-9, 4) AS quality,
      |      CASE WHEN len(g2) = 0 THEN 0.0
      |           ELSE 1.0 - list_unique(g2) * 1.0 / len(g2) END AS rep2
      |    FROM f6) t
      |  WHERE quality >= 0.3 AND rep2 <= 0.2),
      | s7 AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      list_transform(list_zip(btoks[1:-2], btoks[2:]),
      |        p -> p[1] || ' ' || p[2]) AS bg2
      |    FROM (SELECT doc_id, text, list_filter(
      |        regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |        x -> len(x) > 0) AS btoks FROM s6) t) tt
      |  WHERE NOT (list_contains(bg2, 'forbidden content')
      |    OR list_contains(bg2, 'do not train')
      |    OR list_contains(bg2, 'opt out'))),
      | lt AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |    x -> x <> '') AS ts
      |  FROM s7),
      | bi AS (
      |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      |  FROM lt, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g
      |  WHERE len(ts) >= 2),
      | bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
      | uc AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
      | v AS (SELECT COUNT(DISTINCT w1) AS vv FROM bi),
      | nl AS (
      |  SELECT bi.doc_id,
      |    ROUND(AVG(-ln((c12 + 0.5) / (c1 + 0.5 * vv))), 4) AS nll
      |  FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
      |  GROUP BY bi.doc_id),
      | s8 AS (
      |  SELECT s7.doc_id, s7.text, CAST(length(s7.text) AS BIGINT) AS n_chars,
      |    p.source, nl.nll
      |  FROM s7 JOIN planted p ON s7.doc_id = p.doc_id
      |  JOIN nl ON s7.doc_id = nl.doc_id),
      | s9 AS (
      |  SELECT doc_id, text, n_chars, source FROM (
      |    SELECT s8.*, NTILE(10) OVER (ORDER BY nll, doc_id) AS tile
      |    FROM s8) t
      |  WHERE tile <= 9),
      | s10 AS (
      |  SELECT doc_id, text, n_chars, source FROM (
      |    SELECT doc_id, text, n_chars, source,
      |      ROUND(1.0 / (1.0 + exp(-(-3.0 + 0.9 * ln(1.0 + t)
      |        + 0.35 * m - 0.25 * ln(1.0 + n_chars)))), 4) AS score
      |    FROM (SELECT doc_id, text, n_chars, source,
      |        len(str_split_regex(trim(text), '\\s+')) AS t,
      |        CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
      |          / len(str_split_regex(trim(text), '\\s+')) AS m
      |      FROM s9) a) b
      |  WHERE score >= 0.5),
      | s11 AS (
      |  SELECT doc_id, text, source FROM (
      |    SELECT doc_id, text, source,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY n_chars DESC, doc_id) AS rk
      |    FROM s10) t WHERE rk <= 200)
      | SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
      |       ELSE len(str_split_regex(trim(text), '\\s+')) END) AS BIGINT)
      |    AS n_tokens
      | FROM (
      |  SELECT text,
      |    CASE WHEN md5(source) < '$b80' THEN 'train'
      |         WHEN md5(source) < '$b90' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM s11) t
      | GROUP BY split ORDER BY split"""
  }

  /** The DuckDB face of the WHOLE [[x0_web_pipeline]] chain. Every input
    * is synthesized from doc_id arithmetic, so each stage's output is
    * replayable: the page reconstructed verbatim, the x61 strip chain,
    * mojibake repair as the two planted-sequence replaces (the kernel
    * itself is pinned by x81), the canonical URL and registered domain
    * as the closed form the construction fixes, the min-id-per-canon
    * dedup window, the 4-component quality score, and the per-domain
    * quality cap. Mojibake bytes are written chr()-wise so the oracle
    * map's whitespace collapse cannot touch them. */
  private[queries] def x0WebPipelineOracleSql: String = {
    val mojiA = "chr(226) || chr(8364) || chr(8482)" // the miscoded U+2019
    val mojiE = "chr(195) || chr(169)"               // the miscoded U+00E9
    s"""WITH pages AS (
      |  SELECT doc_id, source, text,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><style>p{}</style><script>if(1<2){}</script></head><body><p>'
      |    || text ||
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN ' ' || $mojiA || 'brand' || $mojiA || ' caf' || $mojiE
      |          ELSE '' END) || '</p></body></html>' AS h,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) || source ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '.com' ELSE '.co.uk' END) ||
      |    '/p/' || CAST(doc_id % 150 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '?a=1' END) AS canon,
      |    source ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '.com' ELSE '.co.uk' END) AS rdom
      |  FROM documents),
      | stripped AS (
      |  SELECT doc_id, canon, rdom,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |            '(?s)<!--.*?-->', ' ', 'g'),
      |          '<[^>]+>', ' ', 'g'),
      |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
      |        '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
      |      '\\s+', ' ', 'g')) AS clean0,
      |    CAST(length(h) AS DOUBLE) AS hlen
      |  FROM pages),
      | extracted AS (
      |  SELECT doc_id, canon, rdom,
      |    replace(replace(clean0, $mojiA, chr(8217)), $mojiE, chr(233)) AS text,
      |    length(clean0) / hlen AS vr
      |  FROM stripped),
      | deduped AS (
      |  SELECT doc_id, rdom, text, vr FROM (
      |    SELECT doc_id, rdom, text, vr,
      |      ROW_NUMBER() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
      |    FROM extracted) t WHERE rn = 1),
      | scored AS (
      |  SELECT doc_id, rdom, text, vr,
      |    ROUND(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.3
      |      + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
      |          ELSE len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))
      |            * 1.0 / length(text) END) * 5.0) * 0.2
      |      + (CASE WHEN (CASE WHEN ntok = 0 THEN 0.0
      |                    ELSE CAST(nws AS DOUBLE) / ntok END)
      |              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
      |      + least((CASE WHEN ntok = 0 THEN 0.0
      |          ELSE len(regexp_extract_all(text,
      |            '(?i)\\b(the|and|of|to|a|in|is|that|it|for)\\b'))
      |            * 1.0 / ntok END) * 4.0, 1.0) * 0.2
      |      + 1e-9, 4) AS quality
      |  FROM (SELECT *,
      |      CASE WHEN len(trim(text)) = 0 THEN 0
      |           ELSE len(str_split_regex(trim(text), '\\s+')) END AS ntok,
      |      len(regexp_replace(trim(text), '\\s+', '', 'g')) AS nws
      |    FROM deduped) t),
      | screened AS (
      |  SELECT doc_id, rdom, text, quality FROM scored
      |  WHERE vr >= 0.05 AND quality >= 0.3),
      | capped AS (
      |  SELECT doc_id, rdom, text FROM (
      |    SELECT doc_id, rdom, text,
      |      ROW_NUMBER() OVER (PARTITION BY rdom
      |        ORDER BY quality DESC, doc_id) AS rk
      |    FROM screened) t WHERE rk <= 100)
      | SELECT rdom, COUNT(*) AS n_pages,
      |  CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
      |       ELSE len(str_split_regex(trim(text), '\\s+')) END) AS BIGINT)
      |    AS n_tokens
      | FROM capped GROUP BY rdom ORDER BY rdom"""
  }

  private[queries] def x41OracleSql: String = {
    def lst(xs: Seq[Double]): String = xs.mkString("[", ", ", "]")
    val cols = (0 until pcaK).map { j =>
      val comp = (0 until pcaDim).map(i => pcaComp(j, i))
      val meanDot = (0 until pcaDim).map(i => pcaMean(i) * pcaComp(j, i)).sum
      s"ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), ${lst(comp)}) - ($meanDot), 4) AS p$j"
    }.mkString(", ")
    s"SELECT vec_id, $cols FROM embeddings ORDER BY vec_id"
  }

  /** X42 — skip-gram co-occurrence counts ([[graft.ext.Cooccur]]): the
    * GloVe-style embedding-training prep pass over the documents table.
    * window=2 keeps every 1/distance weight an exact binary fraction
    * (1.0 or 0.5), so `wsum` is hash-exact across engines, not just
    * round-tolerant. */
  val x42_cooccur: Q = (s, d) =>
    graft.ext.Cooccur.pairCounts(t(s, d, "documents"), window = 2)
      .select(col("wa"), col("wb"), col("n"), round(col("wsum"), 4).as("wsum"))
      .orderBy(col("n").desc, col("wa"), col("wb"))

  /** X8 — mergeable cardinality sketches, ORACLE-CHECKED (promoted round
    * 11 from Tier B): per-segment HLL estimates plus the union-merged
    * global estimate (the re-aggregatable form a rollup store needs —
    * exact COUNT(DISTINCT) cannot merge). The promotion rests on the
    * DataSketches exact regime: a bounded-cardinality slice
    * (c_custkey < 1500 — the SAME key set at every SF, the x2_fuzzy
    * pattern) at lgK=14 keeps every sketch in coupon mode, where the
    * estimate IS the exact distinct count (probe-verified: per-segment,
    * ALL, and merged≡direct all exact) — so DuckDB's exact
    * COUNT(DISTINCT) states the expected output directly. A require()
    * gate surfaces the mergeability identity in-query: the union-merged
    * estimate must equal the single sketch built over the whole slice.
    * Unbounded-cardinality (approximate) behavior stays property-tested
    * in the sketch specs. */
  val x8_hll_merge: Q = (s, d) => {
    val c = t(s, d, "customer").filter(col("c_custkey") < 1500)
    val sk = c.groupBy(col("c_mktsegment"))
      .agg(expr("hll_sketch_agg(c_custkey, 14)").as("sk"))
    val per = sk.select(col("c_mktsegment").as("segment"),
      expr("hll_sketch_estimate(sk)").as("est"))
    val all = sk.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .select(lit("ALL").as("segment"), col("est"))
    val merged = all.collect().head.getLong(1)
    val direct = c.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(c_custkey, 14))"))
      .collect().head.getLong(0)
    require(merged == direct,
      s"HLL merge ≢ sketch-of-union: merged=$merged direct=$direct")
    per.unionByName(all).orderBy(col("segment"))
  }

  /** X2 — edit-distance fuzzy join, oracle-checked: customer names (an
    * SF-stable id<1000 slice) plus planted substitution and deletion
    * typos; all Levenshtein≤1 pairs via deletion-neighborhood blocking
    * ([[FuzzyJoin]]). The oracle brute-forces every pair, so blocking
    * COMPLETENESS is verified, not just precision. */
  val x2_fuzzy_join: Q = (s, d) => {
    val base = t(s, d, "customer").filter(col("c_custkey") < 1000)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    val typos = base.filter(col("id") % 7 === 0)
      .select((col("id") + 1000000L).as("id"),
        concat(lit("X"), expr("substr(s, 2)")).as("s"))
      .unionByName(base.filter(col("id") % 11 === 0)
        .select((col("id") + 2000000L).as("id"), expr("substr(s, 2)").as("s")))
    graft.ext.FuzzyJoin.editDistanceJoin(base.unionByName(typos), "id", "s")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X9 — Z-order layout, ORACLE-CHECKED round trip (promoted round 10
    * from Tier B, the x10_orc_roundtrip pattern): write events z-ordered
    * on (user_id, value) into 16 files, read the layout back, and return
    * per-bucket CONTENT aggregates that DuckDB reproduces from the
    * original table directly — a z-order write is a reordering, so the
    * multiset of rows must survive byte-for-byte, and the hash check
    * pins exactly that.
    *
    * The LAYOUT property (the reason z-order exists) stays enforced, now
    * as a hard runtime gate instead of a reported number: for a probe
    * covering 1/8 of each dimension's DATA MASS (quantile bounds, not
    * value bounds — a value-range probe into a skewed tail legitimately
    * selects most rows, which measures the probe, not the layout), BOTH
    * dimensions must overlap under half the files' min/max stats — what
    * a single-column sort cannot do (measured at sf0.01: 4 of 15 files
    * per dimension; ZOrderSpec pins the tighter margins). A layout
    * regression now FAILS the face rather than shifting a Tier-B row
    * nobody diffs. */
  val x9_zorder: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_q").toString
    val ev = t(s, d, "events").select(
      col("user_id").cast("double").as("u"), col("value").as("v"))
    graft.sources.ZOrder.writeZOrdered(ev, Seq("u", "v"), dir, numFiles = 16)
    val Array(ulo, uhi) = ev.stat.approxQuantile("u", Array(0.25, 0.375), 0.001)
    val Array(vlo, vhi) = ev.stat.approxQuantile("v", Array(0.25, 0.375), 0.001)
    val back = s.read.parquet(dir)
    val stats = back
      .withColumn("__f", col("_metadata.file_path"))
      .groupBy("__f")
      .agg(min(col("u")).as("ulo"), max(col("u")).as("uhi"),
        min(col("v")).as("vlo"), max(col("v")).as("vhi"))
    def overlap(lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
        plo: Double, phi: Double): org.apache.spark.sql.Column =
      sum(when(lo <= phi && hi >= plo, 1L).otherwise(0L))
    val gate = stats.agg(
        count(lit(1)).as("files"),
        overlap(col("ulo"), col("uhi"), ulo, uhi).as("hit_u"),
        overlap(col("vlo"), col("vhi"), vlo, vhi).as("hit_v"))
      .collect().head
    require(gate.getLong(1) * 2 < gate.getLong(0) &&
      gate.getLong(2) * 2 < gate.getLong(0),
      s"z-order layout degraded: ${gate.getLong(1)}/${gate.getLong(2)} of " +
        s"${gate.getLong(0)} files overlap a 1/8-mass probe")
    // oracle-checked content round trip over the READ-BACK layout,
    // materialized before the temp tree is removed
    val report = back
      .groupBy(pmod(col("u").cast("long"), lit(8)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("u")).as("n_users"),
        round(sum(col("v")), 2).as("v_sum"))
      .orderBy(col("bucket"))
    val rows = report.collect().toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      report.schema)
  }

  /** X8 — mergeable FREQUENCY sketches (Count-Min, the companion of the
    * HLL cardinality rollup above), ORACLE-CHECKED (promoted round 11
    * from Tier B): per-status sketches of a bounded key slice
    * (o_custkey < 300 — ≤300 distinct keys against width 2000 ⇒ the
    * depth-5 min is collision-free on this fixed data, so every point
    * estimate IS the exact count and DuckDB states it as a conditional
    * COUNT). The mergeability identity is surfaced as a require() gate at
    * full strength: the cell-wise merge of the per-group sketches must be
    * BYTE-IDENTICAL to the single sketch built over the whole slice
    * (shared hashes ⇒ counter addition commutes with row order). The
    * probabilistic error-bound behavior stays property-tested (FreqSpec). */
  val x8_cms_merge: Q = (s, d) => {
    val o = t(s, d, "orders").filter(col("o_custkey") < 300)
    val per = graft.ext.Freq.sketchPerGroup(o, "o_orderstatus", "o_custkey")
    val direct = o.agg(
      expr("count_min_sketch(o_custkey, 0.001d, 0.99d, 42)"))
      .collect().head.getAs[Array[Byte]](0)
    val mergedSk = graft.ext.Freq.merge(
      per.collect().toSeq.map(_.getAs[Array[Byte]]("sketch")))
    val bos = new java.io.ByteArrayOutputStream()
    mergedSk.writeTo(bos)
    require(java.util.Arrays.equals(bos.toByteArray, direct),
      "CMS merge ≢ sketch-of-union (byte identity)")
    graft.ext.Freq.estimateRollup(s, per, Seq(1L, 7L, 42L))
      .orderBy(col("segment"), col("item"))
  }

  /** X4 — BM25 relevance ranking against a fixed term set: the full
    * tf/df/dl/avgdl pipeline, reproduced term-for-term by the oracle. */
  val x4_bm25: Q = (s, d) =>
    graft.ext.Bm25.score(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "window", "hash"))
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  /** X7 — exact stratified sampling: deterministically keep N rows per
    * stratum, ordered by a portable hash (md5 — identical text in both
    * engines, so the SAMPLE ITSELF is oracle-checked, not just its size). */
  val x7_stratified: Q = (s, d) => {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
    t(s, d, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("c_mktsegment"), col("c_custkey"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** X4 — benchmark-contamination screen, oracle-checked: trigram overlap
    * of every corpus document against the benchmark split (doc_id%17=0).
    * The engine computes in xxhash64 gram space (nothing but 8-byte
    * fingerprints leaves a row — see [[Contamination]]); the oracle does
    * the same computation in string space, so gram construction,
    * distinct-ing AND the hit counts are all pinned exactly. */
  val x4_contamination: Q = (s, d) => {
    val docs = t(s, d, "documents")
    graft.ext.Contamination.report(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** X4 — the INGEST-TIME contamination gate
    * (`streaming/StreamingContamination`): the same benchmark/corpus
    * split as x4_contamination, but screened through the stateless
    * row-local Bloom projection a streaming ingest runs. Bloom bitset
    * sized (16 M bits) so a false positive is ~10⁻⁶-improbable across
    * the whole 100× set: the oracle is the EXACT string-space SQL —
    * hash equality proves the no-false-negative screen is exact at
    * production sizing, not merely conservative. Five too-short docs
    * (< n tokens) are PLANTED into the corpus on both engines so the
    * gate's gram-less contract — keep the row, ratio 0, never flagged,
    * unlike the batch report which drops it — is pinned by the hash
    * rather than holding coincidentally on an all-long-docs corpus. */
  val x4_contam_gate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("tiny doc").as("text")))
    val bloom = StreamingContamination.fit(
      docs.filter(col("doc_id") % 17 === 0), "doc_id", "text", n = 3,
      numBits = 1 << 24)
    StreamingContamination.screen(corpus, bloom, "text", n = 3,
        maxRatio = 0.3)
      .select(col("doc_id"), col("n_grams"), col("n_hit"), col("ratio"),
        col("contaminated").cast("long").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** X8 — the stream-stream interval join's BATCH face, oracle-checked:
    * even-id events as "impressions", odd-id as "clicks", attributed
    * within a 1-hour horizon per user. The identical plan runs the
    * watermarked streaming path (StreamJoinSpec parity), so the streaming
    * operator's semantics are pinned by SQL rather than self-consistency. */
  val x8_stream_join: Q = (s, d) => {
    val ev = t(s, d, "events")
    val imps = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts").as("imp_ts"), col("event_id").as("imp_id"))
    val clicks = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    graft.streaming.StreamJoin
      .within(imps, clicks, "user_id", "imp_ts", "click_ts", horizon = "1 hour")
      .select(col("imp_id"), col("click_id"))
      .orderBy(col("imp_id"), col("click_id"))
  }

  /** X4 — PII scrub, oracle-checked: deterministic email+phone planted
    * into every document, then redacted via the shared Java/RE2-portable
    * patterns ([[TextStats.redactPii]]). The oracle re-plants and
    * re-redacts in DuckDB, so pattern semantics AND replacement output
    * are pinned string-for-string. */
  val x4_redact: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("planted",
        concat(col("text"), lit(" reach u"), col("doc_id"),
          lit("@ex.com or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        TextStats.piiCount(col("planted")).as("n_pii"),
        TextStats.redactPii(col("planted")).as("red"))
      .orderBy(col("doc_id"))

  /** X4 — sequence packing (concatenate-and-chunk): documents are laid
    * end-to-end per shard (lang) in doc_id order; fixed 1000-token
    * context windows are cut across the concatenation, and each doc is
    * attributed to the window its first token lands in. The per-shard
    * window keeps the running offset parallel across shards — the shape
    * a pretraining tokenizer-packer runs at scale (with a finer shard key
    * than lang when shards must bound memory). */
  val x4_pack: Q = (s, d) => {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    t(s, d, "documents")
      .select(col("lang"), col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("toks"))
      .withColumn("off", sum(col("toks")).over(w) - col("toks"))
      .withColumn("pack", floor(col("off") / 1000).cast("long"))
      .groupBy(col("lang"), col("pack"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .orderBy(col("lang"), col("pack"))
  }

  /** X4 — real BPE tokenization, ORACLE-CHECKED (promoted round 11 from
    * Tier B, the x81 ground-truth pattern): the native rank-greedy
    * `bpe_count` kernel runs a PLANTED merge table over PLANTED per-doc
    * text whose expected token counts are closed-form in doc_id, so
    * DuckDB emits the ground truth directly. The construction makes the
    * greedy apply hand-derivable: merge chains over pairwise-DISJOINT
    * alphabets ((t,h),(th,e) fusing "the"; (c,a) splitting "cat"→[ca,t])
    * cannot interfere, and each planted word's tokenization is fixed —
    * THE→1 (pins locale-independent lowercasing), ththe→2 (two (t,h)
    * firings then one (th,e) — rank precedence exercised), cat→2,
    * acaca→3, xq→2 (letters, no merges), 2026→4 (digit run), !→1
    * (symbol). Per-doc counts: n_bpe = A+2B+2C+10, n_pretok = A+B+C+4
    * for A=id%5 THEs, B=id%3 ththes, C=id%4 cats + the constant tail.
    * Corpus-trained merges (trainFromCorpus) stay property-tested in
    * BpeSpec — training is deterministic but not SQL-expressible. */
  val x4_bpe_tokens: Q = (s, d) => {
    val merges = Seq(("t", "h"), ("th", "e"), ("c", "a"))
    val rep: (String, org.apache.spark.sql.Column) => org.apache.spark.sql.Column = (w, n) =>
      array_join(array_repeat(lit(w), n.cast("int")), " ")
    val text = concat_ws(" ",
      rep("THE", col("doc_id") % 5),
      rep("ththe", col("doc_id") % 3),
      rep("cat", col("doc_id") % 4),
      lit("acaca xq 2026 !"))
    t(s, d, "documents").select(
        col("doc_id"),
        graft.ext.Bpe.tokenCount(text, merges).as("n_bpe"),
        TextStats.bpeTokenCount(text).cast("long").as("n_pretok"))
      .orderBy(col("doc_id"))
  }

  /** X4 — Gopher-style repetition screen: per-document duplicate word
    * bigram/trigram fractions (1 − distinct/total). The canonical
    * boilerplate/spam signal in pretraining quality filters; built
    * entirely row-local (array HOFs — no explode, no shuffle), so the
    * corpus-wide screen is one scan. The oracle rebuilds the n-grams with
    * DuckDB list functions, pinning gram construction AND the fraction. */
  val x4_repetition: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        round(TextStats.dupNgramFraction(col("text"), 2), 4).as("dup2_frac"),
        round(TextStats.dupNgramFraction(col("text"), 3), 4).as("dup3_frac"))
      .orderBy(col("doc_id"))

  /** X10 — ORC source/sink roundtrip, oracle-checked end-to-end: the
    * engine converts the parquet lineitem slice to ORC (snappy), reads it
    * BACK through the vectorized ORC reader with a pushed filter, and
    * aggregates; the oracle computes the same aggregate from the original
    * parquet — so ORC write fidelity, read fidelity, and type mapping are
    * all on the hash. (DuckDB cannot read ORC; checking the roundtrip
    * against parquet is exactly the point.) */
  val x10_orc_roundtrip: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
      .write.mode("overwrite").option("compression", "snappy").orc(dir)
    s.read.orc(dir)
      .filter(col("l_quantity") > 40)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("price_sum"),
        max(col("l_shipdate")).as("ship_max"))
      .orderBy(col("l_returnflag"))
  }

  /** X10 — Avro sink+source roundtrip ([[graft.sources.Formats.writeAvro]]):
    * hive-partitioned Avro write of orders (timestamps land as
    * timestamp-micros logical type), read back through the header-embedded
    * writer schema + partition discovery, then aggregate. The oracle runs
    * the same aggregate on the canonical parquet — equality proves the
    * row-binary roundtrip lost nothing, including the partition column
    * that only exists as directory names on the Avro side. */
  val x13_avro_roundtrip: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString
    graft.sources.Formats.writeAvro(t(s, d, "orders"), dir,
      partitionBy = Seq("o_orderstatus"))
    graft.sources.Formats.readAvro(s, dir)
      .filter(col("o_totalprice") > 100000)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")) + 1e-9, 2).as("price_sum"),
        count_distinct(col("o_custkey")).as("n_cust"),
        max(col("o_orderdate")).as("date_max"))
      .orderBy(col("o_orderstatus"))
  }

  /** X10 — CSV sink+source roundtrip: free-text columns force the
    * quoting/escaping path (texts contain the delimiter space and
    * commas would, in a real corpus); read back with an EXPLICIT schema
    * (never inference in a pipeline) and aggregate. The oracle runs the
    * same aggregate on the canonical parquet — equality proves the
    * roundtrip lost nothing. */
  val x11_csv_roundtrip: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val docs = t(s, d, "documents")
    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .csv(dir)
    s.read.schema(docs.schema).option("header", "true").csv(dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"),
        count_distinct(col("lang")).as("n_langs"),
        sum(length(col("text"))).as("text_len_sum"))
      .orderBy(col("source"))
  }

  /** X10 — JSON-lines sink+source roundtrip (the interchange format of
    * every LLM-corpus dump), explicit schema on read, same
    * oracle-vs-parquet equality contract as the CSV face. */
  val x12_jsonl_roundtrip: Q = (s, d) => {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val docs = t(s, d, "documents")
    docs.write.mode("overwrite").json(dir)
    s.read.schema(docs.schema).json(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"),
        sum(length(col("text"))).as("text_len_sum"))
      .orderBy(col("lang"))
  }

  /** X0 — the WHOLE training-corpus pipeline as one composed plan, every
    * stage an engine operator: planted-dup corpus → exact dedup (X1) →
    * MinHash near-dup removal (X2) → line/span boilerplate excision
    * (X36/X37) → quality + repetition screens (X4/X27) → phrase-
    * blocklist policy gate (X74, round 8) → LM-perplexity tail drop
    * (X43 via X29 tiling) → linear quality-model cut (X49) → per-domain
    * caps (X51) → LEAKAGE-SAFE source-level split (X79, round 8 —
    * replacing the row-level md5 split, so correlated survivors of one
    * domain can never straddle train/test) → per-split token accounting
    * (X4). This is the "switch your pipeline to this library" face: the
    * composition itself is the feature — one lazy plan end to end, no
    * materialization between stages except the near-dup sketch's own
    * checkpoint.
    *
    * ORACLE-CHECKED end to end (promoted round 11 from Tier B, the
    * x0_linkage pattern): every stage is deterministic and
    * SQL-expressible once the near-dup stage runs the threshold-1.0
    * provable construction (x2_minhash_dedup) — the planted near copies
    * are WHITESPACE-DOUBLED (identical token arrays ⇒ identical shingle
    * sets ⇒ identical signatures and band keys ⇒ guaranteed candidates;
    * Jaccard exactly 1.0 ⇒ provably removed), while remaining distinct
    * TEXTS that the exact stage must keep. DuckDB replays the whole
    * chain — exact dedup window, shingle-set-equality class window, line
    * and span excision, the 4-component quality score, the bigram-LM
    * trained on the pipeline's own policed corpus, NTILE decile drop,
    * the sigmoid quality model, the domain-cap window, and the md5
    * group split — as one 13-stage CTE, so every stage INTERFACE is on
    * the hash, not just each stage alone. The sub-1.0 probabilistic
    * radius stays covered by x2_minhash_neardup (Tier B by design). */
  val x0_pipeline: Q = (s, d) => {
    val corpus = withPlantedDupsProvable(t(s, d, "documents"))
    val exact = Dedup.exactByContent(corpus, "text", "doc_id")
    val near = Dedup.dedupNear(exact, "doc_id", "text",
      Dedup.MinHashParams(threshold = 1.0))
    // round 5: the within-text cleaning passes join the flagship — line
    // boilerplate first (coarse), then repeated >=8-token passages (fine)
    // r16: the line/span cleaners now reference their input THREE times
    // (hash-count pass, matched-position pass, row-local rebuild) instead
    // of riding text through one exploded shuffle — the right trade when
    // the input is a materialized corpus, multiplicative re-execution
    // when it is this uncheckpointed dedup chain (3×3 = 9 evals of
    // `near` measured as a 5.2 → 13.1 s flagship regression at sf0.1).
    // Materialize each cleaning stage once — the production persist-
    // between-phases pattern this pipeline already uses at `policed`.
    val lineClean = Materialize(graft.ext.LineDedup
      .dedupLines(Materialize(near), "doc_id", "text", 100L))
    val spanClean = graft.ext.SpanDedup.dedupSpans(lineClean, "doc_id", "text", k = 8)
    // r16: filter directly instead of withColumn+filter — the pushed-down
    // filter predicate and the projected column each evaluated the full
    // quality/rep2 trees (2× the stage; OPTIMIZATION_r16.md, Screens
    // probe), and the columns were
    // dead weight downstream (nothing reads them; the checkpoint
    // materialized them anyway). Same survivors, same final hash.
    val screened = spanClean
      .filter(TextStats.qualityScore(col("text")) >= 0.3
        && TextStats.dupNgramFraction(col("text"), 2) <= 0.2)
    // round 8: the policy gate joins the flagship — C4-style phrase
    // blocklist (X74) on token boundaries, scan-cost, before any
    // model-based stage spends compute on removable docs.
    // CHECKPOINTED (round 12): everything above is a linear 6-stage
    // chain, but `policed` fans out 5+ ways below (the LM fit references
    // it 3x, the score once, the n_chars/source join once) — without a
    // materialization each reference re-executes the whole dedup chain
    // (the production pattern: persist the corpus between pipeline
    // phases). Measured at the 100x set: 47.7 s -> 12.6 s.
    val policed = Materialize(graft.ext.Blocklist.filterBlocked(screened, "text",
        Seq("forbidden content", "do not train", "opt out")))
    // round 7: the model-based curation stages join the flagship —
    // bigram-LM tail drop (worst-perplexity decile out, X43+X29),
    // linear quality-model cut (X49), per-domain contribution cap (X51)
    // the cleaning passes narrow to (doc_id, text, …): re-derive chars
    // from the CLEANED text (the honest post-cleaning length) and join
    // the domain back from the corpus
    // r16 (x50's lesson applied here): ntileByValue reads its input TWICE
    // (bucket counts, then ranks), and its input was the whole LM-scoring
    // join chain — so the bigram fit + two joins ran twice. Tile over the
    // NARROW checkpointed (doc_id, nll) relation instead (16 B/doc — both
    // tiling passes read that), then join the surviving doc_ids back to
    // the checkpointed corpus. Same rows, same (nll, doc_id) tie order,
    // same tiles — the x0_pipeline oracle face pins it.
    val nllRel = Materialize(graft.ext.NgramLm.selfScore(policed)
      .select(col("doc_id"), col("nll")))
    val lmTiles = graft.ext.Tiling
      .ntileByValue(nllRel, 10, "nll", "doc_id", "ppl_tile")
      .filter(col("ppl_tile") <= 9)
      .select(col("doc_id"))
    val lmKept = policed
      .withColumn("n_chars", length(col("text")).cast("long"))
      .join(corpus.select(col("doc_id"), col("source")), Seq("doc_id"))
      .join(lmTiles, Seq("doc_id"))
    val modelKept = graft.ext.QualityModel.scoreDocs(lmKept)
      .filter(col("keep") === 1)
    val capped = graft.ext.Curation.domainCap(modelKept, n = 200)
    // round 8: the split turned LEAKAGE-SAFE (X79) — assignment hashes
    // the SOURCE, not the row, so near-dup survivors from one domain
    // can never straddle train/test (the row-level md5 split they
    // replace is exactly the x7 face this guards against)
    graft.ext.Splits.byGroup(capped, "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy(col("split"))
  }

  /** X0 — the WEB-corpus flagship composition (round 7): the crawl-side
    * front end the text flagship assumes has already run. Synthesized
    * pages (markup + dirty URLs, the x59/x61 construction; every third
    * page carries planted cp1252 crawl mojibake) flow through HTML text
    * extraction (X61) → mojibake repair (X81, round 8 — the corruption
    * that would otherwise break the URL/content dedup downstream) → URL
    * canonicalization + registered domain (X59) → canonical-URL exact
    * dedup (X1 on the URL key — the crawl dedup) → visible-ratio and
    * quality screens (X61+X4) → per-registered-domain contribution cap
    * (X51) → per-domain corpus accounting. Every stage map-only or
    * hash-agg; no joins until the final cap window.
    *
    * ORACLE-CHECKED end to end (promoted round 11, the x0_pipeline
    * pattern): every input is synthesized from doc_id arithmetic, so the
    * whole chain is replayable in DuckDB — the page reconstructed
    * verbatim, the x61 strip chain, the mojibake repair as the planted
    * two-sequence replace (the general kernel stays pinned by x81), the
    * canonical URL and registered domain as the closed form the
    * construction fixes, the min-id-per-canon dedup window, the
    * 4-component quality score, and the per-domain quality cap. */
  val x0_web_pipeline: Q = (s, d) => {
    val id = col("doc_id")
    // Round 16 restructure (OPTIMIZATION_r16.md, Inherited state item 2:
    // extraction was ~86% of the
    // row; the old shape stripped EVERY page then URL-dedup discarded
    // most of them). Production crawl order instead: canonical-URL
    // dedup FIRST \u2014 the canon depends only on the URL, never the body,
    // so survivor selection is unchanged \u2014 then fetch + extract bodies
    // for SURVIVORS only. The dedup shuffle carries (doc_id, canon,
    // rdom), ~60 B/row instead of full page text; body text crosses the
    // wire at most once (the survivor fetch join, which AQE broadcasts
    // when the survivor set is small); the HTML strip (the dominant
    // kernel even after its r16 single-pass rewrite) runs on the
    // deduped fraction only. The quality/token scalars are computed
    // before the cap window so no window ever sorts page bodies.
    val urlOf = concat(
      when(id % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
      when(id % 3 === 0, "www.").otherwise(""), col("source"),
      when(id % 4 === 0, ".com").otherwise(".co.uk"),
      // planted URL dups: ids sharing (id % 150) collapse to one page
      lit("/p/"), (id % 150).cast("string"),
      when(id % 2 === 0, "/?utm_source=x&b=2&a=1").otherwise("?a=1"))
    val keyed = t(s, d, "documents")
      .select(id, urlOf.as("url")) // 2-column scan: doc_id + source
      .select(id,
        graft.ext.Urls.canonicalize(col("url")).as("canon"),
        graft.ext.Urls.registeredDomainOfUrl(col("url"))
          .as("rdom"))
    // crawl dedup: one survivor per canonical URL (min doc_id)
    val survivors = Dedup.exactByContent(keyed, "canon", "doc_id")
      .select(id, col("rdom"))
    // fetch the survivors' bodies and synthesize their pages
    val pages = t(s, d, "documents")
      .join(survivors, Seq("doc_id"))
      .select(id, col("rdom"),
        concat(
          lit("<html><head><title>Doc "), id.cast("string"),
          lit("</title><style>p{}</style><script>if(1<2){}</script></head><body><p>"),
          col("text"),
          // every third page carries crawl mojibake (the cp1252
          // mis-decode of " \u2019brand\u2019 caf\u00e9") the X81
          // stage must repair
          when(id % 3 === 0,
            lit(" \u00e2\u20ac\u2122brand\u00e2\u20ac\u2122 caf\u00c3\u00a9"))
            .otherwise(""),
          lit("</p></body></html>")).as("html"))
    // visible text ONCE (vr shares it \u2014 the strip never runs twice).
    // the pin is a PUSHDOWN BARRIER, not a convenience: without
    // it Catalyst pushes the vr/quality screen (whose predicate inlines
    // the whole strip_html chain ~12\u00d7) through the join into the
    // pre-dedup documents scan \u2014 re-stripping every page the dedup was
    // about to discard (measured 15 s vs ~2 s at the 100\u00d7 set). The
    // materialized relation is the post-dedup corpus with its text \u2014
    // bounded by the survivor count, the same barrier x0_pipeline pays
    // at `policed`.
    val extracted = Materialize(pages
      .withColumn("clean0", graft.ext.Html.stripTags(col("html")))
      .select(id, col("rdom"),
        graft.functions.ColumnOps.fixMojibake(col("clean0")).as("text"),
        when(length(col("html")) > 0,
          length(col("clean0")).cast("double") /
            length(col("html")).cast("double"))
          .otherwise(0.0).as("vr")))
    val screened = extracted
      .withColumn("quality", TextStats.qualityScore(col("text")))
      .withColumn("n_tokens", TextStats.tokenCount(col("text")).cast("long"))
      .filter(col("vr") >= 0.05 && col("quality") >= 0.3)
      .select(id, col("rdom"), col("quality"), col("n_tokens"))
    graft.ext.Curation
      .domainCap(screened, n = 100, keyCol = "rdom", idCol = "doc_id",
        rankCol = "quality")
      .groupBy(col("rdom"))
      .agg(count(lit(1)).as("n_pages"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("rdom"))
  }

  /** X0 — the EMBEDDING-side flagship composition, mirroring what
    * [[x0_pipeline]] does for text: the SemDeDup paper's own production
    * recipe — PCA the embeddings (X41), train the IVF coarse quantizer
    * ON the projected space (X3), then run semantic dedup (X40) with
    * the production `assignIvf` hook, so the whole chain is the
    * map-only TopCentroids assignment + cluster-blocked verification —
    * no crossJoin anywhere (the hooked-plan contract SemDedupSpec
    * pins). Both models travel through their parquet save/load faces
    * before scoring (the train-Monday/score-Tuesday split).
    *
    * ORACLE-CHECKED via the provable LOSSLESS subcase (round 12 — the
    * x90_pq_exact / x94 promotion trick): full-rank PCA (k = 64) is an
    * orthonormal rotation of the centered corpus, so identical inputs
    * stay identical and DISTINCT inputs keep their centered angles; the
    * corpus is the SF-stable pairwise-distinct slice (vec_id < 500)
    * plus planted exact copies (ids +1M for vec_id < 10, +2M for
    * vec_id < 5 — 3-member components for the first five, 2-member for
    * the next five). At threshold 0.9999999, the ONLY edges that can
    * exist are the identity star edges (copies project identically for
    * ANY model and collapse at cosine 1.0 by definition; the maximum
    * centered cosine between distinct vectors in this corpus is
    * 0.5048 — measured once, deterministic data — so the threshold has
    * ~0.5 of margin and the oracle's greenness is the standing proof).
    * Survivors are therefore exactly
    * the 500 originals, independent of every fitted parameter — PCA
    * rotation, Lloyd seeds, cluster boundaries — which is what DuckDB
    * replays. A chain that drops an original (false merge), keeps a
    * copy (broken collapse / assignment / projection / persistence), or
    * perturbs ids anywhere fails the hash. */
  val x0_semdedup_pca: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val raw = t(s, d, "embeddings").filter(col("vec_id") < 500)
    val emb = raw
      .unionByName(raw.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      .unionByName(raw.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 2000000L))
    val store = java.nio.file.Files.createTempDirectory("graft_models").toString
    val (fitModel, _) = graft.ext.Pca.fit(emb, k = 64)
    graft.ext.Pca.saveModel(fitModel, s"$store/pca")
    val model = graft.ext.Pca.loadModel(s"$store/pca")
    val reduced = graft.ext.Pca.project(emb, model)
      .select(col("vec_id"), col("pca").cast("array<float>").as("embedding"))
    // the SemDeDup recipe sizes k WITH the corpus (target ~512 vectors
    // per cluster): the within-cluster exact stage is Σ|cluster|² — a
    // fixed k turns the 100× set into ~25k-wide clusters and a 5 B-pair
    // self-join (measured: minutes), while k ≈ N/512 keeps it ~N·512/2
    // pairs at any scale. Train cost is k·N·iters row-local cosines.
    val k = math.max(8, math.min(4096, (emb.count() / 512).toInt))
    graft.ext.Ivf.save(graft.ext.Ivf.train(reduced, k = k, iters = 2),
      s"$store/ivf")
    val ivf = graft.ext.Ivf.load(s"$store/ivf")
    graft.ext.SemDedup.dedup(
        reduced, reduced.limit(0), threshold = 0.9999999,
        assign = Some(graft.ext.SemDedup.assignIvf(ivf)))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** X34 — the range-join optimizer rule (graft.plans.RangeJoinRewrite) on
    * real tables: plain SQL banding orders by total price into per-nation
    * windows, NO equi key. Without the rule this exact SQL plans
    * BroadcastNestedLoopJoin — O(|orders|·|nation|) compares, a
    * cross-shuffle at cluster scale; with `spark.graft.rangeJoin.binWidth`
    * set it plans a binned equi-join (shuffle O(rows)). DuckDB answers the
    * same SQL with its native IEJoin — the oracle pins semantics;
    * RangeRewriteSpec pins plan + edge cases.
    *
    * The result is pinned ([[Materialize]]) INSIDE the conf scope:
    * Spark plans lazily, and the driver's write happens after this
    * function returns — without the eager step the rule would see an
    * unset conf and silently fall back to the nested-loop plan. */
  val x34_range_rule: Q = (s, d) => {
    t(s, d, "orders").createOrReplaceTempView("orders")
    t(s, d, "nation").createOrReplaceTempView("nation")
    s.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "20000")
    try {
      val out = s.sql(
        """SELECT n_nationkey AS band, count(*) AS n,
          |  sum(o_totalprice) AS price_sum
          | FROM orders JOIN nation
          |   ON o_totalprice >= n_nationkey * 12000.0
          |  AND o_totalprice <  n_nationkey * 12000.0 + 20000.0
          | GROUP BY n_nationkey ORDER BY band""".stripMargin)
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin"),
        "x34: RangeJoinRewrite did not fire — nested-loop join in plan")
      Materialize(out)
    } finally s.conf.unset(graft.plans.RangeJoinRewrite.BinWidthKey)
  }

  /** X35 — the overlap-join optimizer rule (graft.plans.OverlapJoinRewrite)
    * on real tables: supplier balance windows [s_acctbal, s_acctbal+1000]
    * against customer windows [c_acctbal, c_acctbal+500], overlap
    * predicate only, NO equi key — the interval-intersection shape that
    * plans BroadcastNestedLoopJoin without the rule. With
    * `spark.graft.overlapJoin.binWidth` set it becomes a binned equi-join
    * with the first-shared-bin dedup residual. DuckDB pins semantics via
    * IEJoin; OverlapRewriteSpec pins plan + degenerate intervals.
    *
    * Same eager-materialization contract as x34: the plan must be built
    * and executed while the conf is set. */
  val x35_overlap_rule: Q = (s, d) => {
    t(s, d, "supplier").createOrReplaceTempView("supplier")
    t(s, d, "customer").createOrReplaceTempView("customer")
    s.conf.set(graft.plans.OverlapJoinRewrite.BinWidthKey, "750")
    try {
      val out = s.sql(
        """SELECT s_nationkey AS nk, count(*) AS n,
          |  round(sum(s_acctbal + c_acctbal) + 1e-9, 2) AS bal_sum
          | FROM supplier JOIN customer
          |   ON s_acctbal <= c_acctbal + 500.0
          |  AND c_acctbal <= s_acctbal + 1000.0
          | GROUP BY s_nationkey ORDER BY nk""".stripMargin)
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin"),
        "x35: OverlapJoinRewrite did not fire — nested-loop join in plan")
      Materialize(out)
    } finally s.conf.unset(graft.plans.OverlapJoinRewrite.BinWidthKey)
  }

  /** X36 — corpus-wide line dedup (`ext/LineDedup`): a synthetic web-ish
    * corpus is built by wrapping every document's text in boilerplate — a
    * header every doc shares (×500), a promo footer every third doc shares
    * (×167), and a per-doc unique footer — then lines occurring >100 times
    * corpus-wide are removed and documents reassembled in line order. The
    * oracle builds the SAME corpus in SQL and counts LINE TEXT exactly;
    * the engine counts xxhash64(line) (the 100 TB shuffle shape) — hash
    * equality proves the hashed plan computes the exact semantics. */
  val x36_line_dedup: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val corpus = docs.select(col("doc_id"),
      concat(
        lit("SHARED HEADER"), lit("\n"),
        col("text"), lit("\n"),
        when(col("doc_id") % 3 === 0, lit("PROMO FOOTER"))
          .otherwise(concat(lit("unique footer "), col("doc_id").cast("string")))
      ).as("text"))
    graft.ext.LineDedup.dedupLines(corpus, "doc_id", "text", 100L)
      .orderBy("doc_id")
  }

  /** X37 — exact substring dedup (`ext/SpanDedup`) on a corpus where every
    * fifth document carries the same appended 7-token passage: all its
    * 5-grams repeat ×100 corpus-wide, so the passage is cut from each
    * carrier while the unique prose stays. The small synthetic vocabulary
    * also produces NATURAL duplicated 5-grams across unrelated documents —
    * deterministic in both engines, so the oracle exercises planted and
    * organic repetition at once. Engine counts xxhash64(gram) (the scale
    * shuffle); DuckDB counts gram text exactly. */
  val x37_span_dedup: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val corpus = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" COMMON COPIED SENTENCE TOKENS HERE PLUS TWO")))
        .otherwise(col("text")).as("text"))
    graft.ext.SpanDedup.dedupSpans(corpus, "doc_id", "text", k = 5)
      .orderBy("doc_id")
  }

  /** X38 — incremental exact dedup (`ext/IncrementalDedup`): the planted
    * corpus arrives in three chronological batches (originals <300, the
    * rest of the originals, then the planted copies), each deduped ONLY
    * against the accumulated 8-byte-per-doc hash index — history never
    * rescanned. Because hash equality is transitive, the fold is provably
    * identical to a full recompute keeping each text's first (batch, id);
    * the oracle IS that recompute (window over everything). Exact copies
    * (batch 2) die against batch-0 originals; near copies differ by a
    * token and survive. */
  val x38_incremental_dedup: Q = (s, d) => {
    val corpus = withPlantedDups(t(s, d, "documents")).select("doc_id", "text")
    val stage = when(col("doc_id") < 300, 0)
      .when(col("doc_id") < 1000000, 1).otherwise(2)
    val batches = Seq(0, 1, 2).map(b => corpus.filter(stage === b))
    graft.ext.IncrementalDedup
      .foldBatchesExact(s, batches, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** X2 infrastructure oracle (round 5) — the DISTRIBUTED
    * connected-components path (min-label propagation), which normally
    * only runs beyond `driverEdgeLimit` edges and was Tier-B-covered
    * until now. A deterministic chain+star graph is built from customer
    * keys by arithmetic (5-node chains every 10 keys; a 5-leaf star onto
    * each century hub, welding two shapes into one 10-node component of
    * diameter 5), `driverEdgeLimit = 0` forces the distributed loop, and
    * DuckDB's recursive transitive closure (min reachable id per node) is
    * the oracle. */
  val x2_components: Q = (s, d) => {
    val c = t(s, d, "customer").select(col("c_custkey"))
    val chain = c.filter(col("c_custkey") % 10 < 4)
      .select(col("c_custkey").as("id_a"), (col("c_custkey") + 1).as("id_b"))
    val star = c.filter(col("c_custkey") % 100 >= 95)
      .select(col("c_custkey").as("id_a"),
        (col("c_custkey") - col("c_custkey") % 100).as("id_b"))
    graft.ext.Dedup.connectedComponents(
        chain.unionByName(star), maxIter = 10, driverEdgeLimit = 0L)
      .select(col("id"), col("cluster"))
      .orderBy("id")
  }

  /** X40 — SemDeDup (`ext/SemDedup`): cluster-blocked semantic dedup.
    * Exact copies of vec_id < 10 are planted at +1,000,000; the centroid
    * set is the first 8 corpus vectors VERBATIM (no Lloyd iterations), so
    * the oracle replicates the nearest-centroid assignment exactly — both
    * engines arg-max the same double-accumulated cosine with ties to the
    * smaller centroid id, form pairs only inside one cluster, and take
    * min-id survivors of the duplicate components (recursive closure on
    * the DuckDB side). Output is the full surviving id set. */
  val x40_semdedup: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val planted = emb.unionByName(
      emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    val cents = emb.filter(col("vec_id") < 8)
    SemDedup.dedup(planted, cents, threshold = 0.95)
      .select(col("vec_id")).orderBy(col("vec_id"))
  }

  /** X39 — damped PageRank (`ext/Rank`), 3 iterations over the
    * customer→supplier purchase graph (edge weight = line count). The
    * oracle unrolls the identical recurrence as SQL CTEs, so this pins
    * the engine's iterative numeric fixpoint arithmetic end-to-end —
    * init, damping, weighted inflow normalization, and the
    * no-inflow-node base-rank branch — not just "some ranking". */
  val x39_pagerank: Q = (s, d) => {
    val orders = t(s, d, "orders")
    val li = t(s, d, "lineitem")
    val edges = orders
      .join(li, orders("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.ext.Rank.pageRank(edges, iterations = 3, damping = 0.85)
      .select(col("id"), round(col("rank") + lit(1e-12), 9).as("rank"))
      .orderBy("id")
  }

  /** X94 — incremental ANN index maintenance ([[graft.ext.AnnIndex]]),
    * ORACLE-CHECKED via the provable lossless subcase (the x90_pq_exact +
    * x3_ann_ivf construction): create a persisted IVF-PQ index over the
    * embeddings under LOSSLESS codebooks ([[graft.ext.Pq.exactModel]] —
    * ADC ≡ true squared L2, bit-exact), then FOLD a new batch (planted
    * copies of the first 20 vectors, re-id'd +1M — copies share every
    * subvector with the corpus, so encoding stays lossless) and query the
    * index with exactly those copies. Provable output: each query is at
    * distance EXACTLY 0.0 from its original and itself, nothing else
    * reaches 0 (embeddings are pairwise distinct), and both live in the
    * query's own top-1 coarse list (identical vector ⇒ identical
    * assignment — fold visibility is ON the hash: rank 2 IS the folded
    * row). Ties on id ⇒ rank 1 = original, rank 2 = the folded copy.
    * Trained-codebook recall stays require-gated in x90_pq_topk; fold ≡
    * rebuild and replay idempotence are spec-pinned (AnnIndexSpec). */
  val x94_incremental_ann: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_q").toString
    // vec_id < 500: the SF-stable original slice (the x8_hll pattern) —
    // scaled sets replicate vectors verbatim under shifted ids, and a
    // byte-identical replica would join the dist-0 tie set and displace
    // the folded copy from rank 2
    val emb = t(s, d, "embeddings").filter(col("vec_id") < 500)
    val pq = graft.ext.Pq.exactModel(emb, m = 8)
    val coarse = graft.ext.Ivf.train(emb, k = 16, iters = 2)
    val idx = graft.ext.AnnIndex.createWithModels(emb, dir, coarse, Some(pq))
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.ext.AnnIndex.fold(batch, idx, batchId = 1)
    val out = graft.ext.AnnIndex.topK(
        graft.ext.AnnIndex.open(dir),
        batch.select(col("vec_id").as("query_id"), col("embedding")),
        k = 2, nprobe = 2)
      .select(col("query_id"), col("id"), col("dist"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
    // materialize before removing the temp index (the x9_zorder pattern)
    val rows = out.collect().toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      out.schema)
  }

  /** X97 (round 14) — FILTERED ANN search
    * ([[graft.ext.AnnIndex.topKFiltered]]): top-k nearest index entries
    * AMONG those satisfying an attribute predicate — the FAISS-IDSelector
    * / Milvus filtered-search contract (post-filtering a fixed shortlist
    * silently under-delivers k on selective filters). ORACLE-CHECKED via
    * the provable lossless subcase (the x90_pq_exact + x94 construction):
    * an IVF-PQ index under LOSSLESS codebooks (ADC ≡ true squared L2,
    * subspace-grouped summation pinned) built WITH the attribute column
    * `grp = vec_id % 10` carried into the inverted lists, queried at FULL
    * probe depth so the engine answer is the EXACT filtered top-5 — which
    * DuckDB reproduces as a plain filtered brute force over the same
    * arithmetic. The widening path (nprobe0 = 1 doubling to coverage) is
    * exercised in-face with a require() gate: every query must deliver
    * exactly k rows under the 10%-selectivity filter — the k-sufficiency
    * property post-filtering lacks; recall behavior and the
    * 1%-selectivity regime are AnnIndexSpec-pinned. The predicate lands
    * in the lists parquet scan (PushedFilters — PlanSpec pin
    * x97_filtered_pushdown), not a side join: at 100 TB the filter prunes
    * IN the probe read. */
  val x97_filtered_ann: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val dir = java.nio.file.Files.createTempDirectory("graft_fann_q").toString
    // vec_id < 500: the SF-stable original slice (scaled sets replicate
    // vectors verbatim under shifted ids — the x94 lesson)
    val emb = t(s, d, "embeddings").filter(col("vec_id") < 500)
      .withColumn("grp", col("vec_id") % 10)
    val pq = graft.ext.Pq.exactModel(emb, m = 8)
    val coarse = graft.ext.Ivf.train(emb, k = 16, iters = 2)
    val idx = graft.ext.AnnIndex.createWithModels(emb, dir, coarse, Some(pq),
      attrCols = Seq("grp"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val pred = col("grp") === 7
    // widening gate: from nprobe0 = 1, every query must still deliver
    // exactly k rows (50 eligible ≥ k — k-sufficiency is the contract)
    val widened = graft.ext.AnnIndex.topKFiltered(idx, queries, pred,
      k = 5, nprobe0 = 1)
    widened.groupBy(col("query_id")).agg(count(lit(1)).as("n")).collect()
      .foreach(r => require(r.getLong(1) == 5L,
        s"filtered ANN under-delivered k: query ${r.get(0)} got ${r.getLong(1)}"))
    // hashed face: FULL depth ⇒ exact filtered top-5 under lossless ADC
    val out = graft.ext.AnnIndex.topKFiltered(idx, queries, pred,
        k = 5, nprobe0 = 16)
      .select(col("query_id"), col("id"), round(col("dist"), 4).as("dist"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
    // materialize before removing the temp index (the x9_zorder pattern)
    val rows = out.collect().toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      out.schema)
  }

  /** X98 — corpus overlap via KMV theta sketches
    * ([[graft.ext.SetSketch.overlapReport]]), ORACLE-CHECKED in the exact
    * regime: two overlapping doc_id windows of the SF-stable documents
    * slice, per-lang distinct/overlap/difference counts from k=4096
    * sketches — every slice holds < 4096 distinct texts, so the sketches
    * never saturate and the estimates ARE the exact cardinalities DuckDB
    * reproduces with COUNT(DISTINCT)/INTERSECT. Keys are xxhash64(text)
    * (the X1/q19 collision trade). Saturated-regime accuracy is gated by
    * KmvSketchSpec, not the oracle. */
  val x98_sketch_overlap: Q = (s, d) => {
    val docs = t(s, d, "documents").filter(col("doc_id") < 2000)
    val a = docs.filter(col("doc_id") < 1500)
    val b = docs.filter(col("doc_id") >= 500)
    graft.ext.SetSketch.overlapReport(a, b, Seq("lang"), col("text"))
      .select(col("lang"),
        col("a_distinct").cast("long").as("a_distinct"),
        col("b_distinct").cast("long").as("b_distinct"),
        col("overlap").cast("long").as("overlap"),
        col("a_only").cast("long").as("a_only"),
        col("b_only").cast("long").as("b_only"))
      .orderBy(col("lang"))
  }

  /** X98 SATURATED regime — the Tier-B at-scale sibling (r15 verdict #5):
    * the exact-regime oracle face above never exercises the (k−1)/θ
    * estimator the operator actually runs at 100 TB. Here k = 512
    * sketches are built over doc_id keys (texts replicate verbatim under
    * ScaleUp, ids do not — so distinct keys GROW with the set: ≥ 100 k
    * per lang slice at the 100× set) for two 75%-windows with a known
    * 50% overlap, and every estimate is require()-GATED against the
    * exactly-computed truth at 3σ = 3/√(k−2) ≈ 13.3 % (Beyer et al.
    * 2007): per-sketch distincts and the union (a single KMV sketch —
    * the clean bound) relative to their own truth; intersection and
    * differences relative to |A∪B| (the θ-intersection error scales
    * with the union horizon, not the overlap). The face FAILS — not
    * drifts — if the estimator breaks; the output reports estimates,
    * truths and relative errors per slice. */
  val x98_sketch_overlap_sat: Q = (s, d) => {
    val docs0 = t(s, d, "documents").select(col("doc_id"))
    val n = docs0.agg(max(col("doc_id"))).collect().head.getLong(0) + 1
    // k sized so the two doc_id%2 slices (~n/2 distinct each, windowed
    // to 3/4) SATURATE at every SF — min(512, n/8) keeps slice distinct
    // > k by at least 2x: the sf0.01 verify corpus (n=500) runs k=62,
    // the 100x set runs the verdict's k=512 over >=100k distinct/slice
    val k = math.max(16, math.min(512L, n / 8).toInt)
    val sigma3 = 3.0 / math.sqrt((k - 2).toDouble)
    val docs = docs0.withColumn("shard", pmod(col("doc_id"), lit(2L)))
    val (lo, hi) = (n / 4, n * 3 / 4)
    val a = docs.filter(col("doc_id") < hi)
    val b = docs.filter(col("doc_id") >= lo)
    val est = graft.ext.SetSketch.overlapReport(a, b, Seq("shard"),
      col("doc_id"), k)
    // union estimate from the SKETCH ALGEBRA (merge, then estimate)
    val sa = graft.ext.SetSketch.sketchBy(a, Seq("shard"), col("doc_id"), k,
      "__ska")
    val sb = graft.ext.SetSketch.sketchBy(b, Seq("shard"), col("doc_id"), k,
      "__skb")
    val uni = sa.join(sb, Seq("shard"))
      .select(col("shard"), graft.functions.KmvFunctions.kmvEstimate(
        graft.functions.KmvFunctions.kmvUnion(col("__ska"), col("__skb")))
        .as("union_est"))
    val exact = docs.groupBy(col("shard")).agg(
      countDistinct(when(col("doc_id") < hi, col("doc_id"))).as("a_true"),
      countDistinct(when(col("doc_id") >= lo, col("doc_id"))).as("b_true"),
      countDistinct(when(col("doc_id") >= lo && col("doc_id") < hi,
        col("doc_id"))).as("o_true"),
      countDistinct(col("doc_id")).as("u_true"))
    val joined = est.join(uni, Seq("shard")).join(exact, Seq("shard"))
      .withColumn("err_a", abs(col("a_distinct") - col("a_true")) / col("a_true"))
      .withColumn("err_b", abs(col("b_distinct") - col("b_true")) / col("b_true"))
      .withColumn("err_u", abs(col("union_est") - col("u_true")) / col("u_true"))
      .withColumn("err_o", abs(col("overlap") - col("o_true")) / col("u_true"))
      .withColumn("err_ao",
        abs(col("a_only") - (col("a_true") - col("o_true"))) / col("u_true"))
      .withColumn("err_bo",
        abs(col("b_only") - (col("b_true") - col("o_true"))) / col("u_true"))
      .orderBy(col("shard"))
    val rows = joined.collect()
    require(rows.nonEmpty, "x98_sat: no slices")
    rows.foreach { r =>
      val shard = r.getAs[Long]("shard")
      // the regime guard: this face exists to exercise SATURATION
      require(r.getAs[Long]("a_true") > k && r.getAs[Long]("b_true") > k,
        s"x98_sat: slice $shard is not saturated (distinct <= k=$k) — " +
          "the face no longer tests the estimate regime")
      Seq("err_a", "err_b", "err_u", "err_o", "err_ao", "err_bo").foreach {
        e =>
          val v = r.getAs[Double](e)
          require(v <= sigma3,
            f"x98_sat: $e=$v%.4f exceeds 3/sqrt(k-2)=$sigma3%.4f on slice $shard")
      }
    }
    joined.select(col("shard"),
      col("a_true"), col("b_true"), col("o_true"), col("u_true"),
      round(col("a_distinct"), 1).as("a_est"),
      round(col("b_distinct"), 1).as("b_est"),
      round(col("overlap"), 1).as("o_est"),
      round(col("union_est"), 1).as("u_est"),
      round(col("err_a") + 1e-9, 4).as("err_a"),
      round(col("err_o") + 1e-9, 4).as("err_o"))
      .orderBy(col("shard"))
  }

  /** X59 — FULL Public-Suffix-List registered domain
    * ([[graft.ext.Urls.registeredDomainPsl]]), ORACLE-CHECKED via planted
    * ground truth (round 11): hosts synthesized per doc_id exercise every
    * rule class — plain TLD (com), multi-label suffixes (co.uk beating uk
    * by label count, com.au, github.io), a DEEP 4-label chain (round 14:
    * `us` → `ma.us` → `k12.ma.us` → `pvt.k12.ma.us` all rules at once —
    * the longest MATCHED rule must win for a `.pvt.k12.ma.us` host, and
    * a `.web.ma.us` host must fall back to the 2-label ancestor, proving
    * precedence is by matched labels, not chain depth), the wildcard
    * `*.ck`, the exception `!www.ck` re-opening www.ck, a host that IS a
    * public suffix (NULL registered domain — the PSL answer), the
    * implicit `*` default for an unlisted TLD, and case folding (every
    * 11th host uppercased). Because each branch's answer is fixed by construction,
    * DuckDB emits the expected domain as a CASE over the same arithmetic
    * (the x81 ground-truth pattern) — no SQL re-implementation of the
    * matching algorithm, which UrlsSpec covers rule-by-rule. */
  val x59_psl_domain: Q = (s, d) => {
    val rules = graft.ext.Urls.parsePsl(Seq(
      "// planted test PSL subset", "com", "uk", "co.uk", "au", "com.au",
      "io", "github.io", "*.ck", "!www.ck",
      // a real deep-suffix chain (round 14): every ancestor is itself a
      // rule, so precedence must pick by MATCHED labels, not chain depth
      "us", "ma.us", "k12.ma.us", "pvt.k12.ma.us"))
    val id = col("doc_id")
    val h0 = when(id % 9 === 0, concat(col("source"), lit(".com")))
      .when(id % 9 === 1, concat(lit("a."), col("source"), lit(".co.uk")))
      .when(id % 9 === 2, concat(col("source"), lit(".com.au")))
      .when(id % 9 === 3, concat(col("source"), lit(".github.io")))
      .when(id % 9 === 4,
        concat(lit("x.b"), (id % 5).cast("string"), lit(".ck")))
      .when(id % 9 === 5, lit("www.ck"))
      // 4-label suffix wins over its 3/2/1-label ancestors: rd = host
      .when(id % 9 === 7, concat(col("source"), lit(".pvt.k12.ma.us")))
      // only the 2-label ancestor matches this host: rd drops to web.ma.us
      .when(id % 9 === 8,
        concat(lit("a"), (id % 3).cast("string"), lit(".web.ma.us")))
      .otherwise(lit("co.uk"))
    val hosts = t(s, d, "documents").select(id,
      when(id % 11 === 0, upper(h0)).otherwise(h0).as("host"))
    graft.ext.Urls.registeredDomainPsl(hosts, "host", rules, "rd")
      .select(col("doc_id"), col("host"), col("rd"))
      .orderBy(col("doc_id"))
  }

  /** X43 — bigram-LM quality scoring (`ext/NgramLm`): fit an add-k
    * smoothed bigram model on the corpus, score each document's mean
    * −ln P(w2|w1) — the KenLM-style perplexity filter. The oracle
    * reproduces tokenization, counting and smoothing in SQL. */
  val x43_ngram_lm: Q = (s, d) =>
    graft.ext.NgramLm.selfScore(t(s, d, "documents"))
      .orderBy(col("doc_id"))

  /** X44 — Jaro-Winkler fuzzy linkage (`functions/JaroWinklerSim`):
    * blocked self-join of part names (block = trailing noun), best match
    * per record by the codegen'd native expression. DuckDB's
    * `jaro_winkler_similarity` is the oracle — semantics pinned
    * cross-engine (boost threshold 0.7, prefix scale 0.1, cap 4).
    *
    * This face pins the SCORER; it is deliberately bounded to the first
    * 2,000 keys (= the whole part table at the sf0.01 oracle scale)
    * because noun-blocking has data-independent key cardinality, so
    * block sizes — and the pair count — grow quadratically with SF. At
    * corpus scale, candidate GENERATION belongs to `ext/FuzzyJoin`'s
    * n-gram/LSH machinery (bounded candidates by construction); JW is
    * the verification scorer over those candidates. */
  val x44_jaro_winkler: Q = (s, d) => {
    import graft.functions.ColumnOps.jaroWinklerSim
    val p = t(s, d, "part").filter(col("p_partkey") < 2000)
      .select(col("p_partkey"), col("p_name"),
        element_at(split(col("p_name"), " "), -1).as("__noun"))
    val a = p.alias("a"); val b = p.alias("b")
    val scored = a.join(b, col("a.__noun") === col("b.__noun") &&
        col("a.p_partkey") =!= col("b.p_partkey"))
      .select(col("a.p_partkey").as("id_a"), col("b.p_partkey").as("id_b"),
        round(jaroWinklerSim(col("a.p_name"), col("b.p_name")), 4).as("jw"))
    // best candidate per record; rank on the ROUNDED score so the order
    // is ulp-stable cross-engine, ties to the smaller candidate id
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("jw").desc, col("id_b"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id_a"), col("id_b"), col("jw"))
      .orderBy(col("id_a"))
  }

  /** X45 — weekly retention cohorts (`ext/Behavior.retention`). */
  val x45_retention: Q = (s, d) =>
    graft.ext.Behavior.retention(t(s, d, "events"))
      .select(col("cohort_week").cast("date").as("cohort_week"),
        col("week_offset").cast("long").as("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))

  /** X46 — ordered funnel conversion (`ext/Behavior.funnel`):
    * view → click → purchase, each step strictly after the previous. */
  val x46_funnel: Q = (s, d) =>
    graft.ext.Behavior.funnel(t(s, d, "events"),
        Seq("view", "click", "purchase"))
      .select(col("step_idx").cast("long").as("step_idx"), col("step"),
        col("n_users"))
      .orderBy(col("step_idx"))

  /** X47 — temperature-scaled domain mixture weights
    * (`ext/Curation.mixtureWeights`), alpha = 0.3 over source shares. */
  val x47_mixture: Q = (s, d) => {
    val docs = t(s, d, "documents").withColumn("n_tokens",
      size(split(trim(col("text")), "\\s+")).cast("long"))
    graft.ext.Curation.mixtureWeights(docs, alpha = 0.3)
      .orderBy(col("source"))
  }

  /** X48 — token-budget corpus freeze (`ext/Curation.tokenBudget`):
    * rank by (n_chars DESC, doc_id), keep the prefix whose running token
    * total stays ≤ 30,000. The engine computes the running sum with the
    * two-level range-bucket decomposition; the oracle is the plain
    * global window — results must be identical. */
  val x48_token_budget: Q = (s, d) => {
    val docs = t(s, d, "documents").withColumn("n_tokens",
      size(split(trim(col("text")), "\\s+")).cast("long"))
    graft.ext.Curation.tokenBudget(docs, budget = 30000L)
      .orderBy(col("doc_id"))
  }

  /** X49 — model-based quality scoring (`ext/QualityModel`): pinned
    * linear model over length/shape features, sigmoid score, rounded
    * threshold cut; the oracle reproduces the arithmetic in SQL. */
  val x49_quality_model: Q = (s, d) =>
    graft.ext.QualityModel.scoreDocs(t(s, d, "documents"))
      .select(col("doc_id"), col("score"), col("keep"))
      .orderBy(col("doc_id"))

  /** X50 — perplexity-bucketed corpus split (the CCNet head/middle/tail
    * recipe): bigram-LM self-score (X43) → exact global NTILE(3) through
    * `ext/Tiling` (no single-partition sort) → per-bucket counts and
    * mean NLL. Ordering is on the ROUNDED nll with doc_id ties so the
    * tile boundary is ulp-stable cross-engine. */
  val x50_ppl_buckets: Q = (s, d) => {
    // tiling needs two passes over its input (bucket counts, then
    // ranks); pin the EXPENSIVE upstream (the LM scoring joins) once so
    // both passes read the small (doc_id, nll) relation — q80's lesson
    val scored = Materialize(graft.ext.NgramLm.selfScore(t(s, d, "documents"))
      .select(col("doc_id"), col("nll")))
    graft.ext.Tiling.ntileByValue(scored, 3, "nll", "doc_id", "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("nll")), 4).as("avg_nll"))
      .select(col("bucket").cast("long").as("bucket"), col("n_docs"),
        col("avg_nll"))
      .orderBy(col("bucket"))
  }

  /** X52 — per-key EWMA (`ext/Smooth.ewma`): sequential smoothing state
    * over each user's event series, α = 0.3. The engine runs the
    * recurrence in one partition-parallel forward pass; the oracle
    * expands the closed form (y_i = (1−α)^{i−1}x_1 + Σ α(1−α)^{i−j}x_j)
    * as a per-key pairs join — deliberately a different algorithm.
    * Rounded at 4 with the +1e-9 nudge (q44's lesson) since the two
    * evaluation orders differ in the last ulps. */
  val x52_ewma: Q = (s, d) =>
    graft.ext.Smooth.ewma(t(s, d, "events"), "user_id", "ts", "value",
        alpha = 0.3)
      .select(col("user_id"), col("ts"), col("value"),
        round(col("ewma") + lit(1e-9), 4).as("ewma"))
      .orderBy(col("user_id"), col("ts"), col("value"))

  /** X53 — Unicode canonicalization (`functions/NfcNormalize` /
    * `StripAccents`): part names get decomposed accents planted
    * (e → e+U+0301, a → a+U+0300), then NFC recomposes (codepoint count
    * drops) and accent-stripping recovers the original. Both kernels
    * are pinned cross-engine against DuckDB's nfc_normalize /
    * strip_accents on the same constructed input. */
  val x53_normalize: Q = (s, d) => {
    import graft.functions.ColumnOps.{nfcNormalize, stripAccents}
    val decomposed = regexp_replace(
      regexp_replace(col("p_name"), "e", "e\u0301"), "a", "a\u0300")
    t(s, d, "part").filter(col("p_partkey") < 2000)
      .select(col("p_partkey"),
        nfcNormalize(decomposed).as("nfc"),
        stripAccents(decomposed).as("plain"),
        length(decomposed).cast("long").as("len_decomposed"),
        length(nfcNormalize(decomposed)).cast("long").as("len_nfc"))
      .orderBy(col("p_partkey"))
  }

  /** X54 — per-class exact-k sample (`ext/Curation.classSample`):
    * 20 docs per (source, lang) class drawn by seeded hash rank; the
    * face uses the md5 draw so DuckDB reproduces it bit-for-bit (the
    * engine-native xxhash64 draw is spec-covered). */
  val x54_class_sample: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .withColumn("cls", concat_ws("|", col("source"), col("lang")))
    graft.ext.Curation.classSample(docs, k = 20, classCol = "cls",
        idCol = "doc_id",
        rankHash = Some(md5(concat(col("doc_id").cast("string"), lit(":42")))))
      .select(col("doc_id"), col("cls"), col("draw").cast("long").as("draw"))
      .orderBy(col("doc_id"))
  }

  /** X55 — nearest-in-time join (`operators/NearestJoin`): each view
    * event attributed to the user's closest purchase in time (|Δ| ties
    * go backward). Engine = two as-of window passes sharing one key
    * partitioning; oracle = exhaustive per-key candidates ranked by
    * (|Δ|, right time) — a deliberately different algorithm. */
  val x55_nearest_join: Q = (s, d) => {
    val ev = t(s, d, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
    graft.operators.NearestJoin(views, buys, Seq("user_id"), "ts", "ts",
        Seq("purchase_value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_value"), col("nearest_time"))
      .orderBy(col("event_id"))
  }

  /** X56 — EWMA-residual anomaly screen: the X52 baseline composed with
    * the X30 robust screen. Per user, each event's PREDICTION is the
    * smoothed value BEFORE it (lag of the EWMA); residual = value −
    * prediction; residuals then MAD-screen per event_type through the
    * one-scan histogram summary. First event per user has no prediction
    * and is excluded. Engine = recurrence scan + lag window (same key
    * partitioning) + histogram summary; oracle = closed-form EWMA pairs
    * join + SQL lag + from-scratch median/MAD. */
  val x56_anomaly: Q = (s, d) => {
    val ev = t(s, d, "events")
    val smoothed = graft.ext.Smooth.ewma(ev, "user_id", "ts", "value", 0.3,
      carryCols = Seq("event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("value"))
    val resid = smoothed
      .withColumn("pred", lag(col("ewma"), 1).over(w))
      .filter(col("pred").isNotNull)
      .withColumn("resid", col("value") - col("pred"))
    graft.ext.Robust.outlierSummary(resid, Seq("event_type"), "resid", k = 5.0)
      .select(col("event_type"), col("n_outliers"), col("n"),
        round(col("med") + lit(1e-9), 4).as("med"),
        round(col("mad") + lit(1e-9), 4).as("madv"))
      .orderBy(col("event_type"))
  }

  /** X57 — Zipf-law corpus statistics: token frequency table → exact
    * global rank WITHOUT a global sort (X29 tiling over the negated
    * frequency) → log-log regression slope/fit. The corpus-health
    * number every tokenizer/LM-data report quotes; slope ≈ −1 for
    * natural text, degenerate for boilerplate-heavy dumps. */
  val x57_zipf: Q = (s, d) => {
    // r16: ntileByValue double-reads its input (bucket counts, then
    // ranks), which re-ran the corpus tokenize+explode+count twice —
    // checkpoint the REDUCED vocab-sized (word, f) relation so both
    // tiling passes read that (the x50/x0_pipeline pattern)
    val tf = Materialize(t(s, d, "documents")
      .select(explode(TextStats.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .withColumn("negf", -col("f").cast("double")))
    val ranked = graft.ext.Tiling.ntileByValue(tf, 1, "negf", "word")
    ranked.agg(
        round(regr_slope(log(col("f")), log(col("__rank"))), 4).as("slope"),
        round(regr_r2(log(col("f")), log(col("__rank"))), 4).as("r2"),
        count(lit(1)).as("n_vocab"))
  }

  /** X58 — per-group winsorization: clip values to [p05, p95] of their
    * event type — the standard heavy-tail cleaning pass before model
    * features. Bounds come from X28's distributed-selection exact
    * quantiles (no row-sized shuffle, no per-group buffering), clipping
    * is a row-local broadcast-join + least/greatest at scan speed. */
  val x58_winsorize: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_type").as("g"), col("value"))
    // bounds ROUNDED to 4 decimals before clipping: the interpolated
    // quantile differs across engines in the last ulp, and at 10x-
    // replicated data the boundary value has many copies that would all
    // flip on a strict compare against an ulp-different bound
    val bounds = graft.ext.Quantiles.exactQuantiles(ev, "g",
        Seq(("value", 0.05, "lo"), ("value", 0.95, "hi")))
      .select(col("g"), round(col("lo") + lit(1e-9), 4).as("lo"),
        round(col("hi") + lit(1e-9), 4).as("hi"))
    ev.join(broadcast(bounds), Seq("g"))
      .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("clipped")), 4).as("clipped_sum"),
        round(min(col("clipped")), 4).as("clip_min"),
        round(max(col("clipped")), 4).as("clip_max"),
        sum((col("value") < col("lo") || col("value") > col("hi"))
          .cast("long")).as("n_clipped"))
      .orderBy(col("g"))
  }

  /** X59 — URL canonicalization (`ext/Urls`): dirty URLs are SYNTHESIZED
    * from documents by an identical construction on both engines (mixed
    * scheme/host case, www label, varied TLDs incl. a second-level
    * suffix, default and non-default ports, trailing slashes, tracking
    * params, fragments), then each engine runs its own canonicalizer —
    * the engine's `parse_url`+HOF kernel vs the same contract spelled in
    * DuckDB regexp/list SQL. Row-level hash equality pins the canonical
    * form and the registered-domain label arithmetic. */
  val x59_url_canon: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
      when(id % 3 === 0, "www.").otherwise(""),
      when(id % 6 === 0, upper(col("source"))).otherwise(col("source")),
      lit("."),
      when(id % 4 === 0, "com").when(id % 4 === 1, "co.uk")
        .when(id % 4 === 2, "org").otherwise("io"),
      when(id % 2 === 0 && id % 5 === 0, ":443")
        .when(id % 2 === 1 && id % 7 === 0, ":8080").otherwise(""),
      lit("/Docs/"), id.cast("string"),
      when(id % 3 === 0, "/").otherwise(""),
      when(id % 2 === 0, "?utm_source=feed&b=2&a=1").otherwise("?a=1"),
      when(id % 4 === 1, "#sec").otherwise(""))
    docs.select(id, url.as("u"))
      .select(id,
        graft.ext.Urls.canonicalize(col("u")).as("canon"),
        graft.ext.Urls.registeredDomainOfUrl(col("u"))
          .as("rdom"))
      .orderBy(id)
  }

  /** X60 — weighted sampling without replacement (`ext/Curation
    * .weightedSample`, Efraimidis–Spirakis): 25 docs per lang drawn with
    * probability ∝ n_chars. The face passes the portable md5-based
    * uniform so DuckDB reproduces the identical draw; the engine-native
    * xxhash64 draw is spec-covered. */
  val x60_weighted_sample: Q = (s, d) => {
    val u = (expr(
      "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':42')), 1, 13), 16, 10) AS DOUBLE)")
      + 0.5) / 4503599627370496.0
    graft.ext.Curation.weightedSample(t(s, d, "documents"), k = 25,
        weightCol = "n_chars", idCol = "doc_id", strataCol = Some("lang"),
        draw = Some(u))
      .select(col("doc_id"), col("lang"), col("draw").cast("long").as("draw"))
      .orderBy(col("doc_id"))
  }

  /** X61 — HTML text extraction (`ext/Html`): markup is SYNTHESIZED
    * around each document's text by an identical construction on both
    * engines (script with a raw `<` inside, style, comment, entities,
    * single- and double-quoted hrefs), then each engine strips it with
    * its own kernel — the same RE2-safe patterns. Title content stays
    * (the contract is deterministic tag-stripping, not browser
    * rendering); script/style/comment CONTENT goes. */
  val x61_html_strip: Q = (s, d) => {
    val id = col("doc_id")
    val html = concat(
      lit("<html><head><title>Doc "), id.cast("string"),
      lit("</title><style media=\"all\">p{color:red}</style>"),
      lit("<script type=\"text/javascript\">var x=1; if(x<2){x=3;}</script></head>"),
      lit("<body><!-- nav --><h1>"), upper(col("source")),
      lit("</h1><p>"), col("text"), lit(" &amp; more &lt;tags&gt;</p>"),
      lit("<a href=\"https://"), col("source"),
      lit(".example.com/d/"), id.cast("string"), lit("\">go</a>"),
      when(id % 3 === 0, "<p>extra&nbsp;para</p>").otherwise(""),
      lit("</body></html>"))
    t(s, d, "documents").select(id, html.as("h"))
      .select(id,
        graft.ext.Html.stripTags(col("h")).as("clean"),
        graft.ext.Html.title(col("h")).as("title"),
        regexp_extract(col("h"), "href=\"([^\"]*)\"", 1).as("first_link"),
        round(graft.ext.Html.visibleRatio(col("h")) + lit(1e-9), 4)
          .as("ratio"))
      .orderBy(id)
  }

  /** X62 — cross-corpus near-dup join (`ext/CrossDedup.jaccardJoin`):
    * the per-pair decontamination audit — benchmark docs (doc_id < 25)
    * joined against the planted-dup corpus by exact trigram Jaccard ≥
    * 0.5 through the inverted-index equi-join (cap off ⇒ recall exactly
    * 1, which is what lets an exhaustive SQL cross join be the oracle).
    * Expected structure by construction: each benchmark doc matches
    * itself in-corpus at 1.0, its near copy (+1 M id) just under, and
    * doc_id < 10 additionally the exact re-id'd copy (+2 M id) at 1.0. */
  val x62_neardup_join: Q = (s, d) => {
    val docs = t(s, d, "documents")
    CrossDedup.jaccardJoin(
        docs.filter(col("doc_id") < 25), withPlantedDups(docs),
        "doc_id", "text", "doc_id", "text",
        minJaccard = 0.5, maxShingleFreq = None)
      .orderBy(col("id_l"), col("id_r"))
  }

  /** X63 — char-entropy quality signal (`functions/CharEntropy`): one
    * native-kernel pass per row; the oracle recomputes every document's
    * entropy from an independent char-histogram SQL (ln N − Σ c·ln c / N,
    * different summation order — the q44 nudge covers the last ulps). */
  val x63_entropy: Q = (s, d) =>
    t(s, d, "documents").select(col("doc_id"),
        round(graft.functions.EntropyFunctions.charEntropy(col("text"))
          + lit(1e-9), 4).as("entropy"))
      .orderBy(col("doc_id"))

  /** X64 — incremental quantile maintenance
    * (`etl/IncrementalQuantile`): the state is bootstrapped from ~70% of
    * events and the rest folds in as a delta; the ORACLE samples ALL
    * events in one pass with the same portable md5 draw — so the hash
    * equality simultaneously proves (a) the bottom-k state is exactly
    * mergeable (incremental ≡ full recompute, the q81 pattern) and
    * (b) the percentile interpolation agrees cross-engine (q51's pin,
    * here over the sample). */
  val x64_inc_quantile: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_id").as("id"),
      col("event_type").as("g"), col("value").as("v"))
    val draw = Some(md5(concat(col("id").cast("string"), lit(":42"))))
    val st = graft.etl.IncrementalQuantile.sample(
      ev.filter(col("id") % 10 < 7), Seq("g"), "v", "id", k = 100,
      draw = draw)
    val folded = graft.etl.IncrementalQuantile.update(
      st, ev.filter(col("id") % 10 >= 7), Seq("g"), "v", "id", k = 100,
      draw = draw)
    graft.etl.IncrementalQuantile
      .estimate(folded, Seq("g"), "v", Seq(0.5, 0.95))
      .orderBy(col("g"))
  }

  /** X65 — time-decayed counters (`etl/DecayedCounter`): state
    * bootstrapped from ~70% of events at Jan 20, folded to Feb 1 with
    * the rest; the ORACLE computes the closed form over ALL events at
    * the final reference in one pass — hash equality proves the
    * re-referencing algebra (C·e^(−λΔ) + fresh terms ≡ single pass,
    * the q81/x64 pattern) and pins the exp/sum arithmetic cross-engine
    * (integer-µs timestamps both sides; rounded outputs absorb the
    * e^(a+b) vs e^a·e^b ulps). */
  val x65_decayed: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_id").as("id"),
      col("event_type").as("g"), col("ts"), col("value").as("v"))
    val hl = 7 * 24 * 3600.0
    val boot = graft.etl.DecayedCounter.aggregate(
      ev.filter(col("id") % 10 < 7), Seq("g"), "ts", "v",
      "2024-01-20 00:00:00", hl)
    graft.etl.DecayedCounter.update(
        boot, ev.filter(col("id") % 10 >= 7), Seq("g"), "ts", "v",
        "2024-02-01 00:00:00", hl)
      .select(col("g"), round(col("dcount") + lit(1e-9), 4).as("dcount"),
        round(col("dsum") + lit(1e-9), 4).as("dsum"))
      .orderBy(col("g"))
  }

  /** X66 — golden-record survivorship (`ext/Survivorship`): orders as a
    * sparse per-customer update log (each field present on a different
    * deterministic subset), collapsed to one latest-non-null record per
    * customer. The order key shows the composite encoding the operator
    * contract asks for when recency alone is not unique:
    * days(o_orderdate) · 10¹⁰ + o_orderkey — unique because the key
    * part stays below the multiplier at every SF. */
  val x66_golden: Q = (s, d) => {
    val o = t(s, d, "orders")
    val v = (datediff(col("o_orderdate").cast("date"),
      lit("1990-01-01").cast("date")).cast("long") * 10000000000L
      + col("o_orderkey")).as("v")
    val updates = o.select(
      col("o_custkey").as("k"), v,
      when(col("o_orderkey") % 3 =!= 0, col("o_orderstatus")).as("status"),
      when(col("o_orderkey") % 4 =!= 0, round(col("o_totalprice"), 2))
        .as("price"),
      when(col("o_orderkey") % 5 =!= 0, col("o_orderpriority")).as("prio"))
    graft.ext.Survivorship
      .goldenRecord(updates, Seq("k"), "v", Seq("status", "price", "prio"))
      .orderBy(col("k"))
  }

  /** X67 — publication manifest (`etl/Manifest`): per-(status, year)
    * row counts + order-independent xor content fingerprints over the
    * stable key columns; the portable md5 row hash lets DuckDB reproduce
    * the manifest bit-for-bit (partition-layout independence is what the
    * hash equality proves — the two engines aggregate in entirely
    * different orders). */
  val x67_manifest: Q = (s, d) => {
    val o = t(s, d, "orders")
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
    val fp = expr(
      "CAST(conv(substring(md5(concat_ws('|', CAST(o_orderkey AS STRING), " +
        "CAST(o_custkey AS STRING))), 1, 13), 16, 10) AS BIGINT)")
    graft.etl.Manifest.build(o, Seq("o_orderstatus", "yr"),
        Seq("o_orderkey", "o_custkey"), rowFp = Some(fp))
      .orderBy(col("o_orderstatus"), col("yr"))
  }

  /** X68 — incremental top-k maintenance (`etl/IncrementalTopK`): the
    * per-event-type value leaderboard bootstrapped from ~70% of events
    * and folded with the rest; the ORACLE ranks ALL events in one pass —
    * hash equality is the exact-mergeability proof (state ≡ full
    * recompute, the q81/x64/x65 pattern). No arithmetic on the score, so
    * no rounding is needed anywhere. */
  val x68_topk_state: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_id").as("id"),
      col("event_type").as("g"), col("value").as("score"))
    val st = graft.etl.IncrementalTopK.build(
      ev.filter(col("id") % 10 < 7), Seq("g"), "score", "id", k = 10)
    graft.etl.IncrementalTopK.update(
        st, ev.filter(col("id") % 10 >= 7), Seq("g"), "score", "id", k = 10)
      .orderBy(col("g"), col("id"))
  }

  /** X69 — PSI drift monitor (`ext/Drift`): the event-value distribution
    * of the ~70% "reference window" vs the 30% "current window", per
    * event type, over the fixed [0, 10]×10 binning (+under/overflow).
    * The oracle reproduces binning, Laplace smoothing, per-group window
    * normalization and the (p−q)·ln(p/q) sum — the whole statistic
    * pinned cross-engine. */
  val x69_psi: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_id").as("id"),
      col("event_type").as("k"), col("value").as("v"))
    graft.ext.Drift.psi(
        ev.filter(col("id") % 10 < 7), ev.filter(col("id") % 10 >= 7),
        Seq("k"), "v", bins = 10, lo = 0.0, hi = 10.0)
      .orderBy(col("k"))
  }

  /** X69 — exact two-sample KS statistic (`ext/Drift.ks`), same windows
    * as x69_psi: the integer-scaled CDF-difference recurrence reproduced
    * in SQL — per-distinct-value side counts, group totals, one ordered
    * window, max |run| / (n_b·n_a). */
  val x69_ks: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_id").as("id"),
      col("event_type").as("k"), col("value").as("v"))
    graft.ext.Drift.ks(
        ev.filter(col("id") % 10 < 7), ev.filter(col("id") % 10 >= 7),
        Seq("k"), "v")
      .orderBy(col("k"))
  }

  /** X69 — categorical drift (`ext/Drift.psiCategorical`): the SOURCE
    * share distribution of even- vs odd-id documents, per lang — the
    * category is the bin, support defined by the full-outer join. */
  val x69_cat_drift: Q = (s, d) => {
    val docs = t(s, d, "documents")
    graft.ext.Drift.psiCategorical(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "source")
      .orderBy(col("lang"))
  }

  /** X70 — event-type transition counts (`ext/Behavior.transitions`):
    * the first-order Markov read over the full event stream; oracle is
    * the identical LAG construction in SQL (tie order pinned by
    * event_id on both sides). */
  val x70_transitions: Q = (s, d) =>
    graft.ext.Behavior.transitions(t(s, d, "events"))
      .orderBy(col("from_type"), col("to_type"))

  /** X71 — temperature-mix materialization (`ext/Curation.mixtureDraw`):
    * 300 docs drawn across sources at alpha = 0.5 — x47's weight
    * arithmetic, largest-remainder apportionment (quotas sum exactly to
    * the target; rounded 6-dp weights make every float step
    * SQL-identical) and the X54 portable md5 rank draw, all reproduced
    * in the oracle. */
  val x71_mixture_draw: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .withColumn("n_tokens", TextStats.tokenCount(col("text")))
    graft.ext.Curation.mixtureDraw(docs, total = 300L, alpha = 0.5,
        rankHash = Some(md5(concat(col("doc_id").cast("string"), lit(":42")))))
      .select(col("doc_id"), col("source"),
        col("draw").cast("long").as("draw"), col("quota"))
      .orderBy(col("doc_id"))
  }

  /** X72 — dedup savings report (`ext/Dedup.savingsReport`) over the
    * planted-dup corpus: by construction the report must show the 2- and
    * 3-copy clusters the planting created; the oracle groups by TEXT
    * where the engine groups by xxhash64 — equality also re-pins the X1
    * hash-grouping fidelity at report granularity. */
  val x72_dedup_report: Q = (s, d) =>
    Dedup.savingsReport(withPlantedDups(t(s, d, "documents")),
        "text", "doc_id")
      .orderBy(col("n_copies"))

  /** X51 — per-domain contribution cap (`ext/Curation.domainCap`):
    * ≤ 30 docs per source by (n_chars DESC, doc_id). */
  val x51_domain_cap: Q = (s, d) =>
    graft.ext.Curation.domainCap(t(s, d, "documents"), n = 30)
      .select(col("doc_id"), col("source"),
        col("rank_in_domain").cast("long").as("rank_in_domain"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------ round 8: X73–X77

  /** X73 — containment (asymmetric near-dup) pairs (`ext/Containment`):
    * 40 planted prefix-documents (first 12 tokens of an original) are
    * each FULLY contained in their source — the subsumption shape
    * Jaccard misses entirely (the prefix is a sliver of the original's
    * shingle set, so the union swamps the intersection). Oracle =
    * exhaustive O(n²) exact trigram-set arithmetic; the engine's
    * frequency-capped inverted index has FULL recall here (a pair with
    * containment > 0 shares ≥ 1 shingle, and no shingle's document
    * frequency reaches the cap at this corpus size), so the outputs
    * must agree exactly. */
  val x73_containment: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 12), " ")
          .as("text"))
    graft.ext.Containment.pairs(docs.unionByName(planted),
        "doc_id", "text", n = 3, minContainment = 0.8)
      .select(col("id_a"), col("id_b"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        col("inter"), col("containment_a"), col("containment_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X74 — C4-style phrase-blocklist screen (`ext/Blocklist`): distinct
    * blocklist phrases present per document, matched on TOKEN BOUNDARIES
    * (never substrings). The list exercises normalization (mixed case,
    * punctuation → token join), multi-length phrases (1/2/3 tokens) and
    * a never-matching entry; the oracle rebuilds the same n-gram
    * matching in string space. */
  val x74_blocklist: Q = (s, d) =>
    graft.ext.Blocklist.screen(t(s, d, "documents"), "text",
        Seq("Spark", "fast table", "table table key", "nosuch",
          "Data-Column"))
      .select(col("doc_id"), col("n_blocked"),
        col("blocked").cast("long").as("blocked"))
      .orderBy(col("doc_id"))

  /** X75 — distribution-matching resampler (`ext/Curation
    * .matchDistribution`): largest exact subsample with lang shares
    * 50/25/25 (en/fr/de); buckets outside the target drop. The face uses
    * the portable md5 rank draw (the x54 pattern); exact-binary shares
    * (0.5/0.25) plus the q44 floor guards make the quota arithmetic
    * bit-stable cross-engine. */
  val x75_match_dist: Q = (s, d) =>
    graft.ext.Curation.matchDistribution(t(s, d, "documents"),
        targets = Seq("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25),
        bucketCol = "lang", idCol = "doc_id",
        rankHash = Some(md5(concat(col("doc_id").cast("string"), lit(":42")))))
      .select(col("doc_id"), col("lang"), col("draw").cast("long").as("draw"),
        col("quota"), col("bucket_n"))
      .orderBy(col("doc_id"))

  /** X76 — vocabulary coverage / OOV report (`ext/Vocab`): top-10
    * corpus vocabulary (count desc, token asc — deterministic), then
    * per-(lang, source) token-occurrence OOV rates against it. */
  val x76_oov: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val vocab = graft.ext.Vocab.build(docs, "text", k = 10)
    graft.ext.Vocab.oovReport(docs, "text", vocab, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_tokens"), col("n_oov"),
        col("oov_rate"))
      .orderBy(col("lang"), col("source"))
  }

  /** X77 — mutual k-NN graph (`ext/KnnGraph`) over exact top-5 cosine
    * neighbors (X3's single-pass aggregate): per-vector MUTUAL degree —
    * reciprocated-edge count, the hub-immune local-density signal.
    * Self hits occupy a rank slot (k=5 ⇒ ≤4 non-self neighbors) and are
    * then dropped, mirrored exactly in the oracle's window. */
  val x77_mutual_knn: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val nbrs = graft.ext.Similarity.bruteForceTopKAgg(emb, emb, k = 5,
      idCol = "vec_id", qidCol = "vec_id")
    graft.ext.KnnGraph.degrees(emb, graft.ext.KnnGraph.mutualEdges(nbrs),
        "vec_id")
      .select(col("vec_id"), col("mutual_degree"))
      .orderBy(col("vec_id"))
  }

  /** X78 — salted fact–fact skew join (`ext/Skew.saltedJoin`): lineitem
    * ⋈ orders by orderkey with the heavy threshold forced low (25) so a
    * real slice of keys routes through the salted path at test scale;
    * result must equal the plain inner join — the oracle IS that plain
    * join, aggregated per returnflag to keep the compare small while
    * still counting every joined row and summing a both-sides product. */
  val x78_salted_join: Q = (s, d) => {
    val l = t(s, d, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"),
        col("l_linenumber"), col("l_returnflag"))
    val o = t(s, d, "orders")
      .select(col("o_orderkey").as("okey"), col("o_totalprice"))
    graft.ext.Skew.saltedJoin(l, o, keys = Seq("okey"),
        distributeCol = "l_linenumber", saltFactor = 4, heavyThreshold = 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity") * col("o_totalprice")) + lit(1e-9), 2)
          .as("qp_sum"))
      .orderBy(col("l_returnflag"))
  }

  /** X79 — leakage-safe group split (`ext/Splits.byGroup`): every row of
    * a source lands in the SAME split because only the group key is
    * hashed. 50/25/25 weights give exact-binary hash-space thresholds
    * (0x7fff…f / 0xbfff…f) the oracle hard-codes. */
  val x79_group_split: Q = (s, d) =>
    graft.ext.Splits.byGroup(t(s, d, "documents"), "source",
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  /** X96 — temporal train/test split with an embargo gap
    * ([[graft.ext.Splits.byTimeEmbargo]]): cutoff at the exact rank
    * ceil(0.8 n) of the event timestamp (all-integer order statistic —
    * [[graft.ext.Quantiles.valueAtRankLong]] over epoch micros), the 12
    * hours after it embargoed out of both sides. The oracle restates the
    * cutoff as a window row_number selection at the same integer rank
    * (ties share a value, so the selected INSTANT is tie-order-free) and
    * replays the same half-open interval comparisons in µs-exact
    * timestamp arithmetic. */
  val x96_time_split: Q = (s, d) =>
    graft.ext.Splits.byTimeEmbargo(t(s, d, "events"), "ts",
        trainPermille = 800, embargo = "12 hours")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_ev"),
        max(col("event_id")).as("max_ev"))
      .orderBy(col("split"))

  /** X80 — join-explosion guard (`ext/JoinGuard.fanoutReport`): per-key
    * amplification of a prospective lineitem self-join by part key,
    * screened to fan-out ≥ 40 — the report a pipeline checks BEFORE
    * running a join that might go quadratic on a surprise hot key. */
  val x80_join_guard: Q = (s, d) => {
    val l = t(s, d, "lineitem")
    graft.ext.JoinGuard.fanoutReport(
        l.select(col("l_partkey")),
        l.filter(col("l_quantity") > 45).select(col("l_partkey")),
        Seq("l_partkey"), minFanout = 40)
      .orderBy(col("l_partkey"))
  }

  /** X81 — mojibake repair (`functions/FixMojibake`), oracle-checked
    * by GROUND TRUTH rather than by a second repairer: the engine
    * repairs a per-doc corrupted suffix — the cp1252 mis-decode of
    * " \u00e9lan \u2019s Gr\u00fc\u00dfe" (so '\u20ac'/'\u2122'/'\u0178'
    * exercise the cp1252 inversion arm and the '\u00c3' leads the
    * low-byte arm) — while the oracle simply EMITS the correct answer
    * the repair must reconstruct. Hash equality pins the kernel's
    * output byte-for-byte; the latin1/C1-control arm is spec-covered
    * (MojibakeSpec — control chars don't belong in SQL literals). */
  val x81_fix_mojibake: Q = (s, d) =>
    t(s, d, "documents").select(
        col("doc_id"),
        graft.functions.ColumnOps.fixMojibake(concat(col("text"),
          lit(" \u00c3\u00a9lan \u00e2\u20ac\u2122s Gr\u00c3\u00bc\u00c3\u0178e")))
          .as("fixed"))
      .orderBy(col("doc_id"))

  /** X82 — decayed trending leaderboard (composed X65 + rank window):
    * the "trending now" read — exponentially time-decayed engagement
    * folded per (event_type, user), top-5 users per type by decayed
    * sum. Rank compares the 4-dp-ROUNDED score with a user-id tiebreak
    * (the x60 boundary rule) so the k-edge is bit-stable cross-engine;
    * the oracle computes the identical closed form + ROW_NUMBER. */
  val x82_trending: Q = (s, d) => {
    val ev = t(s, d, "events").select(col("event_type").as("g"),
      col("user_id").as("u"), col("ts"), col("value").as("v"))
    val dec = graft.etl.DecayedCounter.aggregate(ev, Seq("g", "u"), "ts",
        "v", "2024-02-01 00:00:00", halfLifeSec = 7 * 24 * 3600.0)
      .withColumn("score", round(col("dsum") + lit(1e-9), 4))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("u"))
    dec.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("g"), col("u"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("g"), col("rank"))
  }

  /** X83 — robust per-group z-normalization (`ext/Robust.normalize`):
    * every event value scaled by its type's median/MAD — the
    * outlier-proof standardization features actually use. The oracle
    * runs DuckDB's native median()/mad() through the identical
    * (x − med)/(1.4826·mad) arithmetic; NULL for zero-MAD groups. */
  val x83_robust_norm: Q = (s, d) =>
    graft.ext.Robust.normalize(
        t(s, d, "events").select(col("event_id").as("id"),
          col("event_type").as("g"), col("value").as("v")),
        Seq("g"), "v")
      .select(col("id"), col("g"), col("robust_z"))
      .orderBy(col("id"))

  /** X23 extension (round 8) — k-anonymity release guard
    * (`ext/Checks.kAnonymity`): (lang, source) combinations matching
    * fewer than 30 documents — the attribute intersections that would
    * single contributors out in a published corpus. */
  val x23_k_anonymity: Q = (s, d) =>
    graft.ext.Checks.kAnonymity(t(s, d, "documents"),
        Seq("lang", "source"), k = 30)
      .orderBy(col("lang"), col("source"))

  /** X84 (round 9) — perceptual image dedup, oracle face: 120 documents
    * rendered as REAL PNG bytes whose content derives from `doc_id % 30`,
    * so byte-identical duplicate groups are planted by construction; the
    * engine finds them PERCEPTUALLY (decode → dHash → Hamming-0 banding →
    * pixel-checksum verify — recall 1 by construction, see
    * [[graft.ext.ImageDedup.exactDupPairs]]) and DuckDB reproduces the
    * ground truth as a modular self-join over the same doc_ids. */
  val x84_image_dedup: Q = (s, d) => {
    import s.implicits._
    val media = t(s, d, "documents")
      .filter(col("doc_id") < 120).select(col("doc_id")).as[Long]
      .map(i => Multimodal.MediaRow(i, s"synthetic://img/$i", "image/png",
        graft.ext.ImageDedup.encodeSmoothPng(32, 24, seed = i % 30)))
    graft.ext.ImageDedup.exactDupPairs(graft.ext.ImageDedup.fingerprints(media))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** X84 — perceptual image NEAR-dup face (Tier B rows-only: the JRE's
    * bilinear resample and JPEG quantization have no SQL oracle): 40
    * originals plus a real resized copy and a real JPEG-recompressed copy
    * of each, plus planted corrupt bytes; dHash Hamming banding at radius
    * 10 recalls every variant pair (spec-pinned margins: variants ≤ 8
    * bits away, distinct seeds ≥ 19). */
  val x84_image_neardup: Q = (s, _) => {
    import s.implicits._
    val media = s.range(40).as[Long].flatMap { i =>
      val orig = graft.ext.ImageDedup.encodeSmoothPng(64, 48, seed = i)
      Seq(
        Multimodal.MediaRow(i, s"orig/$i", "image/png", orig),
        Multimodal.MediaRow(1000 + i, s"thumb/$i", "image/png",
          Multimodal.MediaCodec.thumbnailPng(orig, maxDim = 24).get),
        Multimodal.MediaRow(2000 + i, s"jpeg/$i", "image/jpeg",
          graft.ext.ImageDedup.encodeSmoothJpeg(64, 48, seed = i))) ++
        (if (i == 0) Seq(Multimodal.MediaRow(
          9999, "corrupt", "image/png", Array[Byte](1, 2, 3))) else Nil)
    }
    graft.ext.ImageDedup.nearDupPairs(
        graft.ext.ImageDedup.fingerprints(media), maxHamming = 10)
      .orderBy(col("media_a"), col("media_b"))
  }

  /** X85 (round 10) — perceptual audio dedup, oracle face: 90 clips of
    * REAL WAV bytes (16-bit PCM tone mixtures via the javax.sound
    * encoder) whose content derives from `doc_id % 30`, so
    * byte-identical duplicate groups are planted by construction; the
    * engine finds them PERCEPTUALLY (decode → energy-band signature →
    * Hamming-0 banding → PCM-checksum verify — recall 1 by
    * construction, see [[graft.ext.AudioDedup.exactDupPairs]]) and
    * DuckDB reproduces the ground truth as a modular self-join over the
    * same doc_ids (the x84 pattern). */
  val x85_audio_dedup: Q = (s, d) => {
    import s.implicits._
    val media = t(s, d, "documents")
      .filter(col("doc_id") < 90).select(col("doc_id")).as[Long]
      .map(i => Multimodal.MediaRow(i, s"synthetic://wav/$i", "audio/wav",
        graft.ext.AudioDedup.encodeToneWav(4000, 8000, seed = i % 30)))
    graft.ext.AudioDedup.exactDupPairs(graft.ext.AudioDedup.fingerprints(media))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** X85 — perceptual audio NEAR-dup face (Tier B rows-only: Goertzel
    * band energies over resampled PCM have no SQL oracle): 30 originals
    * plus a REAL resampled copy (same continuous signal rendered at
    * 11.025 kHz) and a gain-halved copy of each, plus planted corrupt
    * bytes; energy-band Hamming banding at the default radius 14
    * recalls every variant pair (spec-pinned margins: variants ≤ 13
    * bits away, distinct seeds ≥ 19). */
  val x85_audio_neardup: Q = (s, _) => {
    import s.implicits._
    val media = s.range(30).as[Long].flatMap { i =>
      Seq(
        Multimodal.MediaRow(i, s"orig/$i", "audio/wav",
          graft.ext.AudioDedup.encodeToneWav(8000, 8000, seed = i)),
        Multimodal.MediaRow(1000 + i, s"rs/$i", "audio/wav",
          graft.ext.AudioDedup.encodeToneWav(11025, 11025, seed = i)),
        Multimodal.MediaRow(2000 + i, s"gain/$i", "audio/wav",
          graft.ext.AudioDedup.encodeToneWav(8000, 8000, seed = i, gain = 0.5))) ++
        (if (i == 0) Seq(Multimodal.MediaRow(
          9999, "corrupt", "audio/wav", Array[Byte](1, 2, 3))) else Nil)
    }
    graft.ext.AudioDedup.nearDupPairs(
        graft.ext.AudioDedup.fingerprints(media))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** X87 (round 10) — perceptual video dedup, oracle face: 60 clips of
    * REAL GVID containers (each frame genuine PNG bytes decoded through
    * `javax.imageio`) whose content derives from `doc_id % 20`, so
    * byte-identical duplicate groups are planted by construction; the
    * engine finds them PERCEPTUALLY (container parse → sampled-frame
    * decode → temporal-gradient signature → Hamming-0 banding →
    * frame-checksum verify — recall 1 by construction, see
    * [[graft.ext.VideoDedup.exactDupPairs]]) and DuckDB reproduces the
    * ground truth as a modular self-join over the same doc_ids (the
    * x84/x85 pattern). */
  val x87_video_dedup: Q = (s, d) => {
    import s.implicits._
    val media = t(s, d, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id")).as[Long]
      .map(i => Multimodal.MediaRow(i, s"synthetic://vid/$i", "video/gvid",
        graft.ext.VideoDedup.encodeSyntheticVideo(32, 24, 8.0, 1.5, seed = i % 20)))
    graft.ext.VideoDedup.exactDupPairs(graft.ext.VideoDedup.fingerprints(media))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** X87 — perceptual video NEAR-dup face (Tier B rows-only: sampled-
    * frame block averages over re-rendered pixel grids have no SQL
    * oracle): 20 originals plus a REAL frame-rate-doubled copy (same
    * continuous signal rendered at 20 fps), a half-resolution re-render,
    * and a per-frame-JPEG re-encode of each, plus planted corrupt bytes;
    * temporal-gradient Hamming banding at the default radius 8 recalls
    * every variant pair (spec-pinned margins: variants ≤ 7 bits away,
    * distinct seeds ≥ 10). */
  val x87_video_neardup: Q = (s, _) => {
    import s.implicits._
    val media = s.range(20).as[Long].flatMap { i =>
      Seq(
        Multimodal.MediaRow(i, s"orig/$i", "video/gvid",
          graft.ext.VideoDedup.encodeSyntheticVideo(64, 48, 10.0, 2.0, seed = i)),
        Multimodal.MediaRow(1000 + i, s"fps2/$i", "video/gvid",
          graft.ext.VideoDedup.encodeSyntheticVideo(64, 48, 20.0, 2.0, seed = i)),
        Multimodal.MediaRow(2000 + i, s"half/$i", "video/gvid",
          graft.ext.VideoDedup.encodeSyntheticVideo(32, 24, 10.0, 2.0, seed = i)),
        Multimodal.MediaRow(3000 + i, s"jpeg/$i", "video/gvid",
          graft.ext.VideoDedup.encodeSyntheticVideo(64, 48, 10.0, 2.0, seed = i,
            jpeg = true))) ++
        (if (i == 0) Seq(Multimodal.MediaRow(
          9999, "corrupt", "video/gvid", Array[Byte](1, 2, 3))) else Nil)
    }
    graft.ext.VideoDedup.nearDupPairs(
        graft.ext.VideoDedup.fingerprints(media))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** X88 (round 10) — INCREMENTAL perceptual media dedup, oracle face:
    * three chronological ingest batches of 20 real PNGs each (ids 0–59,
    * content seed = doc_id % 25, so later batches re-deliver earlier
    * content), folded through [[graft.ext.IncrementalDedup
    * .addBatchHamming]] at radius 0 with checksum verification — exact
    * content identity, an equivalence relation, so the prefix-causal
    * fold PROVABLY equals the global first-per-content recompute that
    * DuckDB runs as a window over doc_id % 25 (the x38 exact-fold
    * argument, lifted to perceptual fingerprints). History is never
    * rescanned: each batch pays one banding self-join plus one
    * batch-vs-index [[graft.ext.Hamming.pairsBetween64]] join. */
  val x88_incremental_media_dedup: Q = (s, d) => {
    import s.implicits._
    def batch(lo: Long, hi: Long) = {
      val media = t(s, d, "documents")
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id")).as[Long]
        .map(i => Multimodal.MediaRow(i, s"synthetic://img/$i", "image/png",
          graft.ext.ImageDedup.encodeSmoothPng(32, 24, seed = i % 25)))
      graft.ext.ImageDedup.fingerprints(media)
        .select(col("media_id"), col("dhash").as("sig"),
          col("checksum").as("verify"))
    }
    graft.ext.IncrementalDedup.foldBatchesHamming(
        s, Seq(batch(0, 20), batch(20, 40), batch(40, 60)),
        maxHamming = 0, requireVerifyMatch = true)
      .select(col("media_id"))
      .orderBy(col("media_id"))
  }

  /** X89 (round 10) — shared-segment detection, oracle face: 40 real
    * GVID clips where every clip in intro group `doc_id % 8` opens with
    * the same 6 byte-identical PNG title frames before 8 unique body
    * frames; [[graft.ext.VideoDedup.frameKeys]] (container parse +
    * per-frame byte checksum, no image decode) feeds
    * [[graft.ext.SegmentDedup.sharedRuns]], which must report EXACTLY
    * the planted alignment — (a, b, 0, 0, 6) for every same-group pair,
    * maximal extent recovered from shingle islands — while the unique
    * bodies contribute nothing. DuckDB reproduces the ground truth from
    * the id arithmetic. */
  val x89_shared_segments: Q = (s, d) => {
    import s.implicits._
    def frame(seed: Long) = graft.ext.ImageDedup.encodeSmoothPng(16, 12, seed)
    val media = t(s, d, "documents")
      .filter(col("doc_id") < 40).select(col("doc_id")).as[Long]
      .map { i =>
        val g = i % 8
        Multimodal.MediaRow(i, s"synthetic://vid/$i", "video/gvid",
          graft.ext.VideoDedup.encodeVideo(
            (0 until 6).map(k => frame(100000 + g * 100 + k)) ++
              (0 until 8).map(j => frame(200000 + i * 100 + j)), fps = 8.0))
      }
    graft.ext.SegmentDedup.sharedRuns(
        graft.ext.VideoDedup.frameKeys(media)
          .select(col("media_id").as("id"), col("keys")),
        "id", "keys", minRun = 4)
      .select(col("id_a"), col("id_b"),
        col("a_start").cast("long").as("a_start"),
        col("b_start").cast("long").as("b_start"), col("run_len"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** X0 (round 10; ORACLE-CHECKED since round 12) — the MULTIMODAL
    * flagship composition, doing for the binary-media operators what
    * [[x0_web_pipeline]] does for text: synthesize an image corpus (real
    * PNG bytes), an audio corpus (real WAV bytes), and a video corpus
    * (GVID containers of real PNG frames) with duplicate structure
    * planted by doc_id ARITHMETIC, then run the full perceptual dedup
    * chain per modality — decode → fingerprint (X84 dHash / X85
    * energy-band / X87 temporal-gradient signature) → Hamming-0 banding
    * with the production `maxChunkFreq` skew cap ENGAGED → decoded-bytes
    * checksum verify → an X72-style savings report (items, decodable,
    * pairs, redundant, % saved).
    *
    * The exact regime (the x84/x85/x87 promotion trick, composed):
    * duplicate groups are byte-identical (same encoder, same seed), so
    * recall is 1 by construction and every report number is closed-form
    * in doc_id arithmetic — which is what lets the WHOLE chain be
    * hash-checked against DuckDB. The corpus slices to doc_id < 450 (SF-
    * stable inside sf0.01's 500 documents). Per modality, ids < 360
    * group as `doc_id % G` (G = 120/90/72 → groups of 3/4/5); ids in
    * [360, 450) form ONE 90-strong mega-group — a planted letterbox/
    * silence/test-card asset whose radius-0 bucket (88 decodable
    * fingerprints — corrupt ids 374 and 449 both lie in [360, 450))
    * EXCEEDS the 64 cap, so the skew rule must drop it
    * whole: at radius 0 the single band is the full hash, making the cap
    * exactly "groups larger than F contribute no pairs" — the corpus-
    * scale banding-bucket-skew behavior the per-operator faces cannot
    * see, now oracle-checked rather than Tier B. Planted corrupt bytes
    * (doc_id % 75 == 74) exercise the NULL-fingerprint accounting.
    * `n_redundant` counts items with a smaller-id duplicate — greedy
    * min-id survivorship, exact for clique groups. Cross-seed 64-bit
    * fingerprint collisions would merge cap buckets and break the
    * closed form; the corpus is deterministic, so the oracle's
    * continued greenness IS the no-collision proof. */
  val x0_media_pipeline: Q = (s, d) => {
    import s.implicits._
    // r16: spread the synth+encode across the executor cores — the
    // filtered 450-id relation collapses to the scan's partitioning (ONE
    // task at sf0.1), so every PNG/WAV/GVID encode+decode ran serially
    // on one core (OPTIMIZATION_r16.md, Flagships: video fingerprints
    // 1.16 → 0.20 s after the
    // spread). Scale-adaptive: defaultParallelism, not a constant.
    // r17: materialize the 450-id spine ONCE — each modality's encode
    // dataset re-derived it, paying three documents scans + three
    // repartition shuffles per run (the scan grows with SF; the spine is
    // 450 longs). The checkpoint also lets the three concurrent
    // fingerprint builds below start from memory instead of racing on
    // the same parquet listing.
    val ids = Materialize(t(s, d, "documents")
      .filter(col("doc_id") < 450).select(col("doc_id")).as[Long]
      .repartition(math.min(450, s.sparkContext.defaultParallelism)))
    // seed arithmetic per modality: regular groups below 360, the
    // over-cap mega-group above (seed 100000 collides with no i % G)
    def seedOf(i: Long, g: Long): Long = if (i >= 360) 100000L else i % g
    val images = ids.map { i =>
      val data =
        if (i % 75 == 74) Array[Byte](9, 9, 9) // planted corrupt
        else graft.ext.ImageDedup.encodeSmoothPng(64, 48, seedOf(i, 120))
      Multimodal.MediaRow(i, s"img/$i", "image/png", data)
    }
    val audio = ids.map { i =>
      val data =
        if (i % 75 == 74) Array[Byte](9, 9, 9)
        else graft.ext.AudioDedup.encodeToneWav(8000, 8000, seedOf(i, 90))
      Multimodal.MediaRow(i, s"wav/$i", "audio/wav", data)
    }
    val videos = ids.map { i =>
      val data =
        if (i % 75 == 74) Array[Byte](9, 9, 9)
        else graft.ext.VideoDedup.encodeSyntheticVideo(
          32, 24, 8.0, 1.5, seedOf(i, 72))
      Multimodal.MediaRow(i, s"vid/$i", "video/gvid", data)
    }
    def report(modality: String, fp: DataFrame, validCol: String,
        pairs: DataFrame): DataFrame = {
      val base = fp.agg(count(lit(1)).as("n_items"),
        count(col(validCol)).as("n_decodable"))
      // one aggregation over ONE pass of the banding join: a separate
      // distinct-count relation would recompute the whole pairs subtree
      val p = pairs.agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("media_b")).as("n_redundant"))
      base.crossJoin(p).select(
        lit(modality).as("modality"), col("n_items"), col("n_decodable"),
        col("n_pairs"), col("n_redundant"),
        round(col("n_redundant") * 100.0 / col("n_items") + lit(1e-9), 2)
          .as("pct_saved"))
    }
    // checkpoint each modality's fingerprints: the relation is 450 rows
    // of longs, but its SUBTREE (documents scan -> synthesize -> decode)
    // is referenced ~7x downstream (count agg + both banding sides + the
    // cap subquery + both checksum sides) and the documents scan grows
    // with SF — measured at the 100x set: 54.8 s uncached -> one
    // execution per modality checkpointed
    // r16: materialize the three independent checkpoints CONCURRENTLY
    // (guide §2.6 — overlap independent jobs): the three eager builds ran
    // strictly sequentially (~0.36+0.44+0.27 s at sf0.1; OPTIMIZATION_r16.md,
    // Flagships) while
    // each leaves most cores idle in its tail. Same blocks, same rows —
    // only the job submission overlaps. FAIR scheduling is already on.
    val Seq(imgFp, audFp, vidFp) = Materialize.all(
      graft.ext.ImageDedup.fingerprints(images),
      graft.ext.AudioDedup.fingerprints(audio),
      graft.ext.VideoDedup.fingerprints(videos))
    // r17 (guide §2.6 again, downstream this time): the post-checkpoint
    // report subtrees are ~10 tiny exchanges per modality over 450-row
    // long relations — pure AQE job-floor cost (OPTIMIZATION_r17.md
    // VERDICT item 2: 37
    // jobs/688 tasks for the whole face, ~1.6 s of the 2.0 s residual
    // AFTER the concurrent fingerprint build). The three reports are
    // independent single-row relations; materializing them concurrently
    // overlaps those floors exactly as the fingerprint build already
    // does. Same rows, same union order.
    val Seq(imgRep, audRep, vidRep) = Materialize.all(
      report("image", imgFp, "dhash",
        graft.ext.ImageDedup.exactDupPairs(imgFp, maxChunkFreq = Some(64))),
      report("audio", audFp, "sig",
        graft.ext.AudioDedup.exactDupPairs(audFp, maxChunkFreq = Some(64))),
      report("video", vidFp, "sig",
        graft.ext.VideoDedup.exactDupPairs(vidFp, maxChunkFreq = Some(64))))
    imgRep.unionByName(audRep).unionByName(vidRep).orderBy(col("modality"))
  }

  /** X86 (round 10) — small-file compaction, ORACLE-CHECKED round trip
    * (the x9_zorder pattern): documents written as 64 deliberately tiny
    * parquet files (the ingest-debris shape the reference's
    * file-at-a-time model produces at scale), compacted via
    * [[graft.sources.Compact.parquetDir]] to a byte-targeted file
    * count, read BACK from the compacted layout, and reported as
    * per-lang content aggregates DuckDB reproduces from the source
    * table — compaction is a pure relayout, so the row multiset must
    * survive exactly. The LAYOUT property is a hard runtime gate: the
    * output file count must match the byte-derived plan and be far
    * under the input's 64 (a compaction that doesn't compact fails the
    * face, not a dashboard). */
  val x86_compaction: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_q").toString
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.repartition(64).write.parquet(s"$root/src")
    val stats = graft.sources.Compact.parquetDir(
      s, s"$root/src", s"$root/out", targetFileBytes = 4L * 1024 * 1024)
    val (filesAfter, _) = graft.sources.Compact.dirStats(s, s"$root/out")
    require(filesAfter == stats.outFiles && filesAfter < stats.files,
      s"compaction layout wrong: $filesAfter files out vs planned " +
        s"${stats.outFiles} from ${stats.files} in")
    val report = s.read.parquet(s"$root/out")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
    val rows = report.collect().toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      report.schema)
  }

  /** X49 extension (round 9) — TRAIN-then-score, ORACLE-CHECKED: the
    * distributed Newton/IRLS logistic fit ([[graft.ext.QualityModel.fit]])
    * on one binary feature, where the MLE has a CLOSED FORM — bias =
    * logit(rate|f=0), weight = logit(rate|f=1) − logit(rate|f=0) — that
    * DuckDB computes from group label rates. The face then SCORES the
    * corpus with the engine-fit weights (keep = σ(z) ≥ 0.5 ⟺ z ≥ 0, and
    * z per group is exactly that group's logit, both safely away from 0
    * on this data), so the whole train→deploy loop is hash-checked.
    * Multi-feature recovery, determinism, and the separable-data ridge
    * path are QualityModelSpec-pinned. */
  val x49_fit: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val feats = Seq("is_en" -> (col("lang") === "en").cast("double"))
    val fit = graft.ext.QualityModel.fit(
      docs, (col("n_chars") > 250).cast("int"), feats)
    docs.withColumn("keep",
        (graft.ext.QualityModel.sigmoidScore(fit.bias, fit.terms(feats))
          >= 0.5).cast("long"))
      .agg(
        round(lit(fit.bias), 4).as("bias"),
        round(lit(fit.weights(0)), 4).as("w_is_en"),
        sum(when(col("lang") === "en", col("keep")).otherwise(0L)).as("keep_en"),
        sum(when(col("lang") =!= "en", col("keep")).otherwise(0L)).as("keep_other"))
  }

  /** X90 (round 10) — Product Quantization ANN, ORACLE-CHECKED exact
    * subcase: codebooks = the corpus's own distinct subvectors
    * ([[graft.ext.Pq.exactModel]]), so encoding is lossless and ADC ≡ the
    * true squared L2 distance — the FULL pipeline (codebook build, encode,
    * per-query lookup tables, ADC scan over codes only, rank window) runs
    * with nothing approximate left in it. The double-summation GROUPING
    * (left-to-right within each 8-dim subspace, then left-to-right across
    * the 8 subspaces) is pinned in [[graft.ext.Pq]] and reproduced
    * verbatim in the DuckDB oracle via nested list_reduce, so both engines
    * produce bit-identical IEEE doubles before the ROUND. Trained-codebook
    * behavior stays covered by x90_pq_topk + PqSpec. */
  val x90_pq_exact: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") < 64)
    val model = graft.ext.Pq.exactModel(corpus, m = 8)
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.ext.Pq.adcTopK(
        graft.ext.Pq.encodeCorpus(corpus, model), queries, model, k = 3)
      .select(col("query_id"), col("id"), round(col("dist"), 4).as("dist"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** X90 — trained PQ, Tier B by design (k-means codebooks are a lossy
    * compressor, so ADC ranks have no SQL oracle): train m=8 × k=16
    * codebooks (deterministic seeded Lloyd), encode the corpus to 8 bytes
    * per vector (a 32× compression of the 64-float embedding), shortlist
    * 100 candidates per query from the CODES ALONE, and exact-re-rank only
    * the shortlist ([[graft.ext.Pq.refineTopK]] — the production ADC+refine
    * pattern: at 100 TB the exact math touches shortlist/|corpus| of the
    * raw floats). Per-query recall@10 against the exact squared-L2 brute
    * force is emitted and the mean is require-gated at the calibrated
    * floor (SURVEY §6.9: measured 0.86–0.88 at both test SFs; raw-ADC recall
    * 0.31–0.33 stays PqSpec-pinned). Exact-arithmetic correctness is the
    * x90_pq_exact oracle; IVF-PQ composition and model persistence are
    * PqSpec-pinned. */
  val x90_pq_topk: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val model = graft.ext.Pq.train(emb, m = 8, k = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val approx = graft.ext.Pq.refineTopK(
        emb, queries, model, k = 10, shortlist = 100)
      .select(col("query_id"), col("id"))
    val exact = graft.ext.Pq.exactTopK(emb, queries, k = 10)
      .select(col("query_id"), col("id"))
    val overlap = approx.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    val rec = queries.select(col("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall", round(col("hits") / 10.0, 2))
    val mean = rec.agg(avg(col("recall"))).head().getDouble(0)
    require(mean >= 0.6, f"PQ refined mean recall@10 $mean%.2f < 0.6")
    rec.orderBy(col("query_id"))
  }

  /** X91 (round 10) — materialized-rollup rewrite, ORACLE-CHECKED
    * end-to-end: build + register a (l_returnflag, l_linestatus) rollup of
    * lineitem ([[graft.etl.MaterializedRollup]]), then run an ordinary
    * DataFrame aggregation against the BASE table — a coarser grouping
    * with a key-only filter and COUNT/SUM/MIN/MAX/AVG. The injected
    * [[graft.plans.RollupViewRewrite]] must reroute it to the rollup: a
    * hard require() gate walks the optimized plan's file relations and
    * refuses if the fact table is still scanned (the x86/x9_zorder plan-
    * gate pattern). DuckDB answers the SAME question from the base table,
    * so the hash check proves the rerouted plan computes the fact-table
    * truth. At 100 TB this is the dashboard query answered from KB. */
  val x91_mv_rewrite: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_mv_q").toString
    try {
      graft.etl.MaterializedRollup.createAndRegister(
        s, "x91_lineitem", s"$d/lineitem.parquet", s"$root/mv",
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq("l_quantity", "l_extendedprice"),
        base = Some(t(s, d, "lineitem")))
      val q = t(s, d, "lineitem")
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(avg(col("l_extendedprice")) + 1e-9, 4).as("avg_price"))
        .orderBy(col("l_returnflag"))
      val paths = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(paths.exists(_.contains(s"$root/mv")) &&
        !paths.exists(_.contains("lineitem")),
        s"rollup rewrite did not fire: scans $paths")
      val rows = q.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        q.schema)
    } finally {
      graft.plans.RollupViewRewrite.unregister("x91_lineitem")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  /** X91 grouping-sets face (round 11) — CUBE/ROLLUP/GROUPING SETS
    * collapse onto the materialized rollup, ORACLE-CHECKED. No new rule:
    * the capability is the COMPOSITION of two existing rewrites —
    * [[graft.plans.PreAggExpandRewrite]] turns a grouping-sets aggregate
    * into merge-Aggregate ∘ Expand ∘ partial-Aggregate(full keys), and
    * that inner partial aggregate is exactly the plain mergeable shape
    * [[graft.plans.RollupViewRewrite]] reroutes (its grouping IS the
    * rollup key set; its partials are COUNT/SUM/MIN/MAX) — so a CUBE
    * over the base table reads |distinct keys| rollup rows instead of
    * the fact, with the Expand multiplying KB not TB
    * (the discovery is recorded in SURVEY §6.9). The require() gate
    * demands the rollup in the plan and the fact OUT; DuckDB answers
    * the same CUBE from the base. */
  val x91_mv_cube: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_mv_cube").toString
    try {
      graft.etl.MaterializedRollup.createAndRegister(
        s, "x91_cube", s"$d/lineitem.parquet", s"$root/mv",
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq("l_quantity", "l_extendedprice"),
        base = Some(t(s, d, "lineitem")))
      val q = t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_extendedprice")) + lit(1e-9), 4).as("avg_price"),
          min(col("l_quantity")).as("min_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
      val paths = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(paths.exists(_.contains(s"$root/mv")) &&
        !paths.exists(_.contains("lineitem")),
        s"cube rollup rewrite did not fire: scans $paths")
      val rows = q.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        q.schema)
    } finally {
      graft.plans.RollupViewRewrite.unregister("x91_cube")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  /** X91 star-schema face (round 10) — join-aware rollup rewrite,
    * ORACLE-CHECKED: register an o_custkey-keyed rollup of orders (10×
    * smaller than the fact), then run the classic dashboard join —
    * orders ⋈ customer grouped by market segment with COUNT/SUM/AVG.
    * The rule must collapse the FACT side of the join to the rollup
    * (exact for any inner join whose condition touches only rollup keys
    * on the fact side — no dim-uniqueness assumption; see
    * [[graft.plans.RollupViewRewrite]]), leaving the dim scan in place:
    * the require() gate demands the rollup in the plan and the orders
    * fact OUT of it. DuckDB joins the raw tables — the collapsed plan
    * must reproduce the raw-join truth exactly. */
  val x91_mv_star: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_mv_star").toString
    try {
      graft.etl.MaterializedRollup.createAndRegister(
        s, "x91_orders", s"$d/orders.parquet", s"$root/mv",
        keys = Seq("o_custkey"), measures = Seq("o_totalprice"),
        base = Some(t(s, d, "orders")))
      val orders = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val q = orders.join(customer,
          orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          round(avg(col("o_totalprice")) + 1e-9, 4).as("avg_price"))
        .orderBy(col("c_mktsegment"))
      val paths = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(paths.exists(_.contains(s"$root/mv")) &&
        !paths.exists(_.contains("orders")),
        s"star rewrite did not fire: scans $paths")
      val rows = q.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        q.schema)
    } finally {
      graft.plans.RollupViewRewrite.unregister("x91_orders")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  /** X92 (round 10) — targeted deletion (right-to-be-forgotten),
    * ORACLE-CHECKED end-to-end: copy documents into a lang-partitioned
    * layout, erase the keys of every `doc_id % 37 = 0` ENGLISH document
    * ([[graft.etl.Forget.deleteKeys]] — hit scan, staged anti-join
    * rewrite of affected partitions only, per-partition swap), then
    * aggregate the SURVIVING table per lang. Hard require() gates pin the
    * surgical contract: exactly one partition (en) rewritten, every other
    * partition's file set byte-identical (path+size+mtime), and the audit
    * report's deletedTotal matches. DuckDB computes the same post-erasure
    * aggregates from the source with a WHERE NOT clause — the rewritten
    * store must equal the global filter. */
  val x92_forget: Q = (s, d) => {
    val root = java.nio.file.Files.createTempDirectory("graft_forget_q").toString
    try {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      docs.write.partitionBy("lang").parquet(s"$root/t")
      def files(dir: String): Set[(String, Long, Long)] = {
        val r = new java.io.File(dir)
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(r).map(f => (f.getAbsolutePath.stripPrefix(r.getAbsolutePath),
          f.length(), f.lastModified())).toSet
      }
      val untouchedBefore = new java.io.File(s"$root/t").listFiles()
        .filter(f => f.isDirectory && f.getName != "lang=en")
        .map(f => f.getName -> files(f.getAbsolutePath)).toMap
      val delKeys = docs
        .filter(col("doc_id") % 37 === 0 && col("lang") === "en")
        .select(col("doc_id"))
      val expectDeleted = delKeys.count()
      val report = graft.etl.Forget.deleteKeys(
        s, s"$root/t", "lang", "doc_id", delKeys)
      require(report.deletedTotal == expectDeleted &&
        report.partitions.map(_.partition) == Seq("en"),
        s"erasure not surgical: $report")
      val untouchedAfter = new java.io.File(s"$root/t").listFiles()
        .filter(f => f.isDirectory && f.getName != "lang=en")
        .map(f => f.getName -> files(f.getAbsolutePath)).toMap
      require(untouchedAfter == untouchedBefore,
        "unaffected partitions were rewritten")
      val out = s.read.parquet(s"$root/t")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_sum"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
      val rows = out.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        out.schema)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  /** X93 (round 10) — embedding-distribution drift, ORACLE-CHECKED: split
    * the embeddings corpus into a reference half and a "new batch" half
    * and emit the per-dimension drift report (means + standardized mean
    * difference over the pooled two-sample deviation). The whole report
    * is plain aggregation arithmetic, so DuckDB reproduces it exactly
    * from an unnest-by-position view of the same vectors. */
  val x93_embed_drift: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val ref = emb.filter(col("vec_id") < 250)
    val cur = emb.filter(col("vec_id") >= 250)
    graft.ext.Drift.embeddingDrift(ref, cur)
      .withColumn("dim", col("dim").cast("long"))
      .orderBy(col("dim"))
  }

  /** X0 linkage flagship (round 10) — record linkage END-TO-END with a
    * FULL ORACLE (the other x0 flagships are Tier-B compositions; this
    * one is hash-checked stage-for-stage): normalize → block → score →
    * cluster → survive. Planted dirty duplicates (case + padding noise,
    * updated balance, shifted key) of the first 30 customers flow through
    * lowercase/trim normalization, SORTED-NEIGHBORHOOD blocking within
    * nation, the codegen'd Jaro-Winkler scorer (X44, semantics pinned to
    * DuckDB's), X2's connected components, and X66's golden-record
    * survivorship. The 0.99 threshold is PROVABLE on this construction:
    * a planted variant normalizes to its original exactly (jw = 1.0),
    * while any two distinct customer names differ in ≥ 1 character of
    * the fixed-width 18-char form, capping jw at (17/18+17/18+1)/3 plus
    * the 0.4·(1−jaro) Winkler boost = 0.978 < 0.99.
    *
    * BLOCKING (rewritten round 12 — the first flagship bench caught it;
    * extracted round 13 into the reusable [[graft.ext.Blocking]] X95
    * operator, which also range-splits hot blocks across tasks instead
    * of this face's old one-window-partition-per-nation):
    * nation-only blocking is an all-pairs join inside each nation —
    * measured 2.4 s at sf0.1 but 45 s at the 10× set (each block 10×
    * wider ⇒ 100× the Jaro-Winkler calls) and hours at 100×. The
    * production shape is sorted-neighborhood: sort each nation block by
    * normalized name, score each row against its NEXT neighbor only —
    * O(n log n) sort + O(n) scores. Recall is EXACT here, not
    * approximate: qualifying pairs have jw ≥ 0.99, which on this
    * construction means identical normalized names (see the 0.978 cap),
    * identical names sort adjacent, and a chain of adjacent edges
    * reaches connected components exactly like a clique (the X40
    * star-edge argument). So the cluster set is the (nation, name)
    * equality classes at EVERY scale — including the scaled sets' 10×/
    * 100× verbatim-name replicas, which the old quadratic face paired
    * explicitly — and the oracle states them as one window, a genuinely
    * independent algorithm from the engine's scored-edge components. */
  val x0_linkage: Q = (s, d) => {
    import graft.functions.ColumnOps.jaroWinklerSim
    val cust = t(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
    // planted ids at +1e12, NOT +1M: customer keys reach 1.5M at the
    // 100x set and an additive 1M offset COLLIDED with real replica keys
    // there (the q63 hazard, rediscovered round 12: duplicate id 1000000
    // was simultaneously customer 0's planted variant and customer
    // 10000's replica, making the component label table oscillate). The
    // huge offset keeps planted ids maximal, so survivorship still picks
    // the planted row as the latest version.
    val planted = cust.unionByName(
      cust.filter(col("c_custkey") < 30)
        .select((col("c_custkey") + 1000000000000L).as("c_custkey"),
          concat(lit(" "), upper(col("c_name")), lit(" ")).as("c_name"),
          col("c_nationkey"),
          (col("c_acctbal") + 100).as("c_acctbal")))
    val norm = planted.withColumn("nm", lower(trim(col("c_name"))))
    val edges = graft.ext.Blocking
      .sortedNeighborhood(norm, "c_custkey", blockKeys = Seq("c_nationkey"),
        sortKeys = Seq("nm"), window = 1, carry = Seq("nm"))
      .filter(jaroWinklerSim(col("nm_a"), col("nm_b")) >= 0.99)
      .select(col("c_custkey_a").as("id_a"), col("c_custkey_b").as("id_b"))
    val clusters = graft.ext.Dedup.connectedComponents(edges)
    val labeled = norm.join(
        clusters.withColumnRenamed("id", "c_custkey"), Seq("c_custkey"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("c_custkey")))
    graft.ext.Survivorship.goldenRecord(labeled,
        keys = Seq("cluster"), orderCol = "c_custkey",
        fields = Seq("c_name", "c_acctbal"))
      .filter(col("n_versions") >= 2)
      .select(col("cluster"), col("n_versions"),
        col("c_name").as("golden_name"),
        round(col("c_acctbal") + 1e-9, 2).as("golden_acctbal"),
        col("last_order").as("last_id"))
      .orderBy(col("cluster"))
  }

  /** X95 — sorted-neighborhood blocking ([[graft.ext.Blocking]]): multi-
    * pass merge/purge candidate pairs over customers blocked by nation,
    * window 2, pass 1 sorted by lowercase name, pass 2 by its REVERSAL
    * (the classic second key: a typo early in the name barely moves the
    * reversed sort position). The oracle restates both passes as window
    * ranks + a rank-distance join and canonicalizes with LEAST/GREATEST
    * — a genuinely independent algorithm from the engine's range-
    * partitioned sliding scan + boundary strips. */
  val x95_sorted_neighborhood: Q = (s, d) => {
    val cust = t(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        lower(col("c_name")).as("nm"))
      .withColumn("nm_rev", reverse(col("nm")))
    graft.ext.Blocking.multiPass(cust, "c_custkey",
        blockKeys = Seq("c_nationkey"),
        passes = Seq(Seq("nm"), Seq("nm_rev")), window = 2)
      .select(col("c_custkey_a").as("id_a"), col("c_custkey_b").as("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val queries: Seq[(String, Q)] = Seq(
    "x0_pipeline" -> x0_pipeline,
    "x0_web_pipeline" -> x0_web_pipeline,
    "x2_components" -> x2_components,
    "x39_pagerank" -> x39_pagerank,
    "x40_semdedup" -> x40_semdedup,
    "x34_range_rule" -> x34_range_rule,
    "x35_overlap_rule" -> x35_overlap_rule,
    "x36_line_dedup" -> x36_line_dedup,
    "x37_span_dedup" -> x37_span_dedup,
    "x38_incremental_dedup" -> x38_incremental_dedup,
    "x1_dedup_exact" -> x1_dedup_exact,
    "x1_dedup_exact_rows" -> x1_dedup_exact_rows,
    "x2_minhash_neardup" -> x2_minhash_neardup,
    "x2_simhash_neardup" -> x2_simhash_neardup,
    "x2_ngram_jaccard" -> x2_ngram_jaccard,
    "x2_embed_neardup" -> x2_embed_neardup,
    "x2_minhash_dedup" -> x2_minhash_dedup,
    "x3_ann_bruteforce" -> x3_ann_bruteforce,
    "x3_ann_lsh" -> x3_ann_lsh,
    "x3_ann_ivf" -> x3_ann_ivf,
    "x3_ann_topk_agg" -> x3_ann_topk_agg,
    "x4_text_stats" -> x4_text_stats,
    "x4_langid" -> x4_langid,
    "x4_fingerprint" -> x4_fingerprint,
    "x4_term_freq" -> x4_term_freq,
    "a3_approx_distinct" -> a3_approx_distinct,
    "a4_approx_quantile" -> a4_approx_quantile,
    "x8_profile" -> x8_profile,
    "x6_salted_agg" -> x6_salted_agg,
    "x7_hash_sample" -> x7_hash_sample,
    "x4_chunking" -> x4_chunking,
    "x7_weighted_mix" -> x7_weighted_mix,
    "x5_multimodal" -> x5_multimodal,
    "x5_frame_sample" -> x5_frame_sample,
    "x5_thumbnail" -> x5_thumbnail,
    "x9_bloom_semi" -> x9_bloom_semi,
    "x3_quantize" -> x3_quantize,
    "x8_hll_merge" -> x8_hll_merge,
    "x4_bm25" -> x4_bm25,
    "x7_stratified" -> x7_stratified,
    "x4_contamination" -> x4_contamination,
    "x4_contam_gate" -> x4_contam_gate,
    "x8_stream_join" -> x8_stream_join,
    "x4_redact" -> x4_redact,
    "x4_pack" -> x4_pack,
    "x4_bpe_tokens" -> x4_bpe_tokens,
    "x8_cms_merge" -> x8_cms_merge,
    "x9_zorder" -> x9_zorder,
    "x2_fuzzy_join" -> x2_fuzzy_join,
    "x4_repetition" -> x4_repetition,
    "x10_orc_roundtrip" -> x10_orc_roundtrip,
    "x13_avro_roundtrip" -> x13_avro_roundtrip,
    "x11_csv_roundtrip" -> x11_csv_roundtrip,
    "x12_jsonl_roundtrip" -> x12_jsonl_roundtrip,
    "x5_audio" -> x5_audio,
    "x7_split" -> x7_split,
    "x41_pca_project" -> x41_pca_project,
    "x42_cooccur" -> x42_cooccur,
    "x0_semdedup_pca" -> x0_semdedup_pca,
    "x43_ngram_lm" -> x43_ngram_lm,
    "x44_jaro_winkler" -> x44_jaro_winkler,
    "x45_retention" -> x45_retention,
    "x46_funnel" -> x46_funnel,
    "x47_mixture" -> x47_mixture,
    "x48_token_budget" -> x48_token_budget,
    "x49_quality_model" -> x49_quality_model,
    "x50_ppl_buckets" -> x50_ppl_buckets,
    "x51_domain_cap" -> x51_domain_cap,
    "x52_ewma" -> x52_ewma,
    "x53_normalize" -> x53_normalize,
    "x54_class_sample" -> x54_class_sample,
    "x55_nearest_join" -> x55_nearest_join,
    "x56_anomaly" -> x56_anomaly,
    "x57_zipf" -> x57_zipf,
    "x58_winsorize" -> x58_winsorize,
    "x59_url_canon" -> x59_url_canon,
    "x60_weighted_sample" -> x60_weighted_sample,
    "x61_html_strip" -> x61_html_strip,
    "x62_neardup_join" -> x62_neardup_join,
    "x63_entropy" -> x63_entropy,
    "x64_inc_quantile" -> x64_inc_quantile,
    "x65_decayed" -> x65_decayed,
    "x66_golden" -> x66_golden,
    "x67_manifest" -> x67_manifest,
    "x68_topk_state" -> x68_topk_state,
    "x69_psi" -> x69_psi,
    "x69_ks" -> x69_ks,
    "x69_cat_drift" -> x69_cat_drift,
    "x70_transitions" -> x70_transitions,
    "x71_mixture_draw" -> x71_mixture_draw,
    "x72_dedup_report" -> x72_dedup_report,
    "x73_containment" -> x73_containment,
    "x74_blocklist" -> x74_blocklist,
    "x75_match_dist" -> x75_match_dist,
    "x76_oov" -> x76_oov,
    "x77_mutual_knn" -> x77_mutual_knn,
    "x78_salted_join" -> x78_salted_join,
    "x79_group_split" -> x79_group_split,
    "x96_time_split" -> x96_time_split,
    "x80_join_guard" -> x80_join_guard,
    "x81_fix_mojibake" -> x81_fix_mojibake,
    "x82_trending" -> x82_trending,
    "x83_robust_norm" -> x83_robust_norm,
    "x23_k_anonymity" -> x23_k_anonymity,
    "x84_image_dedup" -> x84_image_dedup,
    "x84_image_neardup" -> x84_image_neardup,
    "x85_audio_dedup" -> x85_audio_dedup,
    "x85_audio_neardup" -> x85_audio_neardup,
    "x87_video_dedup" -> x87_video_dedup,
    "x87_video_neardup" -> x87_video_neardup,
    "x88_incremental_media_dedup" -> x88_incremental_media_dedup,
    "x89_shared_segments" -> x89_shared_segments,
    "x90_pq_exact" -> x90_pq_exact,
    "x90_pq_topk" -> x90_pq_topk,
    "x91_mv_rewrite" -> x91_mv_rewrite,
    "x91_mv_star" -> x91_mv_star,
    "x91_mv_cube" -> x91_mv_cube,
    "x92_forget" -> x92_forget,
    "x93_embed_drift" -> x93_embed_drift,
    "x94_incremental_ann" -> x94_incremental_ann,
    "x95_sorted_neighborhood" -> x95_sorted_neighborhood,
    "x59_psl_domain" -> x59_psl_domain,
    "x97_filtered_ann" -> x97_filtered_ann,
    "x98_sketch_overlap" -> x98_sketch_overlap,
    "x98_sketch_overlap_sat" -> x98_sketch_overlap_sat,
    "x0_linkage" -> x0_linkage,
    "x0_media_pipeline" -> x0_media_pipeline,
    "x86_compaction" -> x86_compaction,
    "x49_fit" -> x49_fit)

  /** Portable DuckDB oracles for the SQL-expressible subset. The planted-dup
    * construction is reproduced literally in SQL. */
  val oracleSql: Map[String, String] = Map(
    // exact regime: every sketch stays in coupon mode at <=1500 distinct
    // keys (lgK 14), where the HLL estimate IS the exact distinct count
    "x8_hll_merge" ->
      """WITH c AS (SELECT c_mktsegment, c_custkey FROM customer
        |           WHERE c_custkey < 1500)
        | SELECT * FROM (
        |  SELECT c_mktsegment AS segment,
        |    COUNT(DISTINCT c_custkey) AS est FROM c GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', COUNT(DISTINCT c_custkey) FROM c) u
        | ORDER BY segment""",
    // collision-free regime: <=300 distinct keys against width 2000 makes
    // every depth-5-min point estimate the exact conditional count
    "x8_cms_merge" ->
      """WITH o AS (SELECT o_orderstatus, o_custkey FROM orders
        |           WHERE o_custkey < 300),
        | seg AS (SELECT DISTINCT o_orderstatus AS segment FROM o
        |         UNION ALL SELECT 'ALL'),
        | items AS (SELECT CAST(item AS BIGINT) AS item
        |           FROM (VALUES (1), (7), (42)) t(item))
        | SELECT s.segment, i.item,
        |  (SELECT COUNT(*) FROM o
        |    WHERE (s.segment = 'ALL' OR o.o_orderstatus = s.segment)
        |      AND o.o_custkey = i.item) AS est
        | FROM seg s CROSS JOIN items i ORDER BY segment, item""",
    // CUBE collapsed onto the rollup must reproduce the base-table CUBE
    "x91_mv_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(AVG(l_extendedprice) + 1e-9, 4) AS avg_price,
        |  MIN(l_quantity) AS min_qty
        | FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    // exhaustive shingle-set Jaccard over the SF-stable slice: recall of
    // the LSH banding is on the hash (see the query scaladoc)
    "x2_minhash_neardup" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents
        |  WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10),
        | sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |           i -> array_to_string(t[i:i+2], ' ')))
        |    END AS s
        |  FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(text), '\s+') AS t
        |    FROM planted) z)
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
        |    len(list_distinct(a.s || b.s)) + 1e-9, 4) AS jaccard
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |   len(list_distinct(a.s || b.s)) >= 0.7
        | ORDER BY id_a, id_b""",
    // HLL exact regime on the SF-stable slice: the estimate IS the exact
    // distinct count (see the query scaladoc)
    "a3_approx_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS approx_custs,
        |  COUNT(DISTINCT o_custkey) AS exact_custs
        | FROM orders WHERE o_custkey < 300""",
    // GK rank error < 1/2 at this accuracy/n => exact order statistics;
    // rank convention probe-matched to quantile_disc
    "a4_approx_quantile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_disc(l_extendedprice, 0.5), 2) AS approx_p50,
        |  ROUND(quantile_disc(l_extendedprice, 0.95), 2) AS approx_p95,
        |  ROUND(median(l_extendedprice) + 1e-9, 2) AS exact_p50
        | FROM lineitem WHERE l_orderkey < 2000
        | GROUP BY l_returnflag ORDER BY l_returnflag""",
    // planted ground truth per rule class (the x81 pattern): the branch
    // arithmetic fixes each host's registered domain by construction
    "x59_psl_domain" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CASE CAST(doc_id % 9 AS INT)
        |      WHEN 0 THEN source || '.com'
        |      WHEN 1 THEN 'a.' || source || '.co.uk'
        |      WHEN 2 THEN source || '.com.au'
        |      WHEN 3 THEN source || '.github.io'
        |      WHEN 4 THEN 'x.b' || CAST(doc_id % 5 AS VARCHAR) || '.ck'
        |      WHEN 5 THEN 'www.ck'
        |      WHEN 7 THEN source || '.pvt.k12.ma.us'
        |      WHEN 8 THEN 'a' || CAST(doc_id % 3 AS VARCHAR) || '.web.ma.us'
        |      ELSE 'co.uk' END AS h0
        |  FROM documents)
        | SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN upper(h0) ELSE h0 END AS host,
        |  CASE CAST(doc_id % 9 AS INT)
        |    WHEN 0 THEN source || '.com'
        |    WHEN 1 THEN source || '.co.uk'
        |    WHEN 2 THEN source || '.com.au'
        |    WHEN 3 THEN source || '.github.io'
        |    WHEN 4 THEN 'x.b' || CAST(doc_id % 5 AS VARCHAR) || '.ck'
        |    WHEN 5 THEN 'www.ck'
        |    WHEN 7 THEN source || '.pvt.k12.ma.us'
        |    WHEN 8 THEN 'web.ma.us'
        |    ELSE NULL END AS rd
        | FROM h ORDER BY doc_id""",
    // filtered exact brute force: lossless ADC at full probe depth makes
    // the engine answer the true filtered top-5 by squared L2, with the
    // x90 subspace-grouped summation reproduced for bit-identical doubles
    "x97_filtered_ann" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 500 AND vec_id % 10 = 7),
        | q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 20),
        | scored AS (
        |  SELECT q.query_id, c.vec_id AS id,
        |    list_reduce(list_transform(range(0, 8), j ->
        |      list_reduce(list_transform(range(1, 9), i ->
        |        (qv[j*8+i] - v[j*8+i]) * (qv[j*8+i] - v[j*8+i])),
        |        (a, b) -> a + b)),
        |      (a, b) -> a + b) AS d
        |  FROM q, c),
        | ranked AS (
        |  SELECT query_id, id, d,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
        |  FROM scored)
        | SELECT query_id, id, ROUND(d, 4) AS dist, CAST(rank AS BIGINT) AS rank
        | FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    // exact regime: < 4096 distinct texts per lang slice, so the KMV
    // sketches never saturate and estimate/intersect/difference ARE the
    // exact cardinalities (xxhash64-key collision caveat, the q19 trade)
    "x98_sketch_overlap" ->
      """WITH a AS (SELECT DISTINCT lang, text FROM documents WHERE doc_id < 1500),
        | b AS (SELECT DISTINCT lang, text FROM documents
        |       WHERE doc_id >= 500 AND doc_id < 2000),
        | la AS (SELECT lang, COUNT(*) AS a_distinct FROM a GROUP BY lang),
        | lb AS (SELECT lang, COUNT(*) AS b_distinct FROM b GROUP BY lang),
        | lo AS (SELECT lang, COUNT(*) AS overlap FROM
        |        (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY lang)
        | SELECT COALESCE(la.lang, lb.lang) AS lang,
        |  COALESCE(a_distinct, 0) AS a_distinct,
        |  COALESCE(b_distinct, 0) AS b_distinct,
        |  COALESCE(overlap, 0) AS overlap,
        |  COALESCE(a_distinct, 0) - COALESCE(overlap, 0) AS a_only,
        |  COALESCE(b_distinct, 0) - COALESCE(overlap, 0) AS b_only
        | FROM la FULL OUTER JOIN lb ON la.lang = lb.lang
        | LEFT JOIN lo ON COALESCE(la.lang, lb.lang) = lo.lang
        | ORDER BY lang""",
    // provable lossless-IVF-PQ subcase: each folded copy is at distance
    // exactly 0.0 from its original (rank 1, smaller id) and itself
    // (rank 2 - the folded row, proving fold visibility on the hash)
    "x94_incremental_ann" ->
      """SELECT query_id, id, dist, rank FROM (
        |  SELECT vec_id + 1000000 AS query_id, vec_id AS id, 0.0 AS dist,
        |    CAST(1 AS BIGINT) AS rank
        |  FROM embeddings WHERE vec_id < 20
        |  UNION ALL
        |  SELECT vec_id + 1000000, vec_id + 1000000, 0.0, 2
        |  FROM embeddings WHERE vec_id < 20) u
        | ORDER BY query_id, rank""",
    // both passes as window ranks + rank-distance joins; LEAST/GREATEST
    // canonicalization mirrors multiPass's a-side = smaller id
    "x95_sorted_neighborhood" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, lower(c_name) AS nm,
        |    reverse(lower(c_name)) AS nm_rev
        |  FROM customer),
        | r1 AS (
        |  SELECT c_custkey, c_nationkey, ROW_NUMBER() OVER (
        |    PARTITION BY c_nationkey ORDER BY nm, c_custkey) AS rk
        |  FROM c),
        | r2 AS (
        |  SELECT c_custkey, c_nationkey, ROW_NUMBER() OVER (
        |    PARTITION BY c_nationkey ORDER BY nm_rev, c_custkey) AS rk
        |  FROM c),
        | u AS (
        |  SELECT a.c_custkey AS x, b.c_custkey AS y FROM r1 a JOIN r1 b
        |   ON a.c_nationkey = b.c_nationkey
        |   AND b.rk BETWEEN a.rk + 1 AND a.rk + 2
        |  UNION
        |  SELECT a.c_custkey AS x, b.c_custkey AS y FROM r2 a JOIN r2 b
        |   ON a.c_nationkey = b.c_nationkey
        |   AND b.rk BETWEEN a.rk + 1 AND a.rk + 2)
        | SELECT DISTINCT LEAST(x, y) AS id_a, GREATEST(x, y) AS id_b
        | FROM u ORDER BY id_a, id_b""",
    // ground truth of the planted merge table over the planted per-doc
    // words (closed form in doc_id; see the query scaladoc derivation)
    "x4_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(doc_id % 5 + 2 * (doc_id % 3) + 2 * (doc_id % 4) + 10
        |    AS BIGINT) AS n_bpe,
        |  CAST(doc_id % 5 + doc_id % 3 + doc_id % 4 + 4
        |    AS BIGINT) AS n_pretok
        | FROM documents ORDER BY doc_id""",
    "x49_fit" ->
      // closed-form MLE of the one-binary-feature logistic fit + the
      // keep counts it implies (see the query scaladoc)
      """WITH r AS (
        |  SELECT
        |   avg(CASE WHEN lang = 'en' THEN (n_chars > 250)::int END) AS p1,
        |   avg(CASE WHEN lang <> 'en' THEN (n_chars > 250)::int END) AS p0,
        |   sum((lang = 'en')::int) AS n_en,
        |   sum((lang <> 'en')::int) AS n_other
        |  FROM documents)
        | SELECT ROUND(ln(p0 / (1 - p0)), 4) AS bias,
        |  ROUND(ln(p1 / (1 - p1)) - ln(p0 / (1 - p0)), 4) AS w_is_en,
        |  CAST(CASE WHEN ln(p1 / (1 - p1)) >= 0 THEN n_en ELSE 0 END
        |    AS BIGINT) AS keep_en,
        |  CAST(CASE WHEN ln(p0 / (1 - p0)) >= 0 THEN n_other ELSE 0 END
        |    AS BIGINT) AS keep_other
        | FROM r""",
    "x2_simhash_neardup" ->
      // token-multiset duplicate pairs (the provable radius-0 subcase of
      // SimHash near-dup — see the query scaladoc): sorted token lists
      // are a canonical multiset form in both engines
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10),
        | t AS (
        |  SELECT doc_id, list_sort(regexp_split_to_array(trim(text), '\s+')) AS st
        |  FROM planted)
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM t a JOIN t b ON a.st = b.st AND a.doc_id < b.doc_id
        | ORDER BY id_a, id_b""",
    "x2_minhash_dedup" ->
      // survivor = min doc_id per shingle-SET-equality class: the provable
      // output of the MinHash pipeline at threshold 1.0 (see the query
      // scaladoc). The class key is the sorted distinct 3-gram list of the
      // whitespace tokenization (chr(1)/chr(2) joiners cannot occur in the
      // text); short texts key on the whole token string, mirroring
      // Dedup.shingles' < n arm.
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10),
        | toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM planted),
        | keys AS (
        |  SELECT doc_id,
        |   CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
        |        ELSE array_to_string(list_sort(list_distinct(
        |          list_transform(range(1, len(t) - 1),
        |            i -> array_to_string(t[i:i+2], chr(1))))), chr(2))
        |   END AS k
        |  FROM toks)
        | SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |  FROM keys)
        | WHERE rn = 1 ORDER BY doc_id""",
    "x3_ann_lsh" ->
      // top-1 = self at cosine 1.0 for corpus-member queries: provable
      // bucket self-collision (see the query scaladoc)
      """SELECT vec_id AS query_id, vec_id AS id, 1.0 AS score,
        |  CAST(1 AS BIGINT) AS rank
        | FROM embeddings WHERE vec_id < 50 ORDER BY query_id""",
    "x84_image_dedup" ->
      """SELECT a.doc_id AS media_a, b.doc_id AS media_b
        | FROM documents a JOIN documents b
        |   ON a.doc_id % 30 = b.doc_id % 30 AND a.doc_id < b.doc_id
        | WHERE a.doc_id < 120 AND b.doc_id < 120
        | ORDER BY media_a, media_b""",
    "x85_audio_dedup" ->
      """SELECT a.doc_id AS media_a, b.doc_id AS media_b
        | FROM documents a JOIN documents b
        |   ON a.doc_id % 30 = b.doc_id % 30 AND a.doc_id < b.doc_id
        | WHERE a.doc_id < 90 AND b.doc_id < 90
        | ORDER BY media_a, media_b""",
    "x87_video_dedup" ->
      """SELECT a.doc_id AS media_a, b.doc_id AS media_b
        | FROM documents a JOIN documents b
        |   ON a.doc_id % 20 = b.doc_id % 20 AND a.doc_id < b.doc_id
        | WHERE a.doc_id < 60 AND b.doc_id < 60
        | ORDER BY media_a, media_b""",
    "x88_incremental_media_dedup" ->
      // exact content identity is an equivalence relation, so the
      // prefix-causal fold equals the global first-per-content window
      """SELECT doc_id AS media_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id % 25 ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id < 60)
        | WHERE rn = 1 ORDER BY media_id""",
    "x89_shared_segments" ->
      // planted structure: same-intro-group pairs share exactly the
      // 6-frame title sequence at position 0 on both sides
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS BIGINT) AS a_start, CAST(0 AS BIGINT) AS b_start,
        |  CAST(6 AS BIGINT) AS run_len
        | FROM documents a JOIN documents b
        |   ON a.doc_id % 8 = b.doc_id % 8 AND a.doc_id < b.doc_id
        | WHERE a.doc_id < 40 AND b.doc_id < 40
        | ORDER BY id_a, id_b""",
    "x91_mv_star" ->
      // DuckDB joins the raw tables; the engine's fact side is collapsed
      // to the o_custkey rollup before the join
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price,
        |  ROUND(AVG(o_totalprice) + 1e-9, 4) AS avg_price
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "x0_linkage" ->
      // the full linkage pipeline stated in SQL — by a DIFFERENT
      // algorithm than the engine's scored-edge components: on this
      // construction the 0.99 threshold provably admits only identical
      // normalized names (scaladoc's 0.978 cap), sorted-neighborhood
      // chains of equal names connect exactly like cliques, so the
      // cluster set IS the (nation, normalized-name) equality classes —
      // one window, correct at every SF including verbatim-name
      // replicas. The Jaro-Winkler kernel itself stays pinned by
      // x44_jaro_winkler.
      """WITH planted AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000000000, ' ' || upper(c_name) || ' ',
        |    c_nationkey, c_acctbal + 100
        |  FROM customer WHERE c_custkey < 30),
        | norm AS (
        |  SELECT c_custkey AS id, lower(trim(c_name)) AS nm,
        |    c_nationkey AS k, c_name, c_acctbal FROM planted),
        | members AS (
        |  SELECT MIN(id) OVER (PARTITION BY k, nm) AS cluster,
        |    id, c_name, c_acctbal
        |  FROM norm)
        | SELECT cluster, COUNT(*) AS n_versions,
        |  arg_max(c_name, id) AS golden_name,
        |  ROUND(arg_max(c_acctbal, id) + 1e-9, 2) AS golden_acctbal,
        |  MAX(id) AS last_id
        | FROM members GROUP BY cluster HAVING COUNT(*) >= 2
        | ORDER BY cluster""",
    // the lossless subcase makes the survivor set model-independent:
    // full-rank PCA preserves centered angles, identical copies project
    // identically for ANY rotation, and no distinct pair of this corpus
    // approaches the 0.9999999 threshold — so survivors are exactly the
    // original slice, whatever Lloyd/PCA fit
    "x0_semdedup_pca" ->
      """SELECT vec_id FROM embeddings WHERE vec_id < 500
        | ORDER BY vec_id""",
    "x93_embed_drift" ->
      // identical per-dim mean/variance/pooled-smd arithmetic over an
      // unnest-by-position view of the same vectors
      """WITH ref AS (
        |  SELECT t.i AS dim, e.v[t.i + 1] AS x
        |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id < 250) e,
        |       range(0, 64) t(i)),
        | cur AS (
        |  SELECT t.i AS dim, e.v[t.i + 1] AS x
        |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id >= 250) e,
        |       range(0, 64) t(i)),
        | rs AS (SELECT dim, avg(x) AS mr, var_samp(x) AS vr,
        |               count(*) AS nr FROM ref GROUP BY dim),
        | cs AS (SELECT dim, avg(x) AS mc, var_samp(x) AS vc,
        |               count(*) AS nc FROM cur GROUP BY dim)
        | SELECT rs.dim,
        |  ROUND(mr + 1e-9, 4) AS mean_ref,
        |  ROUND(mc + 1e-9, 4) AS mean_cur,
        |  CASE WHEN ((nr-1)*vr + (nc-1)*vc) / (nr + nc - 2) > 0
        |    THEN ROUND(abs(mc - mr)
        |      / sqrt(((nr-1)*vr + (nc-1)*vc) / (nr + nc - 2)) + 1e-9, 4)
        |  END AS smd
        | FROM rs JOIN cs USING (dim) ORDER BY dim""",
    "x92_forget" ->
      // the erased store must equal a global filter of the source
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        | FROM documents
        | WHERE NOT (doc_id % 37 = 0 AND lang = 'en')
        | GROUP BY lang ORDER BY lang""",
    "x91_mv_rewrite" ->
      // DuckDB computes the fact-table truth directly; the engine must
      // produce the same numbers from the rerouted rollup scan
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  MIN(l_quantity) AS min_qty,
        |  MAX(l_quantity) AS max_qty,
        |  ROUND(AVG(l_extendedprice) + 1e-9, 4) AS avg_price
        | FROM lineitem WHERE l_linestatus = 'F'
        | GROUP BY l_returnflag ORDER BY l_returnflag""",
    "x90_pq_exact" ->
      // lossless-codebook PQ: ADC ≡ true squared L2, with the engine's
      // subspace-grouped left-to-right summation reproduced via nested
      // list_reduce so the doubles are bit-identical (see the scaladoc)
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 64),
        | q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        | scored AS (
        |  SELECT q.query_id, c.vec_id AS id,
        |    list_reduce(list_transform(range(0, 8), j ->
        |      list_reduce(list_transform(range(1, 9), i ->
        |        (qv[j*8+i] - v[j*8+i]) * (qv[j*8+i] - v[j*8+i])),
        |        (a, b) -> a + b)),
        |      (a, b) -> a + b) AS d
        |  FROM q, c),
        | ranked AS (
        |  SELECT query_id, id, d,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
        |  FROM scored)
        | SELECT query_id, id, ROUND(d, 4) AS dist, CAST(rank AS BIGINT) AS rank
        | FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""",
    "x3_ann_ivf" ->
      // top-1 = self at cosine 1.0 for corpus-member queries: the probe
      // set always contains the query's own inverted list (see the query
      // scaladoc)
      """SELECT vec_id AS query_id, vec_id AS id, 1.0 AS score,
        |  CAST(1 AS BIGINT) AS rank
        | FROM embeddings WHERE vec_id < 10 ORDER BY query_id""",
    "x5_multimodal" ->
      // the synthesized corpus's geometry is a pure function of the id
      // (see Multimodal.synthesize); corrupt rows at i%97=13
      """WITH m AS (
        |  SELECT i,
        |   CASE WHEN i%3=0 THEN 'image/png' WHEN i%3=1 THEN 'video/fake'
        |        ELSE 'audio/wav' END AS mime,
        |   (i%97 <> 13) AS ok,
        |   CASE WHEN i%3=2 THEN 8000 ELSE 8+(i%5)*4 END AS w
        |  FROM range(500) t(i))
        | SELECT mime, COUNT(*) AS n_items,
        |  CAST(COUNT(*) FILTER (WHERE ok) AS BIGINT) AS n_valid,
        |  ROUND(AVG(CASE WHEN ok THEN w END), 4) AS avg_width
        | FROM m GROUP BY mime ORDER BY mime""",
    "x5_audio" ->
      // audio rows are i%3=2 minus the i%97=13 corrupts: 8 kHz mono,
      // 32+(i%50) PCM samples — the decode must recover exactly these
      """SELECT i AS media_id,
        |  CASE WHEN i%3=2 AND i%97<>13 THEN 8000 END AS sample_rate,
        |  CASE WHEN i%3=2 AND i%97<>13 THEN 1 END AS channels,
        |  CAST(CASE WHEN i%3=2 AND i%97<>13 THEN 32+(i%50) END AS BIGINT)
        |    AS n_samples
        | FROM range(200) t(i) ORDER BY media_id""",
    "x86_compaction" ->
      // compaction is a pure relayout: per-lang content aggregates over
      // the compacted output must equal the same over the source table
      // (file-count plan gated inside the query)
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        | FROM documents GROUP BY lang ORDER BY lang""",
    "x5_frame_sample" ->
      // frame counts by modality: images 1, synthetic video 1+(i%7),
      // WAV 32+(i%50) PCM frames; i%97=13 corrupt excluded; every 2nd
      """WITH m AS (
        |  SELECT i,
        |   CASE WHEN i%3=0 THEN 1 WHEN i%3=1 THEN 1+(i%7)
        |        ELSE 32+(i%50) END AS nf
        |  FROM range(100) t(i) WHERE i%97 <> 13)
        | SELECT i AS media_id, 'synthetic://media/' || i AS uri,
        |  unnest(range(0, nf, 2)) AS frame_idx
        | FROM m
        | ORDER BY media_id, frame_idx""",
    "x5_thumbnail" ->
      // fit-to-4 of the corpus's (w = 8+(i%5)*4, h = 8) PNG sources:
      // tw = 4, th = round(32/w); only i%3=0 rows are images
      """SELECT i AS media_id, 4 AS thumb_w,
        |  CAST(ROUND(32.0 / (8 + (i%5)*4)) AS BIGINT) AS thumb_h
        | FROM range(200) t(i) WHERE i%3 = 0 ORDER BY media_id""",
    "x9_zorder" ->
      // the z-order write is a REORDERING: per-bucket content aggregates
      // over the read-back layout must equal the same aggregates over the
      // source table (the layout-pruning property is gated inside the
      // query and margin-pinned in ZOrderSpec)
      """SELECT CAST(CAST(user_id AS DOUBLE) AS BIGINT) % 8 AS bucket,
        |  COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users,
        |  ROUND(SUM(value), 2) AS v_sum
        | FROM events GROUP BY 1 ORDER BY bucket""",
    "x1_dedup_exact" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10)
        | SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        | FROM planted GROUP BY text ORDER BY keep_id""",
    "x4_text_stats" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | ROUND(CAST(LENGTH(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |   / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len,
        | LENGTH(text) AS len_chars
        | FROM documents ORDER BY doc_id""",
    "x4_term_freq" ->
      """SELECT word, COUNT(*) AS tf FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents) u
        | GROUP BY word ORDER BY tf DESC, word""",
    "x6_salted_agg" ->
      """SELECT l_returnflag, COUNT(l_quantity) AS l_quantity_count,
        | ROUND(SUM(l_quantity), 2) AS l_quantity_sum
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Exact ANN: both engines do double math over the same float inputs
    // (CosineSimilarity widens before multiplying; the oracle casts to
    // DOUBLE[]), and ties break on id, so the top-k SET and ORDER agree.
    // The same SQL oracles BOTH exact implementations (window-rank and
    // single-pass heap aggregate) — they are contractually identical.
    "x3_ann_bruteforce" -> annExactOracle,
    "x3_ann_topk_agg" -> annExactOracle,
    "x2_embed_neardup" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10)
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        | FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) >= 0.95
        | ORDER BY id_a, id_b""",
    // SemDeDup with verbatim-corpus centroids: assignment, within-cluster
    // edges, and component closure are all exactly SQL-expressible (same
    // double cosine arithmetic both engines; tie-break on centroid id).
    "x40_semdedup" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings
        |   WHERE vec_id < 10),
        | cents AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        | assigned AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT c.vec_id, c.v, k.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.v, k.cv) DESC, k.cid) AS rn
        |    FROM corpus c CROSS JOIN cents k) t WHERE rn = 1),
        | edges AS (
        |  SELECT a.vec_id AS ea, b.vec_id AS eb
        |  FROM assigned a JOIN assigned b
        |    ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
        | sym AS (SELECT ea, eb FROM edges UNION SELECT eb, ea FROM edges),
        | reach(src, node) AS (
        |  SELECT ea, ea FROM sym
        |  UNION
        |  SELECT r.src, s.eb FROM reach r JOIN sym s ON r.node = s.ea),
        | labels AS (SELECT src AS id, MIN(node) AS cluster FROM reach GROUP BY src)
        | SELECT vec_id FROM corpus
        | WHERE vec_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
        | ORDER BY vec_id""",
    // Bloom pruning is exact by construction (no false negatives +
    // residual semi join) — the oracle is the plain IN-subquery.
    "x9_bloom_semi" ->
      """SELECT o_orderkey FROM orders
        | WHERE o_custkey IN
        |   (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
        | ORDER BY o_orderkey""",
    // Integer sums of the int8 codes are exact in both engines; both
    // widen float -> double before dividing, and round() is half-away-
    // from-zero in both.
    "x3_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |   GREATEST(list_max(list_transform(embedding,
        |     x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127 AS scale
        |  FROM embeddings),
        | q AS (SELECT vec_id, scale,
        |   list_transform(embedding,
        |     x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS qv
        |  FROM s)
        | SELECT vec_id, ROUND(scale, 6) AS qscale,
        |  CAST(list_sum(qv) AS BIGINT) AS qsum,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm
        | FROM q ORDER BY vec_id""",
    // Okapi BM25 with k1=1.2, b=0.75; whitespace+lowercase tokens; scores
    // rounded BEFORE the ordering so near-equal ranks tie-break on doc_id
    // identically in both engines.
    "x4_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        | toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        | dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks2 GROUP BY doc_id),
        | g AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks2
        |   WHERE term IN ('spark', 'window', 'hash') GROUP BY doc_id, term),
        | dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        | scored AS (
        |  SELECT tf.doc_id,
        |    SUM(ln((g.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / g.avgdl))) AS s
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |    JOIN dfq ON tf.term = dfq.term CROSS JOIN g
        |  GROUP BY tf.doc_id)
        | SELECT doc_id, ROUND(s, 4) AS score FROM scored
        | ORDER BY score DESC, doc_id LIMIT 20""",
    // Trigram construction reproduced in string space: tokenize on
    // non-alphanumeric runs after lower() (identical in both engines —
    // non-ascii is stripped by the token class, so unicode lowercasing
    // differences cannot surface), windowed LEAD concatenation, DISTINCT
    // per doc, membership against the benchmark split's gram set.
    "x4_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
        |  FROM (SELECT doc_id, list_filter(
        |      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0) AS l
        |    FROM documents)),
        | tri AS (
        |  SELECT doc_id,
        |    tok || ' ' || LEAD(tok,1) OVER w || ' ' || LEAD(tok,2) OVER w AS g
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        | trid AS (SELECT DISTINCT doc_id, g FROM tri WHERE g IS NOT NULL),
        | bench AS (SELECT DISTINCT g FROM trid WHERE doc_id % 17 = 0),
        | corp AS (SELECT doc_id, g FROM trid WHERE doc_id % 17 <> 0)
        | SELECT doc_id, COUNT(*) AS n_grams,
        |  COUNT(*) FILTER (WHERE g IN (SELECT g FROM bench)) AS n_hit,
        |  ROUND(CAST(COUNT(*) FILTER (WHERE g IN (SELECT g FROM bench))
        |      AS DOUBLE) / COUNT(*) + 1e-9, 4) AS ratio
        | FROM corp GROUP BY doc_id ORDER BY doc_id""",
    // the exact string-space computation IS the oracle for the Bloom
    // screen: no false negatives by contract, false positives sized away
    // (16 M bits vs ~4 k benchmark grams) — hash equality proves it
    "x4_contam_gate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, 'tiny doc' FROM documents WHERE doc_id < 5),
        | toks AS (
        |  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
        |  FROM (SELECT doc_id, list_filter(
        |      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0) AS l
        |    FROM (SELECT doc_id, text FROM documents
        |          UNION ALL SELECT doc_id, text FROM corpus
        |            WHERE doc_id >= 3000000))),
        | tri AS (
        |  SELECT doc_id,
        |    tok || ' ' || LEAD(tok,1) OVER w || ' ' || LEAD(tok,2) OVER w AS g
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        | trid AS (SELECT DISTINCT doc_id, g FROM tri WHERE g IS NOT NULL),
        | bench AS (SELECT DISTINCT g FROM trid
        |           WHERE doc_id % 17 = 0 AND doc_id < 3000000),
        | corp AS (SELECT doc_id, g FROM trid
        |          WHERE doc_id % 17 <> 0 OR doc_id >= 3000000),
        | rep AS (
        |  SELECT a.doc_id, COUNT(c.g) AS n_grams,
        |   COUNT(c.g) FILTER (WHERE c.g IN (SELECT g FROM bench)) AS n_hit
        |  FROM corpus a LEFT JOIN corp c ON a.doc_id = c.doc_id
        |  GROUP BY a.doc_id)
        | SELECT doc_id, n_grams, n_hit,
        |   CASE WHEN n_grams > 0
        |     THEN ROUND(CAST(n_hit AS DOUBLE) / n_grams + 1e-9, 4)
        |     ELSE 0.0 END AS ratio,
        |   CAST(n_grams > 0 AND
        |     ROUND(CAST(n_hit AS DOUBLE) / n_grams + 1e-9, 4) > 0.3
        |     AS BIGINT) AS contaminated
        | FROM rep ORDER BY doc_id""",
    // DuckDB regexp_replace replaces the FIRST match unless the 'g'
    // flag is passed; patterns are the shared Java/RE2-portable subset.
    "x4_redact" ->
      """WITH p AS (SELECT doc_id,
        |   text || ' reach u' || CAST(doc_id AS VARCHAR)
        |     || '@ex.com or 555-867-'
        |     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS planted
        |  FROM documents)
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(planted,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
        |    + len(regexp_extract_all(planted,
        |      '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_pii,
        |  regexp_replace(regexp_replace(planted,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
        | FROM p ORDER BY doc_id""",
    "x4_pack" ->
      """WITH t AS (SELECT lang, doc_id,
        |   len(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        | o AS (SELECT lang, doc_id, toks,
        |   SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) - toks AS off
        |  FROM t)
        | SELECT lang, CAST(floor(off / 1000) AS BIGINT) AS pack,
        |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens
        | FROM o GROUP BY lang, pack ORDER BY lang, pack""",
    // Brute-force all-pairs oracle: completeness of the engine's
    // deletion-neighborhood blocking is what this pins.
    "x2_fuzzy_join" ->
      """WITH base AS (SELECT c_custkey AS id, c_name AS s FROM customer
        |   WHERE c_custkey < 1000),
        | typos AS (
        |  SELECT id + 1000000 AS id, 'X' || substr(s, 2) AS s
        |  FROM base WHERE id % 7 = 0
        |  UNION ALL
        |  SELECT id + 2000000, substr(s, 2) FROM base WHERE id % 11 = 0),
        | u AS (SELECT * FROM base UNION ALL SELECT * FROM typos)
        | SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        | FROM u a JOIN u b ON a.id < b.id
        | WHERE levenshtein(a.s, b.s) <= 1
        | ORDER BY id_a, id_b""",
    "x8_stream_join" ->
      """SELECT a.event_id AS imp_id, b.event_id AS click_id
        | FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        | ORDER BY imp_id, click_id""",
    "x7_stratified" ->
      """WITH r AS (SELECT c_mktsegment, c_custkey,
        |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |     ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
        |  FROM customer)
        | SELECT c_mktsegment, c_custkey FROM r WHERE rn <= 5
        | ORDER BY c_mktsegment, c_custkey""",
    "x4_repetition" ->
      """SELECT doc_id,
        |  ROUND(CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE 1.0 - list_unique(g2) * 1.0 / len(g2) END, 4) AS dup2_frac,
        |  ROUND(CASE WHEN len(g3) = 0 THEN 0.0
        |    ELSE 1.0 - list_unique(g3) * 1.0 / len(g3) END, 4) AS dup3_frac
        | FROM (
        |  SELECT doc_id,
        |   list_transform(list_zip(toks[1:-2], toks[2:]),
        |     p -> p[1] || ' ' || p[2]) AS g2,
        |   list_transform(list_zip(toks[1:-3], toks[2:-2], toks[3:]),
        |     p -> p[1] || ' ' || p[2] || ' ' || p[3]) AS g3
        |  FROM (SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |    FROM documents))
        | ORDER BY doc_id""",
    "x10_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(SUM(l_extendedprice), 2) AS price_sum,
        |  MAX(l_shipdate) AS ship_max
        | FROM lineitem WHERE l_quantity > 40
        | GROUP BY l_returnflag ORDER BY l_returnflag""",
    "x13_avro_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice) + 1e-9, 2) AS price_sum,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  MAX(o_orderdate) AS date_max
        | FROM orders WHERE o_totalprice > 100000
        | GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "x11_csv_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS text_len_sum
        | FROM documents GROUP BY source ORDER BY source""",
    "x12_jsonl_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS text_len_sum
        | FROM documents GROUP BY lang ORDER BY lang""",
    "x7_split" ->
      """SELECT doc_id,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccccc' THEN 'train'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents ORDER BY doc_id""",
    // same md5-52bit content hash as the engine face: identical ~10% draw
    "x7_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        | WHERE ('0x' || substr(md5(text), 1, 13))::UBIGINT % 10 = 0
        | ORDER BY doc_id""",
    // per-source portable draw: md5(doc_id ':' source)-52bit mod 10000
    // thresholded at round(frac*10000) — the exact weightedUnion rule
    "x7_weighted_mix" ->
      """WITH m AS (
        |  SELECT 'en_heavy' AS mix_source FROM documents
        |   WHERE lang = 'en'
        |     AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':en_heavy'),
        |          1, 13))::UBIGINT % 10000 < 9000
        |  UNION ALL
        |  SELECT 'rest_light' FROM documents
        |   WHERE lang <> 'en'
        |     AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rest_light'),
        |          1, 13))::UBIGINT % 10000 < 3000)
        | SELECT mix_source, COUNT(*) AS docs FROM m
        | GROUP BY mix_source ORDER BY mix_source""",
    // oracle keeps min-doc_id per TEXT where the engine partitions by
    // (xxhash64, length) — equality re-pins hash-grouping fidelity at
    // surviving-row granularity (the x72 pattern, planted corpus)
    "x1_dedup_exact_rows" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' appended', lang, n_chars
        |    FROM documents WHERE doc_id < 25
        |  UNION ALL SELECT doc_id + 2000000, text, lang, n_chars
        |    FROM documents WHERE doc_id < 10)
        | SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM corpus) r
        | WHERE rn = 1 ORDER BY doc_id""",
    // identical md5-52bit hash, normalization and 5-token windowing as
    // the engine face: trim -> collapse \s+ -> lower for fp64; word
    // windows i in 0..max(n_toks-5, 0) (short docs hash their full token
    // string once), list_min over the window hashes for the rolling fp
    "x4_fingerprint" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(lower(regexp_replace(trim(text), '\s+', ' ',
        |      'g'))), 1, 13))::UBIGINT::BIGINT AS fp64,
        |  COALESCE(list_min(list_transform(
        |    range(0, greatest(len(toks) - 5, 0) + 1),
        |    i -> ('0x' || substr(md5(array_to_string(
        |        list_slice(toks, i + 1, i + 5), ' ')), 1, 13))
        |      ::UBIGINT::BIGINT)), 0) AS rolling_fp
        | FROM (SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN []
        |         ELSE str_split_regex(trim(text), '\s+') END AS toks
        |   FROM documents)
        | ORDER BY doc_id""",
    "x34_range_rule" ->
      """SELECT n_nationkey AS band, count(*) AS n,
        |  sum(o_totalprice) AS price_sum
        | FROM orders JOIN nation
        |   ON o_totalprice >= n_nationkey * 12000.0
        |  AND o_totalprice <  n_nationkey * 12000.0 + 20000.0
        | GROUP BY n_nationkey ORDER BY band""",
    "x35_overlap_rule" ->
      """SELECT s_nationkey AS nk, count(*) AS n,
        |  round(sum(s_acctbal + c_acctbal) + 1e-9, 2) AS bal_sum
        | FROM supplier JOIN customer
        |   ON s_acctbal <= c_acctbal + 500.0
        |  AND c_acctbal <= s_acctbal + 1000.0
        | GROUP BY s_nationkey ORDER BY nk""",
    "x36_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    'SHARED HEADER' || chr(10) || text || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'PROMO FOOTER'
        |         ELSE 'unique footer ' || CAST(doc_id AS VARCHAR) END AS t
        |  FROM documents),
        | arrs AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM corpus),
        | lines AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos,
        |                  unnest(arr) AS line FROM arrs),
        | heavy AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 100)
        | SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        | FROM lines WHERE line NOT IN (SELECT line FROM heavy)
        | GROUP BY doc_id ORDER BY doc_id""",
    "x37_span_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN text || ' COMMON COPIED SENTENCE TOKENS HERE PLUS TWO'
        |         ELSE text END AS t
        |  FROM documents),
        | toks AS (
        |  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
        |  FROM (SELECT doc_id, string_split_regex(trim(t), '\s+') AS arr
        |        FROM corpus)),
        | grams AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN lead(tok, 4) OVER w IS NOT NULL THEN
        |      tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |          || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
        |    END AS gram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        | dup AS (SELECT gram FROM grams WHERE gram IS NOT NULL
        |         GROUP BY gram HAVING count(*) > 1),
        | cov AS (
        |  SELECT doc_id, pos, tok,
        |    max(CASE WHEN gram IN (SELECT gram FROM dup) THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
        |  FROM grams)
        | SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        | FROM cov WHERE c = 0 GROUP BY doc_id ORDER BY doc_id""",
    "x39_pagerank" ->
      """WITH e AS (
        |  SELECT o_custkey AS src, l_suppkey AS dst,
        |         CAST(count(*) AS DOUBLE) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        | ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
        | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        | r0 AS (SELECT id, 1.0 / n AS r FROM nodes, nn),
        | r1 AS (
        |  SELECT nd.id,
        |    0.15 / MAX(nn.n) + 0.85 * COALESCE(SUM(p.r * e.w / o.ow), 0) AS r
        |  FROM nodes nd CROSS JOIN nn
        |  LEFT JOIN e ON e.dst = nd.id
        |  LEFT JOIN r0 p ON p.id = e.src
        |  LEFT JOIN ow o ON o.src = e.src
        |  GROUP BY nd.id),
        | r2 AS (
        |  SELECT nd.id,
        |    0.15 / MAX(nn.n) + 0.85 * COALESCE(SUM(p.r * e.w / o.ow), 0) AS r
        |  FROM nodes nd CROSS JOIN nn
        |  LEFT JOIN e ON e.dst = nd.id
        |  LEFT JOIN r1 p ON p.id = e.src
        |  LEFT JOIN ow o ON o.src = e.src
        |  GROUP BY nd.id),
        | r3 AS (
        |  SELECT nd.id,
        |    0.15 / MAX(nn.n) + 0.85 * COALESCE(SUM(p.r * e.w / o.ow), 0) AS r
        |  FROM nodes nd CROSS JOIN nn
        |  LEFT JOIN e ON e.dst = nd.id
        |  LEFT JOIN r2 p ON p.id = e.src
        |  LEFT JOIN ow o ON o.src = e.src
        |  GROUP BY nd.id)
        | SELECT id, round(r + 1e-12, 9) AS rank FROM r3 ORDER BY id""",
    "x2_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT c_custkey AS a, c_custkey + 1 AS b FROM customer
        |   WHERE c_custkey % 10 < 4
        |  UNION ALL
        |  SELECT c_custkey, c_custkey - (c_custkey % 100) FROM customer
        |   WHERE c_custkey % 100 >= 95),
        | sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        | nodes AS (SELECT DISTINCT a AS id FROM sym),
        | reach(src, node) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a)
        | SELECT src AS id, min(node) AS cluster
        | FROM reach GROUP BY src ORDER BY id""",
    // x2_ngram_jaccard upgraded from Tier B (round 5): the inverted-index
    // plan has FULL recall at any threshold > 0 (a pair with positive
    // Jaccard shares >= 1 shingle; maxShingleFreq=1000 drops nothing at
    // this corpus size), so DuckDB's exhaustive O(n^2) pair scan with
    // exact list intersection is a true oracle for it
    "x2_ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents
        |   WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10),
        | sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
        |    END AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM corpus)),
        | pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na, len(b.s) AS nb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        | SELECT id_a, id_b,
        |   round(CAST(inter AS DOUBLE) / (na + nb - inter) + 1e-9, 4) AS jaccard
        | FROM pairs
        | WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7
        | ORDER BY id_a, id_b""",
    // x4_chunking upgraded from Tier B (round 5): window starts and sizes
    // are pure arithmetic on the whitespace token count (stride =
    // maxTokens - overlap = 28), so the chunk inventory is exactly
    // SQL-expressible
    "x4_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        | w AS (
        |  SELECT doc_id, n,
        |    unnest(range(0, CAST(floor((n - 1) / 28) AS BIGINT) + 1)) AS chunk_idx
        |  FROM t WHERE n > 0)
        | SELECT doc_id, chunk_idx, least(32, n - chunk_idx * 28) AS chunk_tokens
        | FROM w ORDER BY doc_id, chunk_idx""",
    "x38_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' appended' FROM documents
        |   WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10),
        | staged AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id < 300 THEN 0
        |         WHEN doc_id < 1000000 THEN 1 ELSE 2 END AS b
        |  FROM corpus),
        | ranked AS (
        |  SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY text ORDER BY b, doc_id) AS rn
        |  FROM staged)
        | SELECT doc_id, text FROM ranked WHERE rn = 1 ORDER BY doc_id""",
    "x41_pca_project" -> x41OracleSql,
    "x0_pipeline" -> x0PipelineOracleSql,
    "x0_web_pipeline" -> x0WebPipelineOracleSql,
    // the media flagship replayed from doc_id arithmetic: duplicate
    // groups are byte-identical by construction (exact regime), so the
    // whole chain — decode counts, cap-gated radius-0 pairs, greedy
    // survivorship, savings — reduces to the planted group algebra;
    // the 89-strong mega-group (grp = -1) fails the 64 cap and must
    // contribute zero pairs in BOTH engines
    "x0_media_pipeline" ->
      """WITH m AS (
        |  SELECT * FROM (VALUES ('image', 120), ('audio', 90),
        |    ('video', 72)) v(modality, g)),
        | items AS (
        |  SELECT m.modality, d.doc_id AS i,
        |    (d.doc_id % 75 <> 74) AS ok,
        |    CASE WHEN d.doc_id >= 360 THEN -1
        |         ELSE d.doc_id % m.g END AS grp
        |  FROM documents d CROSS JOIN m WHERE d.doc_id < 450),
        | freq AS (
        |  SELECT modality, grp, COUNT(*) AS f FROM items
        |  WHERE ok GROUP BY modality, grp),
        | pairs AS (
        |  SELECT a.modality, a.i AS ia, b.i AS ib
        |  FROM items a JOIN items b
        |    ON a.modality = b.modality AND a.grp = b.grp AND a.i < b.i
        |  JOIN freq f ON f.modality = a.modality AND f.grp = a.grp
        |  WHERE a.ok AND b.ok AND f.f <= 64),
        | base AS (
        |  SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_decodable
        |  FROM items GROUP BY modality),
        | p AS (
        |  SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COUNT(DISTINCT ib) AS BIGINT) AS n_redundant
        |  FROM pairs GROUP BY modality)
        | SELECT base.modality, n_items, n_decodable,
        |  COALESCE(n_pairs, 0) AS n_pairs,
        |  COALESCE(n_redundant, 0) AS n_redundant,
        |  ROUND(COALESCE(n_redundant, 0) * 100.0 / n_items + 1e-9, 2)
        |    AS pct_saved
        | FROM base LEFT JOIN p ON base.modality = p.modality
        | ORDER BY base.modality""",
    // the token-table self-join formulation — deliberately a DIFFERENT
    // algorithm from the engine's row-local HOF pair generation
    "x42_cooccur" ->
      """WITH d2 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        | tok AS (
        |  SELECT doc_id, u.p AS pos, u.w AS w FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(t, (x, i) -> struct_pack(p := i, w := x))) AS u
        |    FROM d2) s),
        | pairs AS (
        |  SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb,
        |    b.pos - a.pos AS dist
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2)
        | SELECT wa, wb, COUNT(*) AS n, ROUND(SUM(1.0 / dist), 4) AS wsum
        | FROM pairs GROUP BY wa, wb ORDER BY n DESC, wa, wb""",
    // add-k smoothed bigram LM: identical tokenization / counting /
    // smoothing arithmetic as ext/NgramLm (k = 0.5)
    "x43_ngram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        | bi AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g
        |  WHERE len(ts) >= 2),
        | bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        | uc AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        | v AS (SELECT COUNT(DISTINCT w1) AS vv FROM bi)
        | SELECT bi.doc_id,
        |   ROUND(AVG(-ln((c12 + 0.5) / (c1 + 0.5 * vv))), 4) AS nll,
        |   COUNT(*) AS n_bigrams
        | FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
        | GROUP BY bi.doc_id ORDER BY bi.doc_id""",
    // DuckDB's jaro_winkler_similarity IS the pinned semantics
    "x44_jaro_winkler" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[-1] AS noun
        |  FROM part WHERE p_partkey < 2000),
        | scored AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
        |  FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey <> b.p_partkey),
        | ranked AS (
        |  SELECT id_a, id_b, jw,
        |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY jw DESC, id_b) AS rn
        |  FROM scored)
        | SELECT id_a, id_b, jw FROM ranked WHERE rn = 1 ORDER BY id_a""",
    "x45_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events GROUP BY 1)
        | SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
        |   CAST(date_diff('day', c.cohort_week,
        |     date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset,
        |   COUNT(DISTINCT e.user_id) AS n_users
        | FROM events e JOIN cohorts c USING (user_id)
        | GROUP BY 1, 2 ORDER BY 1, 2""",
    "x46_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        | s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        | s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        | SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |    COUNT(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3) f
        | ORDER BY step_idx""",
    "x47_mixture" ->
      """WITH by_src AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
        |  FROM documents GROUP BY 1),
        | tot AS (SELECT SUM(n_tokens) AS t FROM by_src),
        | shared AS (
        |  SELECT source, n_docs, n_tokens,
        |    n_tokens / (SELECT t FROM tot) AS share,
        |    pow(n_tokens / (SELECT t FROM tot), 0.3) AS p
        |  FROM by_src)
        | SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |   ROUND(share, 6) AS share,
        |   ROUND(p / (SELECT SUM(p) FROM shared), 6) AS weight
        | FROM shared ORDER BY source""",
    // plain global running-sum window: the engine's two-level
    // range-bucket decomposition must reproduce it exactly
    "x48_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    n_chars
        |  FROM documents),
        | r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM d)
        | SELECT doc_id, n_tokens, cum_tokens FROM r
        | WHERE cum_tokens <= 30000 ORDER BY doc_id""",
    // identical linear-model arithmetic: sigmoid(-3 + 0.9 ln(1+tokens)
    // + 0.35 mean_token_len - 0.25 ln(1+chars)); keep cut on the ROUNDED
    // score in both engines
    "x49_quality_model" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS t,
        |    CAST(LENGTH(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS m,
        |    n_chars
        |  FROM documents)
        | SELECT doc_id,
        |   ROUND(1.0 / (1.0 + exp(-(-3.0 + 0.9 * ln(1.0 + t)
        |     + 0.35 * m - 0.25 * ln(1.0 + n_chars)))), 4) AS score,
        |   CASE WHEN ROUND(1.0 / (1.0 + exp(-(-3.0 + 0.9 * ln(1.0 + t)
        |     + 0.35 * m - 0.25 * ln(1.0 + n_chars)))), 4) >= 0.5
        |     THEN 1 ELSE 0 END AS keep
        | FROM f ORDER BY doc_id""",
    // NTILE(3) over (rounded nll, doc_id): the engine computes the same
    // tiles WITHOUT a global sort (ext/Tiling); nll from the x43 model
    "x50_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        | bi AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g
        |  WHERE len(ts) >= 2),
        | bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        | uc AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        | v AS (SELECT COUNT(DISTINCT w1) AS vv FROM bi),
        | scored AS (
        |  SELECT bi.doc_id,
        |    ROUND(AVG(-ln((c12 + 0.5) / (c1 + 0.5 * vv))), 4) AS nll
        |  FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
        |  GROUP BY bi.doc_id),
        | tiled AS (
        |  SELECT doc_id, nll,
        |    NTILE(3) OVER (ORDER BY nll, doc_id) AS bucket
        |  FROM scored)
        | SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        |   ROUND(AVG(nll), 4) AS avg_nll
        | FROM tiled GROUP BY bucket ORDER BY bucket""",
    // same dirty-URL synthesis, then the canonicalization contract spelled
    // in regexp/list SQL (starts_with, not LIKE 'utm_%' — '_' is a LIKE
    // wildcard); registered domain = label arithmetic over string_split
    "x59_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN upper(source) ELSE source END) || '.' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'co.uk'
        |          WHEN doc_id % 4 = 2 THEN 'org' ELSE 'io' END) ||
        |    (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0 THEN ':443'
        |          WHEN doc_id % 2 = 1 AND doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
        |    '/Docs/' || CAST(doc_id AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '?a=1' END) ||
        |    (CASE WHEN doc_id % 4 = 1 THEN '#sec' ELSE '' END) AS u
        |  FROM documents),
        | pieces AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS proto,
        |    lower(regexp_replace(regexp_extract(f, '://([^/?#]*)', 1), '^[^@]*@', '')) AS auth,
        |    regexp_replace(regexp_extract(f, '://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
        |    regexp_extract(f, '\?([^#]*)', 1) AS q
        |  FROM (SELECT doc_id, regexp_replace(u, '#.*$', '') AS f FROM raw)),
        | hp AS (
        |  SELECT doc_id, proto, path,
        |    split_part(auth, ':', 1) AS host,
        |    (CASE WHEN contains(auth, ':') THEN split_part(auth, ':', 2)
        |          ELSE '' END) AS port,
        |    list_sort(list_filter(string_split(q, '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_')
        |        AND NOT starts_with(p, 'fbclid=')
        |        AND NOT starts_with(p, 'gclid=')
        |        AND NOT starts_with(p, 'ref='))) AS qs
        |  FROM pieces),
        | canon AS (
        |  SELECT doc_id, host,
        |    proto || '://' || host ||
        |    (CASE WHEN port <> '' AND NOT (proto = 'http' AND port = '80')
        |              AND NOT (proto = 'https' AND port = '443')
        |          THEN ':' || port ELSE '' END) ||
        |    path ||
        |    (CASE WHEN len(qs) > 0 THEN '?' || array_to_string(qs, '&')
        |          ELSE '' END) AS canon
        |  FROM hp)
        | SELECT doc_id, canon,
        |  (CASE WHEN len(labels) <= 2 THEN host
        |        WHEN (labels[-2] || '.' || labels[-1]) IN
        |          ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
        |           'org.au','co.jp','co.in','co.nz','co.za','co.kr',
        |           'com.br','com.cn','com.mx','com.tr','com.sg','com.hk',
        |           'com.ar')
        |          THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
        |        ELSE labels[-2] || '.' || labels[-1] END) AS rdom
        | FROM (SELECT *, string_split(host, '.') AS labels FROM canon)
        | ORDER BY doc_id""",
    // identical md5-hex -> 52-bit uniform -> A-ES key arithmetic; rounded
    // key + doc_id tiebreak makes the k-boundary bit-stable cross-engine
    "x60_weighted_sample" ->
      """SELECT doc_id, lang, CAST(draw AS BIGINT) AS draw FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY ROUND(-ln(
        |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 13))
        |         ::UBIGINT::DOUBLE + 0.5) / 4503599627370496.0)
        |      / n_chars, 9), doc_id) AS draw
        |  FROM documents WHERE n_chars > 0) r
        | WHERE draw <= 25 ORDER BY doc_id""",
    // oracle groups by TEXT where the engine groups by hash — the
    // equality re-pins hash-grouping fidelity at report granularity
    "x72_dedup_report" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' appended'
        |    FROM documents WHERE doc_id < 25
        |  UNION ALL SELECT doc_id + 2000000, text
        |    FROM documents WHERE doc_id < 10),
        | clusters AS (
        |  SELECT text, COUNT(*) AS n_copies, MAX(length(text)) AS len
        |  FROM corpus GROUP BY text)
        | SELECT n_copies, COUNT(*) AS n_clusters,
        |   COUNT(*) * (n_copies - 1) AS rows_removed,
        |   CAST(SUM(len) * (n_copies - 1) AS BIGINT) AS bytes_saved
        | FROM clusters GROUP BY n_copies ORDER BY n_copies""",
    // the language-ID argmax (first-max in de,en,es,fr order, 'und' on
    // zero hits, CJK density override) and the 4-component qualityScore
    // reproduced with the same RE2/Java-portable regexes and arithmetic
    // order; [!-/:-@\[-`{-~] IS Java's \p{Punct} written as ranges
    "x4_langid" ->
      """WITH f AS (
        |  SELECT
        |    CAST(length(text) AS DOUBLE) AS lc,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(str_split_regex(trim(text), '\s+')) END AS n,
        |    len(regexp_extract_all(text, '\p{Han}')) AS cjk,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(der|die|das|und|ist|nicht|ein|mit|zu|auf)\b')) AS hde,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(the|and|of|to|a|in|is|that|it|for)\b')) AS hen,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(el|la|los|las|es|y|en|que|un|por)\b')) AS hes,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(le|la|les|et|est|un|une|dans|que|pour)\b')) AS hfr,
        |    len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS np,
        |    len(regexp_replace(trim(text), '\s+', '', 'g')) AS nws
        |  FROM documents),
        | scored AS (
        |  SELECT
        |    CASE WHEN lc > 0 AND cjk / lc > 0.1 THEN 'zh'
        |         WHEN greatest(hde, hen, hes, hfr) <= 0 THEN 'und'
        |         WHEN hde = greatest(hde, hen, hes, hfr) THEN 'de'
        |         WHEN hen = greatest(hde, hen, hes, hfr) THEN 'en'
        |         WHEN hes = greatest(hde, hen, hes, hfr) THEN 'es'
        |         ELSE 'fr' END AS lang_id,
        |    ROUND(
        |      least(lc / 400.0, 1.0) * 0.3
        |      + greatest(0.0, 1.0 -
        |          (CASE WHEN lc = 0 THEN 0.0 ELSE np / lc END) * 5.0) * 0.2
        |      + (CASE WHEN (CASE WHEN n = 0 THEN 0.0
        |                    ELSE CAST(nws AS DOUBLE) / n END)
        |              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |      + least((CASE WHEN n = 0 THEN 0.0
        |               ELSE CAST(hen AS DOUBLE) / n END) * 4.0, 1.0) * 0.2
        |      + 1e-9, 4) AS quality
        |  FROM f)
        | SELECT lang_id, COUNT(*) AS docs,
        |   ROUND(AVG(quality) + 1e-9, 4) AS avg_quality
        | FROM scored GROUP BY lang_id ORDER BY lang_id""",
    // per-column null accounting over the declared documents schema;
    // the type strings are part of the pinned profile contract
    "x8_profile" ->
      """WITH s AS (SELECT COUNT(*) AS n,
        |  COUNT(*) - COUNT(doc_id) AS z_doc_id,
        |  COUNT(*) - COUNT(text) AS z_text,
        |  COUNT(*) - COUNT(lang) AS z_lang,
        |  COUNT(*) - COUNT(source) AS z_source,
        |  COUNT(*) - COUNT(n_chars) AS z_n_chars
        | FROM documents)
        | SELECT "column", type, n AS rows, nulls,
        |   ROUND(CAST(nulls AS DOUBLE) / n, 4) AS null_frac
        | FROM (
        |  SELECT 'doc_id' AS "column", 'bigint' AS type, n,
        |    z_doc_id AS nulls FROM s
        |  UNION ALL SELECT 'lang', 'string', n, z_lang FROM s
        |  UNION ALL SELECT 'n_chars', 'bigint', n, z_n_chars FROM s
        |  UNION ALL SELECT 'source', 'string', n, z_source FROM s
        |  UNION ALL SELECT 'text', 'string', n, z_text FROM s)
        | ORDER BY "column"""",
    // exhaustive exact trigram-set arithmetic over the planted-prefix
    // corpus; same distinct-shingle construction (whitespace tokens,
    // space-joined windows) and the same +1e-9 round boundary guard
    "x73_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 4000000,
        |    array_to_string(list_slice(
        |      str_split_regex(trim(text), '\s+'), 1, 12), ' ')
        |  FROM documents WHERE doc_id < 40),
        | sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |     range(1, greatest(len(toks) - 1, 1)),
        |     i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
        |  FROM (SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks
        |    FROM corpus)),
        | pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(a.g) AS na, len(b.g) AS nb,
        |    len(list_intersect(a.g, b.g)) AS inter
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        | SELECT id_a, id_b, CAST(na AS BIGINT) AS na,
        |   CAST(nb AS BIGINT) AS nb, CAST(inter AS BIGINT) AS inter,
        |   ROUND(CAST(inter AS DOUBLE) / na + 1e-9, 4) AS containment_a,
        |   ROUND(CAST(inter AS DOUBLE) / nb + 1e-9, 4) AS containment_b
        | FROM pr
        | WHERE greatest(ROUND(CAST(inter AS DOUBLE) / na + 1e-9, 4),
        |                ROUND(CAST(inter AS DOUBLE) / nb + 1e-9, 4)) >= 0.8
        | ORDER BY id_a, id_b""",
    // token-boundary n-gram matching per phrase length (1/2/3 tokens),
    // distinct phrases counted — the same normalization ('Spark' ->
    // 'spark', 'Data-Column' -> 'data column') applied to the list
    "x74_blocklist" ->
      """SELECT doc_id,
        |  CAST(
        |    len(list_intersect(list_distinct(toks), ['spark', 'nosuch']))
        |  + len(list_intersect(list_distinct(list_transform(
        |      range(1, greatest(len(toks), 1)),
        |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))),
        |      ['fast table', 'data column']))
        |  + len(list_intersect(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 1, 1)),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))),
        |      ['table table key'])) AS BIGINT) AS n_blocked,
        |  CAST((
        |    len(list_intersect(list_distinct(toks), ['spark', 'nosuch']))
        |  + len(list_intersect(list_distinct(list_transform(
        |      range(1, greatest(len(toks), 1)),
        |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))),
        |      ['fast table', 'data column']))
        |  + len(list_intersect(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 1, 1)),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))),
        |      ['table table key']))) > 0 AS BIGINT) AS blocked
        | FROM (SELECT doc_id, list_filter(
        |     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |     x -> len(x) > 0) AS toks FROM documents)
        | ORDER BY doc_id""",
    // the same T = floor(min n/q) ceiling, largest-remainder quotas
    // (capped at supply) and md5 rank draw; exact-binary shares keep
    // every float step identical
    "x75_match_dist" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
        |   WHERE lang IN ('en', 'fr', 'de') GROUP BY lang),
        | q AS (SELECT * FROM (VALUES ('en', 0.5), ('fr', 0.25),
        |   ('de', 0.25)) AS t(lang, share)),
        | j AS (SELECT q.lang, share, COALESCE(n, 0) AS n
        |   FROM q LEFT JOIN c USING (lang)),
        | t1 AS (SELECT *, FLOOR(MIN(n / share) OVER () + 1e-9) AS T FROM j),
        | t2 AS (SELECT *,
        |   CAST(FLOOR(share * T + 1e-9) AS BIGINT) AS base,
        |   ROUND(share * T - FLOOR(share * T + 1e-9), 9) AS rem FROM t1),
        | t3 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
        |   CAST(T AS BIGINT) - SUM(base) OVER () AS deficit FROM t2),
        | quotas AS (SELECT lang,
        |   LEAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END, n)
        |     AS quota, n AS bucket_n FROM t3)
        | SELECT doc_id, lang, CAST(draw AS BIGINT) AS draw, quota, bucket_n
        | FROM (
        |  SELECT d.doc_id, d.lang, quota, bucket_n,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':42'), d.doc_id)
        |      AS draw
        |  FROM documents d JOIN quotas USING (lang)) r
        | WHERE draw <= quota ORDER BY doc_id""",
    // same top-10 vocabulary (count desc, token asc) and occurrence
    // counting; NOT IN against the 10-row vocab
    "x76_oov" ->
      """WITH toks AS (
        |  SELECT lang, source, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS token
        |  FROM documents),
        | vocab AS (
        |  SELECT token FROM (SELECT token, COUNT(*) AS c FROM toks
        |    GROUP BY token ORDER BY c DESC, token LIMIT 10)),
        | rep AS (
        |  SELECT lang, source, COUNT(*) AS n_tokens,
        |    COUNT(*) FILTER (WHERE token NOT IN (SELECT token FROM vocab))
        |      AS n_oov
        |  FROM toks GROUP BY lang, source)
        | SELECT lang, source, n_tokens, n_oov,
        |   ROUND(CAST(n_oov AS DOUBLE) / n_tokens + 1e-9, 4) AS oov_rate
        | FROM rep ORDER BY lang, source""",
    // the oracle emits the GROUND-TRUTH repaired string the kernel
    // must reconstruct (no SQL engine can repair; it can state the answer)
    "x81_fix_mojibake" ->
      ("""SELECT doc_id, text || ' """ +
        "\u00e9lan \u2019s Gr\u00fc\u00dfe" +
        """' AS fixed FROM documents ORDER BY doc_id"""),
    // groups below the anonymity threshold, plain GROUP BY + HAVING
    "x23_k_anonymity" ->
      """SELECT lang, source, COUNT(*) AS n_rows FROM documents
        | GROUP BY lang, source HAVING COUNT(*) < 30
        | ORDER BY lang, source""",
    // DuckDB-native median()/mad() through the identical robust-z
    // arithmetic (the q77 median/MAD parity, now at row granularity)
    "x83_robust_norm" ->
      """WITH stats AS (
        |  SELECT event_type AS g, median(value) AS med, mad(value) AS madv
        |  FROM events GROUP BY event_type)
        | SELECT event_id AS id, e.event_type AS g,
        |   CASE WHEN madv > 0 THEN
        |     ROUND((value - med) / (1.4826 * madv) + 1e-9, 4) END
        |     AS robust_z
        | FROM events e JOIN stats s ON e.event_type = s.g
        | ORDER BY id""",
    // the x65 closed form per (type, user) + ROW_NUMBER over the rounded
    // score (the x60 k-boundary rule)
    "x82_trending" ->
      """WITH dec AS (
        |  SELECT event_type AS g, user_id AS u,
        |    ROUND(SUM(value * exp(-((ln(2) / 604800000000.0) *
        |      (epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts)))))
        |      + 1e-9, 4) AS score
        |  FROM events GROUP BY event_type, user_id)
        | SELECT g, u, score, rank FROM (
        |  SELECT g, u, score, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY score DESC, u) AS rank FROM dec) r
        | WHERE rank <= 5 ORDER BY g, rank""",
    // two per-key counts joined, product thresholded — the same tiny
    // count-relation arithmetic in SQL
    "x80_join_guard" ->
      """SELECT l_partkey, n_left, n_right, n_left * n_right AS fanout
        | FROM (SELECT l_partkey, COUNT(*) AS n_left FROM lineitem
        |        GROUP BY l_partkey) nl
        | JOIN (SELECT l_partkey, COUNT(*) AS n_right FROM lineitem
        |        WHERE l_quantity > 45 GROUP BY l_partkey) nr
        | USING (l_partkey)
        | WHERE n_left * n_right >= 40
        | ORDER BY l_partkey""",
    // the salted join's contract IS plain-join equality: the oracle is
    // the unsalted inner join, aggregated identically
    "x78_salted_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity * o_totalprice) + 1e-9, 2) AS qp_sum
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY l_returnflag ORDER BY l_returnflag""",
    // same md5(group) against the exact-binary hash-space thresholds
    // (0.5 -> 0x7fff...f, 0.75 -> 0xbfff...f); strict <, fixed-width
    // lowercase hex compares lexicographically = numerically
    "x79_group_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN md5(source) < '7fffffffffffffffffffffffffffffff'
        |         THEN 'train'
        |       WHEN md5(source) < 'bfffffffffffffffffffffffffffffff'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents ORDER BY doc_id""",
    // cutoff = the timestamp at exact integer rank ceil(0.8 n) (ties
    // share a value, so row_number tie order cannot change the selected
    // instant); embargo is the half-open (cutoff, cutoff+12h) window.
    // NULL ts → NULL split is pinned explicitly (the engine labels NULL
    // timestamps NULL; without the leading WHEN the CASE would fall
    // through to 'test' — latent divergence, round-13 advisory)
    "x96_time_split" ->
      """WITH nn AS (SELECT count(*) AS n FROM events WHERE ts IS NOT NULL),
        | cut AS (
        |   SELECT ts AS cut_ts FROM (
        |     SELECT ts, row_number() OVER (ORDER BY ts) AS rn
        |     FROM events WHERE ts IS NOT NULL)
        |   WHERE rn = (SELECT (n * 800 + 999) // 1000 FROM nn)),
        | lab AS (
        |   SELECT event_id,
        |     CASE WHEN ts IS NULL THEN NULL
        |          WHEN ts <= (SELECT cut_ts FROM cut) THEN 'train'
        |          WHEN ts < (SELECT cut_ts FROM cut) + INTERVAL 12 HOUR
        |            THEN 'embargo'
        |          ELSE 'test' END AS split
        |   FROM events)
        |SELECT split, count(*) AS n_rows,
        |  min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM lab GROUP BY split ORDER BY split""",
    // exhaustive top-5 both directions (self occupies a rank slot, then
    // drops — mirroring the engine), mutual join, degree with 0 fill
    "x77_mutual_knn" ->
      """WITH ranked AS (
        |  SELECT q.vec_id AS src, e.vec_id AS dst,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
        |  FROM embeddings e, embeddings q),
        | top AS (SELECT src, dst FROM ranked
        |   WHERE rank <= 5 AND src <> dst),
        | mutual AS (
        |  SELECT f.src AS id_a, f.dst AS id_b FROM top f JOIN top r
        |    ON f.src = r.dst AND f.dst = r.src
        |  WHERE f.src < f.dst)
        | SELECT v.vec_id, COALESCE(cnt, 0) AS mutual_degree
        | FROM embeddings v LEFT JOIN (
        |   SELECT id, COUNT(*) AS cnt FROM (
        |     SELECT id_a AS id FROM mutual
        |     UNION ALL SELECT id_b FROM mutual) GROUP BY id) m
        |  ON v.vec_id = m.id
        | ORDER BY v.vec_id""",
    // x47's weight SQL at alpha 0.5 + largest-remainder apportionment +
    // the x54 md5 rank draw; 6-dp-rounded weights keep every float step
    // identical across engines
    "x71_mixture_draw" ->
      """WITH by_src AS (
        |  SELECT source, SUM(len(regexp_split_to_array(trim(text), '\s+')))
        |    AS n_tokens
        |  FROM documents GROUP BY 1),
        | shared AS (
        |  SELECT source,
        |    pow(n_tokens / (SELECT SUM(n_tokens) FROM by_src), 0.5) AS p
        |  FROM by_src),
        | wts AS (
        |  SELECT source, ROUND(p / (SELECT SUM(p) FROM shared), 6) AS weight
        |  FROM shared),
        | q0 AS (
        |  SELECT source, weight * 300 AS exact,
        |    CAST(FLOOR(weight * 300) AS BIGINT) AS base
        |  FROM wts),
        | q1 AS (
        |  SELECT source, base, exact - base AS rem,
        |    ROW_NUMBER() OVER (ORDER BY exact - base DESC, source) AS rk,
        |    (SELECT 300 - SUM(base) FROM q0) AS deficit
        |  FROM q0),
        | quotas AS (
        |  SELECT source,
        |    base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS quota
        |  FROM q1),
        | ranked AS (
        |  SELECT d.doc_id, d.source, q.quota,
        |    ROW_NUMBER() OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS draw
        |  FROM documents d JOIN quotas q USING (source))
        | SELECT doc_id, source, CAST(draw AS BIGINT) AS draw,
        |   CAST(quota AS BIGINT) AS quota
        | FROM ranked WHERE draw <= quota ORDER BY doc_id""",
    // identical LAG construction; (ts, event_id) is a total order
    "x70_transitions" ->
      """SELECT from_type, to_type, COUNT(*) AS n FROM (
        |  SELECT LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events) x
        | WHERE from_type IS NOT NULL
        | GROUP BY 1, 2 ORDER BY 1, 2""",
    // category = bin, same smoothing/normalization/sum as x69_psi
    "x69_cat_drift" ->
      """WITH hb AS (
        |  SELECT lang, source AS cat, COUNT(*) AS nb FROM documents
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        | ha AS (
        |  SELECT lang, source AS cat, COUNT(*) AS na FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        | j AS (
        |  SELECT COALESCE(hb.lang, ha.lang) AS lang,
        |    COALESCE(hb.cat, ha.cat) AS cat,
        |    COALESCE(nb, 0) AS nb, COALESCE(na, 0) AS na
        |  FROM hb FULL OUTER JOIN ha
        |    ON hb.lang = ha.lang AND hb.cat = ha.cat),
        | n AS (
        |  SELECT lang,
        |    (nb + 1e-6) / SUM(nb + 1e-6) OVER (PARTITION BY lang) AS p,
        |    (na + 1e-6) / SUM(na + 1e-6) OVER (PARTITION BY lang) AS q
        |  FROM j)
        | SELECT lang, ROUND(SUM((p - q) * ln(p / q)) + 1e-9, 4) AS psi
        | FROM n GROUP BY lang ORDER BY lang""",
    // integer-scaled CDF difference: per-distinct-v side counts, group
    // totals, one ordered window — run is exact, division happens once
    "x69_ks" ->
      """WITH pooled AS (
        |  SELECT event_type AS k, value AS v, 0 AS side FROM events
        |  WHERE event_id % 10 < 7 AND value IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, value, 1 FROM events
        |  WHERE event_id % 10 >= 7 AND value IS NOT NULL),
        | perv AS (
        |  SELECT k, v,
        |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cb,
        |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ca
        |  FROM pooled GROUP BY 1, 2),
        | t1 AS (
        |  SELECT k, v, cb, ca,
        |    SUM(cb) OVER (PARTITION BY k) AS nb,
        |    SUM(ca) OVER (PARTITION BY k) AS na
        |  FROM perv),
        | t2 AS (
        |  SELECT k, nb, na,
        |    SUM(cb * na - ca * nb) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM t1)
        | SELECT k, ROUND(CAST(MAX(ABS(run)) AS DOUBLE) / (MAX(nb) * MAX(na))
        |   + 1e-9, 4) AS ks
        | FROM t2 GROUP BY k ORDER BY k""",
    // identical binning/smoothing/normalization/sum; only bins present on
    // either side exist (the full-outer join defines the support set on
    // both engines identically)
    "x69_psi" ->
      """WITH bf AS (
        |  SELECT event_type AS k,
        |    CASE WHEN value < 0 THEN 0 WHEN value >= 10 THEN 11
        |         ELSE CAST(FLOOR((value - 0) / 1.0) AS INT) + 1 END AS bin
        |  FROM events WHERE event_id % 10 < 7 AND value IS NOT NULL),
        | af AS (
        |  SELECT event_type AS k,
        |    CASE WHEN value < 0 THEN 0 WHEN value >= 10 THEN 11
        |         ELSE CAST(FLOOR((value - 0) / 1.0) AS INT) + 1 END AS bin
        |  FROM events WHERE event_id % 10 >= 7 AND value IS NOT NULL),
        | hb AS (SELECT k, bin, COUNT(*) AS nb FROM bf GROUP BY 1, 2),
        | ha AS (SELECT k, bin, COUNT(*) AS na FROM af GROUP BY 1, 2),
        | j AS (
        |  SELECT COALESCE(hb.k, ha.k) AS k, COALESCE(hb.bin, ha.bin) AS bin,
        |    COALESCE(nb, 0) AS nb, COALESCE(na, 0) AS na
        |  FROM hb FULL OUTER JOIN ha ON hb.k = ha.k AND hb.bin = ha.bin),
        | n AS (
        |  SELECT k, bin,
        |    (nb + 1e-6) / SUM(nb + 1e-6) OVER (PARTITION BY k) AS p,
        |    (na + 1e-6) / SUM(na + 1e-6) OVER (PARTITION BY k) AS q
        |  FROM j)
        | SELECT k, ROUND(SUM((p - q) * ln(p / q)) + 1e-9, 4) AS psi
        | FROM n GROUP BY k ORDER BY k""",
    // one-pass leaderboard over ALL events: top-k mergeability pin
    "x68_topk_state" ->
      """SELECT id, g, score FROM (
        |  SELECT event_id AS id, event_type AS g, value AS score,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) r
        | WHERE rn <= 10 ORDER BY g, id""",
    // same portable md5-52bit row hash, xor-aggregated: commutative, so
    // the two engines' different aggregation orders cannot matter
    "x67_manifest" ->
      """SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  COUNT(*) AS n_rows,
        |  bit_xor(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
        |    CAST(o_custkey AS VARCHAR)), 1, 13))::UBIGINT::BIGINT)
        |    AS content_fp
        | FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    // arg_max over the null-screened scalar order key — DuckDB's arg_max
    // skips rows whose order expression is NULL, which IS the
    // latest-non-null rule
    "x66_golden" ->
      """WITH u AS (
        |  SELECT o_custkey AS k,
        |    date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |      * 10000000000 + o_orderkey AS v,
        |    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 4 <> 0 THEN ROUND(o_totalprice, 2) END
        |      AS price,
        |    CASE WHEN o_orderkey % 5 <> 0 THEN o_orderpriority END AS prio
        |  FROM orders)
        | SELECT k,
        |   arg_max(status, CASE WHEN status IS NOT NULL THEN v END) AS status,
        |   arg_max(price, CASE WHEN price IS NOT NULL THEN v END) AS price,
        |   arg_max(prio, CASE WHEN prio IS NOT NULL THEN v END) AS prio,
        |   COUNT(*) AS n_versions, MAX(v) AS last_order
        | FROM u GROUP BY k ORDER BY k""",
    // closed form over ALL events at the final reference (epoch_us keeps
    // the exp argument an exact-integer-derived double on both engines);
    // ln(2) is the same correctly-rounded double in both runtimes
    "x65_decayed" ->
      """SELECT event_type AS g,
        |  ROUND(SUM(exp(-((ln(2) / 604800000000.0) *
        |    (epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts)))))
        |    + 1e-9, 4) AS dcount,
        |  ROUND(SUM(value * exp(-((ln(2) / 604800000000.0) *
        |    (epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts)))))
        |    + 1e-9, 4) AS dsum
        | FROM events GROUP BY event_type ORDER BY g""",
    // one-pass bottom-k over ALL events with the identical md5 draw: hash
    // equality = mergeability proof + percentile-interpolation parity
    "x64_inc_quantile" ->
      """WITH sampled AS (
        |  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY md5(CAST(id AS VARCHAR) || ':42'), id) AS rn
        |  FROM (SELECT event_id AS id, event_type AS g, value AS v
        |        FROM events))
        | SELECT g, ROUND(quantile_cont(v, 0.5) + 1e-9, 4) AS p50,
        |   ROUND(quantile_cont(v, 0.95) + 1e-9, 4) AS p95
        | FROM sampled WHERE rn <= 100 GROUP BY g ORDER BY g""",
    // independent char-histogram entropy; split(text,'') = code points on
    // this ASCII corpus, summation order differs -> the 1e-9 nudge
    "x63_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(split(text, '')) AS ch FROM documents),
        | cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars
        |         GROUP BY doc_id, ch),
        | tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id)
        | SELECT cnt.doc_id, ROUND(ln(n) - SUM(c * ln(c)) / n + 1e-9, 4)
        |   AS entropy
        | FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id, n
        | ORDER BY doc_id""",
    // exhaustive cross join over token-trigram sets — the recall-1 pin of
    // the inverted-index equi-join (same shingle construction as x2)
    "x62_neardup_join" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' appended'
        |    FROM documents WHERE doc_id < 25
        |  UNION ALL SELECT doc_id + 2000000, text
        |    FROM documents WHERE doc_id < 10),
        | bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
        | shc AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM corpus)),
        | shb AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM bench)),
        | pairs AS (
        |  SELECT b.doc_id AS id_l, c.doc_id AS id_r,
        |    len(list_intersect(b.s, c.s)) AS inter, len(b.s) AS nb,
        |    len(c.s) AS nc
        |  FROM shb b CROSS JOIN shc c)
        | SELECT id_l, id_r,
        |   round(CAST(inter AS DOUBLE) / (nb + nc - inter) + 1e-9, 4) AS jaccard
        | FROM pairs WHERE CAST(inter AS DOUBLE) / (nb + nc - inter) >= 0.5
        | ORDER BY id_l, id_r""",
    // same markup synthesis, same RE2-safe patterns; DuckDB regexp_replace
    // needs the explicit 'g' flag (Spark's is global by default); entity
    // decode via plain replace(), amp LAST so &amp;lt; stays literal
    "x61_html_strip" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style media="all">p{color:red}</style>' ||
        |    '<script type="text/javascript">var x=1; if(x<2){x=3;}</script></head>' ||
        |    '<body><!-- nav --><h1>' || upper(source) ||
        |    '</h1><p>' || text || ' &amp; more &lt;tags&gt;</p>' ||
        |    '<a href="https://' || source || '.example.com/d/' ||
        |    CAST(doc_id AS VARCHAR) || '">go</a>' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '<p>extra&nbsp;para</p>'
        |          ELSE '' END) || '</body></html>' AS h
        |  FROM documents),
        | stripped AS (
        |  SELECT doc_id, h,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |            '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]+>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |        '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM raw)
        | SELECT doc_id, clean,
        |   trim(regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1)) AS title,
        |   regexp_extract(h, 'href="([^"]*)"', 1) AS first_link,
        |   ROUND(CASE WHEN length(h) > 0
        |     THEN CAST(length(clean) AS DOUBLE) / length(h) ELSE 0 END
        |     + 1e-9, 4) AS ratio
        | FROM stripped ORDER BY doc_id""",
    // quantile_cont bounds (interpolation parity pinned by q51) + clip
    "x58_winsorize" ->
      """WITH b AS (
        |  SELECT event_type AS g,
        |    ROUND(quantile_cont(value, 0.05) + 1e-9, 4) AS lo,
        |    ROUND(quantile_cont(value, 0.95) + 1e-9, 4) AS hi
        |  FROM events GROUP BY 1),
        | c AS (
        |  SELECT e.event_type AS g,
        |    least(greatest(e.value, b.lo), b.hi) AS clipped,
        |    (e.value < b.lo OR e.value > b.hi) AS was_clipped
        |  FROM events e JOIN b ON e.event_type = b.g)
        | SELECT g, COUNT(*) AS n,
        |   ROUND(SUM(clipped), 4) AS clipped_sum,
        |   ROUND(MIN(clipped), 4) AS clip_min,
        |   ROUND(MAX(clipped), 4) AS clip_max,
        |   CAST(SUM(CASE WHEN was_clipped THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_clipped
        | FROM c GROUP BY g ORDER BY g""",
    // plain window rank — the engine ranks via the no-global-sort tiling
    "x57_zipf" ->
      """WITH tf AS (
        |  SELECT word, COUNT(*) AS f FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents WHERE len(trim(text)) > 0) u
        |  GROUP BY word),
        | r AS (
        |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS rank
        |  FROM tf)
        | SELECT ROUND(regr_slope(ln(f), ln(rank)), 4) AS slope,
        |   ROUND(regr_r2(ln(f), ln(rank)), 4) AS r2,
        |   COUNT(*) AS n_vocab
        | FROM r""",
    // EWMA via closed form + SQL lag + from-scratch median/MAD — every
    // stage a different algorithm from the engine composition
    "x56_anomaly" ->
      """WITH e AS (
        |  SELECT user_id, ts, value, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, value) AS i
        |  FROM events),
        | y AS (
        |  SELECT a.user_id, a.event_type, a.value, a.i,
        |    SUM(CASE WHEN b.i = 1 THEN power(0.7, a.i - 1) * b.value
        |      ELSE 0.3 * power(0.7, a.i - b.i) * b.value END) AS ewma
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND b.i <= a.i
        |  GROUP BY a.user_id, a.event_type, a.value, a.i),
        | r AS (
        |  SELECT event_type,
        |    value - lag(ewma) OVER (PARTITION BY user_id ORDER BY i)
        |      AS resid
        |  FROM y),
        | rr AS (SELECT event_type, resid FROM r WHERE resid IS NOT NULL),
        | m AS (SELECT event_type, median(resid) AS med FROM rr GROUP BY 1),
        | mm AS (
        |  SELECT rr.event_type, m.med, rr.resid,
        |    abs(rr.resid - m.med) AS dev
        |  FROM rr JOIN m USING (event_type)),
        | md AS (SELECT event_type, median(dev) AS mad FROM mm GROUP BY 1)
        | SELECT mm.event_type,
        |   CAST(SUM(CASE WHEN dev > 5 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_outliers,
        |   COUNT(*) AS n,
        |   ROUND(ANY_VALUE(med) + 1e-9, 4) AS med,
        |   ROUND(ANY_VALUE(mad) + 1e-9, 4) AS madv
        | FROM mm JOIN md USING (event_type)
        | GROUP BY mm.event_type ORDER BY mm.event_type""",
    // exhaustive candidate ranking — deliberately different from the
    // engine's two-pass as-of composition; (|delta|, pt) order makes the
    // backward-on-tie rule explicit
    "x55_nearest_join" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        | p AS (
        |  SELECT user_id, ts AS pt, value AS pval FROM events
        |  WHERE event_type = 'purchase'),
        | ranked AS (
        |  SELECT v.event_id, v.user_id, v.ts, p.pt, p.pval,
        |    ROW_NUMBER() OVER (PARTITION BY v.event_id
        |      ORDER BY abs(epoch_us(p.pt) - epoch_us(v.ts)), p.pt) AS rn
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id)
        | SELECT event_id, user_id, ts, pval AS purchase_value,
        |   pt AS nearest_time
        | FROM ranked WHERE rn = 1 ORDER BY event_id""",
    "x54_class_sample" ->
      """SELECT doc_id, cls, CAST(draw AS BIGINT) AS draw FROM (
        |  SELECT doc_id, source || '|' || lang AS cls,
        |    ROW_NUMBER() OVER (PARTITION BY source || '|' || lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id)
        |      AS draw
        |  FROM documents) r
        | WHERE draw <= 20 ORDER BY doc_id""",
    // same decomposed-accent construction (chr(769)=U+0301 acute,
    // chr(768)=U+0300 grave); nfc_normalize/strip_accents ARE the
    // pinned kernels
    "x53_normalize" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    replace(replace(p_name, 'e', 'e' || chr(769)),
        |      'a', 'a' || chr(768)) AS dec
        |  FROM part WHERE p_partkey < 2000)
        | SELECT p_partkey,
        |   nfc_normalize(dec) AS nfc,
        |   strip_accents(dec) AS plain,
        |   CAST(length(dec) AS BIGINT) AS len_decomposed,
        |   CAST(length(nfc_normalize(dec)) AS BIGINT) AS len_nfc
        | FROM p ORDER BY p_partkey""",
    // closed-form expansion of the recurrence, per-key pairs join —
    // deliberately a DIFFERENT algorithm from the engine's forward pass
    "x52_ewma" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, value) AS i
        |  FROM events)
        | SELECT a.user_id, a.ts, a.value,
        |   ROUND(SUM(CASE WHEN b.i = 1 THEN power(0.7, a.i - 1) * b.value
        |     ELSE 0.3 * power(0.7, a.i - b.i) * b.value END) + 1e-9, 4)
        |     AS ewma
        | FROM e a JOIN e b ON a.user_id = b.user_id AND b.i <= a.i
        | GROUP BY a.user_id, a.ts, a.value, a.i
        | ORDER BY a.user_id, a.ts, a.value""",
    "x51_domain_cap" ->
      """SELECT doc_id, source, CAST(rank_in_domain AS BIGINT)
        |   AS rank_in_domain FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rank_in_domain
        |  FROM documents) r
        | WHERE rank_in_domain <= 30 ORDER BY doc_id""",
  ).map { case (k, v) => k -> v.stripMargin.replaceAll("\\s+", " ").trim }

  /** Shared oracle for the two exact top-k paths: brute-force cosine per
    * query (vec_id < 10), k=5, ties on id. Note the LSH/IVF variants stay
    * Tier B — they are APPROXIMATE by contract, so an exact oracle would
    * be wrong for them. */
  private lazy val annExactOracle: String =
    """SELECT query_id, id, score, rank FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS id,
      |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |      CAST(q.embedding AS DOUBLE[])), 4) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |        CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
      |  FROM embeddings e, embeddings q WHERE q.vec_id < 10) ranked
      | WHERE rank <= 5 ORDER BY query_id, rank"""
}
