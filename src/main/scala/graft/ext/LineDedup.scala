package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X36 — corpus-wide LINE deduplication (SURVEY §2.8), the classic
  * web-corpus cleaning pass: a line that repeats across more than
  * `maxOccurrences` documents is boilerplate (navigation, cookie banners,
  * headers/footers, license blurbs) and is removed from EVERY document,
  * while each document's unique prose is kept in order.
  *
  * This is deliberately different from document-level dedup (X1/X2): the
  * unit of repetition is the line, the survivor set is per-document, and a
  * document is dropped only when nothing survives.
  *
  * Scale shape (the 100 TB contract — since r16, no line text on any
  * shuffle):
  *   - (doc, pos, line-hash) rows are exploded once
  *     (`posexplode(split(text, '\n', -1))`, hashed in the row) and
  *     counted by the 8-byte hash — the count shuffle moves 16 bytes per
  *     line, never line text, and map-side partial aggregation collapses
  *     within-partition repeats before the exchange;
  *   - the heavy set (count > threshold) is tiny by construction —
  *     boilerplate is the head of the line-frequency distribution — so the
  *     removal test is a BROADCAST join on the hash;
  *   - only the MATCHED (doc, pos) rows — the boilerplate occurrences —
  *     are shuffled into a per-document removed-position list;
  *   - reassembly is ROW-LOCAL on docs ⟕ removed: filter the row's own
  *     line array by position, re-join with '\n'. No per-line shuffle of
  *     surviving text, no collect_list of the corpus (the pre-r16 shape
  *     moved every surviving line through a doc-keyed exchange to
  *     reassemble; the decision only ever needed hashes and positions —
  *     guide §8).
  *
  * Hashing note: counting by xxhash64 rather than the line text makes a
  * collision (two DISTINCT lines sharing a 64-bit hash, one of them
  * boilerplate) remove an innocent line. With B boilerplate lines and D
  * distinct lines the probability any such pair exists is ≈ B·D / 2^64 —
  * at a trillion distinct lines and 10^6 boilerplate lines, ~5·10^-8.
  * The oracle-facing query (x36_line_dedup) hash-matches DuckDB's EXACT
  * line-text counting on real data, which pins that the hashed plan
  * computes the exact semantics absent collisions.
  */
object LineDedup {

  /** Documents with corpus-frequent lines removed.
    *
    * @param docs           input corpus
    * @param idCol          document key column (must key rows)
    * @param textCol        text column; lines are '\n'-separated
    * @param maxOccurrences lines occurring MORE than this many times
    *                       across the corpus are removed
    * @return (idCol, textCol) with cleaned text, documents whose every
    *         line was boilerplate omitted
    *
    * Building the returned DataFrame launches a Spark job: the heavy-line
    * set is counted and checkpointed here ([[DedupGate.sizeGated]]) to
    * choose broadcast or shuffle, before any action on the result.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Long): DataFrame = {
    require(maxOccurrences >= 1, "threshold must be >= 1")
    import graft.functions.ColumnOps.letCol

    val lineArr: Column = split(col(textCol), "\n", -1)
    val lines = docs.select(
      col(idCol),
      posexplode(transform(lineArr, l => xxhash64(l)))
        .as(Seq("__pos", "__lh")))

    val heavy = lines
      .groupBy(col("__lh"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > maxOccurrences)
      .select("__lh")

    // boilerplate occurrences only: (doc, removed positions) — bounded by
    // heavy-line hits, tiny next to the corpus. The probe side is
    // size-gated (r17): boilerplate is the head of the line-frequency
    // distribution BY ASSUMPTION, and on a template-heavy crawl that
    // assumption can fail — an unconditional broadcast() hint would then
    // build a driver-killing hash relation. The gate counts the heavy set
    // as its checkpoint materializes (observe() rides the job — the CC
    // convergence trick) and falls back to a plain shuffled join above
    // the threshold; only 8-byte hashes and positions shuffle either way.
    val probe = DedupGate.sizeGated(heavy)
    val removed = lines
      .join(probe, Seq("__lh"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__rp"))

    // Row-local rebuild, r17 shape: one forward aggregate() over the
    // SORTED removed list slices the kept gaps out of the row's own line
    // array — O(lines + removed) per doc (the r16 per-line
    // array_contains probe was O(lines × removed) on boilerplate-dense
    // docs), and the join/filter/projection below evaluates it ONCE: the
    // survival predicate is the cheap arithmetic "any line left"
    // (positions are distinct per doc, so kept = n_lines − n_removed),
    // which Catalyst can push below the projection without duplicating
    // the rebuild (the r16 filter(size(rebuilt)) was substituted into
    // FilterExec and ran the HOF twice per surviving row).
    // The survival test is "any line left", NOT "text non-empty" — a
    // document whose sole surviving line is the empty string stays (with
    // empty text), exactly as the pre-r16 groupBy emitted it.
    val rebuilt = letCol(lineArr) { la =>
      letCol(coalesce(col("__rp"), array().cast("array<int>"))) { rp =>
        val st0 = struct(lit(-1).as("e"),
          array().cast("array<string>").as("acc"))
        aggregate(rp, st0,
          (st, r) => struct(
            r.as("e"),
            when(r > st.getField("e") + 1,
              concat(st.getField("acc"),
                slice(la, st.getField("e") + 2, r - st.getField("e") - 1)))
              .otherwise(st.getField("acc")).as("acc")),
          st => array_join(
            concat(st.getField("acc"),
              when(size(la) - st.getField("e") - 1 > 0,
                slice(la, st.getField("e") + 2,
                  size(la) - st.getField("e") - 1))
                .otherwise(array().cast("array<string>"))),
            "\n"))
      }
    }
    docs.join(removed, Seq(idCol), "left")
      .filter(size(lineArr)
        - size(coalesce(col("__rp"), array().cast("array<int>"))) > 0)
      .select(col(idCol), rebuilt.as(textCol))
  }

  /** The corpus-frequency table itself (line text, occurrences), for
    * inspection/reporting: exact text counting, so only use on corpora
    * where shuffling distinct line text is acceptable — or pre-filter.
    * The main path above never calls this. */
  def lineFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\n", -1)).as("line"))
      .groupBy("line").agg(count(lit(1)).as("occurrences"))
}
