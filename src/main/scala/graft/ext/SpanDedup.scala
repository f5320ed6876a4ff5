package graft.ext

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._

/** X37 — exact SUBSTRING deduplication (SURVEY §2.8): remove every
  * ≥k-token span that occurs more than once across the corpus, keeping the
  * surrounding unique prose. The within-text companion of X36's line dedup
  * and X1/X2's whole-document dedup — repeated passages (chain letters,
  * license headers, syndicated paragraphs) are cut out of otherwise-unique
  * documents instead of the document being kept or dropped wholesale.
  *
  * Semantics (token-level): a token is removed iff some corpus-duplicated
  * k-gram STARTS within the k-1 positions ending at it — i.e. the token
  * lies inside an occurrence of a k-token substring that appears ≥2 times
  * corpus-wide (within-document repeats count). Overlapping duplicated
  * spans merge for free; a document reduced to nothing disappears — as
  * does a document with no tokens at all (nothing to keep; same
  * convention as [[LineDedup]]'s all-boilerplate case).
  *
  * Plan shape (the 100 TB contract — no suffix arrays, no self-joins,
  * and since r16 no text on any shuffle):
  *   1. (id, pos, gram-hash) rows built ROW-LOCALLY by array slicing
  *      inside one `posexplode` — 8 bytes of hash + a position per gram;
  *      the k-token string is hashed inside the lambda and never leaves
  *      the row;
  *   2. duplicated-gram set by counting the hashes — map-side combine
  *      first; the dup set is the tail above count≥2, BROADCAST back
  *      (repeated passages are rare relative to corpus grams);
  *   3. covered dup-START positions per document: only rows matching the
  *      dup set shuffle (bounded by dup-gram occurrences);
  *   4. reassembly is ROW-LOCAL on docs ⟕ covered: one forward
  *      `aggregate()` over the sorted start list slices out the uncovered
  *      gaps in O(tokens + starts) per document — no window, no per-token
  *      shuffle, no collect_list of corpus text.
  *
  * Hashed counting has the same collision caveat as [[LineDedup]]
  * (documented there); the oracle query (x37_span_dedup) pins the hashed
  * plan against DuckDB's exact gram-string counting.
  */
object SpanDedup {

  /** Documents with corpus-duplicated ≥k-token substrings removed.
    *
    * @param docs     corpus; text tokenized on whitespace
    * @param idCol    document key column (must key rows — duplicate ids
    *                 would each receive the union of their covered
    *                 positions; same contract as [[LineDedup]])
    * @param textCol  text column
    * @param k        duplicated-substring granularity in tokens (a span
    *                 must contain a full k-gram to be detectable; spans
    *                 shorter than k tokens are below the resolution and
    *                 kept — that is the standard contract)
    * @param minCount occurrences (corpus-wide, within-doc repeats
    *                 included) above which a k-gram is "duplicated";
    *                 default 1 ⇒ any second occurrence triggers removal
    *
    * Building the returned DataFrame launches a Spark job: the duplicated
    * k-gram set is counted and checkpointed here ([[DedupGate.sizeGated]])
    * to choose broadcast or shuffle, before any action on the result.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long = 1L): DataFrame = {
    require(k >= 2, "k-gram order must be >= 2")
    require(minCount >= 1, "minCount must be >= 1")
    import graft.functions.ColumnOps.letCol

    // r16 rewrite (guide §8: decide with small rows, move big rows once).
    // The previous shape exploded one row PER TOKEN — carrying the token
    // string — through a doc-partitioned window exchange + sort, then
    // reassembled text with a per-doc array_sort(collect_list(...)). All
    // of that moved the corpus text through a row-count-sized shuffle to
    // make a decision (which positions are covered) that depends only on
    // 8-byte gram hashes and positions. Now:
    //   1. (id, pos, gramHash) rows — 8 B hash + position, text never
    //      leaves the row (same counting semantics/collision caveat);
    //   2. dup set = hashes with count > minCount, broadcast (unchanged);
    //   3. covered = per-doc SORTED dup-start positions: only MATCHED
    //      rows shuffle (bounded by dup-gram occurrences, the rare tail);
    //   4. rebuild ROW-LOCALLY on docs ⟕ covered: dup starts ascend, so
    //      covered intervals [c, c+k-1] have ascending ends and one
    //      forward aggregate() slices out the uncovered gaps — O(n+|cs|)
    //      per doc, no window, no collect_list, no text shuffle (the
    //      survivor join broadcasts when the covered set is small; at
    //      worst text crosses the wire ONCE instead of per-token).
    // Token-level semantics identical (token i removed iff a duplicated
    // k-gram starts in [i-k+1, i]): SpanDedupSpec pins the boundaries,
    // x37_span_dedup hash-pins the corpus face against DuckDB.
    // Measured HONESTLY at the 10× set (OPTIMIZATION_r16.md §4): wall-time
    // PARITY (~2.8–3.0 s both shapes) — at 25 MB of corpus text the gram
    // hashing dominates and the removed text shuffle is noise there. The
    // win is the at-scale contract: the old window exchange moved the
    // WHOLE corpus text once per run, this shape moves hashes and
    // positions only (and text at most once, through the survivor join,
    // when `covered` outgrows broadcast).
    // Gram identity = multi-arg xxhash64 over the k tokens (r17; guide
    // §1.2 step 2 per-task work). The previous slice + concat_ws + hash
    // built a k-token STRING per gram — an array slice and a string
    // allocation/copy for every gram of every document. Multi-arg
    // xxhash64 chains each token's bytes through the running hash state:
    // equal token sequences hash equal deterministically, different
    // sequences collide only at hash odds, and tokens are whitespace-free
    // so the induced equivalence classes are exactly the gram-string
    // classes the previous expression (and the DuckDB oracle) count —
    // the hash values themselves never leave the query. Measured
    // (OPTIMIZATION_r17.md, post-close addendum; 10× set,
    // order-controlled): count stage
    // 1.07–1.15 s → 0.67 s at k=5 and k=8, same shuffle records.
    val gramArr = letCol(TextStats.tokens(col(textCol))) { toks =>
      when(size(toks) < k, array().cast("array<bigint>"))
        .otherwise(transform(
          sequence(lit(0), size(toks) - k),
          i => xxhash64((1 to k).map(j => element_at(toks, i + j)): _*)))
    }
    val starts = docs.select(
      col(idCol), posexplode(gramArr).as(Seq("__pos", "__gh")))

    val dup = starts
      .groupBy(col("__gh")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > minCount)
      .select("__gh")

    // r17: the dup set is size-gated instead of hard-hinted — see
    // [[DedupGate]]; past the threshold the probe becomes a shuffled
    // join of (id, pos, hash) metadata rows, still never text
    val covered = starts
      .join(DedupGate.sizeGated(dup), Seq("__gh"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__cs"))

    val rebuilt = letCol(TextStats.tokens(col(textCol))) { toks =>
      letCol(coalesce(col("__cs"), array().cast("array<int>"))) { cs =>
        val st0 = struct(lit(-1).as("e"),
          array().cast("array<string>").as("acc"))
        aggregate(cs, st0,
          (st, c) => struct(
            (c + lit(k - 1)).as("e"),
            when(c > st.getField("e") + 1,
              concat(st.getField("acc"),
                slice(toks, st.getField("e") + 2, c - st.getField("e") - 1)))
              .otherwise(st.getField("acc")).as("acc")),
          st => array_join(
            concat(st.getField("acc"),
              when(size(toks) - st.getField("e") - 1 > 0,
                slice(toks, st.getField("e") + 2,
                  size(toks) - st.getField("e") - 1))
                .otherwise(array().cast("array<string>"))),
            " "))
      }
    }
    // a document reduced to nothing (all tokens covered) — or with no
    // tokens at all — disappears, same convention as before. r17: the
    // survival predicate is a CHEAP integer pass over the covered-start
    // list (uncovered tokens > 0 ⟺ rebuilt text non-empty, because
    // tokens() yields only non-empty strings), evaluated BELOW the
    // projection — filtering on length(rebuilt) let Catalyst substitute
    // the full string-building aggregate into FilterExec and run it
    // twice per surviving row (the same double-evaluation this diff
    // measured and fixed for `screened` in r16).
    val survivors = letCol(size(TextStats.tokens(col(textCol)))) { n =>
      letCol(coalesce(col("__cs"), array().cast("array<int>"))) { cs =>
        val st0 = struct(lit(-1).as("e"), lit(0).as("kept"))
        aggregate(cs, st0,
          (st, c) => struct(
            (c + lit(k - 1)).as("e"),
            (st.getField("kept")
              + when(c > st.getField("e") + 1, c - st.getField("e") - 1)
                .otherwise(lit(0))).as("kept")),
          st => st.getField("kept")
            + greatest(n - st.getField("e") - 1, lit(0)))
      }
    }
    docs.join(covered, Seq(idCol), "left")
      .filter(survivors > 0)
      .select(col(idCol), rebuilt.as(textCol))
  }
}
