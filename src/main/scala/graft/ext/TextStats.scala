package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X4 — text analysis for LLM training-data pipelines (SURVEY §2.8).
  *
  * Everything here is built from `org.apache.spark.sql.functions` only —
  * codegen'd expressions that stay inside whole-stage codegen, no UDFs — so
  * a 100 TB pass over a documents table is a single scan with per-row
  * expression evaluation and zero shuffle.
  */
object TextStats {

  /** Whitespace tokens of trimmed text (empty string → empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: the GPT-style pre-tokenizer approximation —
    * letter runs, digit runs, and single non-space symbols each count as one
    * pre-token. (A real BPE would then merge within these; the pre-token
    * count is the standard cheap proxy.) */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Overlapping word n-grams of the text as strings ("tok1 tok2 …"),
    * built row-local with array HOFs — no explode, nothing leaves the row.
    * Fewer than n tokens → empty array (NOT a 1-gram fallback).
    * letCol-bound (r16): HOF lambdas re-evaluate every referenced
    * subtree per invocation, so an unbound `toks` re-ran the regex split
    * once per window position — O(tokens) tokenizations per row
    * (measured 10× on the screens stage; OPTIMIZATION_r16.md, Screens
    * probe). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "n-gram order must be >= 1")
    import graft.functions.ColumnOps.letCol
    letCol(tokens(text)) { toks =>
      // sequence(1, size-n+1) would run DESCENDING when size < n (Spark
      // generates reversed ranges instead of empty ones) — guard first
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
    }
  }

  /** Gopher-style repetition signal: the fraction of word n-grams that are
    * duplicates of an earlier n-gram in the SAME document
    * (1 − distinct/total; 0.0 when the text has fewer than n tokens).
    * High values flag boilerplate/spam — a standard pretraining quality
    * filter alongside [[qualityScore]]. Row-local like everything here:
    * a corpus-wide screen is one scan, zero shuffle. */
  def dupNgramFraction(text: Column, n: Int): Column = {
    import graft.functions.ColumnOps.letCol
    // bind the n-gram array once: size/array_distinct/size would
    // otherwise each re-run the whole n-gram construction (r16)
    letCol(wordNgrams(text, n)) { g =>
      when(size(g) === 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(g)).cast("double")
          / size(g).cast("double"))
    }
  }

  /** Mean characters per whitespace token; 0.0 for empty text. */
  def meanTokenLength(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / n)
  }

  /** Fraction of characters that are punctuation; 0.0 for empty text. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("\\p{Punct}")).cast("double") / length(text))

  /** PII scrub patterns: the regex subset shared verbatim by Java and
    * RE2 regex engines, so the identical pattern drives the engine and
    * any SQL oracle. Deliberately simple — a production scrubber layers
    * more patterns through the same replace chain. */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Redact emails and phone-shaped numbers (training-data PII scrub).
    * Order matters: emails first, so a phone-like local part is already
    * gone when the phone pass runs. Pure regexp_replace chain — codegen'd,
    * zero shuffle, one scan at any scale. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Count of PII matches (emails + phones) BEFORE redaction. */
  def piiCount(text: Column): Column =
    (regexp_count(text, lit(emailPattern)) +
      regexp_count(text, lit(phonePattern))).cast("long")

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the operator contract is "deterministic
    * heuristic language-ID", not a trained model. */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "en", "que", "un", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"))

  private def profileRegex(words: Seq[String]): String =
    words.mkString("(?i)\\b(", "|", ")\\b")

  /** Count of stopword hits for one language profile. */
  def stopwordHits(text: Column, lang: String): Column =
    regexp_count(text, lit(profileRegex(stopwordProfiles(lang))))

  /** Stopword ratio (hits / tokens) against a profile (default English). */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(stopwordHits(text, lang).cast("double") / n)
  }

  /** Heuristic language-ID: CJK scripts are identified by codepoint class;
    * alphabetic languages by arg-max of stopword-profile hit counts, 'und'
    * (undetermined) when nothing matches. Deterministic tie-break: profile
    * name order (array_position takes the first maximum). The hit counts
    * are letCol-bound into an array so each profile regex runs exactly once
    * per row (a naive when-chain re-evaluates them combinatorially). */
  def languageId(text: Column): Column = {
    import graft.functions.ColumnOps.letCol
    val cjk = regexp_count(text, lit("[\\p{IsHan}]"))
    val langs = stopwordProfiles.keys.toSeq.sorted
    val best = letCol(array(langs.map(l => stopwordHits(text, l)): _*)) { h =>
      when(array_max(h) <= 0, lit("und"))
        .otherwise(element_at(
          typedlit(langs),
          array_position(h, array_max(h)).cast("int")))
    }
    when(length(text) > 0 && cjk.cast("double") / length(text) > 0.1, lit("zh"))
      .otherwise(best)
  }

  /** Composite quality score in [0,1]: length saturation, punctuation
    * penalty, token-shape sanity, stopword signal — the standard cheap
    * pre-filter for web-scraped training text. */
  def qualityScore(text: Column): Column = {
    import graft.functions.ColumnOps.letCol
    // one shared tokenization (r16): meanTokenLength and stopwordRatio
    // each re-ran the regex split for their token count — bind the count
    // once and inline their arithmetic UNCHANGED (same expression trees,
    // same double ops, bit-identical values — the oracle pins this)
    letCol(tokenCount(text).cast("double")) { n =>
      val lenScore = least(length(text).cast("double") / 400.0, lit(1.0))
      val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
      val mtl = when(n === 0, lit(0.0)).otherwise(
        length(regexp_replace(trim(text), "\\s+", "")).cast("double") / n)
      val shapeScore = when(mtl.between(2.0, 12.0), 1.0).otherwise(0.3)
      val stopScore = least(
        when(n === 0, lit(0.0))
          .otherwise(stopwordHits(text, "en").cast("double") / n) * 4.0,
        lit(1.0))
      // + 1e-9 — the q44 boundary rule: the components are exact rationals
      // (len/400, hits/tokens) whose weighted sum can land ON a .xxxx5
      // rounding boundary, where engines' decimal conversions disagree
      round(lenScore * 0.3 + punctScore * 0.2 + shapeScore * 0.3
        + stopScore * 0.2 + lit(1e-9), 4)
    }
  }

  /** The portable 52-bit string hash shared with the x54/x60/x67 oracle
    * faces: first 13 hex digits of md5, as a positive long. Slower than
    * xxhash64 but reproducible bit-for-bit by any engine with md5 —
    * pass it as the `hasher` of [[fingerprint64]]/[[rollingMinHash]]
    * when a cross-engine-stable fingerprint matters more than speed. */
  val portableHash52: Column => Column =
    c => conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** 64-bit document fingerprint: xxhash64 over whitespace-normalized,
    * lower-cased text (F3 analog — a stable content hash; formatting-
    * insensitive where exact hashing would not be).
    * @param hasher string→int64 kernel; default engine-native xxhash64,
    *   [[portableHash52]] for the cross-engine face. */
  def fingerprint64(text: Column,
      hasher: Column => Column = xxhash64(_)): Column =
    hasher(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Rolling-hash fingerprint: min of hashes over word n-gram windows —
    * stable under appends/truncations that leave some window intact.
    * letCol-bound: tokenize once, not once per window. */
  def rollingMinHash(text: Column, n: Int = 5,
      hasher: Column => Column = xxhash64(_)): Column = {
    import graft.functions.ColumnOps.letCol
    letCol(tokens(text)) { toks =>
      coalesce(array_min(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => hasher(concat_ws(" ", slice(toks, i + 1, lit(n)))))), lit(0L))
    }
  }

  /** One-pass enrichment: append the full stats bundle to a documents
    * DataFrame. Single narrow projection — no shuffle. */
  def enrich(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("n_bpe_tokens", bpeTokenCount(t).cast("long"))
      .withColumn("mean_token_len", round(meanTokenLength(t), 4))
      .withColumn("punct_ratio", round(punctRatio(t), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("lang_id", languageId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fp64", fingerprint64(t))
  }
}
