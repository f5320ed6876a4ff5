package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** X61 — HTML text extraction: the step between the crawl and every text
  * operator in this library (X1/X2 dedup, X4 quality, X43 LM scoring all
  * assume a `text` column that some earlier pass pulled out of markup).
  * Scope is the deterministic 95% a production extractor (trafilatura,
  * jusText) does before its ML-ish readability heuristics: drop
  * script/style/comment blocks, strip tags, decode the common entities,
  * collapse whitespace — plus the title / link / visible-ratio signals
  * curation filters key on.
  *
  * Everything is `regexp_replace`/`regexp_extract_all` over the row —
  * codegen'd, scan-speed, no UDF, no shuffle, trivially 100 TB-safe. The
  * regex subset is deliberately RE2-compatible (no backreferences, no
  * lookaround — script and style blocks are two separate patterns instead
  * of one `</\1>` backreference) so the exact same patterns run on RE2
  * engines — which is also what makes the cross-engine oracle
  * (x61_html_strip) possible.
  */
object Html {

  private val entityMap: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Markup → visible text: script/style/comment blocks out, tags out,
    * common entities decoded (amp LAST so `&amp;lt;` decodes to the
    * literal `&lt;`, not `<`), whitespace collapsed and trimmed.
    *
    * Round 16: ONE codegen'd kernel ([[graft.functions.StripHtml]])
    * instead of the eleven-`regexp_replace` chain — the chain was the
    * dominant stage of the x0_web_pipeline flagship at the 1000× set
    * (OPTIMIZATION_r16.md, Inherited state item 2). Semantics are
    * pass-for-pass identical;
    * [[stripTagsRegex]] keeps the reference chain for the equivalence
    * property spec and the DuckDB oracle face (which replays the regex
    * form). */
  def stripTags(html: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.StripHtml(
        org.apache.spark.sql.GraftBridge.expression(html)))

  /** The original regexp_replace chain — the executable spec
    * [[stripTags]]' kernel is property-tested against (HtmlSpec), and
    * the form the cross-engine oracle replays. Not on any hot path. */
  private[graft] def stripTagsRegex(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = entityMap.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Contents of the first `<title>` element, trimmed; '' when absent. */
  def title(html: Column): Column =
    trim(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1))

  /** All double-quoted `href` targets, in document order. */
  def links(html: Column): Column =
    regexp_extract_all(html, lit("href=\"([^\"]*)\""), lit(1))

  /** Visible-text share of the raw markup length — the classic
    * boilerplate signal (nav/chrome-heavy pages score low). 0 for empty
    * input. */
  def visibleRatio(html: Column): Column =
    when(length(html) > 0,
      length(stripTags(html)).cast("double") / length(html).cast("double"))
      .otherwise(0.0)
}
