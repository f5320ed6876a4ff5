package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** X61 — the HTML visible-text strip as ONE native kernel instead of the
  * eleven chained `regexp_replace` passes rounds ≤15 composed (script,
  * style, comment, tag removal + six entity decodes + whitespace
  * collapse). Each regex pass re-materializes the full string and walks
  * it under the java.util.regex interpreter; at the 1000× set the strip
  * chain was the dominant stage of the x0_web_pipeline flagship
  * (round 16: extraction = ~86% of the row; OPTIMIZATION_r16.md,
  * Inherited state item 2). This kernel keeps
  * the EXACT pass-by-pass semantics of the regex chain — same four block
  * passes in the same order, same sequential literal entity replaces,
  * same `\s+`-collapse-then-trim — but each pass is an indexOf-driven
  * scan (no regex, no backtracking), and the whole strip is a single
  * codegen'd expression: one UTF8String→String conversion in, one out.
  *
  * Pass-order equivalence matters and is spec-pinned against the regex
  * chain ([[graft.ext.HtmlSpec]] property test): e.g. a `<style>` opened
  * inside an unterminated comment is still removed (style pass runs
  * BEFORE comment pass), and `&amp;lt;` decodes to the literal `&lt;`
  * (amp decoded LAST). Case-folding for tag names is ASCII-only,
  * matching java regex `(?i)` without UNICODE_CASE.
  */
case class StripHtml(child: Expression) extends UnaryExpression {
  override def prettyName: String = "strip_html"
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      HtmlKernel.strip(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.HtmlKernel.strip($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlKernel {

  /** The full strip: block/tag removal, entity decode, whitespace
    * collapse + trim — bit-equal to the reference regex chain. */
  def strip(html: String): String = {
    var s = html
    s = removeElement(s, "script")
    s = removeElement(s, "style")
    s = removeComments(s)
    s = removeTags(s)
    // sequential literal replaces, amp LAST (so "&amp;lt;" -> "&lt;")
    s = replaceLiteral(s, "&nbsp;", " ")
    s = replaceLiteral(s, "&lt;", "<")
    s = replaceLiteral(s, "&gt;", ">")
    s = replaceLiteral(s, "&quot;", "\"")
    s = replaceLiteral(s, "&#39;", "'")
    s = replaceLiteral(s, "&amp;", "&")
    collapseWhitespace(s)
  }

  /** ASCII-only case-insensitive indexOf for a LOWERCASE-letter pattern
    * (tag names + '<' '/' '>'), matching java regex `(?i)` semantics
    * (which folds ASCII only without UNICODE_CASE). */
  private def indexOfIgnoreCase(s: String, pat: String, from: Int): Int = {
    val n = s.length; val m = pat.length
    var i = math.max(0, from)
    while (i + m <= n) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        val p = pat.charAt(j); val c = s.charAt(i + j)
        // p is lowercase ASCII letter or punctuation; fold c ASCII-only
        if (c != p && !(p >= 'a' && p <= 'z' && c == (p - 32))) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** `(?is)<tag[^>]*>.*?</tag>` → " ", all non-overlapping matches.
    * Leftmost semantics: if an open tag has no '>' after it, or no
    * close tag after that '>', NO later occurrence can match either
    * (both terminators would have to lie even further right), so the
    * pass ends — exactly where the regex engine gives up. */
  private def removeElement(s: String, tag: String): String = {
    val open = "<" + tag
    val close = "</" + tag + ">"
    var i = indexOfIgnoreCase(s, open, 0)
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var from = 0
    while (i >= 0) {
      val gt = s.indexOf('>', i + open.length)
      if (gt < 0) { i = -1 } // no '>' anywhere right of here: pass over
      else {
        val end = indexOfIgnoreCase(s, close, gt + 1)
        if (end < 0) { i = -1 } // no close tag right of here: pass over
        else {
          sb.append(s, from, i).append(' ')
          from = end + close.length
          i = indexOfIgnoreCase(s, open, from)
        }
      }
    }
    if (from == 0) s else sb.append(s, from, s.length).toString
  }

  /** `(?s)<!--.*?-->` → " ". */
  private def removeComments(s: String): String = {
    var i = s.indexOf("<!--")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var from = 0
    while (i >= 0) {
      val end = s.indexOf("-->", i + 4)
      if (end < 0) { i = -1 }
      else {
        sb.append(s, from, i).append(' ')
        from = end + 3
        i = s.indexOf("<!--", from)
      }
    }
    if (from == 0) s else sb.append(s, from, s.length).toString
  }

  /** `<[^>]+>` → " ". `[^>]+` needs at least one char, so "<>" stays;
    * the span up to the FIRST '>' is automatically '>'-free, matching
    * the greedy class. */
  private def removeTags(s: String): String = {
    var i = s.indexOf('<')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var from = 0
    var changed = false
    while (i >= 0) {
      val gt = s.indexOf('>', i + 1)
      if (gt < 0) { i = -1 } // no '>' right of here: no further matches
      else if (gt == i + 1) {
        // "<>" does not match; the regex engine advances past the '<'
        i = s.indexOf('<', i + 1)
      } else {
        sb.append(s, from, i).append(' ')
        from = gt + 1
        changed = true
        i = s.indexOf('<', from)
      }
    }
    if (!changed) s else sb.append(s, from, s.length).toString
  }

  /** All-occurrence literal replace (String.replace), identical to
    * regexp_replace with a metachar-free pattern. */
  private def replaceLiteral(s: String, pat: String, rep: String): String =
    if (s.indexOf(pat) < 0) s else s.replace(pat, rep)

  /** `trim(regexp_replace(s, "\\s+", " "))` in one pass. java regex \s
    * is exactly [ \t\n\u000B\f\r]; after the collapse only ' ' can lead
    * or trail among those, which is what Spark's trim removes. Other
    * Unicode whitespace (e.g. U+00A0) is NOT \s and passes through —
    * same as the regex chain. */
  private def collapseWhitespace(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r') {
        pendingSpace = true
      } else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    // no length shortcut: "a\tb" collapses to same-length "a b"
    sb.toString
  }
}
