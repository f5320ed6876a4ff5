package graft.functions

import java.net.{URI, URISyntaxException}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** X59 — URL canonicalization and host extraction as single-parse native
  * kernels. The Column composition rounds ≤15 used (`try_parse_url` ×
  * protocol/authority/path/query + HOF filter/sort over the params)
  * costs ~8 independent `java.net.URI` parses per row — it was the
  * dominant ALL-ROWS stage of the restructured x0_web_pipeline
  * (round 16: url keys ≈ 40% of the row at the 1000× set;
  * OPTIMIZATION_r16.md, Inherited state item 2).
  * Each kernel parses the URI ONCE and computes the same contract;
  * equivalence with the composition is property-pinned (UrlsSpec) and
  * the cross-engine x59 oracle stays on the same canonical form.
  *
  * Both kernels reproduce `try_parse_url` NULL semantics: an unparsable
  * URL (URISyntaxException) or one with no scheme/authority yields NULL,
  * never an error — the q69 ingestion contract.
  */
object UrlKernel {

  /** Tracking-parameter prefixes dropped by [[canonical]] — MUST stay in
    * sync with [[graft.ext.Urls.DropParams]] (spec-pinned). */
  val DropParams: Array[String] = Array("utm_", "fbclid=", "gclid=", "ref=")

  private def parse(url: String): URI =
    try new URI(url) catch { case _: URISyntaxException => null }

  /** `lower(regexp_replace(AUTHORITY, "^[^@]*@", ""))` — userinfo
    * dropped, lowercase. Null when the URI has no authority. */
  private def cleanAuthority(uri: URI): String = {
    val raw = if (uri == null) null else uri.getRawAuthority
    if (raw == null) null
    else {
      val at = raw.indexOf('@')
      val a = if (at >= 0) raw.substring(at + 1) else raw
      a.toLowerCase
    }
  }

  /** [[graft.ext.Urls.host]]: authority up to the first ':'. */
  def host(url: String): String = {
    val a = cleanAuthority(parse(url))
    if (a == null) null
    else {
      val c = a.indexOf(':')
      if (c >= 0) a.substring(0, c) else a
    }
  }

  /** [[graft.ext.Urls.canonicalize]], one URI parse. Null when scheme or
    * authority is missing (the composition's concat-null behavior). */
  def canonical(url: String): String = {
    val uri = parse(url)
    val schemeRaw = if (uri == null) null else uri.getScheme
    val auth = cleanAuthority(uri)
    if (schemeRaw == null || auth == null) return null
    val proto = schemeRaw.toLowerCase
    // host = before first ':', port = after LAST ':' (substring_index
    // semantics, including the empty port of a trailing ':')
    val c = auth.indexOf(':')
    val host = if (c >= 0) auth.substring(0, c) else auth
    val port = if (c >= 0) auth.substring(auth.lastIndexOf(':') + 1) else null
    val keepPort = port != null &&
      !(proto == "http" && port == "80") &&
      !(proto == "https" && port == "443")
    // path: strip trailing slashes ("/+$" -> "")
    val rawPath = if (uri.getRawPath == null) "" else uri.getRawPath
    var pe = rawPath.length
    while (pe > 0 && rawPath.charAt(pe - 1) == '/') pe -= 1
    val path = rawPath.substring(0, pe)
    // query: split '&', drop empties + tracking params, sort, rejoin.
    // Sort order is UTF8String binary order (= code-point order), NOT
    // java's UTF-16 String order — they differ above U+FFFF.
    val rawQuery = if (uri.getRawQuery == null) "" else uri.getRawQuery
    val q =
      if (rawQuery.isEmpty) ""
      else {
        val kept = rawQuery.split("&", -1).filter { p =>
          p.nonEmpty && !DropParams.exists(p.startsWith)
        }
        java.util.Arrays.sort(kept, byCodePoint)
        kept.mkString("&")
      }
    val sb = new java.lang.StringBuilder(
      proto.length + host.length + path.length + q.length + 8)
    sb.append(proto).append("://").append(host)
    if (keepPort) sb.append(':').append(port)
    sb.append(path)
    if (q.nonEmpty) sb.append('?').append(q)
    sb.toString
  }

  /** [[graft.ext.Urls.SecondLevelSuffixes]] as a set — MUST stay in sync
    * (spec-pinned). */
  val SecondLevelSuffixes: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
      "co.jp", "co.in", "co.nz", "co.za", "co.kr", "com.br", "com.cn",
      "com.mx", "com.tr", "com.sg", "com.hk", "com.ar").foreach(s.add)
    s
  }

  /** `registeredDomain(host(url))` fused into ONE static call and ONE
    * URI parse. The Column form of registeredDomain expands its host
    * argument ~25× (split/slice/array_join + 19 suffix equalities);
    * inlining a url-derived host there blew the whole-stage-codegen
    * method past the JIT's compile limit and the project ran
    * INTERPRETED — measured 8 s vs 1 s for this stage at the 1000× set
    * (OPTIMIZATION_r16.md, Inherited state item 2). Label arithmetic
    * matches the Column contract:
    * last two labels, or last three when the trailing two are a listed
    * second-level suffix; hosts with ≤ 2 labels pass through. */
  def registeredDomainOfUrl(url: String): String = {
    val h = host(url)
    if (h == null) return null
    // label count = '.' count + 1 (split -1 keeps trailing empties)
    var dots = 0
    var i = 0
    while (i < h.length) { if (h.charAt(i) == '.') dots += 1; i += 1 }
    if (dots + 1 <= 2) return h
    val last = h.lastIndexOf('.')
    val second = h.lastIndexOf('.', last - 1)
    val lastTwo = h.substring(second + 1)
    if (SecondLevelSuffixes.contains(lastTwo)) {
      val third = h.lastIndexOf('.', second - 1)
      h.substring(third + 1) // n >= 3 is guaranteed here (dots >= 2)
    } else lastTwo
  }

  /** Code-point comparator == UTF-8 byte order == Spark `array_sort`
    * over strings (UTF8String.compareTo). */
  private val byCodePoint: java.util.Comparator[String] =
    new java.util.Comparator[String] {
      override def compare(a: String, b: String): Int = {
        var i = 0; var j = 0
        while (i < a.length && j < b.length) {
          val ca = a.codePointAt(i); val cb = b.codePointAt(j)
          if (ca != cb) return Integer.compare(ca, cb)
          i += Character.charCount(ca); j += Character.charCount(cb)
        }
        Integer.compare(a.length - i, b.length - j)
      }
    }
}

abstract class UrlKernelExpression extends UnaryExpression {
  override def dataType: DataType = StringType

  // nullable regardless of the child: the kernel returns NULL for
  // unparsable URLs (try_parse_url semantics), even from non-null input
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  protected def kernelMethod: String

  protected def applyKernel(s: String): String

  // NOT nullIntolerant-only: the kernel itself returns null on
  // unparsable input, so eval/codegen must propagate a null RESULT
  override def nullSafeEval(v: Any): Any = {
    val r = applyKernel(v.asInstanceOf[UTF8String].toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("urlres")
      s"""
         |String $tmp = graft.functions.UrlKernel.$kernelMethod($c.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($tmp); }
       """.stripMargin
    })
}

/** `canonical_url(url)` — [[UrlKernel.canonical]]. */
case class CanonicalUrl(child: Expression) extends UrlKernelExpression {
  override def prettyName: String = "canonical_url"
  override protected def kernelMethod: String = "canonical"
  override protected def applyKernel(s: String): String = UrlKernel.canonical(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `url_host(url)` — [[UrlKernel.host]]. */
case class UrlHost(child: Expression) extends UrlKernelExpression {
  override def prettyName: String = "url_host"
  override protected def kernelMethod: String = "host"
  override protected def applyKernel(s: String): String = UrlKernel.host(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `url_registered_domain(url)` — [[UrlKernel.registeredDomainOfUrl]]. */
case class UrlRegisteredDomain(child: Expression) extends UrlKernelExpression {
  override def prettyName: String = "url_registered_domain"
  override protected def kernelMethod: String = "registeredDomainOfUrl"
  override protected def applyKernel(s: String): String =
    UrlKernel.registeredDomainOfUrl(s)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
