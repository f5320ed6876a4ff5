package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** X59 — URL canonicalization + registered-domain extraction: the
  * web-corpus prerequisite the curation passes assume away. CommonCrawl
  * pipelines dedup by URL, cap per-domain contributions ([[Curation
  * .domainCap]]) and join crawls across snapshots — none of which works
  * until `HTTP://www.Site.com:80/a/?utm_source=x&b=1#frag` and
  * `http://www.site.com/a?b=1` are the same key.
  *
  * Everything is built from codegen'd builtins — `parse_url` for the
  * piecewise split, `filter`/`array_sort`/`array_join` HOFs for the query
  * string — so canonicalization runs row-local at scan speed inside
  * whole-stage codegen: no UDF, no shuffle, 100 TB-indifferent.
  *
  * Canonical form (the pinned contract, hash-checked cross-engine by
  * x59_url_canon):
  *  - scheme and host lowercased; userinfo dropped (credentials never
  *    belong in a corpus key);
  *  - port kept ONLY when non-default for the scheme (http:80 and
  *    https:443 strip);
  *  - fragment dropped (never sent to the server — two URLs differing
  *    only in fragment fetch the same bytes);
  *  - trailing slashes stripped from the path (`/a/` ≡ `/a`; the root
  *    path collapses to the bare authority);
  *  - query parameters: empties and tracking params (`utm_*`, `fbclid`,
  *    `gclid`, `ref`) removed, the rest SORTED and rejoined — parameter
  *    order is transport noise, not identity.
  */
object Urls {

  /** Tracking-parameter prefixes dropped by [[canonicalize]]. */
  val DropParams: Seq[String] = Seq("utm_", "fbclid=", "gclid=", "ref=")

  /** `parse_url` that NEVER throws: under ANSI mode (the Spark 4 default)
    * `parse_url` raises INVALID_URL on malformed input — one bad URL in a
    * 100 TB crawl must become NULL, not a dead task (the q69 ingestion
    * contract). */
  private def part(url: Column, p: String): Column =
    try_parse_url(url, lit(p))

  private def authority(url: Column): Column =
    // userinfo ('user:pass@') dropped, rest lowercased
    lower(regexp_replace(part(url, "AUTHORITY"), "^[^@]*@", ""))

  /** Host without port, lowercased, userinfo stripped.
    * Caveat: bracketed IPv6 authorities (`[::1]:8080`) are not special-
    * cased — the first ':' splits them. Registrable-domain work targets
    * DNS hostnames; IP-literal URLs should be screened out upstream.
    *
    * Round 16: single-parse native kernel ([[graft.functions.UrlHost]])
    * — the composed form re-parsed the URI per part; [[hostComposed]]
    * stays as the executable spec the kernel is property-tested
    * against. */
  def host(url: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.UrlHost(
        org.apache.spark.sql.GraftBridge.expression(url)))

  /** The builtin composition [[host]]'s kernel must match (UrlsSpec). */
  private[graft] def hostComposed(url: Column): Column =
    substring_index(authority(url), ":", 1)

  /** Explicit port as a string, or NULL when absent. */
  def port(url: Column): Column = {
    val auth = authority(url)
    when(auth.contains(":"), substring_index(auth, ":", -1))
  }

  /** Canonical query string: params filtered (empties + [[DropParams]]),
    * sorted, rejoined; '' when nothing survives. */
  private def canonicalQuery(url: Column): Column = {
    val params = filter(
      split(coalesce(part(url, "QUERY"), lit("")), "&"),
      p => p =!= "" && DropParams.map(d => p.startsWith(d))
        .reduce(_ || _).unary_!)
    array_join(array_sort(params), "&")
  }

  /** The canonical URL per the contract above. Round 16: ONE
    * `java.net.URI` parse per row ([[graft.functions.CanonicalUrl]])
    * instead of the ~8 the `try_parse_url`-per-part composition paid —
    * the all-rows URL-keying stage of x0_web_pipeline
    * (OPTIMIZATION_r16.md, Inherited state item 2).
    * [[canonicalizeComposed]] keeps the builtin form as the executable
    * spec (property-tested equal, UrlsSpec). */
  def canonicalize(url: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CanonicalUrl(
        org.apache.spark.sql.GraftBridge.expression(url)))

  /** The builtin composition [[canonicalize]]'s kernel must match. */
  private[graft] def canonicalizeComposed(url: Column): Column = {
    val proto = lower(part(url, "PROTOCOL"))
    val h = hostComposed(url)
    val p = port(url)
    val keepPort = p.isNotNull &&
      !(proto === "http" && p === "80") && !(proto === "https" && p === "443")
    val path = regexp_replace(
      coalesce(part(url, "PATH"), lit("")), "/+$", "")
    val q = canonicalQuery(url)
    concat(
      proto, lit("://"), h,
      when(keepPort, concat(lit(":"), p)).otherwise(""),
      path,
      when(q =!= "", concat(lit("?"), q)).otherwise(""))
  }

  /** Second-level public suffixes where the registrable name is the THIRD
    * label from the right (bbc.co.uk, not co.uk). A pragmatic subset of
    * the public-suffix list — callers with full-PSL needs supply their own
    * table and join; the engine contract is the label arithmetic. */
  val SecondLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "co.in", "co.nz", "co.za", "co.kr", "com.br", "com.cn",
    "com.mx", "com.tr", "com.sg", "com.hk", "com.ar")

  /** `registeredDomain(host(url))` fused into one single-parse kernel
    * ([[graft.functions.UrlRegisteredDomain]]). Use THIS when the input
    * is a URL: the Column composition expands the host expression ~25×,
    * which pushed whole-stage codegen past the JIT compile limit and ran
    * the project interpreted (8× the stage cost; OPTIMIZATION_r16.md,
    * Inherited state item 2).
    * Property-pinned equal to `registeredDomain(host(url))` (UrlsSpec). */
  def registeredDomainOfUrl(url: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.UrlRegisteredDomain(
        org.apache.spark.sql.GraftBridge.expression(url)))

  /** Registered (apex) domain of a HOST column: the last two labels, or
    * the last three when the trailing two form a second-level public
    * suffix; hosts with fewer labels pass through unchanged. */
  def registeredDomain(hostCol: Column): Column = {
    val labels = split(hostCol, "\\.")
    val n = size(labels)
    val lastTwo = array_join(slice(labels, -2, 2), ".")
    val suffixHit = SecondLevelSuffixes
      .map(s => lastTwo === s).reduce(_ || _)
    when(n <= 2, hostCol)
      .when(suffixHit && n >= 3, array_join(slice(labels, -3, 3), "."))
      .otherwise(lastTwo)
  }

  // ---------------------------------------------------------------- full PSL

  /** One parsed public-suffix rule. `suffix` is the rule's literal label
    * suffix (for a wildcard rule `*.ck` the stored suffix is the base
    * `ck`; for an exception `!www.ck` it is `www.ck` — flags carry the
    * semantics). `labels` counts the STORED suffix's labels. */
  case class PslRule(suffix: String, labels: Int,
      wildcard: Boolean, exception: Boolean)

  /** Parse the publicsuffix.org list format: one rule per line, `//`
    * comments and blank lines skipped, `*.` wildcard and `!` exception
    * prefixes honored. Inline trailing text after whitespace is dropped
    * (the list's own convention). Feed it the real ~9 k-line PSL file —
    * or any subset — the engine contract is the matching algorithm, not
    * a bundled snapshot that would silently age. */
  def parsePsl(lines: Seq[String]): Seq[PslRule] =
    lines.iterator
      .map(_.trim.split("\\s+").head)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map { l =>
        val exception = l.startsWith("!")
        val body = l.stripPrefix("!")
        val wildcard = body.startsWith("*.")
        val suffix = (if (wildcard) body.stripPrefix("*.") else body)
          .toLowerCase
        PslRule(suffix, suffix.count(_ == '.') + 1, wildcard, exception)
      }
      .toSeq.distinct

  /** Registered domain per the FULL publicsuffix.org algorithm, as a
    * broadcast suffix-table join — the scale face behind
    * [[registeredDomain]]'s pragmatic built-in subset (reference-class
    * web corpora hit `*.ck`-style wildcard and `!exception` rules the
    * label arithmetic alone cannot express).
    *
    * Shape (100 TB-safe): distinct hosts are reduced FIRST (a corpus has
    * orders of magnitude fewer hosts than rows), each host explodes into
    * its ≤ `maxLabels` label-suffix candidates, candidates equi-join the
    * broadcast rule table (no crossJoin — the PSL is KBs), and the
    * prevailing rule follows the published precedence: exception rules
    * beat everything, else most labels wins, else the implicit `*`
    * default (public suffix = last label). The host→domain mapping then
    * joins back onto the input by host.
    *
    * Contract: a host that IS a public suffix (or too short to have a
    * registrable label) gets a NULL registered domain — the PSL
    * algorithm's answer, deliberately stricter than [[registeredDomain]]
    * which passes bare hosts through. Case is folded to lower before
    * matching; IDNA/punycode forms are matched literally (canonicalize
    * upstream if a corpus mixes them).
    *
    * @param rules output of [[parsePsl]]
    * @param out   name of the appended registered-domain column */
  def registeredDomainPsl(df: org.apache.spark.sql.DataFrame, hostCol: String,
      rules: Seq[PslRule], out: String = "registered_domain",
      maxLabels: Int = 8): org.apache.spark.sql.DataFrame = {
    require(rules.nonEmpty, "empty PSL rule set")
    val spark = df.sparkSession
    import spark.implicits._
    pslJoin(df, hostCol,
      rules.toDF("__suffix", "__rlabels", "__wild", "__exc"), out, maxLabels)
  }

  /** Table-sourced face of [[registeredDomainPsl]]: `ruleLines` is a
    * one-string-column DataFrame of RAW publicsuffix.org lines — e.g.
    * `spark.read.text("public_suffix_list.dat")` — parsed in-plan
    * (comments/blanks dropped, `*.`/`!` prefixes honored, same format
    * contract as [[parsePsl]]) and broadcast into the identical
    * suffix-join. Full-PSL users point this at the published file (or
    * their own curated table) instead of forking the kernel or
    * round-tripping 9 k rules through the driver. */
  def registeredDomainPslTable(df: org.apache.spark.sql.DataFrame,
      hostCol: String, ruleLines: org.apache.spark.sql.DataFrame,
      out: String = "registered_domain",
      maxLabels: Int = 8): org.apache.spark.sql.DataFrame = {
    require(ruleLines.columns.length == 1,
      s"ruleLines must have exactly one string column, got " +
        ruleLines.columns.mkString(", "))
    val line = split(trim(col(ruleLines.columns.head)), "\\s+").getItem(0)
    val body = regexp_replace(col("__l"), "^!", "")
    val ruleDf = ruleLines
      .select(line.as("__l"))
      .filter(length(col("__l")) > 0 && !col("__l").startsWith("//"))
      .select(
        lower(regexp_replace(body, "^\\*\\.", "")).as("__suffix"),
        col("__l").startsWith("!").as("__exc"),
        regexp_replace(col("__l"), "^!", "").startsWith("*.").as("__wild"))
      .withColumn("__rlabels", size(split(col("__suffix"), "\\.")))
      .select("__suffix", "__rlabels", "__wild", "__exc")
      .distinct()
    pslJoin(df, hostCol, ruleDf, out, maxLabels)
  }

  /** The shared suffix-table join behind both PSL faces; `ruleDf` columns
    * (__suffix, __rlabels, __wild, __exc) per [[PslRule]]. */
  private def pslJoin(df: org.apache.spark.sql.DataFrame, hostCol: String,
      ruleDf: org.apache.spark.sql.DataFrame, out: String,
      maxLabels: Int): org.apache.spark.sql.DataFrame = {

    val hostExpr = lower(col(s"`$hostCol`"))
    val hosts = df.select(hostExpr.as("__host")).filter(col("__host").isNotNull)
      .distinct()
    val labels = split(col("__host"), "\\.")
    // every label-suffix of the host, longest last: "a.b.ck" → [ck, b.ck, a.b.ck]
    val cands = hosts
      .select(col("__host"), size(labels).as("__n"),
        explode(transform(
          sequence(lit(1), least(size(labels), lit(maxLabels))),
          k => array_join(slice(labels, -k, k), "."))).as("__cand"))
    // effective public-suffix label count per matched rule:
    //   exception  → rule labels − 1 (the exception re-opens one label)
    //   wildcard   → rule labels + 1 (the starred label must exist)
    //   plain      → rule labels
    val eff = when(col("__exc"), col("__rlabels") - 1)
      .when(col("__wild"), col("__rlabels") + 1)
      .otherwise(col("__rlabels"))
    val matched = cands
      .join(broadcast(ruleDf), col("__cand") === col("__suffix"))
      .withColumn("__eff", eff)
      // a wildcard only applies when the starred label is present
      .filter(col("__eff") <= col("__n"))
      .groupBy(col("__host"), col("__n"))
      // precedence: any exception rule wins, else most effective labels
      .agg(max(struct(col("__exc").cast("int").as("e"), col("__eff").as("f")))
        .as("__m"))
      .select(col("__host"), col("__n"), col("__m.f").as("__ps"))
    val mapping = hosts
      .join(matched.drop("__n"), Seq("__host"), "left")
      .withColumn("__ps", coalesce(col("__ps"), lit(1))) // implicit `*` rule
      .withColumn("__rd",
        when(size(split(col("__host"), "\\.")) > col("__ps"),
          array_join(slice(split(col("__host"), "\\."),
            -(col("__ps") + 1), col("__ps") + 1), ".")))
      .select(col("__host"), col("__rd"))
    df.join(mapping, hostExpr === mapping("__host"), "left")
      .withColumn(out, col("__rd"))
      .drop("__host", "__rd")
  }
}
