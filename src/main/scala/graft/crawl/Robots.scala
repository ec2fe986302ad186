package graft.crawl

/** Robots.txt semantics per the reference's parser (crawler-commons
  * SimpleRobotRulesParser, used at …/flinkcrawler/functions/
  * CheckUrlWithRobotsFunction.java:100-232), which implements the
  * RFC 9309 rule set: `Allow:`/`Disallow:` path rules with `*` wildcards
  * and `$` end-anchors, most-specific (longest) pattern wins, ties go to
  * Allow; plus `Crawl-delay:` seconds and `Sitemap:` discovery. Rules are
  * parsed once per robots body and cached per domain by the topology.
  *
  * @param rules (pattern, isAllow) in file order; empty pattern lines are
  *              dropped at parse time (`Disallow:` with no value = allow
  *              all, per the RFC)
  */
final case class RobotsRules(
    rules: Seq[(String, Boolean)],
    crawlDelayMs: Option[Long],
    sitemaps: Seq[String],
    // rules synthesized from an INDETERMINATE robots fetch (5xx /
    // exception): visits are DEFERRED, not blocked — crawler-commons'
    // isDeferVisits(), which the reference maps to SKIPPED_DEFERRED
    // instead of SKIPPED_BLOCKED (CheckUrlWithRobotsFunction.java:224)
    // so the URL retries once the short error TTL re-fetches robots
    deferVisits: Boolean = false) extends Serializable {

  /** RFC 9309 evaluation: of all matching rules, the longest pattern
    * wins; at equal length Allow beats Disallow; no match = allowed.
    */
  def isAllowed(path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { case (pat, allow) =>
      val len = pat.length
      if ((len > bestLen || (len == bestLen && allow && !bestAllow)) &&
        RobotsRules.matches(pat, path)) {
        bestLen = len
        bestAllow = allow
      }
    }
    bestAllow
  }
}

object RobotsRules {

  val allowAll: RobotsRules = RobotsRules(Nil, None, Nil)

  /** Full disallow — the RFC 9309 stance when robots.txt is unreachable
    * (server error): every path starts with "/", so one disallow rule
    * covers the whole site. Reference parity: CheckUrlWithRobotsFunction
    * .java:137-142 maps robots fetch exceptions to a failed fetch rather
    * than crawling unguarded.
    */
  val allowNone: RobotsRules = RobotsRules(Seq("/" -> false), None, Nil)

  /** [[allowNone]] with the defer flag: the stance for a robots.txt that
    * is UNREACHABLE rather than forbidding — don't fetch now, but mark
    * the skip SKIPPED_DEFERRED so it re-arms on the error TTL instead of
    * the long blocked interval (reference CheckUrlWithRobotsFunction
    * .java:224 via crawler-commons failedFetch/isDeferVisits).
    */
  val deferAll: RobotsRules =
    RobotsRules(Seq("/" -> false), None, Nil, deferVisits = true)

  /** Back-compat helper: plain Disallow prefixes. */
  def disallowing(prefixes: String*): RobotsRules =
    RobotsRules(prefixes.map(_ -> false), None, Nil)

  /** Map a fetched robots.txt response to DEFINITIVE rules: 2xx →
    * parsed body, 4xx (no robots.txt) → allow-all, anything else
    * (5xx / exception sentinel / unreachable) → None. The ONE status
    * mapping both consumers share — they differ only in the
    * indeterminate stance: the CRAWL path assumes [[allowNone]] (don't
    * fetch while unsure — [[RobotsCache.rulesFor]]), the DELETION path
    * treats None as "never revoke" ([[RetentionPolicy]]): "delete the
    * corpus while unsure" is not a safe default.
    */
  def fromPage(page: FetchedPage): Option[RobotsRules] =
    if (page.statusCode >= 200 && page.statusCode < 300)
      Some(parse(page.content))
    else if (page.statusCode >= 400 && page.statusCode < 500)
      Some(allowAll)
    else None

  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Does robots path pattern `pat` match a prefix of `path`? A `*` is any
    * run of characters, a trailing `$` anchors the end of the path, and
    * everything else is literal. Matched by hand, with the regex
    * semantics the rules were first written against: a `*` spans no line
    * terminator, and `$` also holds before a final one (`\r\n` counts as
    * one).
    */
  private[graft] def matches(pat: String, path: String): Boolean = {
    val anchored = pat.endsWith("$")
    val end = if (anchored) pat.length - 1 else pat.length
    val n = path.length
    def atEnd(s: Int): Boolean =
      s == n ||
        (s == n - 2 && path.charAt(s) == '\r' && path.charAt(s + 1) == '\n') ||
        (s == n - 1 && isLineTerminator(path.charAt(s)) &&
          !(path.charAt(s) == '\n' && s > 0 && path.charAt(s - 1) == '\r'))
    def go(p0: Int, s0: Int): Boolean = {
      var p = p0
      var s = s0
      while (p < end && pat.charAt(p) != '*') {
        if (s == n || path.charAt(s) != pat.charAt(p)) return false
        p += 1
        s += 1
      }
      if (p == end) return !anchored || atEnd(s)
      while (p < end && pat.charAt(p) == '*') p += 1
      while (!go(p, s)) {
        if (s == n || isLineTerminator(path.charAt(s))) return false
        s += 1
      }
      true
    }
    go(0, 0)
  }

  /** Parse a robots.txt body. Like the reference's use, rules are taken
    * from every `User-agent` group (the mock fixtures use `*`
    * exclusively).
    */
  def parse(body: String): RobotsRules = {
    var rules = List.empty[(String, Boolean)]
    var delay: Option[Long] = None
    var sitemaps = List.empty[String]
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val idx = line.indexOf(':')
      if (idx > 0) {
        val key = line.substring(0, idx).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(idx + 1).trim
        key match {
          case "disallow" => if (value.nonEmpty) rules ::= (value -> false)
          case "allow" => if (value.nonEmpty) rules ::= (value -> true)
          case "crawl-delay" =>
            delay = value.toDoubleOption.map(d => (d * 1000).toLong)
          case "sitemap" => if (value.nonEmpty) sitemaps ::= value
          case _ =>
        }
      }
    }
    RobotsRules(rules.reverse, delay, sitemaps.reverse)
  }
}
