package graft.functions

import java.net.{URI, URL}
import java.nio.charset.StandardCharsets

/** URL scalar functions of the crawl pipeline: normalization, validation,
  * paid-level-domain extraction, stable hashing.
  *
  * Semantics follow the reference's "clean URLs" stage (reference:
  * src/main/java/com/scaleunlimited/flinkcrawler/urls/SimpleUrlNormalizer
  * .java:266-365, SimpleUrlValidator.java:54-80, pojos/ValidUrl.java:55-170)
  * re-expressed as pure Scala functions: the crawler calls them directly,
  * `graft.plans.UrlExpressions` wraps them as codegen'd SQL functions,
  * and they are unit-tested without a SparkSession.
  */
object UrlFunctions {

  // -------------------------------------------------------------------- parse

  /** The parts of a URL as `java.net.URL` reports them; `host`, `path`,
    * `query` and `ref` may be null, as there.
    */
  private final case class UrlParts(
      protocol: String, host: String, port: Int, defaultPort: Int,
      path: String, query: String, ref: String)

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Does `s` hold `lower` at `off`, ASCII letters compared without case?
    * This is what `(?i)` matches in a Java regex (no UNICODE_CASE);
    * `String.regionMatches(true, …)` would also fold e.g. U+017F to `s`.
    */
  private def startsWithAsciiCi(s: String, off: Int, lower: String): Boolean = {
    if (off < 0 || off + lower.length > s.length) return false
    var k = 0
    while (k < lower.length) {
      val c = s.charAt(off + k)
      if ((if (c >= 'A' && c <= 'Z') (c + 32).toChar else c) != lower.charAt(k))
        return false
      k += 1
    }
    true
  }

  /** Parse `spec` exactly as `new URL(spec)` does; null where that throws.
    * An http(s) URL whose authority is `[userinfo@]host[:port]` with a
    * plain host name is split here in one scan. Everything else (other
    * schemes, IPv6 literals, two `@`, other host characters, signed or
    * long ports, no authority) goes through `java.net.URL`.
    */
  private def parseUrl(spec: String): UrlParts = {
    if (spec == null) return null
    val https = startsWithAsciiCi(spec, 0, "https://")
    if (https || startsWithAsciiCi(spec, 0, "http://")) {
      val p = parseHttp(spec, if (https) 8 else 7, https)
      if (p != null) return p
    }
    try {
      val u = new URL(spec)
      UrlParts(u.getProtocol, u.getHost, u.getPort, u.getDefaultPort,
        u.getPath, u.getQuery, u.getRef)
    } catch { case _: Exception => null }
  }

  /** `URLStreamHandler.parseURL` for a spec whose authority starts at
    * `a`: the ref starts at the first `#`, the query at the first `?`
    * before it, the authority ends at the first `/` before those, and
    * trailing characters up to `' '` are dropped. Null when the authority
    * is not a plain `host[:port]` (the caller falls back).
    */
  private def parseHttp(spec: String, a: Int, https: Boolean): UrlParts = {
    var limit = spec.length
    while (limit > a && spec.charAt(limit - 1) <= ' ') limit -= 1
    val hash = spec.indexOf('#', a)
    val end = if (hash >= 0) hash else limit
    val q = spec.indexOf('?')
    val pathStart = if (q >= 0 && q < end) q else end
    var e = a
    while (e < pathStart && spec.charAt(e) != '/') e += 1
    if (e == a) return null
    var h = a
    val at = spec.indexOf('@', a)
    if (at >= 0 && at < e) {
      val second = spec.indexOf('@', at + 1)
      if (second >= 0 && second < e) return null
      h = at + 1
    }
    var colon = h
    while (colon < e && spec.charAt(colon) != ':') {
      val c = spec.charAt(colon)
      if (!(isAsciiLetter(c) || isDigit(c) || c == '.' || c == '-' || c == '_'))
        return null
      colon += 1
    }
    var port = -1
    if (colon + 1 < e) {
      if (e - colon - 1 > 9) return null
      port = 0
      var k = colon + 1
      while (k < e) {
        val c = spec.charAt(k)
        if (!isDigit(c)) return null
        port = port * 10 + (c - '0')
        k += 1
      }
    }
    UrlParts(if (https) "https" else "http", spec.substring(h, colon), port,
      if (https) 443 else 80,
      if (e < pathStart) spec.substring(e, pathStart) else "",
      if (pathStart < end) spec.substring(pathStart + 1, end) else null,
      if (hash >= 0) spec.substring(hash + 1, limit) else null)
  }

  // ---------------------------------------------------------------- normalize

  /** Query keys stripped when they carry a value (reference
    * SimpleUrlNormalizer.java:63-76: SESSION_ID_PATTERN +
    * OTHER_IGNORED_QUERY_PARAMETERS_PATTERN — both applied by the default
    * normalizer; key-only occurrences are kept, as there), plus every
    * `aspsessionid[a-z]*` key. Compared lowercased.
    */
  private val StrippedQueryKeys: Set[String] = Set(
    "sid", "phpsessid", "sessionid", "session_id", "bv_sessionid",
    "jsessionid", "-session", "session", "session_key", "cfid", "cftoken",
    "zenid", "width", "format", "country", "height", "src", "user",
    "username", "uname", "return_url", "returnurl", "sort", "sort_by",
    "sortby", "sort_direction", "sort_key", "order_by", "orderby",
    "sortorder", "collate")

  private def isStrippedKey(key: String): Boolean = {
    val k = key.toLowerCase(java.util.Locale.ROOT)
    StrippedQueryKeys.contains(k) ||
      (k.startsWith("aspsessionid") && k.substring(12).forall(c => c >= 'a' && c <= 'z'))
  }

  /** Default pages removed at path end (reference DEFAULT_PAGE_PATTERN,
    * SimpleUrlNormalizer.java:59-60: `(index|default)` dot
    * `js[pf][afx]?|cgi|cfm|aspx?|[psx]?htm[l]?|php[3456]?`, any case).
    */
  private val DefaultPages: Set[String] =
    (Seq("jsp", "jsf", "jspa", "jspf", "jspx", "jsfa", "jsff", "jsfx",
      "cgi", "cfm", "asp", "aspx", "php", "php3", "php4", "php5", "php6") ++
      Seq("", "p", "s", "x").flatMap(p => Seq(p + "htm", p + "html")))
      .flatMap(ext => Seq("index." + ext, "default." + ext)).toSet

  /** Characters that stay unescaped in paths/queries; everything else is
    * percent-encoded. Matches RFC 3986 unreserved + common sub-delims kept
    * by crawler normalizers.
    */
  private def isSafeChar(c: Char, inQuery: Boolean): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') ||
      "-_.~!$&'()*+,;:@/".indexOf(c) >= 0 ||
      (inQuery && (c == '=' || c == '?'))

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Percent-decode with bad-% repair: a '%' not followed by two hex digits
    * is kept literally (and later re-encoded) instead of throwing.
    */
  private[functions] def percentDecode(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    val bytes = new java.io.ByteArrayOutputStream(4)
    var i = 0
    def flushBytes(): Unit = if (bytes.size() > 0) {
      out.append(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      bytes.reset()
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hexVal(s.charAt(i + 1)) >= 0 &&
          hexVal(s.charAt(i + 2)) >= 0) {
        bytes.write(hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2)))
        i += 3
      } else {
        flushBytes()
        out.append(c)
        i += 1
      }
    }
    flushBytes()
    out.toString
  }

  private val Hex = "0123456789abcdef"

  private def percentEncode(s: String, inQuery: Boolean): String = {
    val out = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (c == ' ') out.append('+') // reference encodes spaces as '+'
      else if (isSafeChar(c, inQuery) || c == '%') out.append(c)
      else {
        // per UTF-16 unit, so a lone surrogate half encodes as '?'
        c.toString.getBytes(StandardCharsets.UTF_8).foreach { b =>
          // lowercase hex, matching the reference's encoder output
          out.append('%').append(Hex.charAt((b >> 4) & 0xf)).append(Hex.charAt(b & 0xf))
        }
      }
    }
    out.toString
  }

  /** Decode-then-encode a path or query component until stable, so
    * equivalent escapings compare equal: unreserved characters end up
    * literal, unsafe ones as lowercase %xx. The fixpoint loop collapses
    * double-encoding (%2573id -> %73id -> sid) — a single pass would
    * leave a decodable layer that re-decodes on the NEXT normalize pass,
    * breaking idempotence. Bad escapes are stable immediately (repair
    * keeps them literal). A component of safe characters only is already
    * stable. Both steps are character-local and a `%xx` escape never
    * spans a `/`, so a whole path gives what its segments give one by one.
    */
  private def normalizeEscaping(s: String, inQuery: Boolean): String = {
    var i = 0
    while (i < s.length && s.charAt(i) != '%' && isSafeChar(s.charAt(i), inQuery)) i += 1
    if (i == s.length) return s
    var cur = s
    var rounds = 0
    while (rounds < 4) {
      val next = percentEncode(percentDecode(cur), inQuery)
      if (next == cur) return cur
      cur = next
      rounds += 1
    }
    cur
  }

  /** RFC 3986 dot-segment removal in one left-to-right pass over the
    * segments, keeping the reference's two quirks (SimpleUrlNormalizer
    * .java:55-56): a `..` pops its parent only when the parent holds a
    * non-dot character, and a trailing `..` with no `/` after it is
    * kept. `.` and empty segments drop out BEFORE any `..` sees them, so
    * `/a/./../b` and `/a//../b` resolve to `/b` at once and a second
    * pass changes nothing. The result keeps a trailing slash when the
    * path ends in `/` or `/.`.
    */
  private[functions] def normalizePathSegments(path: String): String = {
    val segs = path.split("/", -1)
    val kept = new scala.collection.mutable.ArrayBuffer[String](segs.length)
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      if (seg == ".." && i < segs.length - 1) {
        if (kept.nonEmpty && kept.last.exists(_ != '.')) kept.remove(kept.length - 1)
        else if (kept.nonEmpty) kept += seg
      } else if (seg.nonEmpty && seg != ".") kept += seg
      i += 1
    }
    val trailingSlash = kept.nonEmpty && (path.endsWith("/") || path.endsWith("/."))
    kept.mkString("/", "/", if (trailingSlash) "/" else "")
  }

  /** Drop every `;jsessionid=` matrix param (any case) up to the next `;`,
    * `/`, `?` or `#`, scanning left to right once, as `replaceAll` does.
    * The param belongs to its segment: `/a;jsessionid=1/c` keeps `/c`.
    */
  private def stripJsessionid(path: String): String = {
    var i = path.indexOf(';')
    if (i < 0) return path
    val sb = new java.lang.StringBuilder(path.length)
    var from = 0
    while (i >= 0) {
      if (startsWithAsciiCi(path, i, ";jsessionid=")) {
        sb.append(path, from, i)
        var j = i + 12
        while (j < path.length && path.charAt(j) != ';' && path.charAt(j) != '/' &&
          path.charAt(j) != '?' && path.charAt(j) != '#') j += 1
        from = j
        i = path.indexOf(';', j)
      } else i = path.indexOf(';', i + 1)
    }
    sb.append(path, from, path.length).toString
  }

  /** Append the normalized form of a raw URL path: strip ;jsessionid, then
    * escape-normalize FIRST — dot-segment resolution and default-page
    * removal must see final forms, or %2e-encoded dot segments would
    * survive one pass and resolve on the next (idempotence).
    */
  private def appendPath(sb: java.lang.StringBuilder, raw: String): Unit = {
    val path = normalizePathSegments(
      normalizeEscaping(stripJsessionid(raw), inQuery = false))
    val last = path.lastIndexOf('/')
    if (DefaultPages.contains(path.substring(last + 1).toLowerCase(java.util.Locale.ROOT)))
      sb.append(path, 0, last + 1)
    else sb.append(path)
  }

  private def normalizeHostname(host: String): String = {
    var h = host.toLowerCase(java.util.Locale.ROOT)
    while (h.endsWith(".")) h = h.substring(0, h.length - 1)
    h
  }

  /** Drop empty parts (q=1&&z=2 -> q=1&z=2, as the reference does) and
    * stripped keys that carry a value (key-only params are kept: the
    * reference patterns need '='). Keys arrive escape-normalized, so a
    * stripped key never hides behind an escape. A one-char `split` runs
    * no regex.
    */
  private def stripSessionParams(query: String): String =
    query.split("&", -1).filter { kv =>
      val eq = kv.indexOf('=')
      kv.nonEmpty && (eq < 0 || !isStrippedKey(kv.substring(0, eq)))
    }.mkString("&")

  /** Java `trim` (every char up to `' '` at both ends), then drop tabs,
    * CRs and LFs inside.
    */
  private def stripControls(raw: String): String = {
    val t = raw.trim
    if (t.exists(c => c == '\t' || c == '\r' || c == '\n'))
      t.filterNot(c => c == '\t' || c == '\r' || c == '\n')
    else t
  }

  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Does `url` lack a scheme (the reference's test, as the regex pair
    * `^[a-z][a-z0-9+.-]*:.*` / `^[a-z0-9.-]+:\d+.*`, any case)? A
    * `host:port` prefix is not a scheme, and `.` matches no line
    * terminator, so one anywhere after the colon fails both tests.
    */
  private def needsDefaultProtocol(url: String): Boolean = {
    var i = 0
    var plus = false
    while (i < url.length && {
      val c = url.charAt(i)
      plus ||= c == '+'
      isAsciiLetter(c) || isDigit(c) || c == '.' || c == '-' || c == '+'
    }) i += 1
    if (i == url.length || url.charAt(i) != ':' ||
      url.indexWhere(isLineTerminator, i + 1) >= 0) true
    else !isAsciiLetter(url.charAt(0)) ||
      (i > 0 && !plus && i + 1 < url.length && isDigit(url.charAt(i + 1)))
  }

  /** Canonicalize a URL (default protocol, lowercase host, default-port and
    * default-page removal, dot-segment resolution, session-param stripping,
    * percent-escaping normalization, fragment removal) in one scan per
    * component, with no regex and, for http(s), no `java.net.URL`. Never
    * throws; input that cannot be parsed is returned trimmed.
    */
  def normalizeUrl(rawUrl: String): String = {
    if (rawUrl == null) return null
    val url = stripControls(rawUrl)
    if (url.isEmpty) return url
    val spec = if (needsDefaultProtocol(url)) "http://" + url else url
    val p = parseUrl(spec)
    if (p == null) return spec
    val protocol = p.protocol.toLowerCase(java.util.Locale.ROOT)
    val defaultPort = if (protocol == "https") 443 else 80
    // query: escape-normalize first so the session-param strip and the
    // emitted form share one representation (an encoded %3D/%26 becomes
    // structural on re-parse otherwise)
    val query =
      if (p.query == null || p.query.isEmpty) ""
      else stripSessionParams(normalizeEscaping(p.query, inQuery = true))
    val sb = new java.lang.StringBuilder(spec.length + 8)
    sb.append(protocol).append("://")
      .append(normalizeHostname(if (p.host == null) "" else p.host))
    if (p.port != -1 && p.port != defaultPort) sb.append(':').append(p.port)
    appendPath(sb, if (p.path == null) "" else p.path)
    if (query.nonEmpty) sb.append('?').append(query)
    sb.toString
  }

  // ----------------------------------------------------------------- validate

  private val HostnamePattern =
    "^([a-z0-9]([a-z0-9-]*[a-z0-9])?\\.)+[a-z]{2,}$".r

  /** http(s) scheme, parseable by both URL and URI, host is a dotted name
    * or IPv4 literal (reference SimpleUrlValidator.java:54-80).
    */
  def isValidUrl(url: String): Boolean = {
    if (url == null || url.isEmpty) return false
    try {
      val u = new URL(url)
      val proto = u.getProtocol
      if (proto != "http" && proto != "https") return false
      new URI(url) // must also be a valid URI
      val host = Option(u.getHost).getOrElse("").toLowerCase(java.util.Locale.ROOT)
      HostnamePattern.matches(host) || isIpv4(host)
    } catch {
      case _: Exception => false
    }
  }

  /** Precompiled banned-suffix gate (reference SimpleUrlValidator.java
    * :35-50: the crawl CLI's mime filter builds `.(suffix|…)$` — the
    * leading `.` is any-char there, mirrored; the suffixes themselves
    * are quoted so metacharacters can't break or change the pattern).
    * Build once, apply per row.
    */
  def suffixValidator(bannedSuffixes: Seq[String]): String => Boolean =
    if (bannedSuffixes.isEmpty) url => isValidUrl(url)
    else {
      val p = java.util.regex.Pattern.compile(
        ".(" +
          bannedSuffixes.map(java.util.regex.Pattern.quote).mkString("|") +
          ")$")
      url => isValidUrl(url) && !p.matcher(url).find()
    }

  /** One-shot convenience form of [[suffixValidator]]. */
  def isValidUrl(url: String, bannedSuffixes: Seq[String]): Boolean =
    suffixValidator(bannedSuffixes)(url)

  /** Is `url`'s host within `domain` (equal or a subdomain)? Reference
    * SingleDomainUrlValidator.java:54-60.
    */
  def isUrlWithinDomain(url: String, domain: String): Boolean = {
    val host =
      try new URL(url).getHost.toLowerCase(java.util.Locale.ROOT)
      catch { case _: Exception => return false }
    val d = domain.toLowerCase(java.util.Locale.ROOT)
    host == d || host.endsWith("." + d)
  }

  // ---------------------------------------------------------------------- pld

  /** Multi-label public suffixes (beyond plain TLDs) for paid-level-domain
    * extraction. A compact curated subset of the public-suffix list — the
    * reference embeds the full Mozilla list via crawler-commons
    * EffectiveTldFinder (reference pojos/ValidUrl.java:161-170).
    */
  private val MultiLabelSuffixes: Set[String] = Set(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "co.za", "net.za", "org.za", "gov.za",
    "com.mx", "net.mx", "org.mx",
    "com.ar", "net.ar", "org.ar",
    "com.tr", "net.tr", "org.tr",
    "co.kr", "ne.kr", "or.kr", "go.kr",
    "com.sg", "net.sg", "org.sg", "edu.sg",
    "com.hk", "net.hk", "org.hk",
    "com.tw", "net.tw", "org.tw",
    "co.il", "net.il", "org.il",
    "com.ru", "net.ru", "org.ru")

  private def isIpv4(h: String): Boolean = {
    var groups = 0
    var digits = 0
    var i = 0
    while (i < h.length) {
      val c = h.charAt(i)
      if (isDigit(c)) { digits += 1; if (digits > 3) return false }
      else if (c == '.' && digits > 0 && groups < 3) { groups += 1; digits = 0 }
      else return false
      i += 1
    }
    groups == 3 && digits > 0
  }

  /** Paid-level domain: the registrable domain one label below the public
    * suffix ("www.foo.co.uk" -> "foo.co.uk"; "a.b.example.com" ->
    * "example.com"). IP literals and single-label hosts return unchanged.
    */
  def extractPldFromHost(hostRaw: String): String = {
    if (hostRaw == null || hostRaw.isEmpty) return hostRaw
    val host = normalizeHostname(hostRaw)
    if (isIpv4(host)) return host
    // the last two (three under a multi-label suffix) dot-separated
    // labels; the hostname has no trailing dot
    val d1 = host.lastIndexOf('.')
    val d2 = if (d1 > 0) host.lastIndexOf('.', d1 - 1) else -1
    if (d2 < 0) return host
    val lastTwo = host.substring(d2 + 1)
    if (MultiLabelSuffixes.contains(lastTwo))
      host.substring(if (d2 > 0) host.lastIndexOf('.', d2 - 1) + 1 else 0)
    else lastTwo
  }

  /** PLD of a full URL; empty string when the URL has no parseable host. */
  def extractPld(url: String): String = {
    val p = parseUrl(url)
    if (p == null) "" else extractPldFromHost(p.host)
  }

  /** protocol://host[:port] (reference ValidUrl.java:128-135). */
  def urlWithoutPath(url: String): String =
    try {
      val u = new URL(url)
      val port = if (u.getPort == -1) "" else ":" + u.getPort
      s"${u.getProtocol}://${u.getHost.toLowerCase(java.util.Locale.ROOT)}$port"
    } catch { case _: Exception => url }

  def robotsUrl(url: String): String = urlWithoutPath(url) + "/robots.txt"

  /** The url's path for robots evaluation, "/" when absent (RFC 9309
    * matches rules against the path; an empty path is the root). Throws
    * on a malformed url — callers on executor paths guard with Try.
    */
  def robotsPath(url: String): String = {
    val u = new URL(url)
    Option(u.getPath).filter(_.nonEmpty).getOrElse("/")
  }

  /** Charset declared by a Content-Type header, validated against the
    * platform, falling back to UTF-8 (reference …/flinkcrawler/parser/
    * BasePageParser.java:62-63: CharsetUtils.clean of
    * HttpUtils.getCharsetFromContentType). Used to encode mock fetcher
    * text at the fetch boundary and to decode fetched bytes at parse —
    * the same resolution on both sides makes the byte path lossless.
    */
  def charsetFromContentType(contentType: String): java.nio.charset.Charset =
    "(?i)charset=\"?([^;\"\\s]+)"
      .r.findFirstMatchIn(Option(contentType).getOrElse(""))
      .map(_.group(1).trim)
      .flatMap { name =>
        try Some(java.nio.charset.Charset.forName(name))
        catch { case _: Exception => None }
      }
      .getOrElse(java.nio.charset.StandardCharsets.UTF_8)

  /** First value of a response header, case-insensitive on the name
    * (HTTP header names are case-insensitive; the reference's headers
    * multimap is consulted the same way, BasePageParser.java:62-91).
    */
  def headerFirst(
      headers: Map[String, Seq[String]], name: String): Option[String] =
    headers.collectFirst {
      case (k, vs) if k.equalsIgnoreCase(name) && vs.nonEmpty => vs.head
    }

  /** Parse-stage charset resolution: a charset declared by the
    * Content-Type response HEADER wins over one in the contentType field;
    * either falls back to UTF-8 (reference order: headers first, then
    * content sniffing — BasePageParser.java:62-91).
    */
  def charsetFromHeaders(
      headers: Map[String, Seq[String]],
      contentType: String): java.nio.charset.Charset =
    headerFirst(headers, "Content-Type")
      .filter(ct => "(?i)charset=".r.findFirstIn(ct).isDefined)
      .map(charsetFromContentType)
      .getOrElse(charsetFromContentType(contentType))

  /** Encode already-decoded text for the byte-faithful fetch path: the
    * DECLARED charset when it represents the text exactly (strict REPORT
    * encoding, not the JVM default '?'-substitution), else UTF-8 with the
    * contentType's charset rewritten to match — so the parse stage's
    * decode (same [[charsetFromContentType]] resolution) is always the
    * identity and mislabeled text is never silently corrupted.
    * Returns (bytes, possibly-rewritten contentType).
    */
  def encodeForFetch(
      text: String, contentType: String): (Array[Byte], String) = {
    def utf8Fallback: (Array[Byte], String) = {
      val ct = Option(contentType).getOrElse("text/plain")
      val rewritten =
        if ("(?i)charset=".r.findFirstIn(ct).isDefined)
          ct.replaceAll("(?i)charset=\"?[^;\"\\s]+\"?", "charset=UTF-8")
        else ct + "; charset=UTF-8"
      (text.getBytes(java.nio.charset.StandardCharsets.UTF_8), rewritten)
    }
    val cs = charsetFromContentType(contentType)
    // decode-only charsets (e.g. ISO-2022-CN) pass Charset.forName but
    // throw UnsupportedOperationException from newEncoder() — canEncode
    // screens them, NonFatal catches encoder failures beyond the strict
    // CharacterCodingException (either way the page re-labels as UTF-8)
    if (!cs.canEncode) utf8Fallback
    else
      try {
        val bb = cs.newEncoder().encode(java.nio.CharBuffer.wrap(text))
        val arr = new Array[Byte](bb.remaining())
        bb.get(arr)
        (arr, contentType)
      } catch {
        case scala.util.control.NonFatal(_) => utf8Fallback
      }
  }

  /** SURT-style archive index key (reference …/flinkcrawler/fetcher/
    * commoncrawl/CommonCrawlUrls.java:18-96 convertToIndexFormat):
    * lowercase host with a leading `www*` label dropped, labels reversed
    * and comma-joined, non-default port kept, then `)` and the lowercased
    * path (one trailing slash stripped, root stays `/`), the query with
    * params lowercased / sorted / deduped, and the fragment — groups all
    * of a registrable domain's URLs contiguously in a sorted archive
    * index and canonicalizes param order like the CDX index does.
    */
  def surtKey(url: String): String = {
    val u = parseUrl(url)
    if (u == null || u.host == null) return url
    val labels = normalizeHostname(u.host).split("\\.")
    // only the FIRST label is www-skipped, by prefix — the reference's
    // startsWith("www") rule (CommonCrawlUrls.java:26): www2/www3
    // variants fold onto the apex, accepting that a pathological
    // wwwfoo.com folds too (faithful to the CDX convention)
    val kept =
      if (labels.length > 1 && labels.head.startsWith("www")) labels.tail
      else labels
    val sb = new java.lang.StringBuilder(url.length + 2)
    var k = kept.length - 1
    while (k >= 0) {
      sb.append(kept(k))
      if (k > 0) sb.append(',')
      k -= 1
    }
    // explicit DEFAULT ports fold away (domain.com:80 == domain.com)
    if (u.port != -1 && u.port != u.defaultPort) sb.append(':').append(u.port)
    sb.append(')')
    val rawPath = if (u.path == null) "" else u.path
    if (rawPath.isEmpty || rawPath == "/") sb.append('/')
    else sb.append(dropTrailingSlash(rawPath.toLowerCase(java.util.Locale.ROOT)))
    if (u.query != null) {
      // reference: lowercase, sort by full param text, dedupe identical
      sb.append('?').append(u.query.toLowerCase(java.util.Locale.ROOT)
        .split("&").distinct.sorted.mkString("&"))
    }
    if (u.ref != null) sb.append('#').append(u.ref)
    sb.toString
  }

  /** One `/` dropped where the regex `/$` finds it: at the very end, or
    * before a final line terminator (`\r\n` counts as one).
    */
  private def dropTrailingSlash(s: String): String = {
    val n = s.length
    val at =
      if (n >= 1 && s.charAt(n - 1) == '/') n - 1
      else if (n >= 3 && s.charAt(n - 1) == '\n' && s.charAt(n - 2) == '\r') n - 3
      else if (n >= 2 && isLineTerminator(s.charAt(n - 1))) n - 2
      else -1
    if (at >= 0 && s.charAt(at) == '/') s.substring(0, at) + s.substring(at + 1) else s
  }

  // --------------------------------------------------------------------- hash

  /** Stable 64-bit FNV-1a hash of a string's UTF-8 bytes. The engine only
    * needs internal consistency for frontier keys (reference uses JOAAT,
    * utils/HashUtils.java:7-10 — any well-mixed 64-bit hash is equivalent).
    */
  def urlHash64(s: String): Long = fnv1a64(s.getBytes(StandardCharsets.UTF_8))

  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}
