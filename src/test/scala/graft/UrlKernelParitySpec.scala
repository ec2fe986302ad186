package graft

import java.net.URL
import java.nio.charset.StandardCharsets

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UrlFunctions

/** Value parity of the one-scan URL kernels (`UrlFunctions.normalizeUrl`,
  * `extractPld`, `surtKey`, which the SQL functions also call) with the
  * regex and `java.net.URL` forms they replaced, over generated messy
  * URLs: case, trailing dots, ports, userinfo, IPv6, dot segments, good,
  * bad and double `%` escapes, session params, tabs and newlines,
  * non-ASCII, non-http schemes and unparseable input. The reference
  * forms live only in this spec.
  */
class UrlKernelParitySpec extends AnyFunSuite {

  private object Reference {
    private val Ipv4Pattern = "^\\d{1,3}(\\.\\d{1,3}){3}$".r

    /** Query keys stripped when they carry a value (reference
      * SimpleUrlNormalizer.java:63-76: SESSION_ID_PATTERN +
      * OTHER_IGNORED_QUERY_PARAMETERS_PATTERN — both applied by the default
      * normalizer; key-only occurrences are kept, as there).
      */
    private val StrippedQueryParamPattern =
      ("(?i)^(sid|phpsessid|sessionid|session_id|bv_sessionid|jsessionid|" +
        "-session|session|session_key|aspsessionid[a-z]*|cfid|cftoken|zenid|" +
        "width|format|country|height|src|user|username|uname|return_url|" +
        "returnurl|sort|sort_by|sortby|sort_direction|sort_key|order_by|" +
        "orderby|sortorder|collate)$").r

    /** `/segment/../` resolution exactly as the reference does it
      * (SimpleUrlNormalizer.java:55-56 RELATIVE_PATH_PATTERN, applied in a
      * loop): the parent segment must contain a non-dot character, and the
      * `..` must be followed by `/` — a bare trailing `/aa/..` is kept.
      */
    private val RelativePathPattern =
      "(/[^/]*[^/.][^/]*/\\.\\./|^(/\\.\\./)+)".r

    /** Default-page removal at path end (reference DEFAULT_PAGE_PATTERN,
      * SimpleUrlNormalizer.java:59-60; `?`/`&`/`#` cannot occur in a parsed
      * path, so end-of-path is the reachable case).
      */
    private val DefaultPagePattern =
      ("(?i)/(?:index|default)\\." +
        "(?:js[pf][afx]?|cgi|cfm|aspx?|[psx]?htm[l]?|php[3456]?)$").r

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
    def percentDecode(s: String): String = {
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

    private def percentEncode(s: String, inQuery: Boolean): String = {
      val out = new java.lang.StringBuilder(s.length)
      s.foreach { c =>
        if (c == ' ') out.append('+') // reference encodes spaces as '+'
        else if (isSafeChar(c, inQuery) || c == '%') out.append(c)
        else {
          c.toString.getBytes(StandardCharsets.UTF_8).foreach { b =>
            // lowercase hex, matching the reference's encoder output
            out.append('%').append(f"${b & 0xff}%02x")
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
      * keeps them literal).
      */
    private def normalizeEscaping(s: String, inQuery: Boolean): String = {
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

    /** Resolve `/seg/../` runs with the reference's iterative pattern —
      * a trailing `/..` without a slash is deliberately kept (their golden
      * case), and leading `/../` runs collapse. `.` and empty segments are
      * dropped first (a trailing `/.` keeps its slash), so no `..`
      * resolves against one on a second normalize pass.
      */
    def normalizePathSegments(path0: String): String = {
      val trailing = path0.endsWith("/") || path0.endsWith("/.")
      val segs = path0.split("/").filter(s => s.nonEmpty && s != ".")
      var path = segs.mkString("/", "/", if (trailing && segs.nonEmpty) "/" else "")
      var m = RelativePathPattern.findFirstMatchIn(path)
      while (m.isDefined) {
        path = path.substring(0, m.get.start) + "/" + path.substring(m.get.end)
        m = RelativePathPattern.findFirstMatchIn(path)
      }
      path
    }

    private def normalizeHostname(host: String): String = {
      var h = host.toLowerCase(java.util.Locale.ROOT)
      while (h.endsWith(".")) h = h.substring(0, h.length - 1)
      h
    }

    private def stripSessionParams(query: String): String =
      query
        .split("&", -1)
        .filter(_.nonEmpty) // reference drops empty parts: q=1&&z=2 -> q=1&z=2
        .filter { kv =>
          kv.indexOf('=') match {
            case -1 => true // key-only params are kept (reference patterns need '=')
            case i => // keys arrive escape-normalized (see normalizeUrl)
              StrippedQueryParamPattern.findFirstIn(kv.substring(0, i)).isEmpty
          }
        }
        .mkString("&")

    /** Canonicalize a URL (default protocol, lowercase host, default-port and
      * default-page removal, dot-segment resolution, session-param stripping,
      * percent-escaping normalization, fragment removal). Never throws; input
      * that cannot be parsed is returned trimmed.
      */
    def normalizeUrl(rawUrl: String): String = {
      if (rawUrl == null) return null
      var url = rawUrl.trim.replaceAll("[\\t\\r\\n]", "")
      if (url.isEmpty) return url
      // default protocol
      if (!url.matches("(?i)^[a-z][a-z0-9+.-]*:.*") || url.matches("(?i)^[a-z0-9.-]+:\\d+.*"))
        url = "http://" + url
      val parsed =
        try new URL(url)
        catch { case _: Exception => return url }

      val protocol = parsed.getProtocol.toLowerCase(java.util.Locale.ROOT)
      val host = normalizeHostname(Option(parsed.getHost).getOrElse(""))
      val defaultPort = if (protocol == "https") 443 else 80
      val port = parsed.getPort match {
        case -1 => -1
        case p if p == defaultPort => -1
        case p => p
      }

      // path: strip ;jsessionid matrix param, then escape-normalize each
      // segment FIRST — dot-segment resolution, default-page removal and
      // the `.`/empty filters must see final forms, or %2e-encoded dot
      // segments would survive one pass and resolve on the next
      // (idempotence). Per-segment encoding cannot create new boundaries
      // (an encoded %2f re-encodes inside its segment).
      var path = Option(parsed.getPath).getOrElse("")
      path = path.replaceAll("(?i);jsessionid=[^?#;/]*", "")
      if (path.isEmpty) path = "/"
      path = path.split("/", -1)
        .map(normalizeEscaping(_, inQuery = false)).mkString("/")
      path = normalizePathSegments(path)
      path = DefaultPagePattern.replaceFirstIn(path, "/")
      // '/a/.' is the same location as '/a/' (RFC 3986 dot-segment), so a
      // trailing '/.' preserves the trailing slash after the '.' drops out
      val trailingSlash = path.endsWith("/") || path.endsWith("/.")
      val segs = path.split("/").filter(s => s.nonEmpty && s != ".")
      path =
        if (segs.isEmpty) "/"
        else segs.mkString("/", "/", if (trailingSlash) "/" else "")

      // query: same ordering principle — escape-normalize first so the
      // session-param strip and the emitted form share one representation
      // (an encoded %3D/%26 becomes structural on re-parse otherwise)
      var query = Option(parsed.getQuery).getOrElse("")
      if (query.nonEmpty) {
        query = normalizeEscaping(query, inQuery = true)
        query = stripSessionParams(query)
      }

      val sb = new java.lang.StringBuilder(url.length)
      sb.append(protocol).append("://").append(host)
      if (port != -1) sb.append(':').append(port)
      sb.append(path)
      if (query.nonEmpty) sb.append('?').append(query)
      sb.toString
    }

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

    /** Paid-level domain: the registrable domain one label below the public
      * suffix ("www.foo.co.uk" -> "foo.co.uk"; "a.b.example.com" ->
      * "example.com"). IP literals and single-label hosts return unchanged.
      */
    def extractPldFromHost(hostRaw: String): String = {
      if (hostRaw == null || hostRaw.isEmpty) return hostRaw
      val host = normalizeHostname(hostRaw)
      if (Ipv4Pattern.matches(host)) return host
      val labels = host.split("\\.")
      if (labels.length <= 2) return host
      val lastTwo = labels.takeRight(2).mkString(".")
      if (MultiLabelSuffixes.contains(lastTwo) && labels.length >= 3)
        labels.takeRight(3).mkString(".")
      else lastTwo
    }

    /** PLD of a full URL; empty string when the URL has no parseable host. */
    def extractPld(url: String): String =
      try extractPldFromHost(new URL(url).getHost)
      catch { case _: Exception => "" }

    def surtKey(url: String): String =
      try {
        val u = new URL(url)
        val labels = normalizeHostname(u.getHost).split("\\.")
        // only the FIRST label is www-skipped, by prefix — the reference's
        // startsWith("www") rule (CommonCrawlUrls.java:26): www2/www3
        // variants fold onto the apex, accepting that a pathological
        // wwwfoo.com folds too (faithful to the CDX convention)
        val kept =
          if (labels.length > 1 && labels.head.startsWith("www")) labels.tail
          else labels
        val reversed = kept.reverse.mkString(",")
        // explicit DEFAULT ports fold away (domain.com:80 == domain.com)
        val port =
          if (u.getPort == -1 || u.getPort == u.getDefaultPort) ""
          else ":" + u.getPort
        val rawPath = Option(u.getPath).getOrElse("")
        val path =
          if (rawPath.isEmpty || rawPath == "/") "/"
          else rawPath.toLowerCase(java.util.Locale.ROOT)
            .replaceAll("/$", "")
        val query = Option(u.getQuery).map { q =>
          // reference: lowercase, sort by full param text, dedupe identical
          "?" + q.toLowerCase(java.util.Locale.ROOT)
            .split("&").distinct.sorted.mkString("&")
        }.getOrElse("")
        val frag = Option(u.getRef).map("#" + _).getOrElse("")
        s"$reversed$port)$path$query$frag"
      } catch { case _: Exception => url }
  }

  private val pieces = Seq(
    "http://", "https://", "HTTP://", "HtTpS://", "ftp://", "file:", "mailto:",
    "jar:", "url:", "javascript:", "data:text", "www.", "WWW.", "Example.COM",
    "a.b.co.uk", "foo", "host.", "host..", "..host", "ex-ample.com",
    "localhost:8080", "192.168.0.1", "1.2.3.4:80/x", "[::1]",
    "[2001:db8::1]:8080", "user:pw@", "@", "@@", ":", ":80", ":443", ":8080",
    ":+80", ":-1", ":0080", ":99999999999", "HTTP:80", "/", "//", "///",
    "/a", "/b/", "/..", "/../", "/./", "/.", "/...", "..", ".",
    "/index.html", "/INDEX.PHP3", "/default.aspx", "/x/index.htm",
    ";jsessionid=ABC", ";JSESSIONID=z;x=1", ";j\u017Fessionid=q", "?", "?q=1",
    "&", "&&", "sid=1", "SID=2", "aspsessionidXYZ=3", "sort", "=", "x=%3D",
    "%26sid=1", "#", "#frag", "#a/b?c", "%", "%2", "%20", "%2e", "%2E%2E",
    "%2f", "%2F", "%25", "%2573", "%252573id", "%41", "%7E", "~", "%C3%A9",
    "%C3", "%E2%82", "%F0%9F%98%80", "\u00e9", "\u00fc", "\u65e5\u672c",
    "\ud83d\ude00", " ", "\t", "\n", "\r", "\r\n", "\u0085", "\u2028",
    "\u00a0", "\u0001", "\u007f", "\\", "|", "^", "+", "-", "_", "'", "\"",
    "<", ">", "{", "}", "[", "]", "a", "Z", "9", "0", "\u017F", "\u0131",
    "\u212A", "\u0130")

  private val messyUrl: Gen[String] = for {
    scheme <- Gen.frequency(
      3 -> Gen.oneOf("http://", "https://", "HTTP://WWW.", "https://sub."),
      1 -> Gen.const(""))
    n <- Gen.choose(1, 8)
    parts <- Gen.listOfN(n, Gen.oneOf(pieces))
  } yield scheme + parts.mkString

  private val samples: Seq[String] = Seq(
    "HTTP://WWW.Example.COM:80/a/../orders/7/index.html",
    "www.example.com/orders/1;jsessionid=ABC123?q=1&sid=zz",
    "https://shop.example.co.uk/%7Eorders/2#section",
    "  \thttp://user:pw@Example.com.:8080/a/./b/../c?%73id=1&keep=&&z=2\n",
    "http://[::1]:8080/x", "http://[fe80::1%25eth0]/x", "http://[zz]/",
    "http://a@b@c/x", "http://host:+80/", "http://host:/x", "http:///x",
    "http:////unc/x", "http:foo/bar", "url:http://x.com", "mailto:a@b.com",
    "ftp://f.example.org:21/p", "file:///srv/x", "jar:file:/x!/y",
    "example.com:8080/p", "localhost", "\u00e9xample.com/\u00e9",
    "http://h.com/%F0%9F%98%80/%ZZ/%2/%", "http://h.com/a%2Fb/%2e%2e/c",
    "http://h.com/%25252525252573", "http://h.com/p\u2028q",
    "http://h.com/\ud800x", "", "   ", null)

  private def generated(n: Int): Seq[String] =
    samples ++ (0 until n).map(i =>
      messyUrl.pureApply(org.scalacheck.Gen.Parameters.default, Seed(7L + i)))

  private def same[A](f: String => A, g: String => A)(u: String): Unit = {
    def run(h: String => A) = try Right(h(u)) catch { case e: Exception => Left(e.getClass) }
    assert(run(f) == run(g), s"url=${Option(u).map(_.flatMap(c =>
      if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString))}")
  }

  test("normalizeUrl matches the regex/java.net.URL normalizer") {
    generated(20000).foreach(same(Reference.normalizeUrl, UrlFunctions.normalizeUrl))
  }

  test("extractPld and surtKey match their java.net.URL forms") {
    generated(20000).filter(_ != null).foreach { u =>
      same(Reference.extractPld, UrlFunctions.extractPld)(u)
      same(Reference.surtKey, UrlFunctions.surtKey)(u)
    }
  }

  test("url_shape matches the regex and lambda feature columns") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val spark = SparkTestSession.spark
    import spark.implicits._
    def host(u: Column) = regexp_extract(u, "(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    def path(u: Column) = regexp_extract(u, "(?i)^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    def query(u: Column) = regexp_extract(u, "\\?([^#]*)", 1)
    val u = col("url")
    val want = Seq(
      length(u).cast("long"),
      size(split(host(u), "\\.")).cast("long"),
      size(filter(split(path(u), "/"), x => x =!= "")).cast("long"),
      when(query(u) === "", 0L).otherwise(size(split(query(u), "&")).cast("long")),
      floor((lit(100L) * length(regexp_replace(u, "[^0-9]", ""))) /
        greatest(length(u), lit(1))).cast("long"))
    val shape = graft.plans.UrlExpressions.url_shape(u)
    val got = graft.plans.UrlShapeExpr.Fields.map(shape.getField)
    val urls = generated(3000).toDF("url")
    val rows = urls.select(u +: (want ++ got): _*).collect()
    rows.foreach { r =>
      (1 to 5).foreach { i =>
        assert(r.get(i) == r.get(i + 5), s"url=${r.getString(0)} feature $i")
      }
    }
  }
}
