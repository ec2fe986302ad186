package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.UrlFunctions._

/** Golden normalization/validation cases modeled on the behavior the
  * reference pins down in its SimpleUrlNormalizerTest / SimpleUrlValidatorTest
  * suites (semantics, not code).
  */
class UrlFunctionsSpec extends AnyFunSuite {

  test("default protocol is added") {
    assert(normalizeUrl("www.example.com") == "http://www.example.com/")
    assert(normalizeUrl("example.com/path") == "http://example.com/path")
  }

  test("host is lowercased and trailing dots stripped") {
    assert(normalizeUrl("http://WWW.Example.COM/Path") == "http://www.example.com/Path")
    assert(normalizeUrl("http://example.com./a") == "http://example.com/a")
  }

  test("default port is dropped, explicit port kept") {
    assert(normalizeUrl("http://example.com:80/a") == "http://example.com/a")
    assert(normalizeUrl("https://example.com:443/a") == "https://example.com/a")
    assert(normalizeUrl("http://example.com:8080/a") == "http://example.com:8080/a")
  }

  test("fragment is removed") {
    assert(normalizeUrl("http://example.com/a#frag") == "http://example.com/a")
  }

  test("session ids are stripped from path and query") {
    assert(normalizeUrl("http://example.com/a;jsessionid=1E6FEC0D14D044541DD84D2D013D29ED") ==
      "http://example.com/a")
    assert(normalizeUrl("http://example.com/a?jsessionid=abc&x=1") ==
      "http://example.com/a?x=1")
    assert(normalizeUrl("http://example.com/a?PHPSESSID=abc") ==
      "http://example.com/a")
  }

  test("relative path segments are resolved") {
    assert(normalizeUrl("http://example.com/a/b/../c") == "http://example.com/a/c")
    assert(normalizeUrl("http://example.com/a/./b") == "http://example.com/a/b")
    // reference quirk parity: a bare trailing /.. (no slash) is kept
    // (SimpleUrlNormalizerTest "don't remove relative paths from the end")
    assert(normalizeUrl("http://example.com/a/b/..") == "http://example.com/a/b/..")
  }

  test("a `.`, `%2e` or empty segment before `..` resolves in one pass") {
    Seq("http://h.com/a/./../b", "http://h.com/a/%2e/../b",
      "http://h.com/a/%2E/%2e%2e/b", "http://h.com/a//../b").foreach { u =>
      assert(normalizeUrl(u) == "http://h.com/b", u)
      assert(normalizeUrl(normalizeUrl(u)) == "http://h.com/b", u)
    }
  }

  test(";jsessionid= is stripped within its own path segment") {
    assert(normalizeUrl("http://h.com/x/a;jsessionid=1/c/d?q=1") ==
      "http://h.com/x/a/c/d?q=1")
    assert(normalizeUrl("http://h.com/x/a;jsessionid=1/../b") == "http://h.com/x/b")
  }

  test("default pages are dropped") {
    assert(normalizeUrl("http://example.com/index.html") == "http://example.com/")
    assert(normalizeUrl("http://example.com/a/index.php") == "http://example.com/a/")
    assert(normalizeUrl("http://example.com/indexhtml") == "http://example.com/indexhtml")
  }

  test("percent escaping is normalized") {
    // unreserved chars decoded
    assert(normalizeUrl("http://example.com/%7Euser") == "http://example.com/~user")
    // spaces become '+', like the reference's encoder
    assert(normalizeUrl("http://example.com/a b") == "http://example.com/a+b")
    // kept escapes are lowercase hex
    assert(normalizeUrl("http://example.com/a%3Fb.html") == "http://example.com/a%3fb.html")
    // broken escape repaired (kept literal, re-encoded)
    assert(normalizeUrl("http://example.com/a%zzb") == "http://example.com/a%zzb")
  }

  test("whitespace and control chars trimmed/scrubbed") {
    assert(normalizeUrl("  http://example.com/a\t ") == "http://example.com/a")
  }

  test("validation accepts http(s) with dotted host, rejects others") {
    assert(isValidUrl("http://example.com/a"))
    assert(isValidUrl("https://sub.example.co.uk/"))
    assert(isValidUrl("http://192.168.0.1/x"))
    assert(!isValidUrl("ftp://example.com/"))
    assert(!isValidUrl("http://localhost/"))   // no dot
    assert(!isValidUrl("mailto:a@b.com"))
    assert(!isValidUrl(""))
    assert(!isValidUrl("http://"))
  }

  test("validator matches the reference golden table (SimpleUrlValidatorTest)") {
    import graft.functions.UrlFunctions.isValidUrl
    assert(isValidUrl("http://foo.com"))
    assert(isValidUrl("http://www.foo.com"))
    assert(isValidUrl("http://www.foo.com/"))
    assert(isValidUrl("http://aws.foo.com/"))
    assert(isValidUrl("https://aws.foo.com/"))
    assert(!isValidUrl("foo.com"))
    assert(!isValidUrl("www.foo.com"))
    assert(!isValidUrl("mailto://ken@foo.com"))
    assert(!isValidUrl("mailto:?Subject=http://info.foo.com/copyright/us/details.html"))
    assert(!isValidUrl("smtp://aws.foo.com/"))
    assert(!isValidUrl("ftp://aws.foo.com/"))
    assert(!isValidUrl("javascript:foobar()"))
    assert(!isValidUrl("feed://getbetterhealth.com/feed"))
    assert(!isValidUrl("ttp://www.thehealthcareblog.com/the_health_care_blog/2009/07/x.html"))
    // suffix blacklist
    assert(isValidUrl("http://foo.com/page1", Seq("pdf", "xml")))
    assert(isValidUrl("http://foo.com/page1.html", Seq("pdf", "xml")))
    assert(!isValidUrl("http://foo.com/page1.pdf", Seq("pdf", "xml")))
    assert(!isValidUrl("http://foo.com/page1.xml", Seq("pdf", "xml")))
    // URL must also parse as a URI (unencoded reserved chars rejected)
    assert(!isValidUrl("http://mail-archives.us.apache.org/mod_mbox/www-announce/201705.mbox/<CACRbFy@mail.gmail.com>"))
    assert(isValidUrl("http://mail-archives.us.apache.org/mod_mbox/www-announce/201705.mbox/%3CCACRbFy@mail.gmail.com%3E"))
  }

  test("domain restriction walks subdomains") {
    assert(isUrlWithinDomain("http://a.example.com/x", "example.com"))
    assert(isUrlWithinDomain("http://example.com/x", "example.com"))
    assert(!isUrlWithinDomain("http://badexample.com/x", "example.com"))
  }

  test("pld extraction honors multi-label public suffixes") {
    assert(extractPld("http://www.example.com/a") == "example.com")
    assert(extractPld("http://a.b.example.com/") == "example.com")
    assert(extractPld("http://www.foo.co.uk/") == "foo.co.uk")
    assert(extractPld("http://example.com/") == "example.com")
    assert(extractPld("http://192.168.0.1/") == "192.168.0.1")
    assert(extractPld("not a url") == "")
  }

  test("urlWithoutPath keeps protocol, host, explicit port") {
    assert(urlWithoutPath("http://example.com/a/b?c=1") == "http://example.com")
    assert(urlWithoutPath("https://example.com:8443/a") == "https://example.com:8443")
    assert(robotsUrl("http://example.com/deep/page") == "http://example.com/robots.txt")
  }

  test("urlHash64 is stable and well-spread") {
    assert(urlHash64("http://example.com/") == urlHash64("http://example.com/"))
    assert(urlHash64("http://example.com/a") != urlHash64("http://example.com/b"))
  }

  test("normalization is idempotent") {
    val cases = Seq(
      "www.example.com", "http://WWW.Example.COM:80/a/../b;jsessionid=x?sid=1&q=2#f",
      "http://example.com/%7Euser/index.html", "http://example.com/a b/c")
    cases.foreach { c =>
      val once = normalizeUrl(c)
      assert(normalizeUrl(once) == once, s"not idempotent for $c -> $once")
    }
  }
}
class SurtKeySpec extends AnyFunSuite {
  test("surt key matches the reference golden table (CommonCrawlUrlsTest)") {
    import graft.functions.UrlFunctions.surtKey
    assert(surtKey("http://domain.com") == "com,domain)/")
    assert(surtKey("http://www.domain.com") == "com,domain)/")
    assert(surtKey("https://www.domain.com") == "com,domain)/")
    assert(surtKey("http://sub.domain.com") == "com,domain,sub)/")
    assert(surtKey("http://domain.com:8080") == "com,domain:8080)/")
    assert(surtKey("http://domain.com/path/to/file") == "com,domain)/path/to/file")
    assert(surtKey("http://domain.com?q=x") == "com,domain)/?q=x")
    assert(surtKey("http://domain.com/?q=x") == "com,domain)/?q=x")
    assert(surtKey("http://domain.com/path/to/file?q=x") ==
      "com,domain)/path/to/file?q=x")
    // query params lowercased and sorted by full param text
    assert(surtKey("http://domain.com/path?position=123&mode=M") ==
      "com,domain)/path?mode=m&position=123")
    // trailing path slash stripped; encoded chars lowercased with the path
    assert(surtKey("http://domain.com/path/") == "com,domain)/path")
    assert(surtKey("http://domain.com/%D8%BA%8E%Dx%E") ==
      "com,domain)/%d8%ba%8e%dx%e")
  }

  test("surt key reverses host labels and drops leading www") {
    assert(normalizeUrl("http://www.example.com/a?b=1") == "http://www.example.com/a?b=1")
    assert(graft.functions.UrlFunctions.surtKey("http://www.example.com/a?b=1") ==
      "com,example)/a?b=1")
    assert(graft.functions.UrlFunctions.surtKey("https://sub.foo.co.uk/x") ==
      "uk,co,foo,sub)/x")
    assert(graft.functions.UrlFunctions.surtKey("http://example.com") ==
      "com,example)/")
    assert(graft.functions.UrlFunctions.surtKey("garbage") == "garbage")
  }

  test("url quality gate drops trap-shaped urls, keeps ordinary ones") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val urls = Seq(
      "http://example.com/articles/2024/intro", // ordinary: keep
      "http://example.com/a/b/c/d/e/f/g/h/i/j", // depth 10 > 8: drop
      "http://shop.example.com/p?a=1&b=2&c=3&d=4&e=5", // 5 params: drop
      "http://t.co/1234567890123456789012345678901234567890", // digits: drop
      "http://example.com/" // root: keep
    ).toDF("url")
    val kept = graft.operators.UrlQuality.gate(urls, "url")
      .collect().map(_.getString(0)).toSet
    assert(kept == Set(
      "http://example.com/articles/2024/intro", "http://example.com/"),
      kept.toString)
    // features frame agrees with the gate's arithmetic
    val f = graft.operators.UrlQuality.features(urls, "url")
      .collect().map(r => r.getString(0) -> r).toMap
    val deep = f("http://example.com/a/b/c/d/e/f/g/h/i/j")
    assert(deep.getAs[Long]("path_depth") == 10)
    val params = f("http://shop.example.com/p?a=1&b=2&c=3&d=4&e=5")
    assert(params.getAs[Long]("n_params") == 5)
    assert(params.getAs[Long]("n_host_labels") == 3)
  }

  test("url quality gate is scheme-case-insensitive (uppercase cannot bypass it)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // with a case-sensitive scheme match, HTTP:// extracted an empty
    // host/path and every shape check passed vacuously
    val urls = Seq(
      "HTTP://EXAMPLE.COM/a/b/c/d/e/f/g/h/i/j", // deep: must still drop
      "Https://example.com/ok"                  // shallow: keep
    ).toDF("url")
    val kept = graft.operators.UrlQuality.gate(urls, "url")
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("Https://example.com/ok"), kept.toString)
    val deep = graft.operators.UrlQuality.features(urls, "url")
      .collect().map(r => r.getString(0) -> r).toMap
      .apply("HTTP://EXAMPLE.COM/a/b/c/d/e/f/g/h/i/j")
    assert(deep.getAs[Long]("path_depth") == 10, deep.toString)
  }
}
