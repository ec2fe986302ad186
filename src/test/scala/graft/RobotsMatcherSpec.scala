package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.RobotsRules

/** The hand-written robots pattern matcher against the regex form it
  * replaced (each `*`-separated part quoted, joined by `.*`, a trailing
  * `$` kept as the anchor, matched with `lookingAt`), over wildcard,
  * anchor and regex-metacharacter patterns and paths with line
  * terminators. The regex form lives only in this spec.
  */
class RobotsMatcherSpec extends AnyFunSuite {

  private def regexMatches(pat: String, path: String): Boolean = {
    val anchored = pat.endsWith("$")
    val core = if (anchored) pat.dropRight(1) else pat
    val rx = core.split("\\*", -1)
      .map(java.util.regex.Pattern.quote)
      .mkString(".*")
    java.util.regex.Pattern.compile(rx + (if (anchored) "$" else ""))
      .matcher(path).lookingAt()
  }

  private val atoms = Seq("/", "a", "b", "ab", ".", "*", "**", "$", "?", "+",
    "(", ")", "[", "]", "{", "^", "|", "\\", "\\E", "\\Q", "%2F", "é",
    "\n", "\r", "\r\n", "\u0085", " ", " ")

  private def gen(max: Int): Gen[String] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.oneOf(atoms)).map(_.mkString))

  test("matches agrees with the regex form on generated patterns and paths") {
    val params = Gen.Parameters.default
    (0 until 20000).foreach { i =>
      val pat = gen(5).pureApply(params, Seed(i.toLong))
      val path = gen(6).pureApply(params, Seed(100000L + i))
      assert(RobotsRules.matches(pat, path) == regexMatches(pat, path),
        s"pattern=${pat.map(_.toInt)} path=${path.map(_.toInt)}")
    }
  }

  test("longest match wins, ties go to Allow, across wildcard and anchor rules") {
    val rules = RobotsRules.parse(
      "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
        "Disallow: /cache*.html$\nDisallow: /*.gif$\nAllow: /*.gif$\n")
    assert(!rules.isAllowed("/private/x"))
    assert(rules.isAllowed("/private/ok/page"))
    assert(!rules.isAllowed("/cache123.html"))
    assert(rules.isAllowed("/cache123.htmlx"))
    assert(rules.isAllowed("/a/b.gif"))
    assert(rules.isAllowed("/public/p1"))
  }
}
