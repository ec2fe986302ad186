package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.UrlFunctions
import graft.operators.UrlStateMerger
import graft.schema.{CrawlStateUrl, FetchStatus => FS}

/** Property tests (SURVEY §5's rebuild test plan: normalize/merge
  * idempotence and commutativity under ScalaCheck). These pin the
  * algebraic laws the engine's correctness rests on: the frontier merge
  * must be order-insensitive because Spark aggregation applies it in
  * arbitrary shuffle order, and the normalizer must be idempotent because
  * URLs re-enter the clean stage every time an outlink loops back.
  */
class PropertySpec extends AnyFunSuite {

  // scalacheck without the scalatest bridge (offline cache has no
  // scalatestplus): deterministic seeded sampling, 300 cases per law
  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 300).foreach { i =>
      f(g.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 300).foreach { i =>
      f(g1.pureApply(Gen.Parameters.default, Seed(42L + i)),
        g2.pureApply(Gen.Parameters.default, Seed(9000L + i)))
    }

  // ---------------------------------------------------------- url corpus

  private val hostGen = for {
    sub <- Gen.oneOf("", "www.", "a.b.", "WWW.")
    name <- Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8))
    tld <- Gen.oneOf("com", "org", "co.uk", "io")
  } yield s"$sub$name.$tld"

  private val urlGen = for {
    proto <- Gen.oneOf("http://", "https://", "HTTP://", "")
    host <- hostGen
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.oneOf("", "/", "/a/b", "/a/../c", "/x/./y", "/index.html",
      "/%7Euser", "/p%2zbad", "/a/b/%2e%2e/", "/a/%2e", "/x%2Fy",
      "/a/./../b", "/a/%2e/../b", "/a/%2E/%2e%2e/b", "/a//../b",
      "/x/a;jsessionid=1/../b")
    query <- Gen.oneOf("", "?q=1", "?jsessionid=ABC&x=2", "?utm_source=t&b=2",
      ";jsessionid=XYZ", "?%73id=x&keep=1", "?a=%20b&a=%20b",
      "?sid%3Dx", "?a%26sid=1", "?%2573id=x")
    frag <- Gen.oneOf("", "#sec")
  } yield s"$proto$host$port$path$query$frag"

  test("normalizeUrl is idempotent over generated URLs") {
    forAll(urlGen) { u =>
      val once = UrlFunctions.normalizeUrl(u)
      val twice = UrlFunctions.normalizeUrl(once)
      assert(twice == once, s"raw=$u once=$once twice=$twice")
    }
  }

  test("normalized URLs that validate keep validating") {
    forAll(urlGen) { u =>
      val n = UrlFunctions.normalizeUrl(u)
      if (UrlFunctions.isValidUrl(n))
        assert(UrlFunctions.isValidUrl(UrlFunctions.normalizeUrl(n)))
    }
  }

  test("surtKey is deterministic and total on valid normalized urls") {
    forAll(urlGen) { u =>
      val n = UrlFunctions.normalizeUrl(u)
      if (UrlFunctions.isValidUrl(n))
        assert(UrlFunctions.surtKey(n) == UrlFunctions.surtKey(n))
    }
  }

  // ------------------------------------------------------- merge algebra

  private val statusGen = Gen.oneOf(
    FS.UNFETCHED, FS.QUEUED, FS.FETCHING, FS.FETCHED,
    FS.HTTP_NOTFOUND, FS.HTTP_MOVED, FS.SKIPPED_BLOCKED, FS.ERROR_PARSE)

  private val stateGen = for {
    status <- statusGen
    t <- Gen.choose(0L, 1000L)
    score <- Gen.choose(0, 50).map(_.toFloat)
    next <- Gen.choose(0L, 1000L)
  } yield CrawlStateUrl("http://d.com/p", "d.com", status, t, score, next)

  test("pairwise merge is commutative") {
    forAll(stateGen, stateGen) { (a, b) =>
      assert(UrlStateMerger.merge(a, b) == UrlStateMerger.merge(b, a))
    }
  }

  test("pairwise merge is idempotent (a merged with itself is a, modulo score-sum)") {
    forAll(stateGen) { a =>
      val m = UrlStateMerger.merge(a, a)
      if (a.status == FS.UNFETCHED)
        assert(m == a.copy(score = a.score + a.score)) // link mass sums
      else assert(m == a)
    }
  }

  test("merge never invents state: result fields come from an input") {
    forAll(stateGen, stateGen) { (a, b) =>
      val m = UrlStateMerger.merge(a, b)
      assert(m.status == a.status || m.status == b.status)
      assert(m.statusTime == a.statusTime || m.statusTime == b.statusTime)
      assert(m.nextFetchTime == a.nextFetchTime || m.nextFetchTime == b.nextFetchTime)
    }
  }

  test("terminal outcomes always beat lifecycle states in a merge") {
    forAll(stateGen, stateGen) { (a, b) =>
      val m = UrlStateMerger.merge(a, b)
      if (FS.isFetchedIsh(a.status) != FS.isFetchedIsh(b.status))
        assert(FS.isFetchedIsh(m.status),
          s"lifecycle ${if (FS.isFetchedIsh(a.status)) b else a} overrode terminal")
    }
  }

  // ------------------------------------------------- text-op invariants

  test("rolling fingerprint is invariant under formatting noise") {
    val textGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.oneOf(" ", "\t", ",", "!", "-")))
      .map(_.mkString)
    val f = graft.operators.TextOps.rollingFingerprint _
    forAll(textGen) { t =>
      assert(f(t) == f(t.toUpperCase))
      assert(f(t) == f(t.replace(" ", "  ").replace(",", ";")))
    }
  }

  test("lsh band plan: always a divisor pair, monotone toward bands as threshold drops") {
    val nGen = Gen.oneOf(4, 8, 16, 32, 64, 128, 100, 30)
    val tGen = Gen.choose(0.05, 0.95)
    forAll(nGen, tGen) { (n, t) =>
      val (b, r) = graft.operators.TextOps.lshBandPlan(n, t)
      assert(b * r == n && b >= 1 && r >= 1)
      // a lower threshold can never want FEWER bands (recall-leaning)
      val (b2, _) = graft.operators.TextOps.lshBandPlan(n, math.max(0.05, t - 0.3))
      assert(b2 >= b, s"n=$n t=$t: bands $b -> $b2")
    }
  }

  test("robots rule resolution: allow-all empty, longest match wins over any order") {
    import graft.crawl.RobotsRules
    val pathGen = Gen.oneOf("/a", "/a/b", "/a/b/c", "/x", "/a/b.html")
    val ruleGen = Gen.listOfN(4, for {
      pat <- Gen.oneOf("/a", "/a/b", "/a/*", "/x", "/a/b/c", "/*.html$")
      allow <- Gen.oneOf(true, false)
    } yield (pat, allow))
    forAll(ruleGen, pathGen) { (rules, path) =>
      assert(RobotsRules(Nil, None, Nil).isAllowed(path))
      val rr = RobotsRules(rules, None, Nil)
      // rule ORDER never matters (RFC resolution is by specificity)
      assert(rr.isAllowed(path) ==
        RobotsRules(rules.reverse, None, Nil).isAllowed(path))
      // adding an unrelated rule never flips the decision
      val padded = RobotsRules(rules :+ ("/zzz" -> false), None, Nil)
      assert(padded.isAllowed(path) == rr.isAllowed(path))
    }
  }
}
