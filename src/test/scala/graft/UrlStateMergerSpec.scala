package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.UrlStateMerger
import graft.schema.{CrawlStateUrl, FetchStatus => FS}

class UrlStateMergerSpec extends AnyFunSuite {

  private def csu(status: String, time: Long, score: Float,
      next: Long = Long.MaxValue, url: String = "http://d.com/a"): CrawlStateUrl =
    CrawlStateUrl(url, "d.com", status, time, score, next)

  test("unfetched + unfetched sums scores, max time, min next") {
    val m = UrlStateMerger.merge(
      csu(FS.UNFETCHED, 100, 1.0f, next = 500),
      csu(FS.UNFETCHED, 200, 2.5f, next = 300))
    assert(m.status == FS.UNFETCHED)
    assert(m.score == 3.5f)
    assert(m.statusTime == 200)
    assert(m.nextFetchTime == 300)
  }

  test("fetched beats unfetched regardless of order") {
    val fetched = csu(FS.FETCHED, 100, 9f, next = 1000)
    val un = csu(FS.UNFETCHED, 999, 1f)
    assert(UrlStateMerger.merge(fetched, un) == fetched)
    assert(UrlStateMerger.merge(un, fetched) == fetched)
  }

  test("two terminal records: most recent statusTime wins") {
    val old = csu(FS.HTTP_NOTFOUND, 100, 1f)
    val recent = csu(FS.FETCHED, 200, 2f)
    assert(UrlStateMerger.merge(old, recent) == recent)
    assert(UrlStateMerger.merge(recent, old) == recent)
  }

  test("queued beats unfetched but keeps max time / min next") {
    val q = csu(FS.QUEUED, 100, 5f, next = 400)
    val u = csu(FS.UNFETCHED, 300, 1f, next = 200)
    val m = UrlStateMerger.merge(q, u)
    assert(m.status == FS.QUEUED)
    assert(m.score == 5f)     // no score sum unless both UNFETCHED
    assert(m.statusTime == 300)
    assert(m.nextFetchTime == 200)
  }

  test("merge is commutative on status outcome") {
    val records = Seq(
      csu(FS.UNFETCHED, 100, 1f), csu(FS.QUEUED, 150, 2f),
      csu(FS.FETCHED, 200, 3f), csu(FS.HTTP_NOTFOUND, 250, 4f),
      csu(FS.FETCHING, 120, 5f))
    for (a <- records; b <- records) {
      val ab = UrlStateMerger.merge(a, b)
      val ba = UrlStateMerger.merge(b, a)
      assert(ab == ba, s"not commutative: $a vs $b")
    }
  }

  test("MergeBuf fold order does not change the result") {
    // includes the order-sensitivity corner for naive pairwise folding:
    // equal-priority lifecycle records whose tie-break is statusTime
    val recordSets = Seq(
      Seq(
        csu(FS.UNFETCHED, 100, 1f, next = 900),
        csu(FS.UNFETCHED, 110, 2f, next = 800),
        csu(FS.QUEUED, 150, 7f, next = 700),
        csu(FS.FETCHED, 200, 3f, next = 600)),
      Seq(
        csu(FS.UNFETCHED, 900, 1f),
        csu(FS.QUEUED, 500, 2f),
        csu(FS.FETCHING, 825, 9f)))
    recordSets.foreach { records =>
      val results = records.permutations.map { perm =>
        UrlStateMerger.finish(perm.foldLeft(UrlStateMerger.zero)(UrlStateMerger.reduce))
      }.toSeq.distinct
      assert(results.size == 1, s"order-dependent results: $results")
    }
  }

  test("in-memory mergeAll matches columnar mergeFrontier on randomized sighting sequences") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val statuses = Seq(FS.UNFETCHED, FS.UNFETCHED, FS.UNFETCHED, FS.QUEUED,
      FS.FETCHING, FS.FETCHED, FS.HTTP_NOTFOUND, FS.SKIPPED_BLOCKED,
      FS.SKIPPED_DEFERRED)
    def key(r: CrawlStateUrl) =
      (r.url, r.pld, r.status, r.statusTime, r.score, r.nextFetchTime)
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // few urls, few distinct times: many ties on statusTime and status
      val rows = (1 to 50 * seed).map { _ =>
        val url = s"http://d${rnd.nextInt(4)}.com/p${rnd.nextInt(3 * seed)}"
        CrawlStateUrl(url, graft.functions.UrlFunctions.extractPld(url),
          statuses(rnd.nextInt(statuses.size)),
          rnd.nextInt(6).toLong * 100,
          rnd.nextInt(8) * 0.25f,
          rnd.nextInt(6).toLong * 1000)
      }
      val shuffled = rnd.shuffle(rows)
      val inMemory = UrlStateMerger.mergeAll(shuffled.iterator).map(key).toSet
      val columnar = UrlStateMerger.mergeFrontier(rows.toDF().repartition(3))
        .as[CrawlStateUrl].collect().map(key).toSet
      assert(inMemory == columnar, s"seed $seed: only in-memory " +
        s"${(inMemory -- columnar).take(3)}, only columnar ${(columnar -- inMemory).take(3)}")
      // streamed: one row per url (a bucket file) merged with raw sightings
      val (early, late) = shuffled.splitAt(shuffled.size / 2)
      val base = UrlStateMerger.mergeAll(early.iterator).toSeq
      val streamed = UrlStateMerger.mergeOnto(base.iterator, late.iterator).map(key).toSeq
      val columnarOnto = UrlStateMerger.mergeFrontier((base ++ late).toDF().repartition(3))
        .as[CrawlStateUrl].collect().map(key).toSet
      assert(streamed.size == streamed.toSet.size, s"seed $seed: a url twice")
      assert(streamed.toSet == columnarOnto, s"seed $seed: only streamed " +
        s"${(streamed.toSet -- columnarOnto).take(3)}, only columnar " +
        s"${(columnarOnto -- streamed.toSet).take(3)}")
    }
  }
}
