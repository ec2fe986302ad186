package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.crawl.{RevisitPolicy, SnapshotDelta}
import graft.operators.UrlStateMerger
import graft.plans.UrlExpressions.{extract_pld, normalize_url, surt_key}
import graft.schema.{FetchStatus => FS}

/** Crawler-domain operators exercised over the driver's tables by
  * synthesizing deterministic URL/crawl-state columns from TPC-H keys, so
  * every piece of the crawl pipeline (URL parsing, normalization, the
  * frontier merge UDAF, the FetchQueue scheduler) has a DuckDB oracle.
  */
object Crawler {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(spark, dir, name)

  private val dec = DecimalType(18, 2)

  /** Deterministic crawl-state rows synthesized from orders: colliding URLs
    * (o_custkey%20 x o_orderkey%40) with mixed lifecycle/terminal statuses.
    */
  private def syntheticFrontier(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      concat(lit("http://d"), col("o_custkey") % 20, lit(".com/p"),
        col("o_orderkey") % 40).as("url"),
      concat(lit("d"), col("o_custkey") % 20, lit(".com")).as("pld"),
      when(col("o_orderstatus") === "F" && col("o_orderpriority").startsWith("1"),
        FS.HTTP_NOTFOUND)
        .when(col("o_orderstatus") === "F", FS.FETCHED)
        .when(col("o_orderstatus") === "O", FS.UNFETCHED)
        .otherwise(FS.QUEUED).as("status"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("statusTime"),
      col("o_totalprice").cast(dec).as("score"),
      (unix_millis(col("o_orderdate").cast("timestamp")) + 1000L)
        .as("nextFetchTime"))

  private val syntheticFrontierSql =
    """SELECT
      |  'http://d' || (o_custkey % 20) || '.com/p' || (o_orderkey % 40) AS url,
      |  'd' || (o_custkey % 20) || '.com' AS pld,
      |  CASE WHEN o_orderstatus = 'F' AND o_orderpriority LIKE '1%' THEN 'HTTP_NOTFOUND'
      |       WHEN o_orderstatus = 'F' THEN 'FETCHED'
      |       WHEN o_orderstatus = 'O' THEN 'UNFETCHED'
      |       ELSE 'QUEUED' END AS status,
      |  epoch_ms(o_orderdate) AS statusTime,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS score,
      |  epoch_ms(o_orderdate) + 1000 AS nextFetchTime
      |FROM orders""".stripMargin

  /** L2/L3 clean-URLs shape: normalize messy synthesized URLs with the
    * native normalize_url kernel; the oracle pins the exact expected
    * canonical form.
    */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0,
          concat(lit("HTTP://WWW.Example.COM:80/a/../orders/"), col("o_orderkey"),
            lit("/index.html")))
          .when(col("o_orderkey") % 3 === 1,
            concat(lit("www.example.com/orders/"), col("o_orderkey"),
              lit(";jsessionid=ABC123?q=1&sid=zz")))
          .otherwise(
            concat(lit("https://shop.example.co.uk/%7Eorders/"), col("o_orderkey"),
              lit("#section")))
          .as("raw_url"))
      .select(
        col("o_orderkey"),
        normalize_url(col("raw_url")).as("url"),
        extract_pld(normalize_url(col("raw_url"))).as("pld"))
  }

  val urlNormalizeSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 0
      |         THEN 'http://www.example.com/orders/' || o_orderkey || '/'
      |       WHEN o_orderkey % 3 = 1
      |         THEN 'http://www.example.com/orders/' || o_orderkey || '?q=1'
      |       ELSE 'https://shop.example.co.uk/~orders/' || o_orderkey END AS url,
      |  CASE WHEN o_orderkey % 3 = 2 THEN 'example.co.uk' ELSE 'example.com' END AS pld
      |FROM orders""".stripMargin

  /** ValidUrl parse shape (protocol/host/path split + PLD grouping). */
  def urlParse(spark: SparkSession, dir: String): DataFrame = {
    val urls = t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(
        concat(lit("http://www.c"), col("c_custkey"), lit(".shop.com/order/"),
          col("o_orderkey"), lit("?seg="), lower(col("c_mktsegment"))).as("url"))
    // substring splits instead of regexes: ~4x less per-row cost, values
    // identical on well-formed URLs (the oracle keeps the regex form)
    urls
      .select(col("url"),
        substring_index(substring_index(col("url"), "?", 1), "://", -1)
          .as("host_path"))
      .select(
        substring_index(col("url"), "://", 1).as("protocol"),
        substring_index(col("host_path"), "/", 1).as("host"),
        expr("substring(host_path, length(substring_index(host_path, '/', 1)) + 1)")
          .as("path"))
      .select(col("protocol"),
        when(col("host").startsWith("www."), expr("substring(host, 5)"))
          .otherwise(col("host")).as("host_nw"),
        col("path"))
      .groupBy(col("protocol"),
        substring_index(col("host_nw"), ".", -2).as("pld"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("path")).as("n_paths"))
  }

  val urlParseSql: String =
    """WITH urls AS (
      |  SELECT 'http://www.c' || c_custkey || '.shop.com/order/' || o_orderkey
      |         || '?seg=' || lower(c_mktsegment) AS url
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |parsed AS (
      |  SELECT regexp_extract(url, '^(https?)://', 1) AS protocol,
      |    regexp_replace(regexp_extract(url, '^https?://([^/?#]+)', 1),
      |      '^www\.', '') AS host_nw,
      |    regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path
      |  FROM urls)
      |SELECT protocol, regexp_extract(host_nw, '([^.]+\.[^.]+)$', 1) AS pld,
      |  COUNT(*) AS n_urls, COUNT(DISTINCT path) AS n_paths
      |FROM parsed GROUP BY 1, 2""".stripMargin

  /** U3 frontier merge on colliding synthesized crawl states — the batch
    * form of the crawl-DB upsert (UrlStateMerger.mergeFrontier).
    */
  def frontierMerge(spark: SparkSession, dir: String): DataFrame =
    UrlStateMerger
      .mergeFrontier(syntheticFrontier(spark, dir))
      // merge arithmetic is exact DECIMAL; the *surfaced* column is DOUBLE
      // because the driver comparator hashes decimals and doubles
      // differently (DECIMAL(18,2)->DOUBLE is correctly rounded in both
      // Spark and DuckDB, so values stay bit-identical)
      .select(col("url"), col("pld"), col("status"), col("statusTime"),
        col("score").cast("double").as("score"), col("nextFetchTime"))

  val frontierMergeSql: String =
    s"""WITH f AS ($syntheticFrontierSql),
       |t AS (SELECT *,
       |  status NOT IN ('UNFETCHED','QUEUED','FETCHING') AS term,
       |  CASE status WHEN 'UNFETCHED' THEN 0 WHEN 'QUEUED' THEN 10
       |    WHEN 'FETCHING' THEN 10 WHEN 'FETCHED' THEN 25 ELSE 50 END AS prio
       |  FROM f),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY url, term ORDER BY
       |    CASE WHEN term THEN statusTime ELSE prio END DESC,
       |    CASE WHEN term THEN prio ELSE statusTime END DESC,
       |    status DESC, score DESC, nextFetchTime DESC) AS rn
       |  FROM t),
       |agg AS (SELECT url,
       |    MAX(CASE WHEN NOT term THEN statusTime END) AS lifeMaxTime,
       |    MIN(CASE WHEN NOT term THEN nextFetchTime END) AS lifeMinNext,
       |    CAST(SUM(CASE WHEN status = 'UNFETCHED' THEN score ELSE 0 END)
       |      AS DECIMAL(18,2)) AS sumUnfetched,
       |    BOOL_OR(term) AS hasTerm
       |  FROM t GROUP BY url),
       |tw AS (SELECT * FROM ranked WHERE term AND rn = 1),
       |lw AS (SELECT * FROM ranked WHERE NOT term AND rn = 1),
       |merged AS (SELECT a.url,
       |  COALESCE(tw.pld, lw.pld) AS pld,
       |  CASE WHEN a.hasTerm THEN tw.status ELSE lw.status END AS status,
       |  CASE WHEN a.hasTerm THEN tw.statusTime ELSE a.lifeMaxTime END AS statusTime,
       |  CASE WHEN a.hasTerm THEN tw.score
       |       WHEN lw.status = 'UNFETCHED' THEN a.sumUnfetched
       |       ELSE lw.score END AS score,
       |  CASE WHEN a.hasTerm THEN tw.nextFetchTime ELSE a.lifeMinNext END
       |    AS nextFetchTime
       |FROM agg a
       |LEFT JOIN tw ON a.url = tw.url
       |LEFT JOIN lw ON a.url = lw.url)
       |SELECT url, pld, status, statusTime, CAST(score AS DOUBLE) AS score,
       |  nextFetchTime FROM merged""".stripMargin

  /** FetchQueue scheduler: eligibility gates (ready nextFetchTime,
    * min-score), per-PLD fairness cap (2), global capacity 50 by score —
    * over a collision-free UNFETCHED frontier so the query is
    * non-degenerate at every scale factor.
    */
  def scheduleTopK(spark: SparkSession, dir: String): DataFrame = {
    val frontier = t(spark, dir, "orders").select(
      concat(lit("http://d"), col("o_custkey") % 20, lit(".com/o"),
        col("o_orderkey")).as("url"),
      concat(lit("d"), col("o_custkey") % 20, lit(".com")).as("pld"),
      col("o_totalprice").cast(dec).as("score"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("nextFetchTime"))
    val perDomain = Window.partitionBy(col("pld"))
      .orderBy(col("score").desc, col("url").asc)
    frontier
      .filter(col("nextFetchTime") <= lit(915148800000L) && // 1999-01-01
        col("score") >= 100000.0)
      .withColumn("rn", row_number().over(perDomain).cast("bigint"))
      .filter(col("rn") <= 2)
      .orderBy(col("score").desc, col("url").asc)
      .limit(50)
      .select(col("url"), col("pld"),
        col("score").cast("double").as("score"), col("rn"))
  }

  val scheduleTopKSql: String =
    """WITH frontier AS (
      |  SELECT 'http://d' || (o_custkey % 20) || '.com/o' || o_orderkey AS url,
      |    'd' || (o_custkey % 20) || '.com' AS pld,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS score,
      |    epoch_ms(o_orderdate) AS nextFetchTime
      |  FROM orders),
      |gated AS (SELECT url, pld, score FROM frontier
      |  WHERE nextFetchTime <= 915148800000 AND score >= 100000.0),
      |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pld
      |    ORDER BY score DESC, url ASC) AS rn FROM gated)
      |SELECT url, pld, CAST(score AS DOUBLE) AS score, rn
      |FROM ranked WHERE rn <= 2
      |ORDER BY score DESC, url ASC LIMIT 50""".stripMargin

  /** SURT archive index key on synthesized URLs: reversed-host grouping
    * (the CommonCrawl CDX sort key), fully SQL-expressible on both sides.
    */
  def surtKeys(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        concat(lit("http://www.d"), col("o_custkey") % 20, lit(".shop.com/o/"),
          col("o_orderkey"), lit("?x="), col("o_orderkey") % 7).as("url"))
      .select(col("o_orderkey"), surt_key(col("url")).as("surt"))
  }

  val surtKeysSql: String =
    """SELECT o_orderkey,
      |  array_to_string(list_reverse(string_split(
      |    'd' || (o_custkey % 20) || '.shop.com', '.')), ',')
      |  || ')/o/' || o_orderkey || '?x=' || (o_orderkey % 7) AS surt
      |FROM orders""".stripMargin

  /** §2.14 header scalars over a FetchResultUrl-shaped headers multimap
    * (MapType(String, Array(String))): case-insensitive first-value lookup
    * (reference BasePageParser.java:80-91) and charset extraction from
    * Content-Type (HttpUtils + BasePageParser.java:62-63, default utf-8).
    */
  def headerCharset(spark: SparkSession, dir: String): DataFrame = {
    val ct = when(col("o_orderkey") % 3 === 0,
      lit("text/html; charset=UTF-8"))
      .when(col("o_orderkey") % 3 === 1, lit("text/html"))
      .otherwise(lit("application/json; charset=iso-8859-1"))
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        map(
          lit("Content-Type"), array(ct, lit("bogus/second-value")),
          lit("X-Request-ID"),
          array(concat(lit("req-"), col("o_orderkey"))),
          lit("Content-LENGTH"),
          array((col("o_orderkey") % 90000 + 100).cast("string")))
          .as("headers"))
      .select(col("o_orderkey"),
        element_at(
          element_at(transform_keys(col("headers"), (k, _) => lower(k)),
            "content-type"), 1).as("ct"),
        element_at(
          element_at(transform_keys(col("headers"), (k, _) => lower(k)),
            "content-length"), 1).cast("long").as("clen"))
      .select(col("o_orderkey"),
        lower(coalesce(
          when(regexp_extract(col("ct"), "charset=([^;]+)", 1) === "", null)
            .otherwise(regexp_extract(col("ct"), "charset=([^;]+)", 1)),
          lit("utf-8"))).as("charset"),
        col("clen"))
  }

  val headerCharsetSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 1 THEN 'utf-8'
      |       WHEN o_orderkey % 3 = 2 THEN 'iso-8859-1'
      |       ELSE 'utf-8' END AS charset,
      |  (o_orderkey % 90000) + 100 AS clen
      |FROM orders""".stripMargin

  /** Media-src extraction (the multimodal ingest feed, MediaIngest/
    * HtmlParser.mediaLinks) driven through the REAL extractor over
    * deterministic synthesized HTML, so resolution and filtering have a
    * closed-form oracle: an absolute img URL, a root-relative video src,
    * a page-relative source src (both resolved against the page URL), a
    * duplicated img (pins the distinct), a `data-src` decoy that the
    * attribute-boundary regex must NOT match, and a meta-robots nofollow
    * page (doc_id % 13 == 0) that must yield zero rows — the same gate
    * parse() applies to outlinks.
    */
  def mediaLinksProbe(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val pageUrl = concat(lit("http://site"), id % 10,
      lit(".example.com/pages/p"), id)
    val html = concat(
      when(id % 13 === 0,
        lit("<meta name=\"robots\" content=\"nofollow\">")).otherwise(lit("")),
      lit("<img src=\"http://img.example.com/i"), id, lit(".jpg\">"),
      lit("<img data-src=\"http://img.example.com/decoy.jpg\">"),
      lit("<video controls src=\"/media/v"), id % 50, lit(".mp4\"></video>"),
      lit("<source src=\"thumbs/t"), id, lit(".png\">"),
      lit("<img src=\"http://img.example.com/i"), id, lit(".jpg\">"))
    val extract = udf((url: String, h: String) =>
      graft.crawl.HtmlParser.mediaLinks(url, h))
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(extract(pageUrl, html)).as("media_url"))
  }

  val mediaLinksProbeSql: String =
    """SELECT doc_id, unnest([
      |  'http://img.example.com/i' || doc_id || '.jpg',
      |  'http://site' || (doc_id % 10) || '.example.com/media/v'
      |    || (doc_id % 50) || '.mp4',
      |  'http://site' || (doc_id % 10) || '.example.com/pages/thumbs/t'
      |    || doc_id || '.png']) AS media_url
      |FROM documents
      |WHERE doc_id % 13 <> 0""".stripMargin

  /** Inlink anchor-text aggregation — the classic web-graph training
    * signal (anchors of pages linking TO a url describe that url better
    * than its own text; reference link extraction carries the anchor on
    * every ExtractedUrl — BaseLinkExtractor.java:142 builds
    * `ExtractedUrl(url, _curAnchor, _curRelAttributes)`,
    * ExtractedUrl.java:6) — driven through
    * the REAL [[graft.crawl.HtmlParser.parse]] over deterministic
    * synthesized HTML so the whole extract→resolve→aggregate path has a
    * closed-form oracle. Each page links to a shared "hub" target
    * (doc_id % 37 — many inlinks per hub) with a markup-wrapped anchor
    * (pins the tag-strip), and to a page-RELATIVE target (doc_id % 20 —
    * pins base-URL resolution); a rel=nofollow decoy must never appear,
    * and meta-robots-nofollow pages (doc_id % 13 == 0) contribute
    * nothing — the same gates the crawl parse stage applies.
    *
    * Scale shape: parse is a per-row projection, explode is outlink-
    * linear, and the aggregation is one hash shuffle keyed by target url
    * (anchor sets bounded per target by inlink count; production callers
    * cap with a slice/top-K if hubs are unbounded).
    */
  def anchorTextAgg(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val pageUrl = concat(lit("http://site"), id % 10,
      lit(".example.com/pages/p"), id)
    val html = concat(
      when(id % 13 === 0,
        lit("<meta name=\"robots\" content=\"nofollow\">")).otherwise(lit("")),
      lit("<a href=\"http://hub.example.com/t"), id % 37,
      lit("\"><b>hub "), id % 37, lit(" via "), id % 100, lit("</b></a>"),
      lit("<a rel=\"nofollow\" href=\"http://spam.example.com/x\">skip</a>"),
      lit("<a href=\"more/m"), id % 20, lit("\">more "), id % 20, lit("</a>"))
    val outlinks = udf((url: String, h: String) =>
      graft.crawl.HtmlParser.parse(url, h, 1.0f)
        .outlinks.map(o => (o.url, o.anchorText)))
    t(spark, dir, "documents")
      .select(explode(outlinks(pageUrl, html)).as("link"))
      .select(col("link._1").as("url"), col("link._2").as("anchor"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_inlinks"),
        array_join(array_sort(collect_set(col("anchor"))), "|").as("anchors"))
  }

  val anchorTextAggSql: String =
    """WITH links AS (
      |  SELECT 'http://hub.example.com/t' || (doc_id % 37) AS url,
      |    'hub ' || (doc_id % 37) || ' via ' || (doc_id % 100) AS anchor
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT 'http://site' || (doc_id % 10) || '.example.com/pages/more/m'
      |      || (doc_id % 20),
      |    'more ' || (doc_id % 20)
      |  FROM documents WHERE doc_id % 13 <> 0)
      |SELECT url, CAST(COUNT(*) AS BIGINT) AS n_inlinks,
      |  string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors
      |FROM links GROUP BY url""".stripMargin

  /** URL-shape quality features ([[graft.operators.UrlQuality]]) over
    * deterministic synthesized URLs that exercise every branch: optional
    * www label, optional path (2 segments), and three query shapes
    * (2 params / 1 param / none). The oracle builds the SAME strings and
    * computes the same integer features with its own string functions —
    * both engines parse real URLs, nothing is closed-formed away.
    */
  def urlQualityProbe(spark: SparkSession, dir: String): DataFrame = {
    val o = col("o_orderkey")
    val url = concat(lit("http://"),
      when(o % 3 === 0, lit("www.")).otherwise(lit("")),
      lit("d"), col("o_custkey") % 20, lit(".shop.com"),
      when(o % 4 === 0, lit(""))
        .otherwise(concat(lit("/c"), o % 5, lit("/item"), o)),
      when(o % 2 === 0,
        concat(lit("?x="), o % 7, lit("&y="), o % 11))
        .when(o % 5 === 0, concat(lit("?z="), o % 13))
        .otherwise(lit("")))
    graft.operators.UrlQuality.features(
      t(spark, dir, "orders").select(url.as("url")), "url")
  }

  val urlQualityProbeSql: String =
    """WITH u AS (SELECT 'http://'
      |    || (CASE WHEN o_orderkey % 3 = 0 THEN 'www.' ELSE '' END)
      |    || 'd' || (o_custkey % 20) || '.shop.com'
      |    || (CASE WHEN o_orderkey % 4 = 0 THEN ''
      |        ELSE '/c' || (o_orderkey % 5) || '/item' || o_orderkey END)
      |    || (CASE WHEN o_orderkey % 2 = 0
      |          THEN '?x=' || (o_orderkey % 7) || '&y=' || (o_orderkey % 11)
      |        WHEN o_orderkey % 5 = 0 THEN '?z=' || (o_orderkey % 13)
      |        ELSE '' END) AS url
      |  FROM orders)
      |SELECT url, CAST(length(url) AS BIGINT) AS url_len,
      |  CAST(len(string_split(
      |    regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '.')) AS BIGINT)
      |    AS n_host_labels,
      |  CAST(len(list_filter(string_split(
      |    regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/'),
      |    x -> x <> '')) AS BIGINT) AS path_depth,
      |  CAST(CASE WHEN regexp_extract(url, '\?([^#]*)', 1) = '' THEN 0
      |    ELSE len(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'))
      |    END AS BIGINT) AS n_params,
      |  (100 * CAST(length(regexp_replace(url, '[^0-9]', '', 'g')) AS BIGINT))
      |    // GREATEST(CAST(length(url) AS BIGINT), 1) AS digit_pct
      |FROM u""".stripMargin

  /** CDX capture-index fields ([[graft.sinks.Sinks.cdxIndex]] — the
    * CommonCrawl-style lookup sidecar) over a synthesized archive frame:
    * the REAL surt/timestamp/digest/octet projection runs on rows whose
    * expected values are closed-form. The content carries a non-ASCII
    * char so `n_octets` is pinned to OCTET (not character) semantics —
    * the same distinction WARC Content-Length requires.
    */
  def cdxFieldsProbe(spark: SparkSession, dir: String): DataFrame = {
    val o = col("o_orderkey")
    graft.sinks.Sinks.cdxIndex(
      t(spark, dir, "orders").select(
        concat(lit("http://d"), col("o_custkey") % 20, lit(".shop.com/o/"), o)
          .as("url"),
        lit("text/html").as("contentType"),
        concat(lit("page "), o, lit(" body é")).as("content"),
        when(o % 7 === 0, 404).otherwise(200).as("statusCode"),
        (lit(1700000000000L) + o * 1000).as("fetchTimeMs")))
  }

  val cdxFieldsProbeSql: String =
    """SELECT
      |  'com,shop,d' || (o_custkey % 20) || ')/o/' || o_orderkey AS surt,
      |  strftime(epoch_ms(1700000000000 + o_orderkey * 1000),
      |    '%Y%m%d%H%M%S') AS ts,
      |  'http://d' || (o_custkey % 20) || '.shop.com/o/' || o_orderkey
      |    AS url,
      |  'text/html' AS mime,
      |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 404 ELSE 200 END AS BIGINT)
      |    AS status,
      |  md5('page ' || o_orderkey || ' body é') AS digest,
      |  CAST(octet_length(encode('page ' || o_orderkey || ' body é'))
      |    AS BIGINT) AS n_octets
      |FROM orders""".stripMargin

  /** Content-text extraction (SURVEY §2.6 P4) through the REAL
    * [[graft.crawl.HtmlParser.parse]] over synthesized HTML whose
    * stripped text is closed-form: script/style bodies must vanish,
    * every tag becomes whitespace, runs collapse, title text stays in
    * the flow. Upgrades P4 from spec-tier to oracle-gated.
    */
  def parseTextProbe(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<html><head><title>T"), id % 50, lit("</title>"),
      lit("<script>var hidden = "), id, lit(";</script>"),
      lit("<style>p { color: red }</style></head>"),
      lit("<body><h1>Hello "), id % 50, lit("</h1>"),
      lit("<p>item "), id % 7, lit(" overview</p></body></html>"))
    val parse = udf((h: String) => {
      val r = graft.crawl.HtmlParser.parse("http://x.com/p", h, 1.0f)
      (r.title, r.text)
    })
    t(spark, dir, "documents")
      .select(col("doc_id"), parse(html).as("p"))
      .select(col("doc_id"), col("p._1").as("title"), col("p._2").as("text"))
  }

  val parseTextProbeSql: String =
    """SELECT doc_id, 'T' || (doc_id % 50) AS title,
      |  'T' || (doc_id % 50) || ' Hello ' || (doc_id % 50) || ' item '
      |    || (doc_id % 7) || ' overview' AS text
      |FROM documents""".stripMargin

  /** RFC 9309 robots evaluation (SURVEY §2.5 A1) through the REAL
    * [[graft.crawl.RobotsRules]] parser+matcher: one synthesized robots
    * body (prefix disallow, longer allow carve-out, wildcard+anchor
    * rule, crawl-delay) evaluated against five path shapes that each pin
    * one rule-resolution branch — longest-match wins, Allow beats
    * Disallow at a tie, `$` anchors, no-match allows. Upgrades A1's
    * rule semantics from spec-tier to oracle-gated.
    */
  def robotsDecisionProbe(spark: SparkSession, dir: String): DataFrame = {
    val o = col("o_orderkey")
    val robotsBody = concat(
      lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
        "Disallow: /tmp*.html$\nCrawl-delay: "), o % 5)
    val path = when(o % 5 === 0, lit("/private/x"))
      .when(o % 5 === 1, lit("/private/ok/page"))
      .when(o % 5 === 2, lit("/tmp123.html"))
      .when(o % 5 === 3, lit("/tmp123.htmlx"))
      .otherwise(concat(lit("/public/p"), o))
    val eval = udf((body: String, p: String) => {
      val rules = graft.crawl.RobotsRules.parse(body)
      (rules.isAllowed(p), rules.crawlDelayMs.getOrElse(-1L))
    })
    t(spark, dir, "orders")
      .select(o.as("o_orderkey"), eval(robotsBody, path).as("r"))
      .select(col("o_orderkey"), col("r._1").as("allowed"),
        col("r._2").as("crawl_delay_ms"))
  }

  val robotsDecisionProbeSql: String =
    """SELECT o_orderkey,
      |  (o_orderkey % 5) IN (1, 3, 4) AS allowed,
      |  CAST((o_orderkey % 5) * 1000 AS BIGINT) AS crawl_delay_ms
      |FROM orders""".stripMargin

  /** Parsed-text TSV sink lines (SURVEY §2.13 W2 / L6 — reference
    * CrawlTopologyBuilder.java:441-453 with the tab/newline scrub at
    * :81) through the REAL [[graft.sinks.Sinks.parsedTextTsv]]: text
    * carries planted tab/CR/newline probes, so the scrub-to-space and
    * the `url<TAB>text` line shape are value-exact against the oracle.
    */
  def tsvLinesProbe(spark: SparkSession, dir: String): DataFrame =
    graft.sinks.Sinks.parsedTextTsv(
      t(spark, dir, "documents").select(
        concat(lit("http://site"), col("doc_id") % 10, lit(".com/p"),
          col("doc_id")).as("url"),
        concat(col("text"), lit("\ttabbed\r\nwrapped "), col("doc_id"))
          .as("text")))

  val tsvLinesProbeSql: String =
    """SELECT 'http://site' || (doc_id % 10) || '.com/p' || doc_id
      |  || chr(9)
      |  || regexp_replace(text || chr(9) || 'tabbed' || chr(13) || chr(10)
      |       || 'wrapped ' || doc_id, '[\t\r\n]', ' ', 'g') AS value
      |FROM documents""".stripMargin

  /** Sitemap parsing (SURVEY §2.6 P2, reference SimpleSiteMapParser
    * .java:48-76) through the REAL [[graft.crawl.HtmlParser
    * .parseSitemap]]: XML bodies exercise `<loc>` extraction with
    * whitespace trim; every third row is a PLAIN-TEXT sitemap (url per
    * line, junk lines dropped) exercising the fallback branch.
    */
  def sitemapParseProbe(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val body = when(id % 3 === 0,
      concat(lit("http://t"), id, lit(".com/x\nnot a url line\nhttps://t"),
        id, lit(".com/y")))
      .otherwise(concat(
        lit("<urlset><url><loc> http://s"), id % 10, lit(".com/a"), id,
        lit(" </loc></url><url><loc>http://s"), id % 10, lit(".com/b"),
        id % 5, lit("</loc></url></urlset>")))
    val parse = udf((b: String) => graft.crawl.HtmlParser.parseSitemap(b))
    t(spark, dir, "documents")
      .select(col("doc_id"), posexplode(parse(body)).as(Seq("pos", "url")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("url"))
  }

  val sitemapParseProbeSql: String =
    """WITH u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN
      |    ['http://t' || doc_id || '.com/x', 'https://t' || doc_id || '.com/y']
      |  ELSE
      |    ['http://s' || (doc_id % 10) || '.com/a' || doc_id,
      |     'http://s' || (doc_id % 10) || '.com/b' || (doc_id % 5)]
      |  END AS urls FROM documents),
      |p AS (SELECT doc_id, urls, unnest(range(0, 2)) AS pos FROM u)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos, urls[pos + 1] AS url
      |FROM p""".stripMargin

  /** §2.16 nextFetchTime, made adaptive: the reference's fetch queue
    * leaves "refetch URL if fetch time is earlier than now" as a TODO
    * (`utils/FetchQueue.java:55`) and uses fixed retry intervals
    * (`CheckUrlWithRobotsFunction.java:228`); RevisitPolicy derives the
    * interval from each URL's observed change history instead. Captures
    * are synthesized from lineitem: ~25 URLs/domain with l_shipdate as
    * the capture time and a content fingerprint that flips with
    * l_quantity, so every URL has a multi-capture history with a
    * deterministic change count.
    */
  def revisitSchedule(spark: SparkSession, dir: String): DataFrame = {
    val captures = t(spark, dir, "lineitem").select(
      concat(lit("http://d"), col("l_suppkey") % 25, lit(".com/p"),
        col("l_partkey") % 100).as("url"),
      unix_millis(col("l_shipdate").cast("timestamp")).as("ts"),
      (col("l_quantity").cast("long") % 4).as("fp"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("cap_id"))
    RevisitPolicy.schedule(captures, "url", "ts", "fp", "cap_id",
      minIntervalMs = 86400000L,        // 1 day
      maxIntervalMs = 30L * 86400000L)  // 30 days
  }

  val revisitScheduleSql: String =
    """WITH cap AS (SELECT
      |    'http://d' || (l_suppkey % 25) || '.com/p' || (l_partkey % 100)
      |      AS url,
      |    epoch_ms(l_shipdate) AS ts,
      |    CAST(l_quantity AS BIGINT) % 4 AS fp,
      |    l_orderkey * 10 + l_linenumber AS cap_id
      |  FROM lineitem),
      |flagged AS (SELECT url, ts, fp,
      |    lag(fp) OVER (PARTITION BY url ORDER BY ts, cap_id) AS prev_fp
      |  FROM cap),
      |stats AS (SELECT url,
      |    COUNT(*) AS n_captures,
      |    CAST(SUM(CASE WHEN prev_fp IS NOT NULL AND prev_fp <> fp
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
      |    MIN(ts) AS first_ts, MAX(ts) AS last_ts
      |  FROM flagged GROUP BY url)
      |SELECT url, n_captures, n_changes, first_ts, last_ts,
      |  CAST(CASE WHEN n_changes = 0 THEN 2592000000
      |       ELSE LEAST(GREATEST((last_ts - first_ts) // n_changes,
      |                           86400000), 2592000000) END AS BIGINT)
      |    AS est_interval_ms,
      |  CAST(last_ts + (CASE WHEN n_changes = 0 THEN 2592000000
      |       ELSE LEAST(GREATEST((last_ts - first_ts) // n_changes,
      |                           86400000), 2592000000) END) AS BIGINT)
      |    AS next_fetch_ms
      |FROM stats""".stripMargin

  /** q113 — cross-round snapshot diff ([[SnapshotDelta.delta]]): two
    * crawl snapshots derived from `documents` (URL key from doc_id,
    * content digest = md5 of the text). The old round misses every
    * `doc_id % 11 == 3` (ADDED in the new), the new round misses every
    * `doc_id % 7 == 2` (GONE), and every `doc_id % 5 == 0` re-captures
    * with edited content (CHANGED); everything else is UNCHANGED — all
    * four verdicts appear at every SF.
    */
  def snapshotDeltaProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val key = concat(lit("http://c"), col("doc_id") % 40, lit(".com/d"),
      col("doc_id"))
    val oldSnap = d.filter(col("doc_id") % 11 =!= 3).select(
      key.as("url"), md5(col("text")).as("digest"),
      col("doc_id").as("ts"))
    val newSnap = d.filter(col("doc_id") % 7 =!= 2).select(
      key.as("url"),
      md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit("!")))
        .otherwise(col("text"))).as("digest"),
      (col("doc_id") + 100000L).as("ts"))
    SnapshotDelta.delta(oldSnap, newSnap, "url", "digest", "ts")
      .select(col("key").as("url_key"), col("verdict"), col("old_digest"),
        col("new_digest"), col("old_ts"), col("new_ts"))
  }

  val snapshotDeltaProbeSql: String =
    """WITH o AS (SELECT
      |    'http://c' || (doc_id % 40) || '.com/d' || doc_id AS url_key,
      |    md5(text) AS old_digest, doc_id AS old_ts
      |  FROM documents WHERE doc_id % 11 <> 3),
      |n AS (SELECT
      |    'http://c' || (doc_id % 40) || '.com/d' || doc_id AS url_key,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END)
      |      AS new_digest,
      |    doc_id + 100000 AS new_ts
      |  FROM documents WHERE doc_id % 7 <> 2)
      |SELECT COALESCE(o.url_key, n.url_key) AS url_key,
      |  CASE WHEN o.old_digest IS NULL THEN 'ADDED'
      |       WHEN n.new_digest IS NULL THEN 'GONE'
      |       WHEN o.old_digest = n.new_digest THEN 'UNCHANGED'
      |       ELSE 'CHANGED' END AS verdict,
      |  o.old_digest, n.new_digest, o.old_ts, n.new_ts
      |FROM o FULL OUTER JOIN n ON o.url_key = n.url_key""".stripMargin

  /** q118: the frontier journal's right-to-be-forgotten purge behind an
    * oracle — build the durable store from the q16 synthetic frontier,
    * [[graft.crawl.FrontierStore.retire]] two whole domains (the
    * pld-localized takedown norm: only their buckets rewrite), read the
    * journal back. The oracle is q16's merge semantics minus the purged
    * plds, so the tombstone-wins-then-filtered mechanics and the
    * bucket/manifest bookkeeping all sit behind one hash gate. Deletion
    * is now oracle-gated on every mutable state holder (signature q115 /
    * ANN q116 / labels q117 / frontier q118; corpus slices are
    * spec-tier via TakedownSpec).
    */
  def frontierRetire(spark: SparkSession, dir: String): DataFrame = {
    import graft.crawl.FrontierStore
    val base = java.nio.file.Files
      .createTempDirectory("graft-q118").toString
    TextQueries.guardGate(base) {
    val root = base + "/frontier"
    FrontierStore.mergeInto(spark, root, syntheticFrontier(spark, dir),
      buckets = 16)
    FrontierStore.retire(spark, root,
      syntheticFrontier(spark, dir)
        .filter(col("pld").isin("d3.com", "d7.com"))
        .select("url").distinct())
    val out = FrontierStore.read(spark, root).get
      .select(col("url"), col("pld"), col("status"), col("statusTime"),
        col("score").cast("double").as("score"), col("nextFetchTime"))
      .localCheckpoint(true) // pin, then reclaim the store fixture
    def rm(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rm(java.nio.file.Path.of(base))
    out
    }
  }

  val frontierRetireSql: String =
    frontierMergeSql.replace(
      "SELECT url, pld, status, statusTime, CAST(score AS DOUBLE) AS score,\n" +
        "  nextFetchTime FROM merged",
      "SELECT url, pld, status, statusTime, CAST(score AS DOUBLE) AS score,\n" +
        "  nextFetchTime FROM merged\n" +
        "WHERE pld NOT IN ('d3.com', 'd7.com')")

  /** q119: the retention POLICY's candidate derivation behind an oracle
    * ([[graft.crawl.RetentionPolicy.candidates]] — the autonomy layer
    * over the q115-q118 deletion machinery): build the durable frontier
    * journal from the q16 synthetic state with the NOTFOUND stratum
    * remapped to HTTP_GONE, then derive the sweep's delete set at a
    * fixed logical clock with both time rules armed — GONE urls past a
    * two-year grace ("gone_aged") and FETCHED urls whose last fetch
    * exceeds the freshness bound ("expired"). The oracle re-derives the
    * merge (q16 semantics) and the two predicates in SQL, so the
    * journal round-trip AND the policy predicates sit behind one hash
    * gate. The robots-revocation rule needs a live fetcher and stays
    * spec-tier (ArchiveLoopSpec).
    */
  def retentionCandidates(spark: SparkSession, dir: String): DataFrame = {
    import graft.crawl.{FrontierStore, RetentionConfig, RetentionPolicy}
    val base = java.nio.file.Files
      .createTempDirectory("graft-q119").toString
    TextQueries.guardGate(base) {
    // collision-free url space (one row per order): the q16 mod-40
    // fixture saturates terminal recency as SF grows (every url's max
    // statusTime drifts to the dataset max), which empties both time
    // predicates at sf0.1 — unique urls keep the capture-age
    // distribution SF-stable, and the journal round-trip stays real
    val fr = t(spark, dir, "orders").select(
      concat(lit("http://d"), col("o_custkey") % 20, lit(".com/q"),
        col("o_orderkey")).as("url"),
      concat(lit("d"), col("o_custkey") % 20, lit(".com")).as("pld"),
      when(col("o_orderstatus") === "F" &&
          col("o_orderpriority").startsWith("1"), FS.HTTP_GONE)
        .when(col("o_orderstatus") === "F", FS.FETCHED)
        .when(col("o_orderstatus") === "O", FS.UNFETCHED)
        .otherwise(FS.QUEUED).as("status"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("statusTime"),
      col("o_totalprice").cast(dec).as("score"),
      (unix_millis(col("o_orderdate").cast("timestamp")) + 1000L)
        .as("nextFetchTime"))
    FrontierStore.mergeInto(spark, s"$base/frontier", fr, buckets = 16)
    val out = RetentionPolicy.candidates(spark, base,
        RetentionConfig(goneGraceMs = Some(63000000000L),
          maxAgeMs = Some(50000000000L)),
        nowMs = 900000000000L)
      .select("url", "reason", "since")
      .localCheckpoint(true) // pin, then reclaim the store fixture
    def rm(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rm(java.nio.file.Path.of(base))
    out
    }
  }

  val retentionCandidatesSql: String =
    """WITH f AS (SELECT
      |  'http://d' || (o_custkey % 20) || '.com/q' || o_orderkey AS url,
      |  CASE WHEN o_orderstatus = 'F' AND o_orderpriority LIKE '1%'
      |         THEN 'HTTP_GONE'
      |       WHEN o_orderstatus = 'F' THEN 'FETCHED'
      |       WHEN o_orderstatus = 'O' THEN 'UNFETCHED'
      |       ELSE 'QUEUED' END AS status,
      |  epoch_ms(o_orderdate) AS statusTime
      |FROM orders)
      |SELECT url,
      |  CASE WHEN status = 'HTTP_GONE' THEN 'gone_aged'
      |       ELSE 'expired' END AS reason,
      |  statusTime AS since
      |FROM f
      |WHERE (status = 'HTTP_GONE'
      |       AND 900000000000 - statusTime >= 63000000000)
      |   OR (status = 'FETCHED'
      |       AND 900000000000 - statusTime >= 50000000000)""".stripMargin

  /** WARC member-per-record gzip round trip (W1's gzip form — reference
    * WARCFileWriter.java:96-170): archive a synthesized content frame
    * through [[graft.sinks.Sinks.writeWarcContentGzipMembers]] (one gzip
    * member per record, rolling segments) and read it back through the
    * one [[graft.sources.WarcSource]] — the gate is value-identity of
    * status, redirect target, millisecond stamp, and the BODY (multi-byte
    * text plus embedded blank lines, the Content-Length octet-walk case)
    * after a real gzip+parse round trip. Upgrades the gzip-member path
    * from spec-tier to oracle-gated.
    */
  def warcGzipRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files
      .createTempDirectory("graft-q122").toString
    TextQueries.guardGate(base) {
      val o = col("o_orderkey")
      val content = t(spark, dir, "orders").select(
        concat(lit("http://d"), col("o_custkey") % 20, lit(".com/o/"), o)
          .as("url"),
        when(o % 7 === 0, 301).otherwise(200).as("statusCode"),
        lit("text/html; charset=UTF-8").as("contentType"),
        map(lit("Content-Type"), array(lit("text/html; charset=UTF-8")))
          .as("headers"),
        encode(concat(lit("page "), o, lit(" body é\r\n\r\nsecond line")),
          "UTF-8").as("content"),
        (lit(1700000000000L) + o * 1000).as("fetchTimeMs"),
        when(o % 7 === 0, concat(lit("http://t.com/m"), o))
          .otherwise(lit("")).as("redirectedTo"))
        // CPU-seam sizing (the repo's seam discipline — CPU-bound stages
        // size by PARALLELISM, not bytes): per-record gzip encoding is
        // Deflater CPU work, and the orders scan is a handful of splits,
        // so without this the whole archive funnels through a few tasks'
        // Deflaters. Sized at the caller, not inside the writer, because
        // segment layout (records per file) is the CALLER's contract —
        // WarcGzipSpec pins exact segment counts from known partitioning.
        // More write partitions also means more segments, which
        // parallelizes the read-back half of the round trip.
        .repartition(spark.sparkContext.defaultParallelism)
      graft.sinks.Sinks.writeWarcContentGzipMembers(content, s"$base/warc")
      val out = graft.sources.WarcSource.read(spark, s"$base/warc")
        .select(col("url"), col("statusCode").cast("long").as("status"),
          col("content"), col("redirectedTo").as("redirect"),
          col("fetchTimeMs"))
        .localCheckpoint(true) // pin, then reclaim the archive fixture
      def rm(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      rm(java.nio.file.Path.of(base))
      out
    }
  }

  val warcGzipRoundTripSql: String =
    """SELECT
      |  'http://d' || (o_custkey % 20) || '.com/o/' || o_orderkey AS url,
      |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 301 ELSE 200 END AS BIGINT)
      |    AS status,
      |  'page ' || o_orderkey || ' body é' || chr(13) || chr(10) ||
      |    chr(13) || chr(10) || 'second line' AS content,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'http://t.com/m' || o_orderkey
      |       ELSE '' END AS redirect,
      |  CAST(1700000000000 + o_orderkey * 1000 AS BIGINT) AS fetchTimeMs
      |FROM orders""".stripMargin

  /** Time-banded frontier read through the `_SKIP` sidecar layer
    * ([[graft.crawl.FrontierStore.readBanded]] over bucket commits that
    * recorded footer-stats sidecars): the store is built through the
    * real merge path, then read under a statusTime band — the gate is
    * value-identity with the plain filter (prune SOUNDNESS; the
    * files-opened fraction is pinned in DataSkippingStoreSpec and
    * measured in FrontierBench). Same unique-url fixture discipline as
    * q119, so the merge is row-preserving and the oracle is a pure
    * projection + filter.
    */
  def frontierBandedRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.crawl.FrontierStore
    val base = java.nio.file.Files
      .createTempDirectory("graft-q123").toString
    TextQueries.guardGate(base) {
      val fr = t(spark, dir, "orders").select(
        concat(lit("http://d"), col("o_custkey") % 20, lit(".com/q"),
          col("o_orderkey")).as("url"),
        concat(lit("d"), col("o_custkey") % 20, lit(".com")).as("pld"),
        when(col("o_orderstatus") === "F", FS.FETCHED)
          .when(col("o_orderstatus") === "O", FS.UNFETCHED)
          .otherwise(FS.QUEUED).as("status"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("statusTime"),
        col("o_totalprice").cast(dec).as("score"),
        (unix_millis(col("o_orderdate").cast("timestamp")) + 1000L)
          .as("nextFetchTime"))
      FrontierStore.mergeInto(spark, s"$base/frontier", fr, buckets = 16)
      val cutoff = 893462400000L // 1998-04-25T00:00:00Z, the median orderdate
      val (banded, _) = FrontierStore.readBanded(spark, s"$base/frontier",
        Seq(graft.operators.DataSkipping
          .ColRange("statusTime", Long.MinValue, cutoff))).get
      val out = banded.select(col("url"), col("status"), col("statusTime"))
        .localCheckpoint(true) // pin, then reclaim the store fixture
      def rm(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      rm(java.nio.file.Path.of(base))
      out
    }
  }

  val frontierBandedReadSql: String =
    """SELECT
      |  'http://d' || (o_custkey % 20) || '.com/q' || o_orderkey AS url,
      |  CASE WHEN o_orderstatus = 'F' THEN 'FETCHED'
      |       WHEN o_orderstatus = 'O' THEN 'UNFETCHED'
      |       ELSE 'QUEUED' END AS status,
      |  epoch_ms(o_orderdate) AS statusTime
      |FROM orders
      |WHERE epoch_ms(o_orderdate) <= 893462400000""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_warc_gzip" -> (warcGzipRoundTrip _),
    "q123_frontier_banded" -> (frontierBandedRead _),
    "q118_frontier_retire" -> (frontierRetire _),
    "q119_retention" -> (retentionCandidates _),
    "q14_url_normalize" -> (urlNormalize _),
    "q15_url_parse" -> (urlParse _),
    "q16_frontier_merge" -> (frontierMerge _),
    "q17_schedule_topk" -> (scheduleTopK _),
    "q32_surt_key" -> (surtKeys _),
    "q39_header_charset" -> (headerCharset _),
    "q54_media_links" -> (mediaLinksProbe _),
    "q87_anchor_text" -> (anchorTextAgg _),
    "q91_url_quality" -> (urlQualityProbe _),
    "q94_cdx_fields" -> (cdxFieldsProbe _),
    "q95_parse_text" -> (parseTextProbe _),
    "q96_robots_rules" -> (robotsDecisionProbe _),
    "q97_tsv_lines" -> (tsvLinesProbe _),
    "q98_sitemap_parse" -> (sitemapParseProbe _),
    "q105_revisit" -> (revisitSchedule _),
    "q113_snapshot_delta" -> (snapshotDeltaProbe _)
  )

  val oracleSql: Map[String, String] = Map(
    "q122_warc_gzip" -> warcGzipRoundTripSql,
    "q123_frontier_banded" -> frontierBandedReadSql,
    "q118_frontier_retire" -> frontierRetireSql,
    "q119_retention" -> retentionCandidatesSql,
    "q14_url_normalize" -> urlNormalizeSql,
    "q15_url_parse" -> urlParseSql,
    "q16_frontier_merge" -> frontierMergeSql,
    "q17_schedule_topk" -> scheduleTopKSql,
    "q32_surt_key" -> surtKeysSql,
    "q39_header_charset" -> headerCharsetSql,
    "q54_media_links" -> mediaLinksProbeSql,
    "q87_anchor_text" -> anchorTextAggSql,
    "q91_url_quality" -> urlQualityProbeSql,
    "q94_cdx_fields" -> cdxFieldsProbeSql,
    "q95_parse_text" -> parseTextProbeSql,
    "q96_robots_rules" -> robotsDecisionProbeSql,
    "q97_tsv_lines" -> tsvLinesProbeSql,
    "q98_sitemap_parse" -> sitemapParseProbeSql,
    "q105_revisit" -> revisitScheduleSql,
    "q113_snapshot_delta" -> snapshotDeltaProbeSql
  )
}
