package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL-shape quality filtering — the RefinedWeb/C4 "URL filtering" stage
  * that runs BEFORE any content is fetched or scored: spam/SEO/trap URLs
  * advertise themselves structurally (calendar traps and session IDs are
  * digit-heavy, faceted-search traps are parameter-heavy, keyword-stuffed
  * hosts pile up subdomain labels). The reference filters URLs only by
  * validity/domain (ValidUrlsFilter); a training-data crawl also wants
  * this cheap shape gate at frontier-insertion time, where dropping a URL
  * costs nothing and fetching it costs a request plus downstream
  * processing.
  *
  * All features are integers (counts and a fixed-point percent), so the
  * whole frame is engine-exact and oracle-hashable. Scale shape: pure
  * projection — no shuffle at any frontier size; compose with
  * [[gate]]'s filter or the frontier's insert path
  * ([[graft.crawl.CrawlConfig]] `urlShapeGate`).
  */
object UrlQuality {

  /** The feature columns from a URL Column — ONE definition shared by
    * [[features]] and [[gate]] (a per-caller re-derivation drifts): the
    * fields of one codegen'd `url_shape` kernel call
    * ([[graft.plans.UrlCodegen.urlShape]]). Host and path follow a
    * case-insensitive `scheme://` — 'HTTP://HOST/9999?a=1' must not get
    * an empty host/path, which would make every shape check pass
    * vacuously (uppercase schemes are valid per RFC 3986 §3.1).
    */
  private def featuresOf(u: Column): Map[String, Column] = {
    val shape = graft.plans.UrlExpressions.url_shape(u)
    graft.plans.UrlShapeExpr.Fields.map(n => n -> shape.getField(n)).toMap
  }

  /** Per-URL structural features: length, host label count, path depth
    * (non-empty segments), query parameter count, digit percentage of
    * the whole URL (fixed-point, `100·digits div len`).
    */
  def features(df: DataFrame, urlCol: String): DataFrame = {
    val f = featuresOf(col(urlCol))
    df.select(col(urlCol).as("url") +:
      graft.plans.UrlShapeExpr.Fields.map(n => f(n).as(n)): _*)
  }

  /** Drop URLs whose shape exceeds any threshold — the insert-time gate.
    * Defaults follow the common web-pipeline heuristics (deep paths,
    * parameter explosions, and digit-dominated URLs are trap-shaped).
    * Every feature is row-local, so this is a pure filter — unlike the
    * aggregation-backed gates (blocklist, stratum), no join is ever
    * needed and the frontier is scanned exactly once. Built on the SAME
    * [[featuresOf]] columns [[features]] reports, so the gate can never
    * disagree with the audit frame.
    */
  def gate(
      df: DataFrame, urlCol: String,
      maxDepth: Long = 8, maxParams: Long = 4,
      maxDigitPct: Long = 40, maxLen: Long = 512): DataFrame =
    df.filter(passes(col(urlCol), maxDepth, maxParams, maxDigitPct, maxLen))

  /** The gate as a predicate Column — lets a caller split kept/dropped
    * with two filters over one small frame (the crawl topology journals
    * the drops) instead of an anti-join.
    */
  def passes(
      u: Column, maxDepth: Long = 8, maxParams: Long = 4,
      maxDigitPct: Long = 40, maxLen: Long = 512): Column = {
    val f = featuresOf(u)
    f("path_depth") <= maxDepth && f("n_params") <= maxParams &&
      f("digit_pct") <= maxDigitPct && f("url_len") <= maxLen
  }
}
