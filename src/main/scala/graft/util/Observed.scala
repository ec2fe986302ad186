package graft.util

import org.apache.spark.sql.Observation

/** Reads of `observe()` metrics that fail loudly. A control decision that
  * rides an observation (end the crawl on an empty queue, skip the sitemap
  * stage, drop a no-op batch) must never mistake a lost metric for an
  * empty one, so only a SQL null — `sum` over zero rows — reads as 0; a
  * missing key or a non-numeric value throws.
  */
object Observed {

  def number(obs: Observation, key: String): Number =
    obs.get.get(key) match {
      case Some(null)      => java.lang.Long.valueOf(0L)
      case Some(n: Number) => n
      case other => throw new IllegalStateException(
        s"observed metric '$key' returned $other")
    }

  def long(obs: Observation, key: String): Long = number(obs, key).longValue()
}
