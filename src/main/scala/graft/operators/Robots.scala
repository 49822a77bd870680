package graft.operators

import graft.expr.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Crawl-politeness filtering: apply per-host robots.txt rules
 * ([[graft.expr.RobotsTxt]], RFC 9309) to a URL corpus.
 *
 * Scale shape: the robots side is ONE compiled row per host — bounded
 * by the host count (millions), tiny next to the URL corpus
 * (billions) — so the join always broadcasts it. `robots_compile`
 * runs once per host; the per-URL side is a row-local first-match walk
 * inside whole-stage codegen. A host with no robots row is ALLOWED
 * (the RFC default for an absent robots.txt).
 */
object Robots {

  /** path + query of a URL (fragment stripped — it is never sent to
    * the server, so robots rules cannot see it); bare-host URLs match
    * as "/". RE2-compatible, so an oracle can replay it. */
  def urlPathQuery(url: Column): Column =
    coalesce(
      nullif(regexp_extract(regexp_replace(url, "#.*$", ""),
        "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/?].*)?$", 1), lit("")),
      lit("/"))

  /** Annotate `urls` with `outCol`: whether `agent` may fetch each URL
    * under the host's robots.txt. `robots` carries one row per host
    * (`hostCol`, `txtCol` = the raw robots.txt body). */
  def annotate(urls: DataFrame, urlCol: String,
               robots: DataFrame, hostCol: String, txtCol: String,
               agent: String,
               outCol: String = "robots_allowed"): DataFrame = {
    GraftFunctions.ensure(urls.sparkSession)
    val compiled = robots.select(
      lower(col(hostCol)).as("__r_host"),
      GraftFunctions.robotsCompile(col(txtCol), agent).as("__r_rules"))
    urls
      .withColumn("__u_host", UrlCuration.urlHost(col(urlCol)))
      .join(broadcast(compiled), col("__u_host") === col("__r_host"), "left")
      .withColumn(outCol, coalesce(
        GraftFunctions.robotsAllowed(urlPathQuery(col(urlCol)), col("__r_rules")),
        lit(true)))
      .drop("__u_host", "__r_host", "__r_rules")
  }

  /** Keep only the URLs the agent may fetch. */
  def filterAllowed(urls: DataFrame, urlCol: String,
                    robots: DataFrame, hostCol: String, txtCol: String,
                    agent: String): DataFrame =
    annotate(urls, urlCol, robots, hostCol, txtCol, agent, outCol = "__allowed")
      .where(col("__allowed")).drop("__allowed")
}
