package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + dedup for web corpora — the usual first
  * dedup key in a crawl pipeline (before any content hashing): the
  * same page is crawled as http/HTTP, with/without `www.`, with a
  * default port, with tracking parameters, in any query-param order,
  * with or without a trailing slash or fragment.
  *
  * Everything is native Column algebra over Spark's `parse_url`
  * (codegen'd, no UDF): lowercase scheme+host, strip `www.` and
  * default ports, drop the fragment, drop tracking parameters
  * (`utm_*`, gclid, fbclid, ref, mc_cid, mc_eid), sort the remaining
  * query parameters, and strip a non-root trailing slash. Documented
  * non-goals (stated, not guessed): percent-encoding normalization
  * and userinfo handling.
  *
  * Scale shape: normalization is a narrow per-row projection on the
  * scan; [[urlDedup]] is one hash aggregation on the canonical key.
  */
object UrlOps {

  /** Exact-key tracking params dropped during canonicalization. */
  val trackingKeys: Seq[String] =
    Seq("gclid", "fbclid", "ref", "mc_cid", "mc_eid")

  /** Canonical form of `url` (see object doc for the rule set).
    * Malformed / non-http(s)-looking input comes back null (parse_url
    * yields null pieces), so callers can filter or pass through. */
  def normalizeUrl(url: Column): Column = {
    val proto = lower(expr_parse(url, "PROTOCOL"))
    val auth0 = lower(expr_parse(url, "AUTHORITY"))
    val auth = regexp_replace(auth0, "^www\\.", "")
    val host = when(proto === "http", regexp_replace(auth, ":80$", ""))
      .when(proto === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val path0 = coalesce(expr_parse(url, "PATH"), lit(""))
    val path1 = regexp_replace(path0, "/+$", "")
    val path = when(path1 === "", lit("/")).otherwise(path1)
    // query: drop tracking params, sort the rest for a stable key
    val q0 = coalesce(expr_parse(url, "QUERY"), lit(""))
    val parts = filter(split(q0, "&"), p => {
      val key = regexp_extract(p, "^([^=]*)", 1)
      val keep = !key.startsWith("utm_") &&
        !trackingKeys.foldLeft(lit(false))((acc, k) => acc || key === k) &&
        p =!= ""
      keep
    })
    val sortedQ = array_join(array_sort(parts), "&")
    when(proto.isNull || auth0.isNull, lit(null).cast("string"))
      .otherwise(concat(proto, lit("://"), host, path,
        when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ))))
  }

  // parse_url is SQL-registered; go through expr so this compiles on
  // any Spark 3.x/4.x regardless of the Scala functions surface
  private def expr_parse(url: Column, part: String): Column =
    call_function("parse_url", url, lit(part))

  /** One row per canonical URL: the smallest `id` wins (crawl-order
    * survivorship), plus the duplicate count. One hash aggregation —
    * scales as a normal groupBy on the canonical key. */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame =
    df.select(id.as("id"), url.as("__u"))
      .select(col("id"), normalizeUrl(col("__u")).as("canonical_url"))
      .filter(col("canonical_url").isNotNull)
      .groupBy(col("canonical_url"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_variants"))

  /** Deterministic synthetic crawl URL: page = id % 1000 fixes the
    * canonical target, while id-dependent noise varies the raw form —
    * scheme case, `www.`, default port, trailing slash, tracking
    * params, query order, fragment. The canonical result depends on
    * `page` alone: `scheme://ex<page%7>.com/p/<page>?cat=<page%5>&id=<page>`
    * with scheme = http (page even) / https (page odd) — so an oracle
    * reconstructs it (and the dedup survivors) from id arithmetic. */
  def syntheticUrl(id: Column): Column = {
    val i = id.cast("long")
    val page = i % 1000
    val scheme0 = when(page % 2 === 0, "http").otherwise("https")
    val scheme = when(i % 5 === 0, upper(scheme0)).otherwise(scheme0)
    val host0 = concat(lit("ex"), (page % 7).cast("string"), lit(".com"))
    val host1 = when(i % 3 === 0, concat(lit("www."), host0)).otherwise(host0)
    val host2 = when(i % 5 === 0, upper(host1)).otherwise(host1)
    val port = when(i % 4 === 0,
      when(page % 2 === 0, ":80").otherwise(":443")).otherwise("")
    val path = concat(lit("/p/"), page.cast("string"),
      when(i % 6 === 0, "/").otherwise(""))
    val baseQ = when(i % 2 === 1,
        concat(lit("id="), page.cast("string"), lit("&cat="),
          (page % 5).cast("string")))
      .otherwise(concat(lit("cat="), (page % 5).cast("string"),
        lit("&id="), page.cast("string")))
    val junk = when(i % 3 === 1, "&utm_source=feed&gclid=abc")
      .otherwise("")
    val frag = when(i % 7 === 0, "#section-2").otherwise("")
    concat(scheme, lit("://"), host2, port, path, lit("?"), baseQ,
      junk, frag)
  }
}
