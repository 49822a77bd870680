package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * URL/domain-level corpus curation — the C4/RefinedWeb stage that runs
 * BEFORE any text is read: drop documents from blocklisted domains and
 * cap any single registered domain's share of the corpus (an uncurated
 * crawl is dominated by a handful of mega-domains; a diversity cap is
 * what keeps one site from being 10% of the training mix).
 *
 * Everything here is a pure composition of codegen'd built-ins
 * (regexp_extract / split / element_at / isInCollection) so host and
 * domain extraction run at scan speed, and the cap follows the
 * minority-shuffle discipline: domain COUNTS (longs) find the few
 * over-cap domains, the corpus majority passes through a broadcast
 * hash probe with ZERO row shuffle, and only over-cap domains' rows
 * pay a bounded per-domain selection.
 */
object UrlCuration {

  /** Host part of a URL, lowercased: skips the scheme and userinfo,
    * stops at port/path/query/fragment. RE2-compatible (same pattern
    * replays in the oracle). Null/scheme-less input → null. */
  val HostPattern = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"

  def urlHost(url: Column): Column =
    nullif(lower(regexp_extract(url, HostPattern, 1)), lit(""))

  /** Multi-part public suffixes recognized by [[registeredDomain]] —
    * deliberately the short high-traffic subset of the public-suffix
    * list (the full PSL is a deploy-time data file, not code; this
    * covers the common second-level country registries). */
  val MultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.in", "net.in", "org.in", "gen.in",
    "co.kr", "or.kr", "co.za", "org.za", "com.mx", "com.ar",
    "com.tr", "com.tw", "co.nz", "org.nz", "com.sg", "com.hk")

  /** Registered domain (eTLD+1-ish): the last two host labels, or the
    * last three when the last two form a known multi-part suffix
    * ("bbc.co.uk" → "bbc.co.uk" not "co.uk"). Hosts with ≤ 2 labels
    * (and bare/IP-ish hosts) pass through unchanged. Null host → null.
    *
    * ONE anchored suffix-alternation regex, not label arrays: the
    * split/element_at/CASE formulation references the host expression
    * ~6× — fine on a stored column, but when the url is itself a
    * computed expression (as after projection collapse) the
    * duplication compounds until the generated code blows the Janino
    * method limit and the whole stage silently falls back to
    * interpreted eval. Leftmost-match regex semantics pick the
    * longest "label.suffix" tail in Java regex and RE2 alike, so the
    * same pattern replays in the oracle. */
  def registeredDomain(host: Column,
                       multiPartSuffixes: Seq[String] = MultiPartSuffixes): Column =
    coalesce(nullif(regexp_extract(host,
      registeredDomainPattern(multiPartSuffixes), 1), lit("")), host)

  /** `([^.]+\.(?:co\.uk|…)|[^.]+\.[^.]+)$` — the first alternative
    * (label + known multi-part suffix) wins at an earlier start
    * position than the plain two-label tail, which is exactly the
    * eTLD+1 preference order. */
  def registeredDomainPattern(multiPartSuffixes: Seq[String] = MultiPartSuffixes): String =
    "([^.]+\\.(?:" + multiPartSuffixes.map(_.replace(".", "\\.")).mkString("|") +
      ")|[^.]+\\.[^.]+)$"

  /**
   * Canonical URL form for URL-level dedup: the same page arrives
   * under dozens of spellings (tracking params, fragments, default
   * ports, case-shifted hosts, trailing slashes), and deduping raw
   * strings misses all of them. Steps, each a codegen'd RE2
   * `regexp_replace` (order is semantic — fragment first, params
   * before separator cleanup):
   *   1. drop the `#fragment`
   *   2. drop tracking query params (utm_*, fbclid, gclid, msclkid,
   *      mc_eid, igshid, ref/ref_src) wherever they sit
   *   3. clean separator debris that removal leaves (`?&`→`?`,
   *      `&&`→`&`, trailing `?`/`&`)
   *   4. drop default ports (`:80` on http, `:443` on https)
   *   5. lowercase scheme+host (path stays case-sensitive)
   *   6. drop one trailing slash (root included: `https://a.com/`
   *      and `https://a.com` must collide)
   * Heuristic by design: unknown params stay (dropping content params
   * would MERGE different pages — worse than missing a dup).
   *
   * r17: the chain runs as the native `canonicalize_url` expression
   * ([[graft.expr.CanonicalizeUrl]] — patterns compiled once, one
   * linear pass per row). The Column formulation it replaced inlined a
   * copy of the upstream regexp tree at every branch reuse: hundreds
   * of regexp nodes after expansion, which blew janino's 64 KB method
   * limit in composed plans (q_frontier's stage fell back to
   * interpreted eval for the WHOLE stage) and re-matched duplicated
   * subtrees per row. [[canonicalizeUrlColumns]] keeps the retired
   * formulation verbatim as the parity twin `UrlCurationSpec` pins
   * byte-for-byte. Callers must `GraftFunctions.ensure` the session
   * (the repo-wide native-expression convention).
   */
  def canonicalizeUrl(url: Column): Column =
    graft.expr.GraftFunctions.canonicalizeUrl(url)

  /** The retired Column-chain formulation of [[canonicalizeUrl]] —
    * kept ONLY as the parity oracle for the native expression (each
    * step here is what the DuckDB gate oracles replay; the spec
    * asserts native == chain on the adversarial corpus). Do not use in
    * plans: branch reuse expands to hundreds of regexp nodes (see
    * [[canonicalizeUrl]]). */
  private[graft] def canonicalizeUrlColumns(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "[?&](?:utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)=[^&#]*", "")
    val cleaned = regexp_replace(regexp_replace(
      regexp_replace(noTrack, "\\?&", "?"), "&&+", "&"), "[?&]$", "")
    // a leading tracking param takes the '?' with it, orphaning the
    // next param behind '&': promote the first orphaned '&' to '?'.
    // Two guards keep literal path ampersands intact (https://a.com/a&b
    // must NOT become a query — that would merge distinct pages):
    // promotion fires only when a tracking param was actually removed
    // (noTrack != noFrag), and only on the first '&' whose segment
    // looks like a param (lazy prefix + required '='; lazy so
    // "p&a=1&b=2" promotes the FIRST param, "a&b&q=1" skips the
    // literal '&' and promotes at "q=")
    val promoted = regexp_replace(cleaned, "^([^?#]*?)&([^&?#]*=)", "$1?$2")
    // third guard (r16): promotion also requires that NO '?' survived
    // removal — "https://a.com/x&y=1?p=1&utm_a=2" keeps its query head
    // after cleaning, and promoting the PATH's literal '&y=' would
    // corrupt the canonical form (a double-'?' URL) and split the
    // page's tracking-free spelling into a different canonical
    val fixedSep = when(noTrack <=> noFrag || cleaned.contains("?"), cleaned)
      .otherwise(promoted)
    // no lookahead (RE2): capture the tail and restore it
    val noPort = regexp_replace(
      regexp_replace(fixedSep, "(?i)^(https://[^/:?#]+):443([/?#].*)?$", "$1$2"),
      "(?i)^(http://[^/:?#]+):80([/?#].*)?$", "$1$2")
    // lowercase scheme://host only: split at the first path/query char
    val head = regexp_extract(noPort, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val tail = regexp_replace(noPort, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val lowered = concat(lower(head), tail)
    // trailing-slash strip only when no query remains: with a '?', the
    // final char belongs to the LAST QUERY VALUE ("?path=/" and
    // "?path=" are different parameters, not the same page)
    when(lowered.contains("?"), lowered)
      .otherwise(regexp_replace(lowered, "(.)/$", "$1"))
  }

  /** Drop rows whose registered domain is on the blocklist (plus rows
    * with un-parseable hosts when `dropUnparseable`). The blocklist is
    * a compile-time set probed by a codegen'd `isInCollection` hash
    * set — zero shuffle, zero join; blocklists beyond driver size
    * belong in a broadcast anti join instead. */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
                           blockedDomains: Set[String],
                           dropUnparseable: Boolean = false): DataFrame = {
    val dom = registeredDomain(urlHost(col(urlCol)))
    val allowed =
      if (blockedDomains.isEmpty) lit(true)
      else !dom.isInCollection(blockedDomains.toSeq.map(_.toLowerCase))
    if (dropUnparseable) df.where(dom.isNotNull && allowed)
    else df.where(dom.isNull || allowed)
  }

  /**
   * Domain-level quality priors (the RefinedWeb/C4 "site reputation"
   * signal): aggregate a per-document score to its registered domain
   * and annotate every document with its domain's mean score and doc
   * count — a page inherits its site's track record, which catches
   * spam farms whose individual pages pass document-level filters.
   *
   * Scale shape: ONE groupBy on the domain carrying (double sum, long
   * count) — never text; the resulting per-domain table (one row per
   * registered domain — web-scale is tens of millions of rows, far
   * smaller than the corpus) broadcasts back on the domain key.
   * Null-domain docs keep null priors.
   */
  def withDomainPrior(df: DataFrame, urlCol: String, scoreCol: String): DataFrame = {
    val withDom = df.withColumn("_dom", registeredDomain(urlHost(col(urlCol))))
    val priors = withDom.where(col("_dom").isNotNull)
      .groupBy("_dom")
      .agg(avg(col(scoreCol)).as("domain_prior"),
        count(lit(1)).as("domain_docs"))
      .withColumnRenamed("_dom", "_pdom")
    withDom.join(broadcast(priors), col("_dom") === col("_pdom"), "left")
      .drop("_dom", "_pdom")
  }

  /**
   * Cap every registered domain at `maxPerDomain` rows, keeping the
   * `maxPerDomain` rows with the SMALLEST `orderKey` (deterministic —
   * a hash key makes the kept subset an unbiased sample; defaults to
   * a multiplicative hash of `idCol` that is exact-integer-replayable
   * in ANSI SQL, unlike xxhash64).
   *
   * Two-pass minority-shuffle shape (the blockedCandidates lesson):
   *
   *   1. `groupBy(domain).count` — only (domain, long) pairs shuffle —
   *      finds domains OVER the cap. On a real crawl that set is tiny
   *      (it IS the reason the cap exists: a few mega-domains).
   *   2. Rows of under-cap domains pass via a broadcast `isInCollection`
   *      probe of the hot set — ZERO row shuffle for the corpus
   *      majority.
   *   3. Only hot-domain rows rank: per-domain bounded `top_k_rows`
   *      heap (map-side partial, ≤ cap rows per domain per partition
   *      through the one shuffle), kept ids broadcast-semi-joined back.
   *
   * When the over-cap domain count exceeds `maxHotDomains` (a corpus
   * where MOST domains are over cap — cap far below the mean), the
   * broadcast shapes stop being the minority path and the operator
   * falls back to the classic one-window formulation (one full shuffle
   * on domain), which is correct at any hot-set size.
   *
   * Step 1 is the only eager query; the internal `hotDomains` and
   * `capToHotSet` split it from the lazy cap, so curation, which builds
   * the capped frame twice over the same rows, runs it once.
   */
  def capPerDomain(df: DataFrame, urlCol: String, idCol: String,
                   maxPerDomain: Int,
                   orderKey: Option[Column] = None,
                   maxHotDomains: Int = 100000): DataFrame =
    capToHotSet(df, urlCol, idCol, maxPerDomain,
      hotDomains(df, urlCol, maxPerDomain, maxHotDomains), orderKey)

  /** The registered domains of `df` holding more than `maxPerDomain`
    * rows — [[capPerDomain]]'s one eager query — or None when there
    * are more than `maxHotDomains` of them (the window fallback). */
  private[graft] def hotDomains(df: DataFrame, urlCol: String, maxPerDomain: Int,
                                maxHotDomains: Int = 100000): Option[Array[String]] = {
    require(maxPerDomain > 0, s"capPerDomain: cap must be positive, got $maxPerDomain")
    // null-host rows have no domain to cap; they pass through (the
    // blocklist's dropUnparseable is the knob that drops them)
    DriverCollect.collectAtMost(
      df.select(registeredDomain(urlHost(col(urlCol))).as("_dom"))
        .where(col("_dom").isNotNull)
        .groupBy("_dom").agg(count(lit(1)).as("_n"))
        .where(col("_n") > maxPerDomain)
        .select("_dom"),
      maxHotDomains).map(_.map(_.getString(0)))
  }

  /** [[capPerDomain]] against the [[hotDomains]] result of the SAME
    * rows and cap (which also checks the cap): builds the cap with no
    * Spark job. */
  private[graft] def capToHotSet(df: DataFrame, urlCol: String, idCol: String,
                                 maxPerDomain: Int, hot: Option[Array[String]],
                                 orderKey: Option[Column] = None): DataFrame = {
    graft.expr.GraftFunctions.ensure(df.sparkSession)  // top_k_rows
    val dom = registeredDomain(urlHost(col(urlCol)))
    // exact in both engines: ids up to ~3.4e9 stay under Long overflow,
    // and every intermediate is integer arithmetic (no float rounding).
    // Non-numeric id columns (string doc ids) can't take the
    // multiplicative hash — casting would throw under ANSI mode (or
    // yield all-null keys under non-ANSI, making the kept subset
    // nondeterministic): fall back to xxhash64, which is deterministic
    // per id but NOT oracle-replayable (document the caveat when such
    // a cap feeds a DuckDB gate)
    val key = orderKey.getOrElse(df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        // (id·2654435761) mod 2^32 in the one shared overflow-safe
        // spelling — see Sampling.replayableRank32 (r18: three copies
        // of the split arithmetic could desynchronize oracle replays)
        Sampling.replayableRank32(col(idCol)).cast("double")
      case _ => xxhash64(col(idCol)).cast("double")
    })

    val withDom = df.withColumn("_dom", dom)
    hot match {
      case Some(h) if h.isEmpty => withDom.drop("_dom")
      case Some(h) if h.length.toLong * maxPerDomain <= 2000000L =>
        val isHot = col("_dom").isInCollection(h.toSeq)
        val cold = withDom.where(col("_dom").isNull || !isHot)
        // per-domain bounded heap: score = -key so the heap's
        // "highest score first" keeps the SMALLEST keys; ties break on
        // the next struct field (id) ascending — total order
        val keptIds = withDom.where(isHot)
          .select(col("_dom"), struct((-key).as("score"), col(idCol)).as("_scored"))
          .groupBy("_dom")
          .agg(graft.expr.GraftFunctions.topKRows(col("_scored"), maxPerDomain).as("_tk"))
          .select(explode(col("_tk")).as("_e"))
          .select(col("_e").getField(idCol).as("_kid"))
        val keptHot = withDom.where(isHot)
          .join(broadcast(keptIds), col(idCol) === col("_kid"), "left_semi")
        cold.unionByName(keptHot).drop("_dom")
      case _ =>
        // too many hot domains, or a kept-id set (hot domains × cap)
        // past ~2M ids, which would no longer broadcast: one window
        // over every domain — full shuffle, no driver state;
        // deterministic rank on (key, id). Null-domain rows are kept
        // UNCONDITIONALLY, so they bypass the window entirely —
        // partitionBy would otherwise funnel every malformed URL of a
        // raw crawl into ONE reducer just to rank rows the filter keeps
        // anyway.
        val w = Window.partitionBy("_dom").orderBy(key.asc, col(idCol).asc)
        val nullDom = withDom.where(col("_dom").isNull).drop("_dom")
        val capped = withDom.where(col("_dom").isNotNull)
          .withColumn("_rk", row_number().over(w))
          .where(col("_rk") <= maxPerDomain)
          .drop("_dom", "_rk")
        nullDom.unionByName(capped)
    }
  }
}
