package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Rounds, Tables}

/** URL/domain-level curation — the FIRST screen real web-corpus
  * pipelines run (C4 §2.2 badwords/host filtering, RefinedWeb §3.1
  * URL filtering + dedup by canonical URL), before any content-level
  * dedup or quality pass: canonicalize the fetch URL, screen hosts
  * against a blocklist, keep one document per canonical URL, and
  * aggregate a per-host profile for domain-level policy decisions.
  *
  * The synthetic corpus carries no URLs, so the gate PLANTS
  * deterministic doc_id-derived URLs (the text_pii plant precedent)
  * with the real-world mess the canonicalizer must survive: scheme
  * variation, www/WWW prefixes, mixed host case, default ports,
  * trailing slashes, tracking params in shuffled positions, fragments
  * — constructed so canonical groups of 3–4 variants exist at gate
  * scale and query-param differences do NOT merge.
  *
  * Canonicalization (each rule anchored so DuckDB's first-match
  * regexp_replace ≡ Spark's replace-all): lowercase host, strip
  * `www.`, drop default port, drop fragment, strip trailing slashes,
  * drop `utm_*` tracking params, sort surviving params. The canonical
  * key deliberately drops the scheme — an http/https pair of the same
  * resource is one document.
  *
  * Scale shape: parsing + canonicalization are wholly row-local
  * projections off the scan; the URL dedup is ONE canon-keyed window
  * (the same min-per-group shape dedup_exact uses — at 100 TB the
  * canon key hash-partitions and nothing is ever all-pairs); the host
  * profile is one host-keyed aggregation. The blocklist is a literal
  * (broadcast-sized at any corpus: host blocklists are KBs–MBs).
  */
object Urls {

  /** Deterministic URL plant — ONE expression string that parses
    * identically in Spark SQL and DuckDB (no integer division, so no
    * div/`//` dialect split). Canonical identity = (doc_id % 20 host,
    * doc_id % 7 page, ref param when present): group members differ by
    * 140 in doc_id, so scheme/www/case/port/slash/fragment vary within
    * a group while ref-param docs stay distinct.
    */
  val urlPlant: String =
    "concat(" +
      "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'WWW.' WHEN doc_id % 3 = 1 THEN 'www.' ELSE '' END, " +
      "CASE WHEN doc_id % 4 = 0 THEN 'Site' ELSE 'site' END, CAST(doc_id % 20 AS STRING), '.example.com', " +
      "CASE WHEN doc_id % 10 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END, " +
      "'/articles/', CAST(doc_id % 7 AS STRING), " +
      "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, " +
      "CASE WHEN doc_id % 6 = 0 THEN concat('?utm_source=feed&ref=', CAST(doc_id % 3 AS STRING)) " +
      "WHEN doc_id % 6 = 3 THEN concat('?ref=', CAST(doc_id % 3 AS STRING), '&utm_campaign=x') ELSE '' END, " +
      "CASE WHEN doc_id % 9 = 0 THEN '#sec2' ELSE '' END)"

  /** Host blocklist (the C4-style badlist); literal-sized at any
    * corpus scale.
    */
  val blockedHosts: Seq[String] = Seq("site7.example.com", "site13.example.com")

  /** Canonicalization as Spark Columns over a `url` column. Only the
    * scheme's DEFAULT port is stripped (`:80` for http, `:443` for
    * https) — `host:8080` stays distinct from `host`; the query is
    * extracted from the PRE-fragment substring, so a `?` occurring
    * after `#` is fragment content and is dropped with the fragment.
    */
  private def hostCol(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val rest = regexp_replace(u, "^[A-Za-z]+://", "")
    val hostport = regexp_extract(rest, "^[^/?#]+", 0)
    val hostPort = when(scheme === "http", regexp_replace(lower(hostport), ":80$", ""))
      .when(scheme === "https", regexp_replace(lower(hostport), ":443$", ""))
      .otherwise(lower(hostport))
    regexp_replace(hostPort, "^www[.]", "")
  }

  /** The canonical key of a url Column — [[parsed]]'s chain as a
    * row-local column function, reusable wherever a SECOND url column
    * must canonicalize in the same frame (redirect Location targets).
    */
  def canonCol(u: Column): Column = {
    val rest = regexp_replace(u, "^[A-Za-z]+://", "")
    val hostport = regexp_extract(rest, "^[^/?#]+", 0)
    val pathqf = substring(rest, length(hostport) + 1, lit(1 << 20))
    val prefrag = regexp_extract(pathqf, "^[^#]*", 0)
    val path = regexp_replace(regexp_extract(prefrag, "^[^?]*", 0), "/+$", "")
    val query = regexp_extract(prefrag, "[?](.*)", 1)
    val params = array_join(
      array_sort(
        filter(split(query, "&"), p => p =!= "" && substring(p, 1, 4) =!= "utm_")
      ),
      "&"
    )
    concat(hostCol(u), path, when(params =!= "", concat(lit("?"), params)).otherwise(lit("")))
  }

  private def parsed(df: DataFrame): DataFrame = {
    val host = hostCol(col("url"))
    df.withColumn("host", host)
      .withColumn("canon", canonCol(col("url")))
      .withColumn("blocked", host.isin(blockedHosts: _*))
  }

  private def withKeep(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))
    val survivorMin = min(when(!col("blocked"), col("doc_id"))).over(w)
    df.withColumn("keep", !col("blocked") && col("doc_id") === survivorMin)
  }

  /** Row-local canonicalization of an arbitrary frame carrying a
    * `url` column — the [[parsed]] chain exposed for ingest pipelines
    * (and the canonicalizer-semantics spec): adds `host`, `canon`,
    * `blocked`.
    */
  def canonicalize(df: DataFrame): DataFrame = parsed(df)

  /** Per-doc URL curation verdict: (doc_id, host, canon, blocked, keep). */
  def curateUrl(docs: DataFrame): DataFrame =
    withKeep(parsed(docs.select(col("doc_id"), expr(urlPlant).as("url"))))
      .select(col("doc_id"), col("host"), col("canon"), col("blocked"), col("keep"))

  /** SURT (Sort-friendly URI Reordering Transform) key — the URL form
    * every CDX index and wayback-style lookup sorts on (Common Crawl's
    * `cdx-*.gz` urlkey field): host labels REVERSED and comma-joined
    * (`com,example,site3`), a `)` separator, then the canonical
    * path+query. Reversal puts a domain's entire subtree under one
    * lexicographic prefix, so "every capture under *.example.com" is a
    * RANGE SCAN — the property that makes a 100 TB crawl's index
    * sorted-mergeable and prefix-shardable. Row-local (split + reverse
    * + join); `rest` is the canonical path (+ `?params`) with the
    * leading host already removed.
    */
  def surtCol(host: Column, rest: Column): Column =
    concat(array_join(reverse(split(host, "[.]")), ","), lit(")"), rest)

  /** Gate shape: doc_id, host, surt over the adversarial [[urlPlant]]
    * corpus (scheme/case/www/port/slash/fragment/utm variants) — the
    * canonicalizer feeds the SURT, so group members collapse to ONE
    * key and the key is range-scannable by domain.
    */
  def urlSurt(docs: DataFrame): DataFrame =
    parsed(docs.select(col("doc_id"), expr(urlPlant).as("url")))
      .select(
        col("doc_id"),
        col("host"),
        surtCol(col("host"), expr("substr(canon, length(host) + 1)")).as("surt")
      )

  val urlSurtSql: String =
    s"$parseCtes SELECT doc_id, host, " +
      "array_to_string(list_reverse(string_split(host, '.')), ',') || ')' || " +
      "substr(canon, length(host) + 1) AS surt FROM k"

  /** robots.txt politeness rules — the screen a crawler applies BEFORE
    * a URL ever reaches fetch (RFC 9309): per host, `Allow` /
    * `Disallow` path prefixes; the MOST SPECIFIC (longest) matching
    * rule governs, an `allow` wins a length tie, and a URL with no
    * matching rule is allowed. Deterministic plant over the 20 hosts:
    * hosts ≡0 (mod 3) disallow `/articles` wholesale but carve back
    * `/articles/5` (longer allow overrides) and carry an exact-tie
    * pair on `/articles/2` (allow wins the tie); hosts ≡1 disallow
    * only `/articles/3`; hosts ≡2 publish no rules. With urlPlant's
    * path ≡ doc_id (mod 7), every arm is populated at every sf.
    */
  val robotsRules: Seq[(String, String, String)] = (0 until 20).flatMap { n =>
    val h = s"site$n.example.com"
    n % 3 match {
      case 0 =>
        Seq(
          (h, "disallow", "/articles"),
          (h, "allow", "/articles/5"),
          (h, "allow", "/articles/2"),
          (h, "disallow", "/articles/2")
        )
      case 1 => Seq((h, "disallow", "/articles/3"))
      case _ => Seq.empty
    }
  }

  /** Per-doc robots verdict: (doc_id, host, path, allowed, rule_dir,
    * rule_prefix). Scale shape: the rule table is a BROADCAST literal
    * dim (a real robots corpus is ~KBs per host — still broadcast
    * class), the match is an equi-join on host with a row-local
    * prefix filter, and the longest-match argmax is ONE map-side
    * aggregation over ≤rules-per-host rows per doc — no window, no
    * shuffle beyond the doc_id groupBy. The tie-break rides the
    * struct order (prefix length, then allow-beats-disallow); equal
    * lengths force equal prefixes, so the order is total.
    */
  /** The longest-match screen over an arbitrary (r_host, directive,
    * prefix) rule frame — shared by the literal-rule gate and the
    * robots.txt PARSER gate.
    */
  private def robotsMatch(u: DataFrame, rules: DataFrame): DataFrame =
    u.join(
      broadcast(rules),
      col("host") === col("r_host") && col("path").startsWith(col("prefix")),
      "left"
    ).groupBy(col("doc_id"), col("host"), col("path"))
      .agg(
        max(
          when(
            col("prefix").isNotNull,
            struct(
              length(col("prefix")).as("l"),
              when(col("directive") === "allow", 1).otherwise(0).as("a"),
              col("prefix").as("p")
            )
          )
        ).as("best")
      )
      .select(
        col("doc_id"),
        col("host"),
        col("path"),
        coalesce(col("best.a") === 1, lit(true)).as("allowed"),
        when(col("best.a").isNull, lit(""))
          .when(col("best.a") === 1, lit("allow"))
          .otherwise(lit("disallow"))
          .as("rule_dir"),
        coalesce(col("best.p"), lit("")).as("rule_prefix")
      )

  /** (doc_id, host, path) off the planted-URL canonicalizer — the
    * frame both robots gates screen.
    */
  private def urlPathFrame(docs: DataFrame): DataFrame =
    parsed(docs.select(col("doc_id"), expr(urlPlant).as("url")))
      .select(
        col("doc_id"),
        col("host"),
        regexp_extract(expr("substr(canon, length(host) + 1)"), "^[^?]*", 0).as("path")
      )

  def crawlRobots(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    robotsMatch(urlPathFrame(docs), robotsRules.toDF("r_host", "directive", "prefix"))
  }

  /** Per-host robots.txt DOCUMENT plant — the same policy as
    * [[robotsRules]], rendered as the text a fetcher would retrieve
    * (comment, User-agent group, Allow/Disallow lines, Crawl-delay);
    * one dual-dialect expression over a host-number column `hn`
    * (newlines via chr(10) — identical in both engines).
    */
  val robotsTxtPlant: String =
    "concat('# robots.txt for site', CAST(hn AS STRING), chr(10), " +
      "'User-agent: *', chr(10), " +
      "CASE WHEN hn % 3 = 0 THEN concat('Disallow: /articles', chr(10), " +
      "'Allow: /articles/5', chr(10), 'Allow: /articles/2', chr(10), " +
      "'Disallow: /articles/2', chr(10), 'Crawl-delay: 2', chr(10)) " +
      "WHEN hn % 3 = 1 THEN concat('Disallow: /articles/3', chr(10)) " +
      "ELSE concat('# no rules for this host', chr(10)) END, " +
      // r16: half the hosts DECLARE their sitemap (the RFC 9309 §2.3 /
      // sitemaps.org discovery convention); the rule/delay parsers must
      // ignore the unknown directive (gate hashes unchanged), and
      // robotsSitemaps extracts it to seed sitemap fetches
      "CASE WHEN hn % 2 = 0 THEN concat('Sitemap: https://site', CAST(hn AS STRING), " +
      "'.example.com/sitemap.xml', chr(10)) ELSE '' END)"

  /** robots.txt PARSING + screening — fetch→parse→screen closed end
    * to end: the per-host robots DOCUMENTS are split into lines
    * (simple string ops, no regex-dialect surface), Allow/Disallow
    * lines become the rule table, Crawl-delay is pulled per host
    * (default 1 s), and the SAME longest-match screen runs over the
    * parsed rules. Scale shape: parsing is row-local over a
    * hosts-sized frame (robots corpora are KBs per host — broadcast
    * class at any crawl size); spec pins parsed ≡ literal-rule
    * verdicts on every doc.
    */
  def crawlRobotsParsed(docs: DataFrame): DataFrame = {
    val hosts = docs
      .select(expr("doc_id % 20").as("hn"))
      .distinct()
      .select(
        concat(lit("site"), col("hn").cast("string"), lit(".example.com")).as("r_host"),
        expr(robotsTxtPlant).as("txt")
      )
      .localCheckpoint() // feeds the rule lines AND the delay scan
    val lines = hosts.select(col("r_host"), explode(split(col("txt"), "\n")).as("line"))
    val rules = lines
      .filter(col("line").startsWith("Allow: ") || col("line").startsWith("Disallow: "))
      .select(
        col("r_host"),
        lower(element_at(split(col("line"), ": "), 1)).as("directive"),
        element_at(split(col("line"), ": "), 2).as("prefix")
      )
    val delays = hosts.select(
      col("r_host").as("host"),
      coalesce(
        expr("CAST(nullif(regexp_extract(txt, 'Crawl-delay: ([0-9]+)', 1), '') AS BIGINT)"),
        lit(1L)
      ).as("crawl_delay_s")
    )
    robotsMatch(urlPathFrame(docs), rules)
      .join(broadcast(delays), Seq("host"))
      .select(
        col("doc_id"),
        col("host"),
        col("path"),
        col("allowed"),
        col("rule_dir"),
        col("rule_prefix"),
        col("crawl_delay_s")
      )
  }

  val crawlRobotsParsedSql: String =
    s"$parseCtes, pp AS (SELECT doc_id, host, " +
      "regexp_extract(substr(canon, length(host) + 1), '^[^?]*', 0) AS path FROM k), " +
      "hn AS (SELECT DISTINCT doc_id % 20 AS hn FROM documents), " +
      "rt AS MATERIALIZED (SELECT concat('site', CAST(hn AS STRING), '.example.com') AS r_host, " +
      s"$robotsTxtPlant AS txt FROM hn), " +
      "ln AS (SELECT r_host, unnest(string_split(txt, chr(10))) AS line FROM rt), " +
      "rules AS (SELECT r_host, lower(string_split(line, ': ')[1]) AS directive, " +
      "string_split(line, ': ')[2] AS prefix FROM ln " +
      "WHERE starts_with(line, 'Allow: ') OR starts_with(line, 'Disallow: ')), " +
      "dl AS (SELECT r_host AS host, coalesce(CAST(nullif(regexp_extract(txt, 'Crawl-delay: ([0-9]+)', 1), '') AS BIGINT), 1) AS crawl_delay_s FROM rt), " +
      "m AS (SELECT pp.doc_id, pp.host, pp.path, r.directive, r.prefix, " +
      "row_number() OVER (PARTITION BY pp.doc_id ORDER BY " +
      "CASE WHEN r.prefix IS NULL THEN -1 ELSE length(r.prefix) END DESC, " +
      "CASE WHEN r.directive = 'allow' THEN 1 ELSE 0 END DESC) AS rn " +
      "FROM pp LEFT JOIN rules r ON r.r_host = pp.host AND starts_with(pp.path, r.prefix)) " +
      "SELECT m.doc_id, m.host, m.path, " +
      "CASE WHEN m.prefix IS NULL THEN TRUE ELSE m.directive = 'allow' END AS allowed, " +
      "coalesce(m.directive, '') AS rule_dir, coalesce(m.prefix, '') AS rule_prefix, " +
      "dl.crawl_delay_s FROM m JOIN dl ON dl.host = m.host WHERE m.rn = 1"

  val crawlRobotsSql: String = {
    val vals = robotsRules
      .map { case (h, d, p) => s"('$h', '$d', '$p')" }
      .mkString(", ")
    s"$parseCtes, pp AS (SELECT doc_id, host, " +
      "regexp_extract(substr(canon, length(host) + 1), '^[^?]*', 0) AS path FROM k), " +
      s"rules(r_host, directive, prefix) AS (VALUES $vals), " +
      "m AS (SELECT pp.doc_id, pp.host, pp.path, r.directive, r.prefix, " +
      "row_number() OVER (PARTITION BY pp.doc_id ORDER BY " +
      "CASE WHEN r.prefix IS NULL THEN -1 ELSE length(r.prefix) END DESC, " +
      "CASE WHEN r.directive = 'allow' THEN 1 ELSE 0 END DESC) AS rn " +
      "FROM pp LEFT JOIN rules r ON r.r_host = pp.host AND starts_with(pp.path, r.prefix)) " +
      "SELECT doc_id, host, path, " +
      "CASE WHEN prefix IS NULL THEN TRUE ELSE directive = 'allow' END AS allowed, " +
      "coalesce(directive, '') AS rule_dir, coalesce(prefix, '') AS rule_prefix " +
      "FROM m WHERE rn = 1"
  }

  /** Frontier SCHEDULING — the politeness stage after the robots
    * screen: each host serves fetches one at a time with a per-host
    * crawl delay (the robots Crawl-delay convention), so a frontier
    * batch maps to (host, slot) with fetch_at = slot · delay. Only
    * robots-ALLOWED URLs are scheduled (the two screens compose).
    * Deterministic delay plant: 500 · (1 + host# mod 3) ms — three
    * politeness classes. Scale shape: slot assignment is ONE window
    * per host key (the natural frontier partitioning — a 100 TB
    * crawl's frontier shards by host anyway, and per-host sequencing
    * is inherently ordered); everything else is row-local.
    */
  def crawlSchedule(docs: DataFrame): DataFrame = {
    val allowed = crawlRobots(docs).filter(col("allowed"))
    val delayMs =
      expr("500 * (1 + CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("doc_id"))
    allowed
      .withColumn("slot", row_number().over(w).cast("long"))
      .select(
        col("doc_id"),
        col("host"),
        col("path"),
        col("slot"),
        ((col("slot") - 1) * delayMs).as("fetch_at_ms")
      )
  }

  /** The robots oracle rides as a subquery (allowed rows only), then
    * the per-host politeness window replays slot · delay exactly.
    */
  val crawlScheduleSql: String =
    "WITH rb AS (SELECT doc_id, host, path, allowed FROM (" + crawlRobotsSql + ") t), " +
      "al AS (SELECT doc_id, host, path FROM rb WHERE allowed), " +
      "sl AS (SELECT doc_id, host, path, " +
      "CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS BIGINT) AS slot FROM al) " +
      "SELECT doc_id, host, path, slot, " +
      "(slot - 1) * (500 * (1 + CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3)) AS fetch_at_ms " +
      "FROM sl"

  /** Row-local robots decision as ONE generated expression — the
    * streaming-safe twin of [[crawlRobots]]' join+aggregate (a stream
    * can't run an unwatermarked per-doc aggregation, and the rule
    * table is a LITERAL, so the longest-match argmax folds into a
    * `greatest` over per-rule conditional structs at plan time).
    * Null = no rule matched (allowed).
    */
  private[llm] def robotsBestCol(host: Column, path: Column): Column =
    greatest(robotsRules.map { case (h, d, p) =>
      when(
        host === h && path.startsWith(p),
        struct(
          lit(p.length).as("l"),
          lit(if (d == "allow") 1 else 0).as("a"),
          lit(p).as("p")
        )
      )
    }: _*)

  /** STREAMING frontier scheduling — the ingest twin of
    * [[crawlSchedule]]: URL candidates arrive in micro-batches, the
    * robots screen runs row-local on the stream (the literal-rule
    * `greatest` fold — no aggregation state), and per-host slot
    * counters persist in `flatMapGroupsWithState` (state = ONE long
    * per host: the next free slot), so politeness sequencing holds
    * ACROSS batches — a host's rate limit doesn't reset because a new
    * batch arrived. Rows sort by doc_id inside each (batch, host)
    * group, so a doc_id-ordered arrival stream reproduces the batch
    * scheduler exactly (spec-pinned).
    */
  def scheduleStream(in: DataFrame): DataFrame =
    scheduleStreamUrls(in.select(col("doc_id"), expr(urlPlant).as("url")))

  /** [[scheduleStream]] over REAL (doc_id, url) rows — the composable
    * form the discovery chain's dedup leg feeds (r16): canonical URLs
    * coming off the persisted frontier store stream straight into the
    * robots screen + per-host politeness slots; the plant-bound
    * [[scheduleStream]] delegates here.
    */
  def scheduleStreamUrls(in: DataFrame): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val u = parsed(in.select(col("doc_id"), col("url")))
      .select(
        col("doc_id"),
        col("host"),
        regexp_extract(expr("substr(canon, length(host) + 1)"), "^[^?]*", 0).as("path")
      )
    val best = robotsBestCol(col("host"), col("path"))
    u.withColumn("best", best)
      .filter(col("best").isNull || col("best.a") === 1)
      .select(col("doc_id"), col("host"), col("path"))
      .as[(Long, String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, String, Long, Long)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (host: String, rows: Iterator[(Long, String, String)], state: GroupState[Long]) =>
        val start = state.getOption.getOrElse(0L)
        val sorted = rows.toArray.sortBy(_._1)
        val delay = 500L * (1 + host.drop(4).takeWhile(_.isDigit).toLong % 3)
        val out = sorted.zipWithIndex.map { case ((id, h, path), i) =>
          (id, h, path, start + i + 1, (start + i) * delay)
        }
        state.update(start + sorted.length)
        out.iterator
      }
      .toDF("doc_id", "host", "path", "slot", "fetch_at_ms")
  }

  /** Per-host profile: the domain-level policy table. */
  def urlHosts(docs: DataFrame): DataFrame =
    withKeep(parsed(docs.select(col("doc_id"), expr(urlPlant).as("url"))))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("canon")).as("n_canon"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        max(col("blocked")).as("blocked")
      )

  /** Shared DuckDB parse chain ending in CTE `k` =
    * (doc_id, host, canon, blocked, keep).
    */
  private[llm] def parseCtes: String = {
    val blist = blockedHosts.map(h => s"'$h'").mkString(", ")
    s"WITH u AS (SELECT doc_id, $urlPlant AS url FROM documents), " +
      "p1 AS (SELECT doc_id, lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme, " +
      "regexp_replace(url, '^[A-Za-z]+://', '') AS rest FROM u), " +
      "p2 AS (SELECT doc_id, scheme, rest, regexp_extract(rest, '^[^/?#]+', 0) AS hostport FROM p1), " +
      "p3 AS (SELECT doc_id, " +
      "regexp_replace(CASE WHEN scheme = 'http' THEN regexp_replace(lower(hostport), ':80$', '') " +
      "WHEN scheme = 'https' THEN regexp_replace(lower(hostport), ':443$', '') " +
      "ELSE lower(hostport) END, '^www[.]', '') AS host, " +
      "substr(rest, length(hostport) + 1) AS pathqf FROM p2), " +
      "p3f AS (SELECT doc_id, host, regexp_extract(pathqf, '^[^#]*', 0) AS prefrag FROM p3), " +
      "p4 AS (SELECT doc_id, host, " +
      "regexp_replace(regexp_extract(prefrag, '^[^?]*', 0), '/+$', '') AS path, " +
      "regexp_extract(prefrag, '[?](.*)', 1) AS query FROM p3f), " +
      "p5 AS (SELECT doc_id, host, path, " +
      "coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'), " +
      "p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&'), '') AS params FROM p4), " +
      "c AS (SELECT doc_id, host, " +
      "host || path || (CASE WHEN params <> '' THEN '?' || params ELSE '' END) AS canon, " +
      s"host IN ($blist) AS blocked FROM p5), " +
      "k AS (SELECT doc_id, host, canon, blocked, " +
      "(NOT blocked) AND doc_id = min(CASE WHEN blocked THEN NULL ELSE doc_id END) " +
      "OVER (PARTITION BY canon) AS keep FROM c)"
  }

  val curateUrlSql: String =
    s"$parseCtes SELECT doc_id, host, canon, blocked, keep FROM k"

  /** RefinedWeb-order curation FUNNEL (§3 of the RefinedWeb paper:
    * URL filtering → deduplication → content filtering, each stage
    * consuming the previous stage's survivors): per host, the doc
    * counts surviving each stage — n_docs → (blocked out) → n_url_kept
    * (canonical-URL dedup) → n_quality (content score ≥ minQuality) →
    * n_final (exact-content keeper among the survivors). The funnel
    * table is what a domain-policy review actually reads ("how much of
    * host X dies at each stage, and why").
    *
    * Plan shape: URL parse/canon and the quality score are row-local
    * projections off ONE documents scan; stage membership needs the
    * canon-keyed min window (URL dedup) and ONE md5(text)-keyed min
    * window computed over survivor-conditional doc_ids (`min(CASE WHEN
    * survivor THEN doc_id END)` — the exact-dedup keeper among
    * survivors WITHOUT a second pass or self-join); the rollup is one
    * host-keyed aggregation. Nothing is ever pairwise; both window
    * keys hash-partition at any corpus size.
    */
  /** Deterministic content plant so BOTH downstream stages are
    * non-vacuous at gate scale (the synthetic corpus has no exact
    * dups and no sub-threshold quality): doc_id % 13 = 5 docs become
    * one of three shared "mirror" passages (exact-dup groups whose
    * members PASS the quality screen — the n_final stage must bite on
    * quality survivors), and doc_id % 11 = 0 docs get 60 SHORT
    * punctuation tokens appended — dragging mean word length toward 3
    * AND the punct ratio up ~0.23 (a single long junk token would
    * RAISE mean word length and cancel its own penalty). One
    * expression string, parses identically in Spark SQL and DuckDB.
    */
  val webPlant: String =
    "CASE WHEN doc_id % 13 = 5 THEN concat('the shared mirror passage variant ', " +
      "CAST(doc_id % 3 AS STRING), " +
      "' carrying enough plain words to pass every content screen cleanly') " +
      "WHEN doc_id % 11 = 0 THEN concat(text, ' ', repeat('#! ', 60)) ELSE text END"

  def curateWeb(docs: DataFrame, minQuality: Double = 0.45): DataFrame = {
    val planted = docs.select(col("doc_id"), expr(webPlant).as("text"))
    val u = withKeep(parsed(planted.select(col("doc_id"), col("text"), expr(urlPlant).as("url"))))
    val q = u.withColumn("quality", Curation.qualityScore)
    val surv = col("keep") && col("quality") >= lit(minQuality)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    q.withColumn("keep_id", min(when(surv, col("doc_id"))).over(w))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_url_kept"),
        sum(when(surv, 1L).otherwise(0L)).as("n_quality"),
        sum(when(surv && col("doc_id") === col("keep_id"), 1L).otherwise(0L)).as("n_final")
      )
  }

  def curateWebSql(minQuality: Double = 0.45): String =
    s"$parseCtes, " +
      s"aug AS (SELECT doc_id, $webPlant AS text FROM documents), " +
      "q0 AS (SELECT k.doc_id AS doc_id, host, blocked, keep, d.text AS text, " +
      "CAST(length(d.text) AS DOUBLE) AS n_chars, " +
      "CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS n_tok, " +
      "CAST(length(regexp_replace(d.text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
      "CAST(length(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct " +
      "FROM k JOIN aug d USING (doc_id)), " +
      s"q1 AS (SELECT doc_id, host, blocked, keep, text, " +
      s"(keep AND ${Curation.qualitySql} >= ${Dsp.lit(minQuality)}) AS surv FROM q0), " +
      "f AS (SELECT host, blocked, keep, surv, doc_id, " +
      "min(CASE WHEN surv THEN doc_id END) OVER (PARTITION BY md5(text)) AS keep_id FROM q1) " +
      "SELECT host, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked, " +
      "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_url_kept, " +
      "CAST(sum(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT) AS n_quality, " +
      "CAST(sum(CASE WHEN surv AND doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_final " +
      "FROM f GROUP BY host"

  val urlHostsSql: String =
    s"$parseCtes SELECT host, count(*) AS n_docs, count(DISTINCT canon) AS n_canon, " +
      "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, max(blocked) AS blocked " +
      "FROM k GROUP BY host"

  /** Streaming canonical-URL dedup — the INGEST-time twin of
    * [[curateUrl]]'s keeper window, for the crawl-frontier shape where
    * URLs arrive continuously: each (doc_id, url, ts) canonicalizes
    * row-local (the same [[parsed]] chain), the blocklist screens
    * map-side, and `dropDuplicatesWithinWatermark("canon")` keeps only
    * the FIRST arrival of each canonical URL inside the watermark
    * horizon. State is one row per distinct canon within the horizon —
    * EVICTED as the watermark passes, so it is bounded by
    * arrival-rate × horizon, never corpus-sized (the state-eviction
    * guarantee the spec asserts via numRowsRemoved).
    *
    * Keeper-rule caveat, by design: batch [[curateUrl]] keeps the MIN
    * doc_id of a canonical group; the stream keeps the first ARRIVAL.
    * They agree exactly when arrival order is doc_id order (the spec's
    * batch-twin check); a production frontier also re-screens against
    * the persisted URL store for arrivals beyond the horizon
    * (dedup_incremental precedent).
    */
  def urlDedupStream(in: DataFrame, delay: String = "30 minutes"): DataFrame =
    parsed(in)
      .filter(!col("blocked"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("canon")
      .select(col("doc_id"), col("host"), col("canon"), col("ts"))

  /** Seed the persisted canonical-URL store from a batch frontier
    * slice: canonicalize, screen the blocklist, keep the first
    * (ts, doc_id) arrival per canon — one keyed window, the
    * [[curateUrl]] keeper shape. Store schema: (doc_id, host, canon,
    * ts), hash-partitioned by the parquet writer on canon cardinality.
    */
  def seedUrlStore(in: DataFrame, store: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon"))
      .orderBy(col("ts").asc, col("doc_id").asc)
    parsed(in)
      .filter(!col("blocked"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("host"), col("canon"), col("ts"))
      .write
      .mode("overwrite")
      .parquet(store)
    ()
  }

  /** PRODUCTION frontier ingest — the composition [[urlDedupStream]]'s
    * scaladoc promises: the watermark dedup absorbs the in-horizon
    * torrent with bounded state, and each micro-batch's survivors are
    * RE-SCREENED against the persisted store (left ANTI on canon) so a
    * canonical URL beyond the horizon — whose streaming state was
    * evicted — is still suppressed; fresh canons append to the store
    * (the dedup_incremental store-append cadence). Net guarantee: a
    * canonical URL is emitted at most once EVER, while streaming state
    * stays bounded by arrival-rate × horizon. The store read re-plans
    * per batch (stream-static semantics), so same-run appends are
    * visible to later batches; the anti-join is canon-keyed — at crawl
    * scale the store side bucket-partitions and nothing is all-pairs.
    * Seed the store (e.g. [[seedUrlStore]]) before starting.
    * `onBatch` observes each batch's post-screen survivors (spec hook
    * / metrics tap).
    */
  def urlDedupIngest(
      in: DataFrame,
      store: String,
      delay: String = "30 minutes",
      onBatch: DataFrame => Unit = _ => (),
      bloomItems: Long = 0L
  ): org.apache.spark.sql.streaming.StreamingQuery =
    urlDedupStream(in, delay).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val prior = spark.read.parquet(store).select(col("canon"))
        // Optional bloom pre-screen (bloomItems = expected store
        // cardinality, 0 disables): at crawl scale the store side of
        // the anti-join is the expensive read — a bloom built from the
        // store turns the batch side into (a) rows the filter clears
        // outright (definitely fresh — a bloom has NO false negatives,
        // so skipping the join for them is exact) and (b) possible-hit
        // rows, which alone pay the keyed anti-join that resolves the
        // false positives. Spark's native bloom_filter_agg /
        // might_contain expressions (the runtime-filter machinery) keep
        // it codegen-side; the filter itself is fpp-sized, not
        // store-sized. Production refreshes the bloom per batch here —
        // a real frontier would snapshot it on a slower cadence.
        val fresh = (if (bloomItems > 0L) {
                       // bloom_filter_agg / might_contain are not in the
                       // public FunctionRegistry — construct the same
                       // catalyst expressions the runtime-filter rewrite
                       // uses, via the Bridge
                       import org.apache.spark.sql.graftbridge.Bridge
                       import org.apache.spark.sql.catalyst.expressions.Literal
                       val bfAgg = Bridge.column(
                         new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
                           Bridge.expression(xxhash64(col("canon"))),
                           Literal(bloomItems),
                           Literal(8L * bloomItems)
                         ).toAggregateExpression()
                       )
                       val bf = prior.agg(bfAgg).head().getAs[Array[Byte]](0)
                       if (bf == null) {
                         // zero-row store: the agg yields NULL, and
                         // might_contain(NULL, …) is NULL — both union
                         // branches would drop every row. The plain
                         // anti-join is exact (and trivially cheap) here.
                         batch.join(prior, Seq("canon"), "left_anti")
                       } else {
                         val hit = Bridge.column(
                           org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
                             Bridge.expression(lit(bf)),
                             Bridge.expression(xxhash64(col("canon")))
                           )
                         )
                         val b = batch.localCheckpoint() // referenced by BOTH union branches (fan-out rule)
                         val definitelyFresh = b.filter(!hit)
                         val possible = b.filter(hit).join(prior, Seq("canon"), "left_anti")
                         definitelyFresh.unionByName(possible)
                       }
                     } else {
                       batch.join(prior, Seq("canon"), "left_anti")
                     }).localCheckpoint()
        fresh
          .select(col("doc_id"), col("host"), col("canon"), col("ts"))
          .write
          .mode("append")
          .parquet(store)
        onBatch(fresh)
        ()
      }
      .start()

  /** Seed the persisted fetch-log store [[redirectIngest]] reads:
    * (url, location, canon), one row per canonical identity
    * (first-fetch-wins — HTTP fetch-log semantics; min url as the
    * deterministic tie-break).
    */
  def seedFetchStore(fetched: DataFrame, store: String): Unit = {
    fetched
      .withColumn("canon", canonCol(col("url")))
      .groupBy(col("canon"))
      .agg(min(struct(col("url"), col("location"))).as("st"))
      .select(col("st.url").as("url"), col("st.location").as("location"), col("canon"))
      .write
      .mode("overwrite")
      .parquet(store)
    ()
  }

  /** STREAMING redirect resolution — the discovery loop's missing
    * fetch-side seam (r17 §8o candidate (a)): fetch results arrive in
    * micro-batches and chains complete ACROSS batches, because a
    * redirect's target is routinely fetched LATER than the redirect
    * itself. Each batch's first-seen canonical identities append to
    * the persisted fetch-log store (canon-keyed anti-join — the
    * urlDedupIngest at-most-once cadence: a refetch never rewrites a
    * stored verdict), then the WHOLE store re-resolves through the
    * batch [[resolveRedirects]] and `onBatch` observes the full
    * current verdict frame — so a URL that resolved `dangling` while
    * its target was unfetched flips to `ok` (with the full hop count)
    * the moment the chain's tail lands, and a cycle closing across
    * batches flips its members to `loop`.
    *
    * Scale shape: the store holds (url, location, canon) INDEX rows —
    * never payloads — and the re-resolve is [[resolveRedirects]]'s 4
    * doubling joins over it; production runs this on the recrawl-cycle
    * cadence (the frontier refresh), not necessarily every micro-batch,
    * and the store side bucket-partitions by canon.
    */
  def redirectIngest(
      in: DataFrame,
      store: String,
      onBatch: DataFrame => Unit = _ => ()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    in.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val prior = spark.read.parquet(store)
        val fresh = batch
          .withColumn("canon", canonCol(col("url")))
          .groupBy(col("canon"))
          .agg(min(struct(col("url"), col("location"))).as("st"))
          .select(col("st.url").as("url"), col("st.location").as("location"), col("canon"))
          .join(prior.select(col("canon")), Seq("canon"), "left_anti")
          .localCheckpoint()
        fresh.select(col("url"), col("location"), col("canon")).write.mode("append").parquet(store)
        onBatch(resolveRedirects(spark.read.parquet(store).select(col("url"), col("location"))))
        ()
      }
      .start()

  /** Host-graph PageRank — the domain-authority prior large web
    * curations weight hosts by (the OPIC/harmonic-centrality role in
    * Common Crawl's frontier and RefinedWeb's host policy): power
    * iteration with damping 0.85 over the host link graph, dangling
    * mass redistributed uniformly.
    *
    * The synthetic corpus carries no links, so the gate PLANTS a
    * deterministic doc-derived edge set (the urlPlant precedent):
    * each doc on host `doc_id % 20` emits two outlinks
    * (`(3·doc_id+1) % 20`, `(7·doc_id+3) % 20`, self-loops dropped),
    * and hosts 17–19 publish NO links — genuine dangling nodes that
    * exercise the redistribution term every iteration (they still
    * RECEIVE links, so they hold mass).
    *
    * Scale shape — the real distributed PageRank: each iteration is
    * ONE src-keyed equi-join of the edge list against the rank
    * vector plus ONE dst-keyed aggregation (both hash-partitioned;
    * at web scale the edge list is bucketed by src and the join
    * shuffles only ranks). The rank vector is eagerly checkpointed
    * per iteration — it is referenced twice (contribution + dangling
    * mass), and without the checkpoint the lazy plan fans out 2^k
    * (the components() precedent). The node count and dangling mass
    * ride 1-row broadcast stat frames (the bm25 shape). Arithmetic
    * is exact BIGINT micros on both engines: rank·weight div
    * out-weight per edge, teleport (0.15 of 10⁶ div n) + 0.85·
    * (contribution + dangling div n) — the oracle replays all k
    * iterations as chained CTEs and the output never touches a
    * float.
    */
  def hostPagerank(docs: DataFrame, iters: Int = 8): DataFrame = {
    val edges0 = docs
      .select(
        expr("doc_id % 20").as("src"),
        explode(array(expr("(doc_id * 3 + 1) % 20"), expr("(doc_id * 7 + 3) % 20"))).as("dst")
      )
      .filter(col("src") =!= col("dst") && col("src") < 17)
    val (e, ow, hosts, r0) = Rounds.round("pagerank", 0) {
      val ed = Rounds.checkpoint(edges0.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")))._1
      val ow = Rounds.checkpoint(ed.groupBy(col("src")).agg(sum(col("w")).as("wout")))._1
      val e = Rounds.checkpoint(ed.join(ow, "src"))._1
      val hosts0 = ed
        .select(col("src").as("host"))
        .unionByName(ed.select(col("dst").as("host")))
        .distinct()
      val nRow = hosts0.agg(count(lit(1)).as("n"))
      val hosts = Rounds.checkpoint(hosts0.crossJoin(broadcast(nRow)))._1
      (e, ow, hosts, Rounds.checkpoint(hosts.withColumn("r", expr("1000000 div n")).select(col("host"), col("r")))._1)
    }
    // no witness: a fixed-point check would cost a join per iteration,
    // so every iteration reports a change and all `iters` run
    val run = Rounds.fixpoint("pagerank", r0, iters) { r =>
      val contrib = e
        .join(r.hint("SHUFFLE_HASH"), col("src") === col("host"))
        .select(col("dst"), expr("(r * w) div wout").as("c0"))
        .groupBy(col("dst"))
        .agg(sum(col("c0")).as("c"))
      val dang = r
        .join(ow.select(col("src")).hint("SHUFFLE_HASH"), col("host") === col("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      val next = Rounds.checkpoint(
        hosts
          .join(contrib.hint("SHUFFLE_HASH"), col("host") === col("dst"), "left")
          .crossJoin(broadcast(dang))
          .select(
            col("host"),
            expr("(150000 * (1000000 div n) + 850000 * (coalesce(c, 0) + dang div n)) div 1000000")
              .as("r")
          )
      )._1
      (next, 1L)
    }
    run.frame.select(col("host"), col("r").as("rank_micros"))
  }

  /** The oracle replays the plant + all `iters` power iterations as
    * chained CTEs (exact integer arithmetic end to end).
    */
  def hostPagerankSql(iters: Int = 8): String = {
    val head =
      "WITH e0 AS (SELECT doc_id % 20 AS src, " +
        "unnest([(doc_id * 3 + 1) % 20, (doc_id * 7 + 3) % 20]) AS dst FROM documents), " +
        "e1 AS (SELECT src, dst FROM e0 WHERE src <> dst AND src < 17), " +
        "ed AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM e1 GROUP BY 1, 2), " +
        "ow AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM ed GROUP BY 1), " +
        "hosts AS MATERIALIZED (SELECT DISTINCT host FROM " +
        "(SELECT src AS host FROM ed UNION ALL SELECT dst AS host FROM ed) u), " +
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM hosts), " +
        "r0 AS MATERIALIZED (SELECT host, CAST(1000000 // nn.n AS BIGINT) AS r FROM hosts CROSS JOIN nn)"
    val iterCtes = (1 to iters)
      .map { k =>
        val p = s"r${k - 1}"
        s"c$k AS (SELECT ed.dst, CAST(sum((r.r * ed.w) // ow.wout) AS BIGINT) AS c FROM ed " +
          s"JOIN $p r ON r.host = ed.src JOIN ow ON ow.src = ed.src GROUP BY ed.dst), " +
          s"d$k AS (SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang FROM $p r " +
          "WHERE r.host NOT IN (SELECT src FROM ow)), " +
          s"r$k AS MATERIALIZED (SELECT hosts.host, CAST((150000 * (1000000 // nn.n) + " +
          s"850000 * (coalesce(c$k.c, 0) + d$k.dang // nn.n)) // 1000000 AS BIGINT) AS r " +
          s"FROM hosts CROSS JOIN nn CROSS JOIN d$k LEFT JOIN c$k ON c$k.dst = hosts.host)"
      }
      .mkString(", ", ", ", " ")
    head + iterCtes + s"SELECT host, r AS rank_micros FROM r$iters"
  }

  /** Host-graph TRIANGLE COUNT — the local-cohesion metric web-graph
    * QA reads next to PageRank (link-farm cliques triangle-saturate;
    * organic hubs don't), over the same deterministic host link graph
    * as [[hostPagerank]]. The scale shape is DEGREE-ORDERED
    * ORIENTATION (the standard power-law-graph trick): direct each
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher, which makes the orientation a DAG where every triangle
    * has EXACTLY one (a→b, b→c, a→c) form — counted once, no 3!-fold
    * dedup — and bounds the wedge join's fanout by the max ORIENTED
    * out-degree, O(√m) on any graph (arboricity) instead of the max
    * raw hub degree. Two equi-joins total; per-host participation is
    * one corner explode + count.
    */
  def hostTriangles(docs: DataFrame): DataFrame = {
    val und = docs
      .select(
        expr("doc_id % 20").as("src"),
        // the pagerank generators alone are PARITY-FLIPPING affine maps
        // (odd multiplier, odd offset) — the graph they build is
        // bipartite and triangle-FREE; the third, parity-preserving
        // generator breaks bipartiteness (25 triangles at every sf)
        explode(
          array(
            expr("(doc_id * 3 + 1) % 20"),
            expr("(doc_id * 7 + 3) % 20"),
            expr("(doc_id * 9 + 4) % 20")
          )
        ).as("dst")
      )
      .filter(col("src") =!= col("dst") && col("src") < 17)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("deg"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val e = und
      .join(deg.select(col("h").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("h").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b")
      )
      .localCheckpoint() // referenced by all three join legs (fan-out rule)
    val tri = e
      .as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_tri"))
  }

  val hostTrianglesSql: String =
    "WITH e0 AS (SELECT doc_id % 20 AS src, " +
      "unnest([(doc_id * 3 + 1) % 20, (doc_id * 7 + 3) % 20, (doc_id * 9 + 4) % 20]) AS dst FROM documents), " +
      "und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v " +
      "FROM e0 WHERE src <> dst AND src < 17), " +
      "deg AS MATERIALIZED (SELECT h, count(*) AS deg FROM " +
      "(SELECT u AS h FROM und UNION ALL SELECT v AS h FROM und) x GROUP BY h), " +
      "e AS MATERIALIZED (SELECT " +
      "CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS a, " +
      "CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS b " +
      "FROM und JOIN deg du ON du.h = und.u JOIN deg dv ON dv.h = und.v), " +
      "tri AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
      "JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) " +
      "SELECT host, count(*) AS n_tri FROM (SELECT unnest([x, y, z]) AS host FROM tri) c GROUP BY host"

  /** Host-graph K-CORE membership — the second classic link-farm QA
    * metric next to [[hostTriangles]] (a k-core is a maximal subgraph
    * where every node keeps ≥ k neighbors; organic link neighborhoods
    * shed into low cores, farm cliques sit in deep ones). Iterative
    * peel as at most `rounds` rounds of degree-count → keep-filter →
    * edge semi-join, one [[Rounds.checkpoint]] each; rounds exceeds the
    * measured fixpoint (2 on this graph), so round 3 peels nothing and
    * the loop stops there (the gate's answer is the same). k = 5 bisects the
    * 20-host graph 8/12 with a real CASCADE (three hosts start at
    * deg ≥ 5 and peel only after round-1 neighbors drop) — non-vacuity
    * verified at every sf (the doc_id % 20 plant covers all residues
    * at any sf, so the graph is identical). At scale each round is one
    * exploded degree count + two equi-joins on the shrinking edge set
    * — never more than O(m) per round, O(rounds·m) total.
    */
  def hostKcore(docs: DataFrame, k: Int = 5, rounds: Int = 4): DataFrame = {
    val und0 = docs
      .select(
        expr("doc_id % 20").as("src"),
        explode(
          array(
            expr("(doc_id * 3 + 1) % 20"),
            expr("(doc_id * 7 + 3) % 20"),
            expr("(doc_id * 9 + 4) % 20")
          )
        ).as("dst")
      )
      .filter(col("src") =!= col("dst") && col("src") < 17)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // und feeds deg0 AND the peel chain (fan-out rule)
    val (und, seen) = Rounds.round("kcore", 0)(Rounds.checkpoint(und0))
    val deg0 = und
      .select(explode(array(col("u"), col("v"))).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("deg0"))
    // witness: the edges a round peeled — the edge set only shrinks, so
    // an unchanged row count is the fixed point
    var rows = seen("rows")
    val alive = Rounds
      .fixpoint("kcore", und, rounds) { alive =>
        val keep = alive
          .select(explode(array(col("u"), col("v"))).as("h"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("d"))
          .filter(col("d") >= k)
          .select(col("h"))
        // referenced by next round's degree count AND semi-joins
        val (next, m) = Rounds.checkpoint(
          alive
            .join(keep.select(col("h").as("u")).hint("SHUFFLE_HASH"), Seq("u"))
            .join(keep.select(col("h").as("v")).hint("SHUFFLE_HASH"), Seq("v"))
        )
        val peeled = rows - m("rows")
        rows = m("rows")
        (next, peeled)
      }
      .frame
    val fin = alive
      .select(explode(array(col("u"), col("v"))).as("host"))
      .distinct()
      .withColumn("in_core", lit(true))
    deg0
      .join(fin, Seq("host"), "left")
      .select(col("host"), col("deg0"), coalesce(col("in_core"), lit(false)).as("in_core"))
  }

  /** Chained-CTE replay of every peel round (curate_pagerank
    * precedent).
    */
  def hostKcoreSql(k: Int = 5, rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= "WITH e0 AS (SELECT doc_id % 20 AS src, " +
      "unnest([(doc_id * 3 + 1) % 20, (doc_id * 7 + 3) % 20, (doc_id * 9 + 4) % 20]) AS dst FROM documents), " +
      "a0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v " +
      "FROM e0 WHERE src <> dst AND src < 17), " +
      "deg0 AS MATERIALIZED (SELECT h, count(*) AS deg0 FROM " +
      "(SELECT u AS h FROM a0 UNION ALL SELECT v AS h FROM a0) x GROUP BY h), "
    for (r <- 1 to rounds) {
      val p = s"a${r - 1}"
      sb ++= s"k$r AS MATERIALIZED (SELECT h FROM (SELECT h, count(*) AS d FROM " +
        s"(SELECT u AS h FROM $p UNION ALL SELECT v AS h FROM $p) x GROUP BY h) WHERE d >= $k), "
      sb ++= s"a$r AS MATERIALIZED (SELECT a.u, a.v FROM $p a " +
        s"JOIN k$r ku ON ku.h = a.u JOIN k$r kv ON kv.h = a.v), "
    }
    sb ++= s"fin AS (SELECT DISTINCT h FROM (SELECT u AS h FROM a$rounds UNION ALL SELECT v AS h FROM a$rounds) x) "
    sb ++= "SELECT d.h AS host, d.deg0, (f.h IS NOT NULL) AS in_core " +
      "FROM deg0 d LEFT JOIN fin f ON f.h = d.h"
    sb.toString
  }

  /** HTTP redirect-chain resolution — the fetch-side hop real crawls
    * spend ~30% of their responses on (3xx + Location): every fetched
    * URL resolves to the FINAL canonical key its chain lands on, with
    * loop and dangling-target detection. Chains are followed by
    * POINTER DOUBLING over the canon-keyed redirect map (the
    * q18_closure shape — `rounds` squarings cover 2^rounds hops, so
    * the browser-class 16-hop budget costs 4 equi-joins, never a
    * per-hop full-table walk), and each hop's Location is
    * canonicalized BEFORE lookup (servers emit www/scheme/fragment
    * variants; the map is keyed by canonical identity — redirect
    * target ≡ canonical key, which is exactly what lets the resolved
    * frame compose into [[curateUrl]]-style dedup).
    *
    * Statuses: `ok` (landed on a fetched, non-redirecting URL — n_hops
    * and final_canon populated), `dangling` (landed on a target absent
    * from the fetch log: 1 + unknown), `loop` (still redirecting after
    * 2^rounds hops — a cycle; hops/canon are NULL, the crawler drops
    * the URL). Input contract: one row per fetched url with a nullable
    * `location` column (at most one Location per url — HTTP semantics);
    * all input columns pass through.
    *
    * Scale shape: row-local canonicalization, one key-dedup aggregate,
    * `rounds` self equi-joins of a |fetch-log|-sized (key, cur, h)
    * frame (each eagerly checkpointed — the frame feeds both join
    * sides, components() rule), and two broadcast-or-hash membership
    * joins for the status — no per-hop scans, nothing pairwise.
    */
  def resolveRedirects(fetched: DataFrame, rounds: Int = 4): DataFrame = {
    val (base, j0) = Rounds.round("redirects", 0) {
      val base = Rounds.checkpoint(
        fetched
          .withColumn("_src_canon", canonCol(col("url")))
          .withColumn("_dst_canon", when(col("location").isNotNull, canonCol(col("location"))))
      )._1 // feeds the map, the universe, and the final join
      val j0 = Rounds.checkpoint(
        base
          .select(
            col("_src_canon").as("jsrc"),
            struct(
              coalesce(col("_dst_canon"), col("_src_canon")).as("cur"),
              when(col("_dst_canon").isNotNull, 1L).otherwise(0L).as("h")
            ).as("st")
          )
          .groupBy(col("jsrc"))
          .agg(max(col("st")).as("st")) // deterministic dedup of repeated fetches of one canon
          .select(col("jsrc"), col("st.cur").as("cur"), col("st.h").as("h"))
      )._1
      (base, j0)
    }
    // witness: the rows whose `h` grew. `h` grows exactly when `cur`
    // still redirects, so 0 means every chain has landed; a cycle never
    // lands and runs every round, so `loop` is decided as before
    val j = Rounds.fixpoint("redirects", j0, rounds) { j =>
      val (next, m) = Rounds.checkpoint(
        j
          .join(
            j.select(col("jsrc").as("bsrc"), col("cur").as("bcur"), col("h").as("bh")).hint("SHUFFLE_HASH"),
            col("cur") === col("bsrc"),
            "left"
          )
          .select(
            col("jsrc"),
            coalesce(col("bcur"), col("cur")).as("cur"),
            (col("h") + coalesce(col("bh"), lit(0L))).as("h"),
            col("h").as("h0")
          ),
        count(when(col("h") =!= col("h0"), lit(1))).as("changed")
      )
      (next.select(col("jsrc"), col("cur"), col("h")), m("changed"))
    }.frame
    val eSrc = base
      .filter(col("_dst_canon").isNotNull)
      .select(col("_src_canon").as("cur"))
      .distinct()
      .withColumn("_looping", lit(true))
    val univ = base.select(col("_src_canon").as("cur")).distinct().withColumn("_known", lit(true))
    val isLoop = coalesce(col("_looping"), lit(false))
    val resolved = j
      .join(eSrc, Seq("cur"), "left")
      .join(univ, Seq("cur"), "left")
      .select(
        col("jsrc").as("_src_canon"),
        when(isLoop, "loop")
          .when(!coalesce(col("_known"), lit(false)), "dangling")
          .otherwise("ok")
          .as("status"),
        when(isLoop, lit(null).cast("long")).otherwise(col("h")).as("n_hops"),
        when(isLoop, lit(null).cast("string")).otherwise(col("cur")).as("final_canon")
      )
    base.join(resolved, Seq("_src_canon")).drop("_src_canon", "_dst_canon")
  }

  /** crawl_redirects plant — deterministic fetch log over the docs'
    * id arithmetic; every arm live at every sf (doc_ids contiguous
    * from 0):
    *   - d % 5 ∈ {1, 2}: redirect to url(d−1) — so %5=2 docs ride a
    *     2-hop chain (2 → 1 → 0-final), %5=1 a 1-hop one
    *   - d % 20 = 9 ↔ d % 20 = 19: a planted 2-CYCLE (d ↔ d+10)
    *   - d % 20 = 14: redirect to a never-fetched target (dangling)
    *   - everything else: a 200, no Location.
    * The EMITTED Location decorates the target with source-dependent
    * scheme/WWW./fragment variants, so each hop only chains if the
    * resolver canonicalizes before map lookup (the composition under
    * test); the oracle replays canon keys arithmetically.
    */
  val redirectUrlExpr: String =
    "concat('http', CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END, '://', " +
      "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END, " +
      "'site', CAST(doc_id % 20 AS STRING), '.example.com/r/', CAST(doc_id AS STRING))"

  private def redirectLocOf(t: String): String =
    "concat('http', CASE WHEN doc_id % 4 = 0 THEN 's' ELSE '' END, '://', " +
      "CASE WHEN doc_id % 6 = 0 THEN 'WWW.' ELSE '' END, " +
      s"'site', CAST(($t) % 20 AS STRING), '.example.com/r/', CAST(($t) AS STRING), " +
      "CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END)"

  val redirectLocExpr: String =
    s"CASE WHEN doc_id % 5 IN (1, 2) THEN ${redirectLocOf("doc_id - 1")} " +
      s"WHEN doc_id % 20 = 9 THEN ${redirectLocOf("doc_id + 10")} " +
      s"WHEN doc_id % 20 = 19 THEN ${redirectLocOf("doc_id - 10")} " +
      s"WHEN doc_id % 20 = 14 THEN ${redirectLocOf("doc_id + 1000000000")} " +
      "ELSE NULL END"

  def crawlRedirectsGate(s: SparkSession, dir: String): DataFrame = {
    val fetched = Tables
      .documents(s, dir)
      .select(col("doc_id"), expr(redirectUrlExpr).as("url"), expr(redirectLocExpr).as("location"))
    resolveRedirects(fetched)
      .select(col("doc_id"), col("url"), col("status"), col("n_hops"), col("final_canon"))
  }

  /** Oracle: canon keys computed ARITHMETICALLY from the plant (the
    * real string canonicalizer is Spark's side of the bargain), the
    * same 4 doubling steps as materialized left-join CTEs.
    */
  val crawlRedirectsSql: String = {
    def ck(x: String): String =
      s"concat('site', CAST(($x) % 20 AS STRING), '.example.com/r/', CAST(($x) AS STRING))"
    def dbl(k: Int): String =
      s"j$k AS MATERIALIZED (SELECT a.jsrc, coalesce(b.cur, a.cur) AS cur, " +
        s"a.h + coalesce(b.h, CAST(0 AS BIGINT)) AS h " +
        s"FROM j${k - 1} a LEFT JOIN j${k - 1} b ON b.jsrc = a.cur)"
    s"WITH uu AS MATERIALIZED (SELECT doc_id, $redirectUrlExpr AS url, ${ck("doc_id")} AS canon FROM documents), " +
      s"m AS MATERIALIZED (SELECT ${ck("doc_id")} AS src, ${ck("doc_id - 1")} AS dst FROM documents WHERE doc_id % 5 IN (1, 2) " +
      s"UNION ALL SELECT ${ck("doc_id")}, ${ck("doc_id + 10")} FROM documents WHERE doc_id % 20 = 9 " +
      s"UNION ALL SELECT ${ck("doc_id")}, ${ck("doc_id - 10")} FROM documents WHERE doc_id % 20 = 19 " +
      s"UNION ALL SELECT ${ck("doc_id")}, ${ck("doc_id + 1000000000")} FROM documents WHERE doc_id % 20 = 14), " +
      "j0 AS MATERIALIZED (SELECT u.canon AS jsrc, coalesce(m.dst, u.canon) AS cur, " +
      "CASE WHEN m.dst IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS h " +
      "FROM uu u LEFT JOIN m ON m.src = u.canon), " +
      s"${dbl(1)}, ${dbl(2)}, ${dbl(3)}, ${dbl(4)} " +
      "SELECT u.doc_id, u.url, " +
      "CASE WHEN lm.src IS NOT NULL THEN 'loop' WHEN kn.canon IS NULL THEN 'dangling' ELSE 'ok' END AS status, " +
      "CASE WHEN lm.src IS NOT NULL THEN CAST(NULL AS BIGINT) ELSE j.h END AS n_hops, " +
      "CASE WHEN lm.src IS NOT NULL THEN NULL ELSE j.cur END AS final_canon " +
      "FROM uu u JOIN j4 j ON j.jsrc = u.canon " +
      "LEFT JOIN (SELECT DISTINCT src FROM m) lm ON lm.src = j.cur " +
      "LEFT JOIN (SELECT DISTINCT canon FROM uu) kn ON kn.canon = j.cur"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_url" -> { (s, dir) => curateUrl(Tables.documents(s, dir)) },
    "crawl_redirects" -> { (s, dir) => crawlRedirectsGate(s, dir) },
    "curate_url_hosts" -> { (s, dir) => urlHosts(Tables.documents(s, dir)) },
    "url_surt" -> { (s, dir) => urlSurt(Tables.documents(s, dir)) },
    "crawl_robots" -> { (s, dir) => crawlRobots(Tables.documents(s, dir)) },
    "crawl_robots_parsed" -> { (s, dir) => crawlRobotsParsed(Tables.documents(s, dir)) },
    "crawl_schedule" -> { (s, dir) => crawlSchedule(Tables.documents(s, dir)) },
    "curate_web" -> { (s, dir) => curateWeb(Tables.documents(s, dir)) },
    "curate_pagerank" -> { (s, dir) => hostPagerank(Tables.documents(s, dir)) },
    "graph_triangles" -> { (s, dir) => hostTriangles(Tables.documents(s, dir)) },
    "graph_kcore" -> { (s, dir) => hostKcore(Tables.documents(s, dir)) }
  )

  def oracleSql: Map[String, String] = Map(
    "curate_url" -> curateUrlSql,
    "crawl_redirects" -> crawlRedirectsSql,
    "curate_url_hosts" -> urlHostsSql,
    "url_surt" -> urlSurtSql,
    "crawl_robots" -> crawlRobotsSql,
    "crawl_robots_parsed" -> crawlRobotsParsedSql,
    "crawl_schedule" -> crawlScheduleSql,
    "curate_web" -> curateWebSql(),
    "curate_pagerank" -> hostPagerankSql(),
    "graph_triangles" -> hostTrianglesSql,
    "graph_kcore" -> hostKcoreSql()
  )
}
