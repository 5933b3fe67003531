package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** XML sitemap ingestion — the THIRD discovery source next to link
  * extraction (WAT outlinks) and robots-screened frontiers: publishers
  * enumerate their canonical URLs with freshness hints (`lastmod`,
  * `changefreq`, `priority`, sitemaps.org protocol 0.9), and a crawler
  * that reads them gets recrawl candidates it would otherwise have to
  * DISCOVER — plus the publisher-side freshness signal that complements
  * the archive-side change-rate estimate (`WarcOps.recrawlPriority`).
  *
  * Three legs, all over the adversarial [[Urls.urlPlant]] corpus:
  *   - render/parse roundtrip (`sitemap_extract`): per-host sitemap
  *     documents rendered from the canonical keeper URLs and parsed
  *     BACK with the real line-level XML parser — the gate's oracle
  *     replays the plant directly, so a hash match proves
  *     parse(render(x)) ≡ x on every field;
  *   - the protocol's 50 000-URL file limit (`sitemap_index`): URL
  *     sets shard into numbered sitemap files plus a `<sitemapindex>`
  *     document; the gate parses the INDEX and every shard back and
  *     proves shard membership, per-shard counts, and per-shard max
  *     lastmod;
  *   - the frontier composition (`sitemap_frontier`): parsed sitemap
  *     URLs run the RFC 9309 robots screen (sitemap listings do NOT
  *     override robots) and schedule into per-host politeness slots
  *     ordered by the sitemap's own freshness hints (lastmod DESC,
  *     priority DESC) — the publisher-signal twin of
  *     `WarcOps.prioritySchedule`'s observed-change ordering.
  *
  * Scale shape: rendering is one host-keyed aggregation over index-row
  * strings (the protocol caps a file at 50k URLs, so a per-file XML
  * string is bounded by construction — MBs, not corpus-sized); parsing
  * is row-local string splitting over fetched documents (a sitemap
  * arrives as ONE fetched page in the crawl frame, exactly like any
  * other response); the frontier screen is the literal-rule fold plus
  * one per-host window — the same shapes `crawlSchedule` already runs
  * at frontier scale. Nothing is pairwise; nothing is corpus-global.
  *
  * Reference behaviors: sitemaps.org protocol 0.9 (urlset/sitemapindex
  * schemas, the 50k/50MB file limits); RFC 9309 §2.3 precedence
  * (robots governs fetch regardless of sitemap listing).
  */
object Sitemaps {

  /** Gate shard size — tiny so the index leg multi-shards at every sf
    * (the protocol value is 50 000; Prof runs the scale config).
    */
  val gateMaxPerFile = 2

  /** Protocol file limit (sitemaps.org: ≤50 000 URLs per file). */
  val protocolMaxPerFile = 50000

  // ---- deterministic freshness-hint plants (dual-dialect expression
  // strings over the KEEPER's doc_id — the publisher's metadata for
  // the URL, replayable by the DuckDB oracle) ----

  val lastmodExpr: String =
    "concat('2024-', lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0'), " +
      "'-', lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'))"

  val changefreqExpr: String =
    "CASE WHEN doc_id % 3 = 0 THEN 'daily' WHEN doc_id % 3 = 1 THEN 'weekly' ELSE 'monthly' END"

  val priorityExpr: String =
    "CASE WHEN doc_id % 3 = 0 THEN '1.0' WHEN doc_id % 3 = 1 THEN '0.8' ELSE '0.5' END"

  // ---- XML escaping (minimal sitemap set: & < > — & FIRST on escape,
  // LAST on unescape in `entries`, or '&lt;' round-trips wrong) ----

  private def xmlEsc(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"),
      ">",
      "&gt;"
    )

  private val urlsetHeader =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"

  private val indexHeader =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"

  /** One `<url>` entry off (host, canon, doc_id) columns. Entries sort
    * lexicographically = by loc (every entry starts `<url><loc>`), so
    * the rendered file is deterministic in both engines.
    */
  private def entryColWith(lastmodCol: Column): Column =
    concat(
      lit("<url><loc>"),
      xmlEsc(concat(lit("https://"), col("canon"))),
      lit("</loc><lastmod>"),
      lastmodCol,
      lit("</lastmod><changefreq>"),
      expr(changefreqExpr),
      lit("</changefreq><priority>"),
      expr(priorityExpr),
      lit("</priority></url>")
    )

  private def entryCol: Column = entryColWith(expr(lastmodExpr))

  /** Canonical keeper URLs (one row per unique canonical URL, carrying
    * the keeper's doc_id as the publisher-metadata seed) — the URL set
    * a host's sitemap enumerates.
    */
  def keeperUrls(docs: DataFrame): DataFrame =
    Urls
      .curateUrl(docs)
      .filter(col("keep"))
      .select(col("doc_id"), col("host"), col("canon"))

  /** Render per-host sitemap documents: (host, xml). One host-keyed
    * aggregation; entry strings are index-row-sized and the file is
    * bounded by the caller's URL set (use [[sitemapRenderSharded]] for
    * corpora past the protocol's 50k-per-file limit).
    */
  def sitemapRender(urls: DataFrame): DataFrame =
    sitemapRenderWith(urls, expr(lastmodExpr))

  /** Sharded render honoring the protocol file limit: URLs split into
    * `sitemap-<k>.xml` files of ≤ maxPerFile entries (loc-ordered so
    * shard membership is deterministic), returning
    * (host, sm_file, xml). The per-host shard window moves only
    * (host, canon, doc_id) rows — narrow by construction.
    */
  def sitemapRenderSharded(urls: DataFrame, maxPerFile: Int = protocolMaxPerFile): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("canon").asc)
    urls
      .withColumn("entry", entryCol)
      .withColumn("rn", row_number().over(w))
      .withColumn("shard", expr(s"(rn - 1) div $maxPerFile"))
      .withColumn("sm_file", concat(lit("sitemap-"), col("shard").cast("string"), lit(".xml")))
      .groupBy(col("host"), col("sm_file"))
      .agg(
        concat(
          lit(urlsetHeader),
          array_join(array_sort(collect_list(col("entry"))), ""),
          lit("</urlset>")
        ).as("xml")
      )
  }

  /** Render the `<sitemapindex>` document for a sharded render: one
    * row per host, entries = each shard's URL with the shard's max
    * lastmod (the hint real indexes carry so a crawler can skip
    * unchanged shards).
    */
  def sitemapIndexRender(sharded: DataFrame): DataFrame = indexXml(shardStats(sharded))

  /** Per-shard statistics of a sharded render: (host, sm_file, n_urls,
    * max_lastmod) over the entries [[sitemapParse]] reads back.
    */
  private def shardStats(sharded: DataFrame): DataFrame =
    entries(sharded.select(col("host"), col("sm_file"), col("xml")), "url", "loc", Seq("lastmod" -> "lastmod"))
      .groupBy(col("host"), col("sm_file"))
      .agg(count(lit(1)).as("n_urls"), max(col("lastmod")).as("max_lastmod"))

  private def indexXml(stats: DataFrame): DataFrame =
    stats
      .withColumn(
        "entry",
        concat(
          lit("<sitemap><loc>"),
          xmlEsc(concat(lit("https://"), col("host"), lit("/"), col("sm_file"))),
          lit("</loc><lastmod>"),
          coalesce(col("max_lastmod"), lit("")),
          lit("</lastmod></sitemap>")
        )
      )
      .groupBy(col("host"))
      .agg(
        concat(
          lit(indexHeader),
          array_join(array_sort(collect_list(col("entry"))), ""),
          lit("</sitemapindex>")
        ).as("xml")
      )

  /** Parse urlset documents: (host, xml) → (host, loc, lastmod,
    * changefreq, sm_priority); absent optional fields parse to NULL
    * (only `<loc>` is required by the protocol). Row-local: split on
    * the entry terminator, one regexp per field per entry.
    */
  def sitemapParse(sm: DataFrame): DataFrame =
    entries(
      sm.select(col("host"), col("xml")),
      "url",
      "loc",
      Seq("lastmod" -> "lastmod", "changefreq" -> "changefreq", "priority" -> "sm_priority")
    )

  /** Parse a `<sitemapindex>` document: (host, xml) → (host, sm_loc,
    * lastmod) — one row per child sitemap file.
    */
  def sitemapIndexParse(idx: DataFrame): DataFrame =
    entries(idx.select(col("host"), col("xml")), "sitemap", "sm_loc", Seq("lastmod" -> "lastmod"))

  /** The entry kernel every parse reads: each row's `xml` is split
    * once on `</tag>`, and every chunk holding `<tag>` and a non-empty
    * `<loc>` becomes one row — the row's other columns, the unescaped
    * loc as `locCol`, and each `(element, column)` of `fields` (absent
    * or empty → NULL). A typed kernel so the loc chain runs once per
    * entry: in Column form Catalyst pushes the non-empty-loc filter
    * below the projection and evaluates the chain in both.
    */
  private def entries(df: DataFrame, tag: String, locCol: String, fields: Seq[(String, String)]): DataFrame = {
    import java.util.regex.Pattern
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructType}
    val xi = df.schema.fieldIndex("xml")
    val keep = df.schema.fields.indices.filter(_ != xi)
    val out = (locCol +: fields.map(_._2)).foldLeft(StructType(keep.map(df.schema.fields(_))))(_.add(_, StringType))
    val (open, sep) = (s"<$tag>", Pattern.quote(s"</$tag>"))
    val pats = ("loc" +: fields.map(_._1)).map(e => Pattern.compile(s"<$e>([^<]*)</$e>"))
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val xml = r.getString(xi)
        val chunks = if (xml == null) Array.empty[String] else xml.split(sep, -1)
        chunks.iterator.filter(c => c.contains(open) && c.contains("<loc>")).flatMap { c =>
          val v = pats.map { p => val m = p.matcher(c); if (m.find()) m.group(1) else "" }
          val loc = v.head.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
          if (loc.isEmpty) None
          else Some(Row.fromSeq(keep.map(r.get) ++ (loc +: v.tail.map(x => if (x.isEmpty) null else x))))
        }
      }
    }(org.apache.spark.sql.Encoders.row(out))
  }

  /** Frontier composition: parsed sitemap URLs → RFC 9309 robots
    * screen (a sitemap listing never overrides robots) → per-host
    * politeness slots ordered by the PUBLISHER's freshness hints
    * (lastmod DESC, priority DESC, loc ASC) with the 3-class host
    * delay — the sitemap-driven twin of `Urls.crawlSchedule`.
    *
    * The robots decision is the row-local longest-match test
    * ([[Urls.robotsAllowed]] — streaming-safe, no rule join), and the
    * only exchange is the per-host slot window the frontier shards by
    * anyway.
    */
  def sitemapFrontier(parsed: DataFrame): DataFrame = {
    val host = regexp_extract(col("loc"), "^https://([^/?#]+)", 1)
    val path = regexp_extract(
      regexp_extract(col("loc"), "^https://[^/?#]+([^?#]*)", 1),
      "^[^?]*",
      0
    )
    val u = parsed.select(
      col("loc"),
      col("lastmod"),
      col("sm_priority"),
      host.as("host"),
      path.as("path")
    )
    val allowed = u.filter(udf((h: String, p: String) => Urls.robotsAllowed(h, p)).apply(col("host"), col("path")))
    val delayMs =
      expr("500 * (1 + CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("lastmod").desc, col("sm_priority").desc, col("loc").asc)
    allowed
      .withColumn("slot", row_number().over(w).cast("long"))
      .select(
        col("host"),
        col("loc"),
        col("lastmod"),
        col("sm_priority"),
        col("slot"),
        ((col("slot") - 1) * delayMs).as("fetch_at_ms")
      )
  }

  // ---- gate queries ----

  /** sitemap_extract: render → parse roundtrip over the keeper URLs;
    * the oracle replays the plant DIRECTLY (no XML), so a hash match
    * proves the parser inverts the renderer field-exactly.
    */
  def sitemapExtractGate(docs: DataFrame): DataFrame =
    sitemapParse(sitemapRender(keeperUrls(docs)))

  /** sitemap_index: sharded render (gate shard size 2 so every sf
    * multi-shards) → parse every shard into per-shard (count, max
    * lastmod) → index render → parse the INDEX back — proving index
    * completeness and shard membership against the oracle's windowed
    * replay.
    */
  def sitemapIndexGate(docs: DataFrame): DataFrame = {
    // referenced by the index render AND the join (fan-out rule)
    val stats = shardStats(sitemapRenderSharded(keeperUrls(docs), gateMaxPerFile)).localCheckpoint()
    sitemapIndexParse(indexXml(stats))
      .join(
        stats.withColumn("sm_loc", concat(lit("https://"), col("host"), lit("/"), col("sm_file"))),
        Seq("host", "sm_loc")
      )
      .select(col("host"), col("sm_loc"), col("lastmod"), col("n_urls"))
  }

  /** sitemap_frontier: render → parse → robots screen → freshness-
    * ordered politeness slots, end to end through the real XML.
    */
  def sitemapFrontierGate(docs: DataFrame): DataFrame =
    sitemapFrontier(sitemapParse(sitemapRender(keeperUrls(docs))))

  /** Sitemap DIFF — the crawler's actual consumption loop: sitemap.xml
    * is re-fetched on a cadence and only the DELTA enters the frontier
    * (a 50k-URL sitemap that re-queues everything daily defeats the
    * freshness hints' whole point). Full-outer join of two parses on
    * loc → status ∈ added / removed / changed (lastmod moved) /
    * unchanged; [[sitemapDelta]] filters the refetch-worthy subset.
    * One loc-keyed join of two row-local parses — corpus_diff's shape
    * at any sitemap size.
    */
  def sitemapDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    // explicit per-side presence markers: lastmod is OPTIONAL per the
    // protocol (sitemapParse legitimately emits NULL lastmod), so
    // presence must never be inferred from lastmod nullness — a URL
    // listed without lastmod in only one snapshot is added/removed,
    // not "unchanged" (r16 advice). `changed` uses null-safe equality
    // so NULL→dated (publisher starts emitting lastmod) is a change.
    val a = prev.select(col("loc"), col("lastmod").as("lastmod_old"), lit(true).as("in_old"))
    val b = next.select(col("loc"), col("lastmod").as("lastmod_new"), lit(true).as("in_new"))
    a.join(b, Seq("loc"), "full_outer")
      .select(
        col("loc"),
        when(!coalesce(col("in_old"), lit(false)), "added")
          .when(!coalesce(col("in_new"), lit(false)), "removed")
          .when(!(col("lastmod_old") <=> col("lastmod_new")), "changed")
          .otherwise("unchanged")
          .as("status"),
        col("lastmod_old"),
        col("lastmod_new")
      )
  }

  /** The frontier-bound delta: added or changed URLs only. */
  def sitemapDelta(prev: DataFrame, next: DataFrame): DataFrame =
    sitemapDiff(prev, next).filter(col("status").isin("added", "changed"))

  /** Day-2 publisher state for the diff gate, all doc_id arithmetic:
    * keepers with doc_id % 11 = 3 were ABSENT yesterday (today they are
    * "added"), doc_id % 11 = 5 are dropped today ("removed"),
    * doc_id % 3 = 0 re-dated one day later ("changed").
    */
  val lastmodV2Expr: String =
    "concat('2024-', lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0'), " +
      "'-', lpad(CAST(2 + doc_id % 28 AS STRING), 2, '0'))"

  /** sitemap_diff gate: render + parse BOTH days' sitemaps through the
    * real XML path, diff on loc. The v2 render swaps the lastmod
    * expression for the changed subset via a pre-projected frame.
    */
  def sitemapDiffGate(docs: DataFrame): DataFrame = {
    val ke = keeperUrls(docs)
    val v1 = sitemapParse(sitemapRender(ke.filter(col("doc_id") % 11 =!= 3)))
    val v2 = sitemapParse(
      sitemapRenderWith(
        ke.filter(col("doc_id") % 11 =!= 5),
        when(col("doc_id") % 3 === 0, expr(lastmodV2Expr)).otherwise(expr(lastmodExpr))
      )
    )
    sitemapDiff(v1, v2)
  }

  /** [[sitemapRender]] with a caller-supplied lastmod column (the diff
    * gate's day-2 state); entry layout otherwise identical.
    */
  def sitemapRenderWith(urls: DataFrame, lastmodCol: Column): DataFrame =
    urls
      .withColumn("entry", entryColWith(lastmodCol))
      .groupBy(col("host"))
      .agg(
        concat(
          lit(urlsetHeader),
          array_join(array_sort(collect_list(col("entry"))), ""),
          lit("</urlset>")
        ).as("xml")
      )

  /** Sitemap DISCOVERY off robots.txt — where a crawler learns the
    * sitemap URL in the first place (the `Sitemap:` directive, RFC
    * 9309 §2.3 "other records" / sitemaps.org submission convention):
    * parse the per-host robots documents for `Sitemap:` lines, fetch
    * exactly the declared hosts' sitemaps, parse those. The gate runs
    * the WHOLE chain (robots render → directive extract → sitemap
    * render for declared hosts only → XML parse); undeclared hosts
    * contribute nothing even though their URLs exist.
    */
  def robotsSitemapsGate(docs: DataFrame): DataFrame = {
    val hosts = docs
      .select(expr("doc_id % 20").as("hn"))
      .distinct()
      .select(
        concat(lit("site"), col("hn").cast("string"), lit(".example.com")).as("host"),
        expr(Urls.robotsTxtPlant).as("txt")
      )
    val declared = hosts
      .select(
        col("host"),
        nullif(regexp_extract(col("txt"), "(?m)^Sitemap: (\\S+)$", 1), lit("")).as("sitemap_url")
      )
      .filter(col("sitemap_url").isNotNull)
    sitemapParse(sitemapRender(keeperUrls(docs)))
      .join(broadcast(declared), Seq("host"))
      .select(col("host"), col("sitemap_url"), col("loc"), col("lastmod"))
  }

  // ---- oracles (direct plant replay — the gates must reproduce these
  // through the real render/parse path) ----

  private def keeperSql: String =
    s"${Urls.parseCtes}, ke AS (SELECT doc_id, host, canon FROM k WHERE keep)"

  val sitemapExtractSql: String =
    s"$keeperSql SELECT host, 'https://' || canon AS loc, " +
      s"$lastmodExpr AS lastmod, $changefreqExpr AS changefreq, " +
      s"$priorityExpr AS sm_priority FROM ke"

  val sitemapIndexSql: String =
    s"$keeperSql, sh AS (SELECT host, canon, doc_id, " +
      s"(row_number() OVER (PARTITION BY host ORDER BY canon ASC) - 1) // $gateMaxPerFile AS shard FROM ke) " +
      "SELECT host, 'https://' || host || '/sitemap-' || CAST(shard AS STRING) || '.xml' AS sm_loc, " +
      s"max($lastmodExpr) AS lastmod, count(*) AS n_urls FROM sh GROUP BY host, shard"

  val sitemapFrontierSql: String = {
    val vals = Urls.robotsRules
      .map { case (h, d, p) => s"('$h', '$d', '$p')" }
      .mkString(", ")
    s"$keeperSql, sm AS (SELECT host, canon, 'https://' || canon AS loc, " +
      "regexp_extract(substr(canon, length(host) + 1), '^[^?]*', 0) AS path, " +
      s"$lastmodExpr AS lastmod, $priorityExpr AS sm_priority FROM ke), " +
      s"rules(r_host, directive, prefix) AS (VALUES $vals), " +
      "m AS (SELECT sm.loc, sm.host, sm.path, sm.lastmod, sm.sm_priority, r.directive, r.prefix, " +
      "row_number() OVER (PARTITION BY sm.loc ORDER BY " +
      "CASE WHEN r.prefix IS NULL THEN -1 ELSE length(r.prefix) END DESC, " +
      "CASE WHEN r.directive = 'allow' THEN 1 ELSE 0 END DESC) AS rn " +
      "FROM sm LEFT JOIN rules r ON r.r_host = sm.host AND starts_with(sm.path, r.prefix)), " +
      "al AS (SELECT loc, host, lastmod, sm_priority FROM m WHERE rn = 1 AND " +
      "(prefix IS NULL OR directive = 'allow')), " +
      "sl AS (SELECT host, loc, lastmod, sm_priority, " +
      "CAST(row_number() OVER (PARTITION BY host ORDER BY lastmod DESC, sm_priority DESC, loc ASC) AS BIGINT) AS slot FROM al) " +
      "SELECT host, loc, lastmod, sm_priority, slot, " +
      "(slot - 1) * (500 * (1 + CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3)) AS fetch_at_ms FROM sl"
  }

  val sitemapDiffSql: String =
    s"$keeperSql, " +
      s"v1 AS (SELECT 'https://' || canon AS loc, $lastmodExpr AS lastmod_old FROM ke WHERE doc_id % 11 <> 3), " +
      s"v2 AS (SELECT 'https://' || canon AS loc, CASE WHEN doc_id % 3 = 0 THEN $lastmodV2Expr ELSE $lastmodExpr END AS lastmod_new FROM ke WHERE doc_id % 11 <> 5) " +
      "SELECT coalesce(v1.loc, v2.loc) AS loc, " +
      "CASE WHEN lastmod_old IS NULL AND lastmod_new IS NOT NULL THEN 'added' " +
      "WHEN lastmod_new IS NULL AND lastmod_old IS NOT NULL THEN 'removed' " +
      "WHEN lastmod_old <> lastmod_new THEN 'changed' ELSE 'unchanged' END AS status, " +
      "lastmod_old, lastmod_new FROM v1 FULL OUTER JOIN v2 ON v1.loc = v2.loc"

  val robotsSitemapsSql: String =
    s"$keeperSql SELECT host, concat('https://', host, '/sitemap.xml') AS sitemap_url, " +
      s"'https://' || canon AS loc, $lastmodExpr AS lastmod FROM ke " +
      "WHERE CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 2 = 0"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sitemap_extract" -> { (s, dir) => sitemapExtractGate(Tables.documents(s, dir)) },
    "sitemap_index" -> { (s, dir) => sitemapIndexGate(Tables.documents(s, dir)) },
    "sitemap_frontier" -> { (s, dir) => sitemapFrontierGate(Tables.documents(s, dir)) },
    "sitemap_diff" -> { (s, dir) => sitemapDiffGate(Tables.documents(s, dir)) },
    "robots_sitemaps" -> { (s, dir) => robotsSitemapsGate(Tables.documents(s, dir)) }
  )

  def oracleSql: Map[String, String] = Map(
    "sitemap_extract" -> sitemapExtractSql,
    "sitemap_index" -> sitemapIndexSql,
    "sitemap_frontier" -> sitemapFrontierSql,
    "sitemap_diff" -> sitemapDiffSql,
    "robots_sitemaps" -> robotsSitemapsSql
  )
}
