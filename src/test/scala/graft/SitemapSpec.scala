package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.Sitemaps

class SitemapSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val docs = core.Tables.documents(spark, sf)
  private lazy val keepers = Sitemaps.keeperUrls(docs).cache()

  test("render -> parse roundtrips every keeper URL field-exactly") {
    val parsed = Sitemaps
      .sitemapParse(Sitemaps.sitemapRender(keepers))
      .select("host", "loc", "lastmod", "changefreq", "sm_priority")
      .as[(String, String, String, String, String)]
      .collect()
      .toSet
    val direct = keepers
      .select(
        col("host"),
        concat(lit("https://"), col("canon")).as("loc"),
        expr(Sitemaps.lastmodExpr).as("lastmod"),
        expr(Sitemaps.changefreqExpr).as("changefreq"),
        expr(Sitemaps.priorityExpr).as("sm_priority")
      )
      .as[(String, String, String, String, String)]
      .collect()
      .toSet
    assert(parsed.nonEmpty && parsed == direct)
  }

  test("XML-special characters in a loc escape on render and unescape on parse") {
    val tricky = Seq((7L, "hostx.example.com", "hostx.example.com/a?x=1&y=<2>"))
      .toDF("doc_id", "host", "canon")
    val xml = Sitemaps.sitemapRender(tricky).select("xml").as[String].head()
    assert(xml.contains("&amp;") && xml.contains("&lt;2&gt;"), xml)
    assert(!xml.contains("y=<2>"), "raw < inside <loc> would break any real XML reader")
    val back = Sitemaps
      .sitemapParse(Sitemaps.sitemapRender(tricky))
      .select("loc")
      .as[String]
      .collect()
    assert(back.toSeq == Seq("https://hostx.example.com/a?x=1&y=<2>"))
  }

  test("optional fields absent parse to NULL; loc is required") {
    val xml =
      "<?xml version=\"1.0\"?><urlset>" +
        "<url><loc>https://h/a</loc></url>" +
        "<url><loc>https://h/b</loc><lastmod>2024-03-01</lastmod></url>" +
        "<url><lastmod>2024-01-01</lastmod></url>" + // no loc: dropped
        "</urlset>"
    val rows = Sitemaps
      .sitemapParse(Seq(("h", xml)).toDF("host", "xml"))
      .orderBy("loc")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "https://h/a" && rows(0).isNullAt(2))
    assert(rows(1).getString(1) == "https://h/b" && rows(1).getString(2) == "2024-03-01")
  }

  test("sharded render honors the file limit and the index tiles the URL set") {
    val limit = Sitemaps.gateMaxPerFile
    val sharded = Sitemaps.sitemapRenderSharded(keepers, limit).cache()
    val perShard = sharded
      .select(col("host"), col("sm_file"), explode(split(col("xml"), "</url>")).as("c"))
      .filter(col("c").contains("<loc>"))
      .groupBy("host", "sm_file")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)]
      .collect()
    assert(perShard.nonEmpty && perShard.forall(_._3 <= limit))
    // shards tile: total parsed locs across shards == keeper count, no dups
    val locs = Sitemaps
      .sitemapParse(sharded.select(col("host"), col("xml")))
      .select("loc")
      .as[String]
      .collect()
    assert(locs.length == keepers.count() && locs.distinct.length == locs.length)
    // the index lists every shard exactly once
    val idx = Sitemaps.sitemapIndexParse(Sitemaps.sitemapIndexRender(sharded))
    val idxSet = idx.select("host", "sm_loc").as[(String, String)].collect().toSet
    val shardSet = perShard.map { case (h, f, _) => (h, s"https://$h/$f") }.toSet
    assert(idxSet == shardSet)
    // multi-shard hosts exist at gate scale (limit = 2 forces it)
    assert(perShard.groupBy(_._1).exists(_._2.length > 1))
  }

  // The index lists a shard for the entries sitemapParse reads back: a
  // chunk needs `<url>` and a non-empty `<loc>`. A shard of `<loc>`-only
  // or empty-`<loc>` chunks gets no index entry, and such chunks'
  // lastmods do not raise a listed shard's max lastmod.
  test("the index lists only shards whose entries parse, with their max lastmod") {
    val head = "<?xml version=\"1.0\"?><urlset>"
    val sharded = Seq(
      ("h", "sitemap-0.xml", head + "<url><loc>https://h/a</loc><lastmod>2024-01-01</lastmod></url>" +
        "<url><loc></loc><lastmod>2024-09-09</lastmod></url><url><loc>https://h/b</loc></url></urlset>"),
      ("h", "sitemap-1.xml", head + "<loc>https://h/c</loc><lastmod>2024-05-05</lastmod></urlset>"),
      ("h", "sitemap-2.xml", head + "<url><loc></loc><lastmod>2024-06-06</lastmod></url></urlset>")
    ).toDF("host", "sm_file", "xml")
    val idx = Sitemaps.sitemapIndexRender(sharded).select("host", "xml").as[(String, String)].collect().toSeq
    assert(
      idx == Seq(
        "h" -> ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<sitemap><loc>https://h/sitemap-0.xml</loc><lastmod>2024-01-01</lastmod></sitemap></sitemapindex>")
      )
    )
  }

  test("frontier honors robots over the sitemap listing and freshness-orders slots") {
    val parsed = Sitemaps.sitemapParse(Sitemaps.sitemapRender(keepers))
    val front = Sitemaps.sitemapFrontier(parsed).cache()
    // robots: host ≡ 1 (mod 3) disallows /articles/3 — no scheduled loc
    // may end in /articles/3 on those hosts
    val banned = front
      .filter(
        expr("CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3 = 1") &&
          col("loc").rlike("/articles/3([?]|$)")
      )
      .count()
    assert(banned == 0)
    // ...but the same path on a no-rules host (≡ 2 mod 3) IS scheduled
    assert(
      front
        .filter(
          expr("CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3 = 2") &&
            col("loc").rlike("/articles/3([?]|$)")
        )
        .count() > 0
    )
    // freshness ordering: within every host, slots are non-increasing in
    // (lastmod, sm_priority) under the slot order
    val viol = front
      .withColumn(
        "prev",
        lag(struct(col("lastmod"), col("sm_priority")), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("host"))
            .orderBy(col("slot"))
        )
      )
      .filter(
        col("prev").isNotNull &&
          struct(col("lastmod"), col("sm_priority")) > col("prev")
      )
      .count()
    assert(viol == 0)
    // politeness arithmetic: fetch_at_ms = (slot-1) * host-class delay
    val bad = front
      .filter(
        col("fetch_at_ms") =!=
          (col("slot") - 1) * expr("500 * (1 + CAST(substr(host, 5, length(host) - 16) AS BIGINT) % 3)")
      )
      .count()
    assert(bad == 0)
  }

  // the robots screen is one Scala longest-match test, so the frontier's
  // filter stage compiles within the method size limit: whole-stage
  // codegen runs it instead of falling back to interpreted rows
  test("the frontier's robots filter runs under whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every node Spark ran, through AQE's stages and the gate's cache
    def ran(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => ran(a.executedPlan)
      case q: QueryStageExec => ran(q.plan)
      case m: InMemoryTableScanExec => ran(m.relation.cachedPlan)
      case o => o.children.flatMap(ran)
    })
    def stage(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil; case o => o.children.flatMap(stage) })
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // the codegen stages are planned up front
    val plan =
      try SparkEntry.queries("sitemap_frontier")(spark, sf).queryExecution.executedPlan
      finally spark.conf.set(key, prev)
    val stages = ran(plan).collect { case w: WholeStageCodegenExec => w }
    val limit = spark.sessionState.conf.hugeMethodLimit
    val tooBig = stages.flatMap { w =>
      val size = scala.util.Try(CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize).getOrElse(Int.MaxValue)
      if (size > limit) Some(s"stage ${w.codegenStageId}: ${if (size == Int.MaxValue) "does not compile" else s"a $size-byte method"}")
      else None
    }
    assert(tooBig.isEmpty, s"stages Spark would run interpreted: ${tooBig.mkString("; ")}")
    val robots = stages.filter(w => stage(w.child).exists {
      case f: FilterExec => f.condition.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])
      case _ => false
    })
    assert(robots.size == 1, s"the robots filter is not in one codegen stage:\n$plan")
  }

  test("sitemaps parse IN-STREAM and feed the politeness scheduler across batches") {
    // the discovery composition: a fetched sitemap page is just another
    // streamed document — sitemapParse is row-local (stream-safe), and
    // its locs ride scheduleStreamUrls' per-host slot counters, which
    // must CONTINUE when a second sitemap batch for the same host lands
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def smXml(locs: Seq[String]): String =
      "<?xml version=\"1.0\"?><urlset>" +
        locs.map(l => s"<url><loc>$l</loc></url>").mkString("") +
        "</urlset>"
    val in = MemoryStream[(String, String)]
    val parsed = Sitemaps.sitemapParse(in.toDF().toDF("host", "xml"))
    val q = graft.llm.Urls
      .scheduleStreamUrls(
        parsed.select(
          conv(substring(md5(col("loc")), 1, 8), 16, 10).cast("long").as("doc_id"),
          col("loc").as("url")
        )
      )
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sitemap_stream_out")
      .start()
    in.addData(
      (
        "site2.example.com",
        smXml(Seq("https://site2.example.com/doc/a", "https://site2.example.com/doc/b"))
      )
    )
    q.processAllAvailable()
    in.addData(("site2.example.com", smXml(Seq("https://site2.example.com/doc/c"))))
    q.processAllAvailable()
    q.stop()
    val got = spark
      .table("sitemap_stream_out")
      .select("path", "slot", "fetch_at_ms")
      .as[(String, Long, Long)]
      .collect()
      .sortBy(_._2)
    assert(got.length == 3)
    // batch 1 fills slots 1-2; batch 2's URL CONTINUES at slot 3 with
    // the host-class delay (site2 -> 1500 ms)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(got(2) == ((got(2)._1, 3L, 3000L)))
    assert(got.map(_._1).toSet == Set("/doc/a", "/doc/b", "/doc/c"))
  }

  test("unified discovery: WARC crawl and sitemap delta union into ONE deduped scheduled frontier") {
    // the complete discovery composition, both sources at once: crawled
    // segments name URLs (leg A), the publisher's sitemap re-fetch
    // names URLs (leg B) — the two streams UNION into the same
    // canonical-dedup store (at-most-once-ever across sources: a URL
    // the crawl already found must not re-enter the frontier when the
    // sitemap lists it), and survivors ride the robots screen +
    // per-host politeness slots with sequence continuity across legs
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.sources.Scratch.dir("unified_discovery_spec")
    val store = graft.sources.Scratch.dir("unified_discovery_store") + "/canon"
    graft.llm.Urls.seedUrlStore(
      Seq.empty[(Long, String, java.sql.Timestamp)].toDF("doc_id", "url", "ts"),
      store
    )
    // leg A: a crawled segment names 141 and 151 on site4
    val text = (1 to 300).map(i => s"w$i").mkString(" ")
    val pages = Seq(141L, 151L)
      .map(i => (i, text))
      .toDF("doc_id", "text")
      .select(
        col("doc_id"),
        concat(lit("http://site4.example.com/doc/"), col("doc_id").cast("string")).as("uri"),
        expr(graft.llm.Curation.htmlPlantExpr).as("html")
      )
    graft.sources.WarcOps.writeSpark(pages, dir, nFiles = 1, date = "2024-01-01T00:00:00Z")
    val warcLeg = graft.sources.WarcOps
      .ingestStream(spark, dir)
      .select(
        regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        col("target_uri").as("url"),
        to_timestamp(col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts")
      )
    // leg B: the sitemap delta stream (re-fetch diff output shape)
    val smIn = MemoryStream[(String, String)]
    val smLeg = Sitemaps
      .sitemapParse(smIn.toDF().toDF("host", "xml"))
      .select(
        regexp_extract(col("loc"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        col("loc").as("url"),
        to_timestamp(col("lastmod"), "yyyy-MM-dd").as("ts")
      )
    val q1 = graft.llm.Urls.urlDedupIngest(warcLeg.unionByName(smLeg), store)
    val frontier = spark.readStream
      .schema(spark.read.parquet(store).schema)
      .parquet(store)
      .select(col("doc_id"), concat(lit("http://"), col("canon")).as("url"))
    val q2 = graft.llm.Urls
      .scheduleStreamUrls(frontier)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("unified_discovery_out")
      .start()
    // phase 1: the crawl leg only
    q1.processAllAvailable()
    q2.processAllAvailable()
    // phase 2: the publisher's sitemap update re-lists crawled 141 AND
    // names new 171 — only 171 may enter the frontier
    val sm =
      "<?xml version=\"1.0\"?><urlset>" +
        "<url><loc>http://site4.example.com/doc/141</loc><lastmod>2024-02-02</lastmod></url>" +
        "<url><loc>http://site4.example.com/doc/171</loc><lastmod>2024-02-02</lastmod></url>" +
        "</urlset>"
    smIn.addData(("site4.example.com", sm))
    q1.processAllAvailable()
    q2.processAllAvailable()
    q1.stop()
    q2.stop()
    val rows = spark
      .table("unified_discovery_out")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("slot"), r.getAs[Long]("fetch_at_ms")))
    assert(rows.length == 3, s"each canonical URL scheduled exactly once across BOTH sources: ${rows.toSeq}")
    val slots = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    // site4 delay class 1000 ms; 171 (sitemap-discovered) CONTINUES the
    // host's slot sequence behind the two crawl-discovered URLs
    assert(slots(141L) == ((1L, 0L)), s"got $slots")
    assert(slots(151L) == ((2L, 1000L)), s"got $slots")
    assert(slots(171L) == ((3L, 2000L)), s"got $slots")
  }

  test("sitemap diff: all four statuses populated; delta = added+changed only") {
    val diff = Sitemaps.sitemapDiffGate(docs).cache()
    val byStatus = diff.groupBy("status").count().as[(String, Long)].collect().toMap
    assert(Set("added", "removed", "changed", "unchanged").subsetOf(byStatus.keySet), s"$byStatus")
    // removed rows carry no new lastmod; added rows no old one
    assert(diff.filter(col("status") === "removed" && col("lastmod_new").isNotNull).count() == 0)
    assert(diff.filter(col("status") === "added" && col("lastmod_old").isNotNull).count() == 0)
    // changed rows really moved forward one day
    assert(
      diff
        .filter(col("status") === "changed" && col("lastmod_new") <= col("lastmod_old"))
        .count() == 0
    )
    val ke = Sitemaps.keeperUrls(docs)
    val v1 = Sitemaps.sitemapParse(Sitemaps.sitemapRender(ke.filter(col("doc_id") % 11 =!= 3)))
    val v2 = Sitemaps.sitemapParse(
      Sitemaps.sitemapRenderWith(
        ke.filter(col("doc_id") % 11 =!= 5),
        when(col("doc_id") % 3 === 0, expr(Sitemaps.lastmodV2Expr))
          .otherwise(expr(Sitemaps.lastmodExpr))
      )
    )
    val delta = Sitemaps.sitemapDelta(v1, v2)
    assert(delta.count() == byStatus("added") + byStatus("changed"))
    assert(delta.filter(!col("status").isin("added", "changed")).count() == 0)
  }

  test("robots Sitemap: directive — declared hosts only, and rule parsing ignores the unknown line") {
    val chain = Sitemaps.robotsSitemapsGate(docs).cache()
    // only even-numbered hosts declare; their sitemap_url is the declared one
    val hostsSeen = chain.select("host").distinct().as[String].collect()
    assert(hostsSeen.nonEmpty)
    assert(hostsSeen.forall(h => h.drop(4).takeWhile(_.isDigit).toLong % 2 == 0), hostsSeen.mkString(","))
    assert(
      chain
        .filter(col("sitemap_url") =!= concat(lit("https://"), col("host"), lit("/sitemap.xml")))
        .count() == 0
    )
    // the robots PARSER still yields the same verdicts with the Sitemap
    // line present (unknown-directive tolerance): parsed == literal rules
    val parsed = graft.llm.Urls
      .crawlRobotsParsed(docs)
      .select("doc_id", "allowed", "rule_dir", "rule_prefix")
    val literal = graft.llm.Urls
      .crawlRobots(docs)
      .select("doc_id", "allowed", "rule_dir", "rule_prefix")
    assert(parsed.exceptAll(literal).count() == 0 && literal.exceptAll(parsed).count() == 0)
  }

  test("diff presence is per-side, never inferred from optional lastmod (r16 advice)") {
    // lastmod is protocol-optional: URLs listed WITHOUT it must still
    // diff as added/removed on presence, NULL<->dated is a change, and
    // NULL==NULL is unchanged
    val prev = Seq(
      ("http://h/a", null.asInstanceOf[String]), // removed (no lastmod either side)
      ("http://h/b", null.asInstanceOf[String]), // unchanged (NULL == NULL)
      ("http://h/c", null.asInstanceOf[String]), // changed (NULL -> dated)
      ("http://h/d", "2024-01-01")               // changed (dated -> NULL)
    ).toDF("loc", "lastmod")
    val next = Seq(
      ("http://h/b", null.asInstanceOf[String]),
      ("http://h/c", "2024-02-02"),
      ("http://h/d", null.asInstanceOf[String]),
      ("http://h/e", null.asInstanceOf[String]) // added (no lastmod)
    ).toDF("loc", "lastmod")
    val got = Sitemaps
      .sitemapDiff(prev, next)
      .select("loc", "status")
      .as[(String, String)]
      .collect()
      .toMap
    assert(got == Map(
      "http://h/a" -> "removed",
      "http://h/b" -> "unchanged",
      "http://h/c" -> "changed",
      "http://h/d" -> "changed",
      "http://h/e" -> "added"
    ), got.toString)
    // and the frontier-bound delta picks up the lastmod-less addition
    val delta = Sitemaps.sitemapDelta(prev, next).select("loc").as[String].collect().toSet
    assert(delta == Set("http://h/c", "http://h/d", "http://h/e"))
  }
}
