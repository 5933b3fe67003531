package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator exposes a named query over the test corpus
  * plus (where SQL-expressible) a DuckDB oracle computing the identical
  * result. Registration lives in the per-module `*Ops.queries()` maps;
  * this object only concatenates them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue per nation: lineitem ⋈ orders ⋈ customer ⋈ nation with the
    * dimension tables broadcast — the canonical star-join shape this
    * engine is built around.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
  }

  /** One entry per implemented operator from SURVEY.md §2; built once,
    * so `queries(name)` lookups don't re-concatenate the module maps.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    BaseQueries.queries ++
      operators.ProTools.queries ++
      operators.FirOps.queries ++
      operators.IirOps.queries ++
      operators.ResponseOps.queries ++
      operators.ResampleOps.queries ++
      operators.SpectraOps.queries ++
      operators.HilbertOps.queries ++
      operators.XcorrOps.queries ++
      operators.CwtOps.queries ++
      operators.PacOps.queries ++
      operators.IcaOps.queries ++
      operators.AnnoOps.queries ++
      llm.TextStats.queries ++
      llm.Bpe.queries ++
      llm.Unigram.queries ++
      llm.Dsir.queries ++
      llm.Classifier.queries ++
      llm.Dedup.queries ++
      llm.Similarity.queries ++
      llm.Multimodal.queries ++
      llm.Curation.queries ++
      llm.Urls.queries ++
      llm.Sitemaps.queries ++
      llm.Sketches.queries ++
      pipeline.PipelineOps.queries ++
      sources.EdfOps.queries ++
      sources.JsonlOps.queries ++
      sources.WarcOps.queries ++
      sources.Charsets.queries ++
      streaming.StreamOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check.
    */
  lazy val oracleSql: Map[String, String] =
    BaseQueries.oracleSql ++
      operators.ProTools.oracleSql ++
      operators.FirOps.oracleSql ++
      operators.IirOps.oracleSql ++
      operators.ResponseOps.oracleSql ++
      operators.ResampleOps.oracleSql ++
      operators.SpectraOps.oracleSql ++
      operators.HilbertOps.oracleSql ++
      operators.XcorrOps.oracleSql ++
      operators.CwtOps.oracleSql ++
      operators.PacOps.oracleSql ++
      operators.IcaOps.oracleSql ++
      operators.AnnoOps.oracleSql ++
      llm.TextStats.oracleSql ++
      llm.Bpe.oracleSql ++
      llm.Unigram.oracleSql ++
      llm.Dsir.oracleSql ++
      llm.Classifier.oracleSql ++
      llm.Dedup.oracleSql ++
      llm.Similarity.oracleSql ++
      llm.Multimodal.oracleSql ++
      llm.Curation.oracleSql ++
      llm.Urls.oracleSql ++
      llm.Sitemaps.oracleSql ++
      llm.Sketches.oracleSql ++
      pipeline.PipelineOps.oracleSql ++
      sources.EdfOps.oracleSql ++
      sources.JsonlOps.oracleSql ++
      sources.WarcOps.oracleSql ++
      sources.Charsets.oracleSql ++
      streaming.StreamOps.oracleSql
}

/** Relational anchor queries over the TPC-H-ish tables: verify the
  * harness itself (scan → agg → join paths) before the DSP surface.
  */
object BaseQueries {

  /** High-value-order threshold shared by q7_semi_join and q11_anti_join
    * (complementary existence predicates over the same filtered orders
    * side). ONE constant, rendered into the DataFrame filter AND the
    * DuckDB oracle string via [[graft.core.Dsp.lit]], so the two engines
    * cannot diverge — the r8 q7 regression was exactly a fourth copy of
    * this literal drifting.
    */
  val hiValue: Double = 400000.0

  /** Bucketed co-located join — the shuffle-free-join layout pattern
    * for repeated large⋈large joins at 100 TB: both sides are written
    * `bucketBy(8, doc_id)` (same bucket count, same key, Murmur3 bucket
    * assignment), so the join reads bucket i against bucket i and plans
    * NO exchange on either side (PlanAuditSpec asserts zero Exchange in
    * this subtree; at production scale the bucket count is sized to the
    * cluster, the pattern is identical). The per-file `sortBy` lets
    * single-file buckets skip the sort too; multi-file buckets add a
    * partition-local sort, never a shuffle.
    *
    * At gate scale the embeddings side is tiny, so Catalyst rightly
    * prefers a broadcast join (which sidesteps bucketing entirely);
    * `forceSortMerge` pins the SortMergeJoin shape the pattern exists
    * for — that is what PlanAuditSpec audits for zero Exchange.
    */
  def bucketedJoinRows(s: SparkSession, dir: String, forceSortMerge: Boolean = false): DataFrame = {
    val store = sources.Scratch.dir("sink_bucketed")
    s.sql("DROP TABLE IF EXISTS graft_bkt_docs")
    s.sql("DROP TABLE IF EXISTS graft_bkt_emb")
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write
      .mode("overwrite")
      .bucketBy(8, "doc_id")
      .sortBy("doc_id")
      .option("path", s"$store/docs")
      .saveAsTable("graft_bkt_docs")
    Tables
      .embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("label"))
      .write
      .mode("overwrite")
      .bucketBy(8, "doc_id")
      .sortBy("doc_id")
      .option("path", s"$store/emb")
      .saveAsTable("graft_bkt_emb")
    val d = s.table("graft_bkt_docs")
    val e = s.table("graft_bkt_emb")
    if (forceSortMerge) d.hint("merge").join(e.hint("merge"), Seq("doc_id"))
    else d.join(e, Seq("doc_id"))
  }

  /** Conversion funnel view → click → purchase per user in ONE pass:
    * three chained running-min windows over the SAME (user_id)-
    * partitioned (ts, id)-ordered frame — one shuffle total, and the
    * final per-user aggregate reuses the window's partitioning (no
    * second exchange). A click counts only with a view at-or-before it
    * (its running v_ts is non-null), a purchase only with a qualifying
    * click before it — the funnel's order constraint without a
    * self-join per stage. Input: (user_id, event_id, ts_ns, event_type).
    */
  def funnel(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      .withColumn("v_ts", min(when(col("event_type") === "view", col("ts_ns"))).over(w))
      .withColumn(
        "c_ts",
        min(when(col("event_type") === "click" && col("v_ts").isNotNull, col("ts_ns"))).over(w)
      )
      .withColumn(
        "p_ts",
        min(when(col("event_type") === "purchase" && col("c_ts").isNotNull, col("ts_ns"))).over(w)
      )
      .groupBy(col("user_id"))
      .agg(
        min(col("v_ts")).as("t_view"),
        min(col("c_ts")).as("t_click"),
        min(col("p_ts")).as("t_purchase")
      )
      .withColumn(
        "stage",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0)
          .cast("long")
      )
  }

  /** Event-rate anomaly screen — the ops-monitoring classic (z-score
    * of each hour's event count against its trailing 24-hour history,
    * per event type) with the cross-engine float surface reduced to
    * ONE sqrt: the trailing count/sum/sum-of-squares are exact BIGINTs
    * over the bucket window, z = (n·cnt − s)/sqrt(n·ss − s²) derives
    * from exact-integer-valued doubles (sqrt and one divide are both
    * correctly rounded — deterministic in both engines, then round6),
    * and the spike FLAG never touches floats at all:
    * num > 0 ∧ num² > 9·den² is pure integer compare (|z| > 3 with the
    * sign). Buckets with zero events are absent from the history (the
    * trailing frame is ROWS-based over present buckets — documented).
    * The gate corpus is organically calm, so bucket % 101 = 7 counts
    * are PLANTED ×5 (post-aggregation arithmetic plant — both engines
    * apply it identically). Plan: one bucket aggregation, one
    * event_type-keyed window, row-local math — two exchanges total.
    */
  def eventsAnomaly(events: DataFrame, bucketNs: Long = 3600000000000L, hist: Int = 24): DataFrame =
    anomalyScore(
      events
        .select(col("event_type"), expr(s"(ts_ns - ts_ns % 1000) div $bucketNs").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("cnt0"))
        .withColumn("cnt", col("cnt0") * when(col("bucket") % 101 === 7, 5L).otherwise(1L)),
      hist
    )

  /** EWMA one-step-ahead forecast + residual — the forecasting twin of
    * [[eventsAnomaly]]'s z-score screen (capacity planning reads the
    * forecast; alerting reads the residual). α = 1/4 EXACTLY so every
    * weight (3/4)^j is an exact double and each product cnt·(3/4)^j is
    * exact (counts < 2^21, 3^16 < 2^26 — the products stay integral
    * multiples of 2^-32 below 2^53), making the 16-term sum exact in
    * ANY evaluation order; both engines still evaluate the ONE shared
    * Horner string left-to-right (the lag-sum discipline) and the only
    * inexact steps are the final unbias divide and round6. One bucket
    * aggregation + one type-keyed window — the events_anomaly shape.
    */
  val ewmaK = 16

  def eventsEwma(events: DataFrame, bucketNs: Long = 3600000000000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("bucket"))
    val buckets = events
      .select(col("event_type"), expr(s"(ts_ns - ts_ns % 1000) div $bucketNs").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val lagged = (1 to ewmaK).foldLeft(
      buckets.withColumn("nlag", count(col("cnt")).over(w.rowsBetween(-ewmaK, -1)))
    ) { (df, j) => df.withColumn(s"l$j", coalesce(lag(col("cnt"), j).over(w), lit(0L))) }
    lagged
      .filter(col("nlag") === ewmaK)
      .selectExpr(
        "event_type",
        "bucket",
        "cnt",
        s"${core.Dsp.round6Sql(ewmaExpr)} AS forecast",
        s"${core.Dsp.round6Sql(s"CAST(cnt AS DOUBLE) - ($ewmaExpr)")} AS resid"
      )
  }

  /** The shared Horner chain: 0.25·(l1 + 0.75·(l2 + … 0.75·l16)) /
    * (1 − 0.75^16) — parses identically in Spark SQL and DuckDB.
    */
  private def ewmaExpr: String = {
    val horner = (1 until ewmaK).foldRight(s"CAST(l$ewmaK AS DOUBLE)") { (j, acc) =>
      s"CAST(l$j AS DOUBLE) + 0.75e0 * ($acc)"
    }
    val norm = 1.0 - math.pow(0.75, ewmaK)
    s"(0.25e0 * ($horner)) / ${core.Dsp.lit(norm)}"
  }

  private[graft] def eventsEwmaSql: String = {
    val lags = (1 to ewmaK)
      .map(j => s"coalesce(lag(cnt, $j) OVER win, 0) AS l$j")
      .mkString(", ")
    "WITH e AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket FROM events), " +
      "c AS (SELECT event_type, bucket, count(*) AS cnt FROM e GROUP BY 1, 2), " +
      s"w AS (SELECT event_type, bucket, cnt, count(cnt) OVER (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN $ewmaK PRECEDING AND 1 PRECEDING) AS nlag, $lags FROM c " +
      "WINDOW win AS (PARTITION BY event_type ORDER BY bucket)) " +
      s"SELECT event_type, bucket, cnt, ${core.Dsp.round6Sql(ewmaExpr)} AS forecast, " +
      s"${core.Dsp.round6Sql(s"CAST(cnt AS DOUBLE) - ($ewmaExpr)")} AS resid " +
      s"FROM w WHERE nlag = $ewmaK"
  }

  /** The scoring half over any (event_type, bucket, cnt) frame —
    * shared by the batch gate and the streaming bucket-store finisher
    * (the hllRegStream pattern: the stream maintains CLOSED bucket
    * counts with bounded watermark state; this exact aggregation
    * finishes either side, so batch ≡ stream is pinned by sharing the
    * code path).
    */
  def anomalyScore(buckets: DataFrame, hist: Int = 24): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("bucket"))
      .rowsBetween(-hist, -1)
    buckets
      .withColumn("n", count(col("cnt")).over(w))
      .withColumn("s", sum(col("cnt")).over(w))
      .withColumn("ss", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n") === hist)
      .withColumn("num", col("n") * col("cnt") - col("s"))
      .withColumn("den2", col("n") * col("ss") - col("s") * col("s"))
      .select(
        col("event_type"),
        col("bucket"),
        col("cnt"),
        when(col("den2") === 0L, lit(0.0))
          .otherwise(core.Dsp.round6(col("num").cast("double") / sqrt(col("den2").cast("double"))))
          .as("z"),
        (col("num") > 0L && col("num") * col("num") > lit(9L) * col("den2")).as("is_spike")
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_anomaly" -> { (s, dir) => eventsAnomaly(Tables.events(s, dir)) },
    "events_ewma" -> { (s, dir) => eventsEwma(Tables.events(s, dir)) },
    "events_ab_test" -> { (s, dir) =>
      // A/B experiment readout — the two-proportion z-test every
      // product-analytics stack serves off the event stream: arm =
      // user_id % 2 (deterministic assignment plant), metric = the
      // user is HIGH-ERROR (error events ≥ 20% of their events —
      // ne·5 ≥ nt, an exact integer compare; every-user-converts
      // metrics make p̂ = 1 and the z denominator 0, probed on this
      // corpus). The evidencing columns (n/conv per
      // arm) are EXACT BIGINTs from two integer aggregations (one
      // user-keyed, one 2-row arm rollup); z rides ONE shared formula
      // string over those exact integers (closed-form double ops are
      // bit-identical cross-engine; round6 per the float-output rule)
      // and `significant` compares the ROUNDED z against 1.96 (the
      // ulp-proof threshold discipline). Work: one user-keyed shuffle
      // + a 2-row agg — at 100 TB the arm rollup is map-side combined.
      val per = Tables
        .events(s, dir)
        .select(col("user_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"),
          count(lit(1)).as("nt")
        )
        .select(
          (col("user_id") % 2).as("arm"),
          when(col("ne") * 5 >= col("nt"), 1L).otherwise(0L).as("conv")
        )
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val zExpr =
        "((c0 / n0 - c1 / n1) / sqrt(((c0 + c1) / (n0 + n1)) * " +
          s"(${graft.core.Dsp.lit(1.0)} - (c0 + c1) / (n0 + n1)) * " +
          s"(${graft.core.Dsp.lit(1.0)} / n0 + ${graft.core.Dsp.lit(1.0)} / n1)))"
      per
        .agg(
          sum(when(col("arm") === 0, col("n"))).as("n0"),
          sum(when(col("arm") === 0, col("c"))).as("c0"),
          sum(when(col("arm") === 1, col("n"))).as("n1"),
          sum(when(col("arm") === 1, col("c"))).as("c1")
        )
        .selectExpr(
          "n0",
          "c0",
          "n1",
          "c1",
          s"${graft.core.Dsp.round6Sql(zExpr)} AS z",
          s"(abs(${graft.core.Dsp.round6Sql(zExpr)}) >= ${graft.core.Dsp.lit(1.96)}) AS significant"
        )
    },
    "q1_agg" -> { (s, dir) =>
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n_rows")
        )
    },
    "q2_join" -> { (s, dir) =>
      // Star join with broadcast dims; mirrors `entry` but parameterized.
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_rows")
        )
    },
    "q3_topk" -> { (s, dir) =>
      // Top-10 orders by total line revenue: agg → global sort limit.
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    "q4_running" -> { (s, dir) =>
      // per-user running event-value sum — the canonical analytic window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          round(sum(col("value")).over(w), 4).as("running_value")
        )
    },
    "q5_topn_group" -> { (s, dir) =>
      // top-3 orders by price within each priority (rank window + filter)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables
        .orders(s, dir)
        .select(
          col("o_orderpriority"),
          col("o_orderkey"),
          col("o_totalprice"),
          row_number().over(w).as("rk")
        )
        .filter(col("rk") <= 3)
    },
    "q6_rollup" -> { (s, dir) =>
      // hierarchical rollup: subtotals per (flag, status), per flag, grand
      Tables
        .lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n_rows"))
    },
    "q7_semi_join" -> { (s, dir) =>
      // customers having at least one high-value order: semi join, then
      // a dim rollup — the existence-predicate plan shape
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > hiValue).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"))
    },
    "q12_median" -> { (s, dir) =>
      // exact grouped median WITHOUT engine percentile functions (whose
      // interpolation/tie semantics differ cross-engine): rank
      // arithmetic — row_number + group count in ONE window partition,
      // median = avg of the middle position(s). Both engines run the
      // identical integer math. Exact-median-per-group inherently
      // orders each group once; the approximate path at 100 TB is the
      // mergeable dyadic-CMS quantile sketch (sketch_quantile builds +
      // rank-checks it, sketch_quantile_extract hash-gates the descent)
      // — this is the exact anchor both get validated against.
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))
      Tables
        .orders(s, dir)
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("(n + 2) div 2"))
        .groupBy(col("o_orderpriority"))
        .agg(round(avg(col("o_totalprice")), 4).as("median_price"), max(col("n")).as("n_orders"))
    },
    "q11_anti_join" -> { (s, dir) =>
      // customers with NO high-value order — q7's complement: the NOT
      // EXISTS plan shape, a LeftAnti hash join on the same key the
      // semi join uses; completes the existence-predicate family.
      // (No-orders-at-all would be vacuous: 0 such customers at
      // sf0.01 — every gate row must exercise the operator.)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > hiValue).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_inactive"), round(avg(col("c_acctbal")), 4).as("avg_bal"))
    },
    "q8_asof" -> { (s, dir) =>
      // as-of join: each purchase picks the most recent view at-or-
      // before its timestamp for the same user, (ts, id)-tie-ordered.
      // Spark-first shape: ONE ordered window over the union of both
      // event roles (they live in one table) — a single shuffle on
      // user_id; no range join, no per-row backward scan. Both engines
      // run the identical window, so the semantic corner (ties) hashes
      // identically.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables
        .events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ns"), col("event_type"), col("value"))
        // gate parity (sessionize precedent): DuckDB's TIMESTAMP view is
        // micro-precision — truncate BEFORE the window so tie-ordering
        // matches the oracle's (the operator itself is nanos-native)
        .withColumn("ts_ns", col("ts_ns") - col("ts_ns") % 1000)
        .withColumn(
          "view_ts",
          last(when(col("event_type") === "view", col("ts_ns")), ignoreNulls = true).over(w)
        )
        .withColumn(
          "view_value",
          last(when(col("event_type") === "view", graft.core.Dsp.round6(col("value"))), ignoreNulls = true).over(w)
        )
        .filter(col("event_type") === "purchase" && col("view_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts_ns"), col("view_ts"), col("view_value"))
    },
    "rollup_inc" -> { (s, dir) =>
      // INCREMENTAL AGGREGATE-VIEW MAINTENANCE — the materialized-
      // rollup cadence every warehouse needs at 100 TB (recomputing a
      // corpus-wide rollup per ingest batch is the anti-pattern): a
      // persisted (flag, status) rollup store is seeded from one
      // deterministic slice, then a DELTA batch aggregates ALONE
      // (delta-sized work) and merges by +; the merged store must
      // equal the full single-pass recompute (the oracle). Sums are
      // EXACT: TPC-H quantities are integral, so the store carries
      // BIGINT sums — the merge is order-independent (the
      // corpus_profile_inc discipline applied to relational rollups).
      val tmp = sources.Scratch.dir("rollup_inc")
      val li = Tables
        .lineitem(s, dir)
        .select(
          col("l_returnflag"),
          col("l_linestatus"),
          col("l_orderkey"),
          col("l_quantity").cast("long").as("qty")
        )
      def agg(df: DataFrame) =
        df.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_rows"))
      agg(li.filter(col("l_orderkey") % 4 =!= 0)).write.mode("overwrite").parquet(s"$tmp/store")
      val delta = agg(li.filter(col("l_orderkey") % 4 === 0))
      val merged = s.read
        .parquet(s"$tmp/store")
        .unionByName(delta)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("sum_qty")).as("sum_qty"), sum(col("n_rows")).as("n_rows"))
        .localCheckpoint()
      merged.write.mode("overwrite").parquet(s"$tmp/store")
      s.read.parquet(s"$tmp/store")
    },
    "rollup_rewrite_serve" -> { (s, dir) =>
      // THE OPTIMIZER RULE END-TO-END IN THE GATE SESSION: rollup_inc
      // proves the store MAINTENANCE; this gate proves the store
      // actually ANSWERS queries — a registered (flag, status) rollup
      // substitutes for the corpus scan at OPTIMIZATION time inside
      // the exact session a cluster runs (Verify installs
      // graft.GraftExtensions), exercising the r13 SUBSET-key + avg
      // derivations: the query groups by l_returnflag ALONE with an
      // avg, so RollupRewrite must re-aggregate the store (sum of
      // partial sums, avg = Σsum/Σcount). The gate THROWS unless the
      // optimized plan stopped reading l_quantity (rewrite fired), and
      // the rewritten rows hash against the plain-SQL oracle — a
      // rewrite that fires wrongly cannot pass. All sums are EXACT
      // (TPC-H quantities are integral doubles < 2^53), so rewrite ≡
      // recompute bit-for-bit. Registration is scoped to this query:
      // the 3-row result is collected (bounded) and the store
      // unregistered before returning, so no other gate's plan can
      // ever see it.
      val tmp = sources.Scratch.dir("rollup_rewrite_serve")
      val li = Tables.lineitem(s, dir)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .write
        .mode("overwrite")
        .parquet(s"$tmp/store")
      plans.MaterializedRollups.register(
        "gate_li_rollup",
        plans.MaterializedRollups.Spec(
          basePath = s"$dir/lineitem.parquet",
          baseCols = Set("l_returnflag", "l_linestatus", "l_quantity"),
          groupCols = Set("l_returnflag", "l_linestatus"),
          sumCols = Map("l_quantity" -> "sum_qty"),
          countCol = Some("n_rows"),
          store = s"$tmp/store"
        )
      )
      try {
        s.conf.set("spark.graft.rollupRewrite", "true")
        def probe(name: String, df: DataFrame): DataFrame = {
          val q = df
            .groupBy(col("l_returnflag"))
            .agg(
              sum(col("l_quantity")).as("sum_qty"),
              avg(col("l_quantity")).as("avg_qty"),
              count(lit(1)).as("n_rows")
            )
          val opt = q.queryExecution.optimizedPlan.toString
          require(
            !opt.contains("l_quantity") && opt.contains("sum_qty"),
            s"rollup rewrite did not fire for probe '$name' in the gate session:\n$opt"
          )
          q.withColumn("probe", lit(name))
        }
        // probe 'all': the r13 subset-key + avg derivations; probe
        // 'filtered': the r14 FILTER SUBSUMPTION — an equality on a
        // registered group key NOT in the query's grouping must
        // re-aggregate the store WITH that filter (and still never
        // read l_quantity); probe 'range': the r15 RANGE subsumption —
        // key >= lit AND key < lit partitions exactly like IN over the
        // store's key set
        val q = probe("all", li)
          .unionByName(probe("filtered", li.filter(col("l_linestatus") === "F")))
          .unionByName(
            probe("range", li.filter(col("l_returnflag") >= "A" && col("l_returnflag") < "R"))
          )
        val rows = q.collect().toIndexedSeq
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1),
          q.schema
        )
      } finally {
        s.conf.unset("spark.graft.rollupRewrite")
        plans.MaterializedRollups.unregister("gate_li_rollup")
      }
    },
    "sink_parquet" -> { (s, dir) =>
      // sink surface: partitioned parquet write + partition-pruned
      // read-back. The re-read filters to two lang partitions — the
      // directory layout prunes the scan to those partitions (the
      // 100 TB layout pattern: partition by coarse key, prune at read).
      val tmp = sources.Scratch.dir("sink_parquet")
      Tables
        .documents(s, dir)
        .write
        .mode("overwrite")
        .partitionBy("lang")
        .parquet(tmp)
      s.read
        .parquet(tmp)
        .filter(col("lang").isin("en", "zh"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"))
    },
    "sink_bucketed" -> { (s, dir) =>
      // the co-located-join layout pattern: bucketed fact tables join
      // WITHOUT a shuffle; the only exchange in this query is the final
      // per-source aggregation's
      bucketedJoinRows(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          sum(col("label")).cast("bigint").as("label_sum")
        )
    },
    "events_funnel" -> { (s, dir) =>
      funnel(
        Tables
          .events(s, dir)
          // oracle micro-parity (q8 precedent): DuckDB sees micros
          .withColumn("ts_ns", col("ts_ns") - col("ts_ns") % 1000)
      )
    },
    "events_retention" -> { (s, dir) =>
      // cohort retention: users bucketed by first-activity week, counted
      // per (cohort, week offset). Integral week bucketing on the
      // micro-truncated clock (CLAUDE div + micros rules). Plan: one
      // user-keyed shuffle builds the first-activity table, which
      // Catalyst then BROADCASTS back onto the raw activity stream (the
      // probe side never shuffles for the join — verified in the
      // executed plan); past broadcast size both sides share the
      // user_id partitioning for an SMJ. The countDistinct rollup is
      // the expand + two-phase agg, the only other exchange.
      val ev = Tables
        .events(s, dir)
        .select(
          col("user_id"),
          expr("(ts_ns - ts_ns % 1000) div 604800000000000").as("wk")
        )
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    },
    "q10_cube" -> { (s, dir) =>
      // full grouping-sets lattice: subtotals for every subset of
      // (flag, status) plus the grand total, with the standard
      // grouping_id bitmask (first column = MSB on both engines) —
      // completes the rollup/cube analytic surface; same one-pass
      // partial-agg expansion as q6_rollup
      Tables
        .lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("bigint").as("gid"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          count(lit(1)).as("n_rows")
        )
    },
    "q13_gsets" -> { (s, dir) =>
      // NON-hierarchical grouping sets ((flag), (status)) — the lattice
      // shape neither rollup (prefix chain) nor cube (full power set)
      // expresses: independent subtotal planes in the same one-pass
      // partial-agg expansion; grouping_id bitmask semantics pinned by
      // the q10 precedent (first column = MSB on both engines)
      Tables
        .lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"),
          col("l_linestatus")
        )
        .agg(
          grouping_id().cast("bigint").as("gid"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          count(lit(1)).as("n_rows")
        )
    },
    "layout_zorder" -> { (s, dir) =>
      // the multi-dimensional clustering key: bucket (user_id, value)
      // into 16×16 integral cells (value via the exact micro-grid —
      // float bucket boundaries would be a cross-engine ulp coin flip),
      // interleave to the 8-bit Morton code. Row-local except the
      // 1-row min/max broadcast; ZorderSpec demonstrates the payoff —
      // files range-partitioned by zval carry narrow min/max in BOTH
      // dims, so value-only predicates skip most files where a
      // user-sorted layout skips none.
      val ev = Tables
        .events(s, dir)
        .select(
          col("event_id"),
          col("user_id"),
          expr("CAST(floor(value * 1.0e6 + 0.5e0) AS BIGINT)").as("vi")
        )
      val stats = ev
        .agg(
          min(col("user_id")).as("umin"),
          max(col("user_id")).as("umax"),
          min(col("vi")).as("vmin"),
          max(col("vi")).as("vmax")
        )
        .withColumn("k", lit(1))
      ev.withColumn("k", lit(1))
        .join(broadcast(stats), Seq("k"))
        .withColumn("ub", expr("CAST(((user_id - umin) * 16) div (umax - umin + 1) AS INT)"))
        .withColumn("vb", expr("CAST(((vi - vmin) * 16) div (vmax - vmin + 1) AS INT)"))
        .select(
          col("event_id"),
          expr(s"CAST(${core.Scale.zValueSql("ub", "vb", "div")} AS INT)").as("zval")
        )
    },
    "q14_pivot" -> { (s, dir) =>
      // PIVOT — the wide-report reshape (per-user event-type spend
      // matrix): Spark's relational pivot with an EXPLICIT value list,
      // so the plan is a single hash aggregation with one
      // conditional-sum column per pivot value (no distinct-values
      // pre-scan, no second shuffle — the form that survives 100 TB;
      // an implicit pivot adds a distinct pass over the pivot column).
      // Money sums ride exact integer cents (floor(v·100+0.5) — value
      // is 2 dp by construction), so the wide sums hash exactly.
      val ev = Tables
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_type"),
          expr("CAST(floor(value * 100 + 0.5e0) AS BIGINT)").as("cents")
        )
      val p = ev
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
        .agg(sum(col("cents")))
      p.select(
        col("user_id"),
        coalesce(col("view"), lit(0L)).as("view_cents"),
        coalesce(col("click"), lit(0L)).as("click_cents"),
        coalesce(col("signup"), lit(0L)).as("signup_cents"),
        coalesce(col("purchase"), lit(0L)).as("purchase_cents"),
        coalesce(col("error"), lit(0L)).as("error_cents")
      )
    },
    "q17_scd2" -> { (s, dir) =>
      // SCD Type-2 dimension-history build — the warehouse-merge
      // classic: collapse the per-user attribute stream (the planted
      // `k` in props) into validity intervals [valid_from, valid_to)
      // with a version counter and an is_current flag. Change
      // detection (lag) and interval close (lead) share ONE user_id
      // hash partitioning — the second window re-sorts the filtered
      // survivors but never re-shuffles. Timestamps ride micros (the
      // DuckDB TIMESTAMP view of the parquet is micro-precision).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ev = Tables
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          expr("(ts_ns - ts_ns % 1000) div 1000").as("ts_us"),
          regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k")
        )
      ev.withColumn("prev_k", lag(col("k"), 1).over(w))
        .filter(col("prev_k").isNull || col("k") =!= col("prev_k"))
        .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
        .withColumn("version", row_number().over(w))
        .select(
          col("user_id"),
          col("k"),
          col("ts_us").as("valid_from"),
          col("valid_to"),
          col("version"),
          col("valid_to").isNull.as("is_current")
        )
    },
    "events_attribution" -> { (s, dir) =>
      // Multi-touch marketing attribution — per purchase, credit the
      // view/click touches of the same user inside a 24 h lookback
      // under THREE models at once: linear (value split equally),
      // first-touch, last-touch. Scale shape is the q9_range
      // bucket-explode: purchases explode into the exactly-2 day
      // buckets their lookback can overlap, equi-join on
      // (user_id, bucket) — a touch's single bucket matches at most
      // one branch, so no pair dedup is needed and the join stays a
      // shuffled hash join. Credit arithmetic is exact BIGINT micros
      // (cents·10⁴ div n_touches, both engines' integer division) —
      // the output never touches a float. Purchases with zero touches
      // carry no credit and drop out (documented: "direct"
      // conversions are the complement of q9_range's n_views > 0).
      val W = 86400000000000L
      val ev = Tables
        .events(s, dir)
        .withColumn("ts_ns", col("ts_ns") - col("ts_ns") % 1000)
      val touches = ev
        .filter(col("event_type").isin("view", "click"))
        .select(
          col("user_id"),
          col("event_type").as("t_type"),
          col("event_id").as("t_id"),
          col("ts_ns").as("t_ts"),
          expr(s"ts_ns div ${W}L").as("bucket")
        )
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id").as("p_id"),
          col("user_id"),
          col("ts_ns").as("p_ts"),
          expr("CAST(floor(value * 100 + 0.5e0) AS BIGINT)").as("p_cents")
        )
        .withColumn(
          "bucket",
          explode(array(expr(s"(p_ts - ${W}L) div ${W}L"), expr(s"p_ts div ${W}L")))
        )
      val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))
      purchases
        .join(touches, Seq("user_id", "bucket"))
        .filter(col("t_ts") < col("p_ts") && col("t_ts") >= col("p_ts") - W)
        .withColumn("n_t", count(lit(1)).over(wp))
        .withColumn("rk_f", row_number().over(wp.orderBy(col("t_ts").asc, col("t_id").asc)))
        .withColumn("rk_l", row_number().over(wp.orderBy(col("t_ts").desc, col("t_id").desc)))
        .groupBy(col("t_type"))
        .agg(
          count(lit(1)).as("n_touches"),
          sum(when(col("rk_f") === 1, 1L).otherwise(0L)).as("n_first"),
          sum(when(col("rk_l") === 1, 1L).otherwise(0L)).as("n_last"),
          sum(expr("(p_cents * 10000) div n_t")).as("linear_micros"),
          sum(when(col("rk_f") === 1, col("p_cents") * 10000L).otherwise(0L)).as("first_micros"),
          sum(when(col("rk_l") === 1, col("p_cents") * 10000L).otherwise(0L)).as("last_micros")
        )
    },
    "q15_unpivot" -> { (s, dir) =>
      // UNPIVOT/melt — the wide→long reshape inverse of q14_pivot,
      // via the native Dataset.unpivot (ANSI UNPIVOT): each wide row
      // expands row-locally into one (user_id, event_type, cents) row
      // per measure column — a Generate node, no shuffle beyond the
      // pivot's own aggregation. The pair (q14, q15) is the report ↔
      // storage reshape loop a warehouse runs constantly; at 100 TB
      // both directions stay one-pass.
      val ev = Tables
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_type"),
          expr("CAST(floor(value * 100 + 0.5e0) AS BIGINT)").as("cents")
        )
      val wide = ev
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
        .agg(sum(col("cents")))
        .select(
          col("user_id") +: Seq("view", "click", "signup", "purchase", "error")
            .map(c => coalesce(col(c), lit(0L)).as(c)): _*
        )
      wide.unpivot(
        Array(col("user_id")),
        Array(col("view"), col("click"), col("signup"), col("purchase"), col("error")),
        "etype",
        "cents"
      )
    },
    "q16_decile" -> { (s, dir) =>
      // Per-segment balance deciles — the ntile ranking anchor:
      // ntile(10) over (segment, ordered by exact integer cents with a
      // unique custkey tie-break — ntile is only deterministic under a
      // TOTAL order), rolled up to (segment, decile) boundary stats.
      // Deliberately PARTITIONED: a global ntile is the empty-
      // partition-window anti-pattern GlobalWindowCheck rejects; at
      // corpus scale a global decile assignment rides the quantile
      // sketch (sketch_quantile) instead.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("cents"), col("c_custkey"))
      Tables
        .customer(s, dir)
        .select(
          col("c_mktsegment"),
          col("c_custkey"),
          expr("CAST(floor(c_acctbal * 100 + 0.5e0) AS BIGINT)").as("cents")
        )
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(
          count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents")
        )
    },
    "merge_upsert" -> { (s, dir) =>
      // KEYED UPSERT-MERGE store maintenance (SCD Type-1 / MERGE INTO
      // latest-wins) — the row-level twin of rollup_inc's aggregate
      // maintenance: a persisted per-user attribute store (latest k by
      // (ts, event_id), plus a summed event count) is seeded from one
      // slice; the DELTA batch (event_id % 4 — deliberately
      // interleaved in time, so the merge must handle out-of-order
      // upserts, not just appends) collapses ALONE to one row per
      // touched user, and the merge re-runs the same latest-wins
      // keeper over store ∪ delta — associative, so the merged store
      // equals the full single-pass recompute (the oracle). Work per
      // ingest is delta-sized + store-sized, never a corpus re-scan;
      // both the collapse and the merge share ONE user_id hash
      // partitioning. Timestamps ride micros (DuckDB parity).
      val tmp = sources.Scratch.dir("merge_upsert")
      val ev = Tables
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          expr("(ts_ns - ts_ns % 1000) div 1000").as("ts_us"),
          regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k")
        )
      // the gate runs the SERVICE path (StreamOps.UpsertStore — the
      // same collapse the streaming cadence uses), so batch gate, batch
      // service, and stream share one keeper implementation
      streaming.StreamOps.UpsertStore.seed(ev.filter(col("event_id") % 4 =!= 0), tmp)
      streaming.StreamOps.UpsertStore.upsert(ev.filter(col("event_id") % 4 === 0), tmp)
      streaming.StreamOps.UpsertStore
        .serve(s, tmp)
        .select(
          col("user_id"),
          col("k").as("k_latest"),
          col("ts_us"),
          col("event_id").as("last_event_id"),
          col("n_events")
        )
    },
    "q19_setops" -> { (s, dir) =>
      // Set-operation anchors — INTERSECT / EXCEPT as deduplicating
      // set semantics (both plan as aggregations + joins, not row
      // concatenation): customers who bought in BOTH halves of the
      // order stream (intersect), only in the first (except), and the
      // distinct-union total. Each leg is an equi-keyed aggregate —
      // at scale the three legs share the custkey hash partitioning.
      val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"))
      val a = o.filter(col("o_orderkey") % 2 === 0).select(col("o_custkey"))
      val b = o.filter(col("o_orderkey") % 2 =!= 0).select(col("o_custkey"))
      def cnt(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n")).select(lit(tag).as("op"), col("n"))
      cnt(a.intersect(b), "intersect")
        .unionByName(cnt(a.except(b), "except_even"))
        .unionByName(cnt(a.union(b).distinct(), "union_distinct"))
    },
    "q18_closure" -> { (s, dir) =>
      // Hierarchy traversal (org chart / BOM / category tree): each
      // node's ROOT and DEPTH in a synthetic 10-ary part tree
      // (parent = partkey div 10; keys < 10 are roots). POINTER
      // DOUBLING, not parent-at-a-time walking: each round jumps every
      // node to its ancestor's ancestor and ADDS the jumped distance,
      // so 5 fixed rounds close any depth ≤ 2^5 (depth grows with
      // log₁₀ of the corpus — at 10¹² parts that's 12 levels, still 4
      // rounds; a per-level loop would pay depth× full-table joins).
      // Each round is ONE id-keyed equi-join of the frame with itself;
      // the frame is eagerly checkpointed per round (it feeds both
      // join sides — the components() 2^k fan-out lesson). Roots are
      // self-fixpoints (anc = id, d = 0), so converged rows pass
      // through later rounds unchanged. Exact integers end to end.
      var cur = Tables
        .part(s, dir)
        .select(
          col("p_partkey").as("id"),
          expr("CASE WHEN p_partkey div 10 = 0 THEN p_partkey ELSE p_partkey div 10 END").as("anc"),
          expr("CASE WHEN p_partkey div 10 = 0 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END").as("d")
        )
        .localCheckpoint()
      for (_ <- 1 to 5) {
        cur = cur
          .join(
            cur.select(col("id").as("jid"), col("anc").as("janc"), col("d").as("jd")),
            col("anc") === col("jid")
          )
          .select(col("id"), col("janc").as("anc"), (col("d") + col("jd")).as("d"))
          .localCheckpoint()
      }
      cur.select(col("id").as("p_partkey"), col("anc").as("root"), col("d").as("depth"))
    },
    "events_hopwin" -> { (s, dir) =>
      // HOPPING (sliding) window aggregation — 1 h windows every 30 min:
      // the overlapping-window analytics shape (Spark's
      // window(ts, "1 hour", "30 minutes")), realized through the
      // scale-safe integral form: each event explodes into EXACTLY
      // L/S = 2 window starts (integer div arithmetic — ts values
      // exceed 2^53, double division misbuckets), then ONE
      // (win, type) aggregation. Work is (L/S)·rows regardless of
      // window length — never a per-window re-scan; the same explode
      // is the streaming form's state key. Money rides exact cents.
      val S = 1800000000L
      Tables
        .events(s, dir)
        .select(
          expr("(ts_ns - ts_ns % 1000) div 1000").as("ts_us"),
          col("event_type"),
          expr("CAST(floor(value * 100 + 0.5e0) AS BIGINT)").as("cents")
        )
        .withColumn(
          "win_start_us",
          explode(
            array(
              expr(s"(ts_us div ${S}L) * ${S}L"),
              expr(s"((ts_us div ${S}L) - 1) * ${S}L")
            )
          )
        )
        .groupBy(col("win_start_us"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    },
    "events_markov" -> { (s, dir) =>
      // First-order event-transition matrix — the clickstream Markov
      // model behind next-event prediction and funnel diagnostics:
      // per (prev_type, next_type), the transition count and the
      // row-normalized probability in exact integer micros. ONE
      // user-keyed lag window builds the bigram stream; the (prev,
      // next) aggregation is types²-sized (tiny at any corpus size);
      // the row normalizer is a prev-keyed window over that tiny
      // grid — nothing after the first window touches corpus-sized
      // data. (n·10⁶) div total on both engines — no float surface.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val grid = Tables
        .events(s, dir)
        .select(
          col("user_id"),
          col("event_id"),
          expr("(ts_ns - ts_ns % 1000) div 1000").as("ts_us"),
          col("event_type")
        )
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      grid
        .withColumn(
          "total",
          sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("prev_type"))
          )
        )
        .select(
          col("prev_type"),
          col("next_type"),
          col("n"),
          expr("(n * 1000000) div total").as("p_micros")
        )
    },
    "q9_range" -> { (s, dir) =>
      // bounded-interval range join (views within 1 h before each
      // purchase, same user), scale-safe shape: bucketize the time axis
      // at the window width, explode each probe row into the exactly-2
      // buckets its window can overlap, equi-join on (user_id, bucket),
      // then the exact range predicate — candidate volume is O(2·|p|)
      // join rows instead of the quadratic theta-join, and the join
      // stays a shuffled hash join Catalyst can plan. Bucket arithmetic
      // is integral (`div`) — ts_ns exceeds 2^53, double division would
      // misbucket near hour boundaries.
      val hourNs = 3600000000000L
      val ev = Tables
        .events(s, dir)
        .withColumn("ts_ns", col("ts_ns") - col("ts_ns") % 1000) // oracle micro-parity
      val views = ev
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_ns").as("v_ts"), expr(s"ts_ns div $hourNs").as("bucket"))
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
        .withColumn(
          "bucket",
          explode(array(expr(s"(ts_ns - $hourNs) div $hourNs"), expr(s"ts_ns div $hourNs")))
        )
      purchases
        .join(views, Seq("user_id", "bucket"))
        .filter(col("v_ts") >= col("ts_ns") - hourNs && col("v_ts") <= col("ts_ns"))
        .groupBy(col("event_id"), col("user_id"), col("ts_ns"))
        .agg(count(lit(1)).as("n_views"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "events_ewma" -> eventsEwmaSql,
    "events_ab_test" -> {
      val zExpr =
        "((c0 / n0 - c1 / n1) / sqrt(((c0 + c1) / (n0 + n1)) * " +
          s"(${graft.core.Dsp.lit(1.0)} - (c0 + c1) / (n0 + n1)) * " +
          s"(${graft.core.Dsp.lit(1.0)} / n0 + ${graft.core.Dsp.lit(1.0)} / n1)))"
      "WITH pu AS (SELECT user_id, sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne, " +
        "count(*) AS nt FROM events GROUP BY user_id), " +
        "ar AS (SELECT user_id % 2 AS arm, CASE WHEN ne * 5 >= nt THEN 1 ELSE 0 END AS conv FROM pu), " +
        "ag AS MATERIALIZED (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
        "CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1 FROM ar) " +
        s"SELECT n0, c0, n1, c1, ${graft.core.Dsp.round6Sql(zExpr)} AS z, " +
        s"(abs(${graft.core.Dsp.round6Sql(zExpr)}) >= ${graft.core.Dsp.lit(1.96)}) AS significant FROM ag"
    },
    "events_anomaly" ->
      ("WITH e AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket FROM events), " +
        "c0 AS (SELECT event_type, bucket, count(*) AS cnt0 FROM e GROUP BY 1, 2), " +
        "c AS (SELECT event_type, bucket, CAST(cnt0 * (CASE WHEN bucket % 101 = 7 THEN 5 ELSE 1 END) AS BIGINT) AS cnt FROM c0), " +
        "w AS (SELECT event_type, bucket, cnt, count(cnt) OVER win AS n, sum(cnt) OVER win AS s, " +
        "sum(cnt * cnt) OVER win AS ss FROM c " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), " +
        "f AS (SELECT event_type, bucket, cnt, CAST(n * cnt - s AS BIGINT) AS num, " +
        "CAST(n * ss - s * s AS BIGINT) AS den2 FROM w WHERE n = 24) " +
        "SELECT event_type, bucket, cnt, " +
        s"CASE WHEN den2 = 0 THEN 0.0e0 ELSE ${core.Dsp.round6Sql("CAST(num AS DOUBLE) / sqrt(CAST(den2 AS DOUBLE))")} END AS z, " +
        "(num > 0 AND num * num > 9 * den2) AS is_spike FROM f"),
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, " +
        "round(sum(l_extendedprice), 4) AS sum_price, round(avg(l_discount), 6) AS avg_disc, " +
        "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "q2_join" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue, " +
        "count(*) AS n_rows FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
    "q3_topk" ->
      ("SELECT l_orderkey, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue " +
        "FROM lineitem GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"),
    "q4_running" ->
      ("SELECT user_id, event_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value FROM events"),
    "q5_topn_group" ->
      ("SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (" +
        "SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk " +
        "FROM orders) WHERE rk <= 3"),
    "q6_rollup" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, " +
        "count(*) AS n_rows FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
    "q7_semi_join" ->
      ("SELECT c_mktsegment, count(*) AS n_custs FROM customer " +
        s"WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > ${graft.core.Dsp.lit(hiValue)}) " +
        "GROUP BY c_mktsegment"),
    "q12_median" ->
      ("WITH r AS (SELECT o_orderpriority, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn, " +
        "count(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders) " +
        "SELECT o_orderpriority, round(avg(o_totalprice), 4) AS median_price, max(n) AS n_orders " +
        "FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY o_orderpriority"),
    "q11_anti_join" ->
      ("SELECT c_mktsegment, count(*) AS n_inactive, round(avg(c_acctbal), 4) AS avg_bal " +
        "FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        s"AND o_totalprice > ${graft.core.Dsp.lit(hiValue)}) " +
        "GROUP BY c_mktsegment"),
    "q8_asof" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type, value FROM events), " +
        "ao AS (SELECT event_id, user_id, ts_ns, event_type, " +
        "last_value(CASE WHEN event_type = 'view' THEN ts_ns END IGNORE NULLS) OVER w AS view_ts, " +
        s"last_value(CASE WHEN event_type = 'view' THEN ${graft.core.Dsp.round6Sql("value")} END IGNORE NULLS) OVER w AS view_value " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, ts_ns, view_ts, view_value FROM ao " +
        "WHERE event_type = 'purchase' AND view_ts IS NOT NULL"),
    "rollup_inc" ->
      ("SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "rollup_rewrite_serve" ->
      ("SELECT l_returnflag, sum(l_quantity) AS sum_qty, avg(l_quantity) AS avg_qty, " +
        "count(*) AS n_rows, 'all' AS probe FROM lineitem GROUP BY l_returnflag " +
        "UNION ALL " +
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty, avg(l_quantity) AS avg_qty, " +
        "count(*) AS n_rows, 'filtered' AS probe FROM lineitem WHERE l_linestatus = 'F' " +
        "GROUP BY l_returnflag " +
        "UNION ALL " +
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty, avg(l_quantity) AS avg_qty, " +
        "count(*) AS n_rows, 'range' AS probe FROM lineitem " +
        "WHERE l_returnflag >= 'A' AND l_returnflag < 'R' GROUP BY l_returnflag"),
    "sink_parquet" ->
      ("SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars " +
        "FROM documents WHERE lang IN ('en', 'zh') GROUP BY lang"),
    "sink_bucketed" ->
      ("SELECT d.source, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS total_chars, " +
        "CAST(sum(e.label) AS BIGINT) AS label_sum FROM documents d " +
        "JOIN embeddings e ON e.vec_id = d.doc_id GROUP BY d.source"),
    "events_funnel" -> {
      val win = "(PARTITION BY user_id ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING)"
      "WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type FROM events), " +
        "s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_ns END) OVER w AS v_ts " +
        s"FROM e WINDOW w AS $win), " +
        "s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND v_ts IS NOT NULL THEN ts_ns END) OVER w AS c_ts " +
        s"FROM s1 WINDOW w AS $win), " +
        "s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND c_ts IS NOT NULL THEN ts_ns END) OVER w AS p_ts " +
        s"FROM s2 WINDOW w AS $win) " +
        "SELECT user_id, min(v_ts) AS t_view, min(c_ts) AS t_click, min(p_ts) AS t_purchase, " +
        "CAST(CASE WHEN min(p_ts) IS NOT NULL THEN 3 WHEN min(c_ts) IS NOT NULL THEN 2 " +
        "WHEN min(v_ts) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage " +
        "FROM s3 GROUP BY user_id"
    },
    "events_retention" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events), " +
        "f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id) " +
        "SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset, " +
        "count(DISTINCT e.user_id) AS n_active " +
        "FROM e JOIN f ON f.user_id = e.user_id GROUP BY 1, 2"),
    "q10_cube" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_rows " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"),
    "q13_gsets" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_rows " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"),
    "layout_zorder" ->
      ("WITH e AS (SELECT event_id, user_id, CAST(floor(value * 1.0e6 + 0.5e0) AS BIGINT) AS vi FROM events), " +
        "s AS (SELECT min(user_id) AS umin, max(user_id) AS umax, min(vi) AS vmin, max(vi) AS vmax FROM e), " +
        "b AS (SELECT event_id, " +
        "CAST(((e.user_id - s.umin) * 16) // (s.umax - s.umin + 1) AS INT) AS ub, " +
        "CAST(((e.vi - s.vmin) * 16) // (s.vmax - s.vmin + 1) AS INT) AS vb FROM e, s) " +
        s"SELECT event_id, CAST(${core.Scale.zValueSql("ub", "vb", "//")} AS INT) AS zval FROM b"),
    "q14_pivot" ->
      ("SELECT user_id, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS view_cents, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS click_cents, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS signup_cents, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS purchase_cents, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS error_cents " +
        "FROM events GROUP BY user_id"),
    "q17_scd2" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, " +
        "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k FROM events), " +
        "c AS (SELECT *, lag(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_k FROM e), " +
        "f AS (SELECT * FROM c WHERE prev_k IS NULL OR k <> prev_k) " +
        "SELECT user_id, k, ts_us AS valid_from, " +
        "lead(ts_us) OVER w AS valid_to, " +
        "CAST(row_number() OVER w AS BIGINT) AS version, " +
        "(lead(ts_us) OVER w IS NULL) AS is_current " +
        "FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)"),
    "events_attribution" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type, value FROM events), " +
        "t AS (SELECT user_id, event_type AS t_type, event_id AS t_id, ts_ns AS t_ts FROM e " +
        "WHERE event_type IN ('view', 'click')), " +
        "p AS (SELECT event_id AS p_id, user_id, ts_ns AS p_ts, " +
        "CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS p_cents FROM e WHERE event_type = 'purchase'), " +
        "pr AS (SELECT p.p_id, p.p_cents, t.t_type, t.t_ts, t.t_id FROM p JOIN t " +
        "ON t.user_id = p.user_id AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - 86400000000000), " +
        "r AS (SELECT *, count(*) OVER (PARTITION BY p_id) AS n_t, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rk_f, " +
        "row_number() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rk_l FROM pr) " +
        "SELECT t_type, count(*) AS n_touches, " +
        "CAST(sum(CASE WHEN rk_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first, " +
        "CAST(sum(CASE WHEN rk_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last, " +
        "CAST(sum((p_cents * 10000) // n_t) AS BIGINT) AS linear_micros, " +
        "CAST(sum(CASE WHEN rk_f = 1 THEN p_cents * 10000 ELSE 0 END) AS BIGINT) AS first_micros, " +
        "CAST(sum(CASE WHEN rk_l = 1 THEN p_cents * 10000 ELSE 0 END) AS BIGINT) AS last_micros " +
        "FROM r GROUP BY t_type"),
    "q15_unpivot" ->
      ("WITH p AS (SELECT user_id, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS v_view, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS v_click, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS v_signup, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS v_purchase, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN CAST(floor(value * 100 + 0.5e0) AS BIGINT) END), 0) AS BIGINT) AS v_error " +
        "FROM events GROUP BY user_id) " +
        "SELECT user_id, 'view' AS etype, v_view AS cents FROM p " +
        "UNION ALL SELECT user_id, 'click', v_click FROM p " +
        "UNION ALL SELECT user_id, 'signup', v_signup FROM p " +
        "UNION ALL SELECT user_id, 'purchase', v_purchase FROM p " +
        "UNION ALL SELECT user_id, 'error', v_error FROM p"),
    "q16_decile" ->
      ("WITH c AS (SELECT c_mktsegment, c_custkey, " +
        "CAST(floor(c_acctbal * 100 + 0.5e0) AS BIGINT) AS cents FROM customer), " +
        "d AS (SELECT *, ntile(10) OVER (PARTITION BY c_mktsegment ORDER BY cents, c_custkey) AS decile FROM c) " +
        "SELECT c_mktsegment, CAST(decile AS INT) AS decile, count(*) AS n, " +
        "min(cents) AS min_cents, max(cents) AS max_cents " +
        "FROM d GROUP BY c_mktsegment, decile"),
    "merge_upsert" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, " +
        "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k FROM events), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n_events FROM e) " +
        "SELECT user_id, k AS k_latest, ts_us, event_id AS last_event_id, " +
        "CAST(n_events AS BIGINT) AS n_events FROM r WHERE rn = 1"),
    "q19_setops" ->
      ("WITH o AS (SELECT o_custkey, o_orderkey FROM orders), " +
        "a AS (SELECT o_custkey FROM o WHERE o_orderkey % 2 = 0), " +
        "b AS (SELECT o_custkey FROM o WHERE o_orderkey % 2 <> 0) " +
        "SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM a INTERSECT SELECT * FROM b) " +
        "UNION ALL SELECT 'except_even', count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b) " +
        "UNION ALL SELECT 'union_distinct', count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)"),
    "q18_closure" ->
      ("WITH RECURSIVE p AS MATERIALIZED (SELECT p_partkey AS id, p_partkey // 10 AS par FROM part), " +
        "walk AS (SELECT id AS wid, (CASE WHEN par = 0 THEN id ELSE par END) AS wcur, " +
        "(CASE WHEN par = 0 THEN 0 ELSE 1 END) AS wd FROM p " +
        "UNION ALL SELECT w.wid AS wid, " +
        "(CASE WHEN q.par = 0 THEN q.id ELSE q.par END) AS wcur, w.wd + 1 AS wd " +
        "FROM walk w JOIN p q ON q.id = w.wcur WHERE q.par <> 0) " +
        "SELECT wid AS p_partkey, CAST(wcur AS BIGINT) AS root, CAST(wd AS BIGINT) AS depth " +
        "FROM (SELECT wid, wcur, wd, row_number() OVER (PARTITION BY wid ORDER BY wd DESC) AS rn FROM walk) " +
        "WHERE rn = 1"),
    "events_hopwin" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 1000 AS ts_us, event_type, " +
        "CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS cents FROM events), " +
        "x AS (SELECT event_type, cents, unnest([" +
        "(ts_us // 1800000000) * 1800000000, ((ts_us // 1800000000) - 1) * 1800000000" +
        "]) AS win_start_us FROM e) " +
        "SELECT win_start_us, event_type, count(*) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM x GROUP BY 1, 2"),
    "events_markov" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events), " +
        "b AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM e), " +
        "g AS (SELECT prev_type, event_type AS next_type, count(*) AS n FROM b " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, next_type, CAST(n AS BIGINT) AS n, " +
        "CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_micros FROM g"),
    "q9_range" ->
      ("WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type FROM events), " +
        "v AS (SELECT user_id, ts_ns AS v_ts FROM e WHERE event_type = 'view'), " +
        "p AS (SELECT event_id, user_id, ts_ns FROM e WHERE event_type = 'purchase') " +
        "SELECT p.event_id, p.user_id, p.ts_ns, count(*) AS n_views FROM p " +
        "JOIN v ON v.user_id = p.user_id AND v.v_ts >= p.ts_ns - 3600000000000 AND v.v_ts <= p.ts_ns " +
        "GROUP BY p.event_id, p.user_id, p.ts_ns")
  )
}
