package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical 100TB-shape guard: every gate query's physical plan is
  * audited for scale anti-patterns. A query that reintroduces a
  * cartesian product, an unbounded nested-loop join, or a global
  * single-partition exchange fails here before it ever ships.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  // broadcast-nested-loop against literal/centroid/global-stats sides
  // ≤16 rows is the intended shape for these (documented in SURVEY §5);
  // text_bm25's is the 1-row corpus-stats aggregate (Catalyst folds the
  // constant join key away)
  private val bnljAllowed = Set(
    "sim_ivf_topk", "sim_ivf_serve", "sim_ivfpq_serve", "sim_topk", "sim_pq_topk", "sim_ivfpq_topk",
    "sim_ivfpq_trained", // same ≤16-row centroid broadcast as the other IVF paths
    "sim_sq8_ivf", // embeds ivfCandidates' ≤16-row centroid broadcast (the sim_ivf_topk shape)
    "dedup_semantic", // same ≤16-row centroid-assignment broadcast as sim_ivf
    "decontam_semantic", // benchmark-suite broadcast side (KBs–MBs at scale)
    "anno_mask", "epoch_extract", "epoch_average", // globalRank's one-row-per-4096-ids offset self-join
    "eeg_workflow", // epoching via globalRank — same offset self-join
    "text_bm25", "text_unigram_lp", "sample_mix", "sample_mix_bpe", "sample_dsir", "curate_llm", "layout_zorder", // 1-row corpus-stats broadcast sides
    "sample_budget", // same shape as sample_mix: per-source agg joined to a 1-ROW totals aggregate on a constant key Catalyst folds away — the broadcast side is exactly one row at any corpus size
    "sample_draw", // embeds sample_budget's plan (same 1-row totals BNLJ); the draw's own join is a keyed broadcast equi-join on source
    "sample_d4", // same sample_budget shape: nList-row per-cell aggregate joined to a 1-ROW totals aggregate on a constant key; the draw join itself is a keyed broadcast on cid
    "sketch_hll_set", // source-pair frame: non-equi (src_a < src_b) self-join of the SOURCES-sized estimate table (≤ tens of rows at any corpus — the corpus only feeds the one register-grid scan)
    "text_bigram_kn", // 1-row distinct-bigram-type total on a constant key (the bm25 shape)

    "text_langid_ngram", // per-lang count + 1-row vocab-size broadcast sides
    "curate_pagerank", // power iteration's 1-row stat frames: node count + per-iteration dangling mass, crossJoin(broadcast(1-row)) by construction at any corpus size
    "dedup_semdedup", // same ≤16-row centroid-assignment broadcast as sim_ivf / dedup_semantic
    "sim_knn_graph", // same ≤16-row centroid-assignment broadcast as dedup_semdedup
    "sim_communities", // label propagation over sim_knn_graph's edges — same centroid broadcast
    "text_pmi", // two 1-row totals stat frames (the bm25 shape)
    "retrieve_rrf", // embeds text_bm25's 1-row stats broadcast + a 1-ROW dense-query broadcast (the sim_topk query-table shape, N=1)
    "sim_filtered_topk", // embeds ivfCandidates' ≤16-row centroid broadcast (the sim_ivf_topk shape)
    "mix_doremi", // three 1-row totals stat frames (corpus token total, source totals, weight sum) — the bm25/sample_budget shape
    "mix_schedule" // embeds mix_doremi's 1-row stat frames + the largest-remainder rank's non-equi self-join over the SOURCES-sized quota frame (the sketch_hll_set shape: ≤ tens of rows at any corpus)
  )

  // a Window.partitionBy(constant) folds to an EMPTY partition spec and
  // WindowExec moves the ENTIRE input to one task for the sort (the r9
  // sim_ivf_layout regression — 8 `WARN WindowExec: No Partition Defined`
  // lines in the bench tail were the only signal). This walk makes the
  // r3 "no partition-less window anywhere" invariant mechanical.
  private def emptyPartitionWindows(
      p: org.apache.spark.sql.execution.SparkPlan
  ): Seq[String] = {
    val here = p match {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty =>
        Seq(w.nodeName)
      // the rank-pushdown node is the same single-task sort when its
      // partition spec is empty (Final mode)
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty =>
        Seq(w.nodeName)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.initialPlan)
      case other => other.children
    }
    here ++ (kids ++ p.subqueries).flatMap(emptyPartitionWindows)
  }

  test("no gate query plans a cartesian product, global sort exchange, or partition-less window") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val exec =
        try fn(spark, sf).queryExecution.executedPlan
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      val plan = exec.toString
      if (plan.contains("CartesianProduct")) offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        offenders += s"$name: BroadcastNestedLoopJoin"
      if (plan.contains("Exchange SinglePartition") && !plan.contains("AdaptiveSparkPlan"))
        offenders += s"$name: Exchange SinglePartition"
      emptyPartitionWindows(exec).foreach(w => offenders += s"$name: empty-partition $w")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // the presorted contract's observable: a DSP chain off Signal.long
  // must plan exactly ONE row exchange (the ranking window's) — a
  // regression that re-repartitions mid-chain (e.g. a Window over
  // mapPartitions output, or a dropped presorted flag) shows up as a
  // second exchange over the signal
  private def exchangeCount(name: String): Int = {
    val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    plan.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
  }

  test("presorted DSP chains plan exactly one signal exchange") {
    // psd_welch adds the (channel, f) aggregation exchange on top of the
    // window's; the scans themselves must add none
    val expect = Map(
      "iir_butter_lp" -> 1,
      "iir_butter_filtfilt" -> 1,
      "iir_lfilter_lp" -> 1,
      "hilbert_env" -> 1,
      "down_2" -> 1,
      "up_3" -> 1,
      "resample_3_2" -> 1,
      "stft64" -> 1,
      "psd_welch" -> 2,
      "psd_multitaper" -> 2, // one frame-scan exchange + the (channel, f) agg

      // the 8-sample pivot groups by (channel, g): channel partitioning
      // from the ranking window already clusters it — no second exchange
      "dwt_haar" -> 1
    )
    val bad = expect.collect {
      case (q, want) if exchangeCount(q) != want => s"$q: ${exchangeCount(q)} != $want"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  // every node of a gate query's executed plan, through the AQE
  // wrapper's initial plan and subqueries
  private def planNodes(name: String): Seq[org.apache.spark.sql.execution.SparkPlan] =
    SparkProbe.nodes(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)

  // every gate built on FirOps.same / CwtOps.cwtMorlet runs the
  // convBank channel scan: a Lag/Lead window expression in its plan
  // means a per-tap window frame came back. fir_rect_valid keeps the
  // lag-sum by design ('valid' mode) and proves the matcher live.
  test("same-mode FIR and CWT gates plan no lag/lead windows; cwt_morlet adds no exchange") {
    import org.apache.spark.sql.catalyst.expressions.{Lag, Lead}
    import org.apache.spark.sql.execution.exchange.Exchange
    def offsetWindows(name: String): Int =
      planNodes(name).flatMap(_.expressions.flatMap(_.collect { case e @ (_: Lag | _: Lead) => e })).size
    assert(offsetWindows("fir_rect_valid") > 0, "matcher is stale: fir_rect_valid plans no lag/lead")
    val scanGates = Seq(
      "fir_rect", "fir_bartlett_lp", "fir_hamming_lp", "fir_hann_bp", "fir_blackman_hp",
      "fir_kaiser_lp", "fir_kaiser_bs", "fir_remez_lp", "fir_remez_bp", "cwt_morlet", "pipeline_demo"
    )
    val bad = scanGates.map(q => q -> offsetWindows(q)).filter(_._2 > 0)
    assert(bad.isEmpty, s"lag/lead window expressions in: ${bad.mkString(", ")}")
    // presorted over Signal.long: the ranking window's exchange is the only one
    val exchanges = planNodes("cwt_morlet").count(_.isInstanceOf[Exchange])
    assert(exchanges == 1, s"cwt_morlet plans $exchanges exchanges, want 1")
  }

  // segAssemble hands each segment its in-signal length, so the
  // overlap-add path clips its tail without a per-channel max(n)
  // aggregate broadcast back onto the rows
  test("fir_oa_fast plans no aggregate and no broadcast join") {
    val names = planNodes("fir_oa_fast").map(_.nodeName)
    val bad = names.filter(n => n.contains("HashAggregate") || n.contains("BroadcastHashJoin"))
    assert(bad.isEmpty, s"fir_oa_fast plans ${bad.mkString(", ")}")
    assert(names.exists(_.contains("MapPartitions")), s"matcher is stale: ${names.mkString(", ")}")
  }

  // the chunk and winnow kernels do per-document work row-locally: the
  // plans of every action a gate runs, construction-time checkpoints
  // included, key no aggregate or join on bucket and window nothing by
  // doc_id. dedup_hash_embed's grid (inside a checkpoint) and
  // text_chunks_cdc's boundary window prove both matchers live.
  test("retrieve gates key nothing on bucket; winnow_topk windows nothing by doc_id") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExecBase
    def actionNodes(name: String) = {
      val (df, plans) = SparkProbe.actionPlans(SparkEntry.queries(name)(spark, sf))
      (plans :+ df.queryExecution.executedPlan).flatMap(SparkProbe.nodes)
    }
    def on(col: String, es: Seq[Expression]): Boolean =
      es.exists(_.collectFirst { case a: Attribute if a.name == col => a }.nonEmpty)
    def bucketKeyed(name: String): Seq[String] = actionNodes(name).collect {
      case a: BaseAggregateExec if on("bucket", a.groupingExpressions) => s"$name: ${a.nodeName} by bucket"
      case j: BaseJoinExec if on("bucket", j.leftKeys ++ j.rightKeys) => s"$name: ${j.nodeName} on bucket"
    }
    def docWindows(name: String): Seq[String] = actionNodes(name).collect {
      case w: WindowExecBase if on("doc_id", w.partitionSpec) => s"$name: ${w.nodeName} by doc_id"
    }
    assert(bucketKeyed("dedup_hash_embed").nonEmpty, "matcher is stale: dedup_hash_embed keys nothing on bucket")
    assert(docWindows("text_chunks_cdc").nonEmpty, "matcher is stale: text_chunks_cdc windows nothing by doc_id")
    val bad = bucketKeyed("retrieve_chunks") ++ bucketKeyed("retrieve_maxsim") ++ docWindows("winnow_topk")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  // corpus_curation's per-document work runs once per document: in the
  // plan of every action a gate runs, construction-time checkpoints
  // included, no signature or text split appears twice, and no filter
  // re-evaluates a signature, a regexp replace or a split (Catalyst
  // pushes a filter on a projected column below the projection by
  // inlining its expression, and CSE never merges two lambdas over one
  // split)
  test("per-document expressions are evaluated once") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace, StringSplit}
    import org.apache.spark.sql.execution.FilterExec
    import graft.functions.{MinHashSig, SimHash64}
    def costly(e: Expression): Boolean = e match {
      case _: SimHash64 | _: MinHashSig | _: StringSplit => true
      case _ => false
    }
    def offenders(name: String): Seq[String] = {
      val (df, plans) = SparkProbe.actionPlans(SparkEntry.queries(name)(spark, sf))
      (plans :+ df.queryExecution.executedPlan).flatMap { plan =>
        val nodes = SparkProbe.nodes(plan)
        val repeated = nodes
          .flatMap(_.expressions.flatMap(_.collect { case e if costly(e) => e.nodeName }))
          .groupBy(identity)
          .collect { case (e, hits) if hits.size > 1 => s"$name: $e ${hits.size} times in one plan" }
        val filtered = nodes.collect {
          case f: FilterExec if f.condition.exists(e => costly(e) || e.isInstanceOf[RegExpReplace]) =>
            s"$name: a Filter evaluates ${f.condition.collect { case e if costly(e) || e.isInstanceOf[RegExpReplace] => e.nodeName }.distinct.mkString(", ")}"
        }
        repeated ++ filtered
      }.distinct
    }
    val bad = Seq(
      "dedup_minhash", "dedup_simhash_pairs", "dedup_components", "curate_splits", "text_gopher",
      "sitemap_extract", "sitemap_index", "sitemap_frontier"
    ).flatMap(offenders)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  // The banded screens run through Dedup.bandPairs: one exchange on
  // (band, key) and a per-bucket scan emitting each pair once. In the plan
  // of every action such a gate runs, construction-time checkpoints
  // included, no join is keyed on a band column and no aggregate groups
  // by exactly a pair's two ids (the distinct after a self-join).
  test("banded near-dup screens plan no band self-join and no pair distinct") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val bandCols = Set("bi", "ci", "band")
    val pairCols = Seq(Set("vid_a", "vid_b"), Set("doc_a", "doc_b"), Set("rep_a", "rep_b"), Set("media_a", "media_b"))
    def names(es: Seq[Expression]): Seq[String] = es.flatMap(_.collect { case a: Attribute => a.name })
    def offenders(name: String, plans: Seq[SparkPlan]): Seq[String] =
      plans.flatMap(SparkProbe.nodes).collect {
        case j: HashJoin if names(j.leftKeys ++ j.rightKeys).exists(bandCols) => s"$name: ${j.nodeName} on a band column"
        case j: SortMergeJoinExec if names(j.leftKeys ++ j.rightKeys).exists(bandCols) => s"$name: ${j.nodeName} on a band column"
        case a: BaseAggregateExec if a.groupingExpressions.nonEmpty && pairCols.contains(names(a.groupingExpressions).toSet) =>
          s"$name: ${a.nodeName} by the pair columns"
      }.distinct
    val bands = Seq((1L, 0, 5L), (2L, 0, 5L)).toDF("doc_id", "bi", "bv")
    val probe = bands.select(col("doc_id").as("doc_a"), col("bi"), col("bv"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bi"), col("bv")), Seq("bi", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    assert(offenders("probe", Seq(probe.queryExecution.executedPlan)).size == 2, "matcher is stale: misses the banded self-join")
    val bad = Seq(
      "dedup_embed", "dedup_hash_embed", "mm_phash_pairs", "mm_wav_fp_pairs", "dedup_minhash", "dedup_simhash_pairs"
    ).flatMap { name =>
      val (df, plans) = SparkProbe.actionPlans(SparkEntry.queries(name)(spark, sf))
      offenders(name, plans :+ df.queryExecution.executedPlan)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  // The wide-payload rule, mechanical: a ranking window sorts
  // (key, id, metric) only — embedding or code arrays join back after
  // the prune. Checked on every action a flat ANN gate runs, the
  // construction-time checkpoints and collects included.
  test("flat ANN gates rank only narrow frames") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExecBase
    import org.apache.spark.sql.types.ArrayType
    def wideWindows(name: String, plans: Seq[SparkPlan]): Seq[String] =
      plans.flatMap(SparkProbe.nodes).collect {
        case w: WindowExecBase if w.child.output.exists(_.dataType.isInstanceOf[ArrayType]) =>
          s"$name: ${w.nodeName} over ${w.child.output.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name).mkString(", ")}"
      }
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val probe = Seq((1L, Seq(1.0))).toDF("id", "v")
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("id")))
    assert(wideWindows("probe", Seq(probe.queryExecution.executedPlan)).nonEmpty, "matcher is stale: misses an array under a window")
    val gates = Seq(
      "sim_topk", "sim_ivf_topk", "sim_filtered_topk", "sim_pq_topk", "sim_ivfpq_topk",
      "sim_ivfpq_serve", "sim_ivfpq_trained", "sim_sq8_ivf", "sim_ivf_serve"
    )
    val bad = gates.flatMap { name =>
      val (df, plans) = SparkProbe.actionPlans(SparkEntry.queries(name)(spark, sf))
      wideWindows(name, plans :+ df.queryExecution.executedPlan)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("star join broadcasts its dimension sides") {
    val plan = SparkEntry.queries("q2_join")(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q2_join should broadcast dims:\n${plan.take(600)}")
  }

  test("one-shuffle contracts: funnel and corpus_shard plan a single row exchange") {
    // events_funnel: three chained windows + the per-user agg all ride
    // ONE user_id hash partition; corpus_shard: the position window's
    // shard partition is the only exchange. A second exchange in either
    // is a dropped-partitioning regression.
    for ((q, want) <- Seq("events_funnel" -> 1, "corpus_shard" -> 1)) {
      val got = exchangeCount(q)
      assert(got == want, s"$q: $got exchanges != $want")
    }
    // sketch_cms's top-20 must be TakeOrderedAndProject, not a global sort
    val plan = SparkEntry.queries("sketch_cms")(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-20 should plan TakeOrdered, not a global sort")
  }

  test("sink_parquet read-back prunes lang partitions at the scan") {
    val plan = SparkEntry.queries("sink_parquet")(spark, sf).queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("lang"), s"lang partition filter not pushed: $scan")
  }

  test("cdx_layout read-back prunes surt_host shard partitions at the scan") {
    val plan = SparkEntry.queries("cdx_layout")(spark, sf).queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("surt_host"), s"surt_host partition filter not pushed: $scan")
  }

  test("edf_corpus read-back prunes recording partitions at the scan") {
    val plan = SparkEntry.queries("edf_corpus")(spark, sf).queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("recording"), s"recording partition filter not pushed: $scan")
  }

  test("dedup_incremental verify path never re-reads corpus text") {
    // the per-ingest contract: documents text is scanned ONLY by the
    // eager store builds and the batch checkpoint at construction —
    // the RETURNED plan reads the checkpointed batch and the parquet
    // stores, never a `documents` relation
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    def relPaths(p: LogicalPlan): Seq[String] = {
      val own = p match {
        case r: LogicalRelation =>
          r.relation match {
            case h: HadoopFsRelation => Seq(h.location.rootPaths.mkString(","))
            case other => Seq(other.toString)
          }
        case _ => Nil
      }
      own ++ p.children.flatMap(relPaths)
    }
    val paths = relPaths(df.queryExecution.optimizedPlan)
    assert(
      paths.count(_.contains("dedup_incremental")) >= 2,
      s"audit saw no store reads — matcher is stale: $paths"
    )
    assert(
      !paths.exists(_.contains("documents")),
      s"returned plan re-reads documents: ${paths.filter(_.contains("documents"))}"
    )
  }

  test("corpus_profile reads documents exactly once") {
    // the one-scan contract: every sketch insert (HLL, dyadic quantile,
    // counts) rides ONE explode off ONE documents relation — a second
    // scan would mean the union-of-inserts fan-out regressed to
    // per-sketch subtrees
    val plan = graft.llm.Sketches
      .corpusProfile(core.Tables.documents(spark, sf))
      .queryExecution
      .executedPlan
      .toString
    val scans = plan.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans == 1, s"expected exactly 1 documents scan, found $scans")
  }

  test("corpus_profile_inc ingest plan reads the store plus ONLY the batch slice") {
    // the continuous-ingest contract: the seed slice is gridded once at
    // store-build time (eager write at construction); the RETURNED plan
    // merges the parquet store with a grid of the batch slice only —
    // one filtered documents scan, at least one store scan
    val plan = graft.llm.Sketches
      .corpusProfileIncremental(core.Tables.documents(spark, sf))
      .queryExecution
      .executedPlan
      .toString
    val docScans = plan.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    val storeScans = plan.linesIterator.count(l => l.contains("FileScan") && l.contains("corpus_profile_inc"))
    assert(docScans == 1, s"expected exactly 1 batch documents scan, found $docScans")
    assert(storeScans >= 1, s"store parquet not read (found $storeScans scans)")
  }

  test("sim_ivf_serve prunes cell partitions and joins candidates broadcast") {
    // batch serving contract: the probed-cell UNION must reach the store
    // scan as PartitionFilters, and the probe/query joins must broadcast
    // (the corpus side never shuffles)
    val df = graft.llm.Similarity.ivfServeTopk(core.Tables.embeddings(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("sim_ivf_serve"))
      .getOrElse("")
    assert(scan.contains("cid"), s"cid partition filter not pushed: $scan")
    assert(p.contains("BroadcastHashJoin"), "probe/query joins should broadcast")
  }

  test("GlobalWindowCheck rejects constant-partition windows at analysis time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val chk = graft.functions.GlobalWindowCheck(spark)
    val df = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "x")
    val bad = df.select(
      col("id"),
      row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(0)).orderBy(col("x")))
        .as("r")
    )
    val good = df.select(
      col("id"),
      row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("id")).orderBy(col("x")))
        .as("r")
    )
    spark.conf.set("spark.graft.failOnGlobalWindow", "true")
    try {
      intercept[IllegalStateException](chk(bad.queryExecution.analyzed))
      chk(good.queryExecution.analyzed) // keyed window must pass
    } finally spark.conf.unset("spark.graft.failOnGlobalWindow")
    chk(bad.queryExecution.analyzed) // conf off: warn-only Spark default
  }

  test("sim_ivfpq_serve reads ONLY packed codes from pruned cell partitions") {
    // the codes-store contract: 8 B/vector — the scan's ReadSchema must
    // carry (vid, code) and NO raw embedding column, and the probed-cell
    // literals must reach it as PartitionFilters
    val df = graft.llm.Similarity.ivfPqServeTopk(core.Tables.embeddings(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("sim_ivfpq_serve"))
      .getOrElse("")
    assert(scan.contains("cid"), s"cid partition filter not pushed: $scan")
    val schema = p.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("sim_ivfpq_serve"))
      .getOrElse(scan)
    assert(schema.contains("code") && !schema.contains("embedding"),
      s"store scan should read packed codes only: $schema")
  }

  test("sim_ivf_layout prunes cell partitions at the scan") {
    // the ANN serving contract: the probe reads ONLY its nProbe cell
    // partitions — the cid literals must reach the scan as
    // PartitionFilters, not a post-scan filter
    val df = graft.llm.Similarity.ivfLayoutTopk(core.Tables.embeddings(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("sim_ivf_layout"))
      .getOrElse("")
    assert(scan.contains("cid"), s"cid partition filter not pushed: $scan")
  }

  test("sink_bucketed joins co-located buckets with zero shuffle") {
    // forceSortMerge pins the large-by-large shape bucketing exists for
    // (at gate scale Catalyst rightly broadcasts the tiny side instead)
    val joined = BaseQueries.bucketedJoinRows(spark, sf, forceSortMerge = true)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(600)}")
    assert(plan.contains("Bucketed: true"), s"scan did not use buckets:\n${plan.take(1000)}")
    assert(!plan.contains("Exchange"), s"bucketed join planned a shuffle:\n${plan.take(1000)}")
    assert(joined.count() > 0, "bucketed join returned no rows")
  }

  test("projection pruning reaches the parquet scan in q1_agg") {
    val plan = SparkEntry.queries("q1_agg")(spark, sf).queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the scan must not read the full 16-column lineitem schema
    assert(!scan.contains("l_comment"), s"unpruned scan: $scan")
  }
}
