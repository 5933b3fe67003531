package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Tables}

/** End-to-end training-data curation: quality filter → exact-dedup
  * keepers → deterministic train/val/test assignment — the canonical
  * "raw corpus in, training splits out" flow, composed from the same
  * primitives the individual gate queries check.
  *
  * Every stage is one shuffle-bounded relational step: the quality
  * score is row-local, the keeper rule one window over the content
  * hash (small groups, hash-partitioned), the split a pure function of
  * doc_id — so the whole pipeline scales exactly like dedup_exact.
  */
object Curation {

  /** The text_quality score as a reusable Column (same formula as the
    * gate query, unrounded — filters compare the raw value).
    */
  def qualityScore: Column =
    qualityOf(
      size(split(col("text"), " ")),
      length(col("text")),
      length(regexp_replace(col("text"), "[^0-9]", "")),
      length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    )

  /** The quality formula over a document's counts: space-split tokens,
    * characters (code points), ASCII digits, and characters outside
    * `[a-z0-9 ]`.
    */
  private def qualityOf(nTok0: Column, nChars0: Column, nDigit0: Column, nPunct0: Column): Column = {
    val Seq(nTok, nChars, nDigit, nPunct) = Seq(nTok0, nChars0, nDigit0, nPunct0).map(_.cast("double"))
    val awl = (nChars - (nTok - 1)) / nTok
    greatest(
      lit(0.0),
      least(lit(1.0), lit(0.5) + lit(0.1) * (awl - 4.0) - nDigit / nChars - nPunct / nChars)
    )
  }

  /** `docs` plus the [[qualityOf]] counts of its `text`, in one pass over
    * each document's characters (a kernel, so no filter on the score can
    * push the counting under itself and run it twice): `q_tok` (spaces
    * + 1, Spark's `size(split(text, " "))`), `q_chars` (code points, its
    * `length`), `q_digit` and `q_punct`. A null text has null counts.
    */
  private[graft] def withQualityCounts(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    val ti = docs.schema.fieldIndex("text")
    val out = Seq("q_tok", "q_chars", "q_digit", "q_punct").foldLeft(docs.schema)(_.add(_, LongType))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val t = r.getString(ti)
        val counts =
          if (t == null) Seq(null, null, null, null)
          else {
            var (space, lower, digit) = (0L, 0L, 0L)
            var i = 0
            while (i < t.length) {
              val c = t.charAt(i)
              if (c == ' ') space += 1
              else if (c >= 'a' && c <= 'z') lower += 1
              else if (c >= '0' && c <= '9') digit += 1
              i += 1
            }
            val chars = t.codePointCount(0, t.length).toLong
            Seq(space + 1, chars, digit, chars - space - lower - digit)
          }
        Row.fromSeq(r.toSeq ++ counts)
      }
    }(org.apache.spark.sql.Encoders.row(out))
  }

  /** The quality gate and the exact-dedup keeper rule every curation
    * flow starts with: (doc_id, text, carry…, quality) of the docs with
    * quality ≥ minQuality that hold the min doc_id of their exact-content
    * group. The gate runs FIRST: a dropped document must not shadow its
    * duplicates as their keeper.
    */
  private def keepers(docs: DataFrame, minQuality: Double, carry: String*): DataFrame = {
    val cols = ("doc_id" +: "text" +: carry).map(col)
    withQualityCounts(docs.select(cols: _*))
      .select(cols :+ qualityOf(col("q_tok"), col("q_chars"), col("q_digit"), col("q_punct")).as("quality"): _*)
      .filter(col("quality") >= minQuality)
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keep_id"))
      .drop("keep_id")
  }

  private[llm] val qualitySql: String =
    "greatest(0.0e0, least(1.0e0, 0.5e0 + 0.1e0 * ((n_chars - (n_tok - 1)) / n_tok - 4.0e0) " +
      "- n_digit / n_chars - n_punct / n_chars))"

  /** md5 bucket in [0, mod): THE deterministic cross-engine hash the
    * split/decontam/sampling stages share (SQL twins render the same
    * `CAST(concat('0x', substr(md5(…), 1, 8)) AS BIGINT) % mod`).
    */
  private def md5Bucket(key: Column, mod: Int): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("long") % mod

  /** Deterministic 0–99 bucket from doc_id (md5-based so both engines
    * agree); 90/5/5 → train/val/test.
    */
  private def splitCol: Column = {
    val h100 = md5Bucket(col("doc_id").cast("string"), 100)
    when(h100 < 90, "train").when(h100 < 95, "val").otherwise("test")
  }

  /** Curated corpus: keep docs with quality ≥ minQuality that are the
    * keeper (min doc_id) of their exact-content group, assigned to a
    * split. Output: (doc_id, split, quality).
    */
  def curate(docs: DataFrame, minQuality: Double = 0.45): DataFrame =
    keepers(docs, minQuality).select(col("doc_id"), splitCol.as("split"), col("quality"))

  /** Benchmark decontamination core: for each candidate training doc,
    * the number of distinct word w-shingles it shares with the
    * benchmark corpus (docs sharing none emit no row). The GPT-3-style
    * n-gram screen — production pipelines use w=13 on real text; the
    * gate instance uses the shared w=3 shingle machinery because the
    * synthetic docs draw ~100 tokens from a tiny vocabulary.
    *
    * Scale shape: both sides compute their shingle-hash SET row-locally
    * (`ShingleHashSet` — a projection off the scan, no token shuffle);
    * the benchmark side is distinct-reduced and BROADCAST (a benchmark
    * suite is tiny next to a training corpus), so the screen is
    * map-side work plus one aggregation by doc_id. The join runs on
    * xxhash64 shingle hashes — the shuffle-free broadcast probe moves
    * longs, not shingle strings (collision caveat as dedup_jaccard).
    */
  private def shingleRows(d: DataFrame, w: Int): DataFrame = d.select(
    col("doc_id"),
    explode(
      graft.functions.exprs.shingle_hash_set(split(col("text"), " "), w, TextStats.maxTokens)
    ).as("sh")
  )

  def decontamCounts(train: DataFrame, bench: DataFrame, w: Int = 3): DataFrame =
    shingleRows(train, w)
      .join(broadcast(shingleRows(bench, w).select(col("sh")).distinct()), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contam"))

  /** Watermarked streaming decontam: the train stream carries an
    * arrival timestamp `ts`; contamination counts finalize per
    * (window, doc) once the watermark passes the window end, so the
    * aggregation state store EVICTS finished docs instead of growing
    * with the corpus (the complete-mode use of [[decontamCounts]] on a
    * stream keeps every doc's row forever). A doc's shingles all arrive
    * in its own row, so the per-window count is the full per-doc count
    * as long as windows outlast a batch. Append-mode output.
    */
  def decontamStream(
      train: DataFrame,
      bench: DataFrame,
      w: Int = 3,
      windowDur: String = "10 seconds",
      delay: String = "10 seconds"
  ): DataFrame =
    train
      .select(
        col("doc_id"),
        col("ts"),
        explode(
          graft.functions.exprs.shingle_hash_set(split(col("text"), " "), w, TextStats.maxTokens)
        ).as("sh")
      )
      .withWatermark("ts", delay)
      .join(broadcast(shingleRows(bench, w).select(col("sh")).distinct()), Seq("sh"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_contam"))
      .select(col("doc_id"), col("n_contam"))

  /** Gate instance: decontaminate the train split against the test
    * split of the same md5 90/5/5 assignment [[curate]] uses.
    */
  def decontam(docs: DataFrame): DataFrame = {
    val tagged = docs.withColumn("h100", md5Bucket(col("doc_id").cast("string"), 100))
    decontamCounts(tagged.filter(col("h100") < 90), tagged.filter(col("h100") >= 95))
  }

  /** The full production flow, one composed oracle-checked query:
    * quality gate → exact-dedup keepers → NEAR-dup clustering
    * (simhash pairs → connected components, keep each cluster's min)
    * → split assignment → decontaminate the train split against the
    * test split → per-split counts. Every stage is the same primitive
    * its standalone gate query checks; composing them end-to-end is
    * the point — this is the "raw corpus in, clean training splits
    * out" pipeline a 100 TB curation run executes.
    */
  def curateFull(docs: DataFrame, minQuality: Double = 0.45): DataFrame = {
    // lazy localCheckpoint (gate functions return before execution, so
    // persist/unpersist can't pair — CLAUDE.md precedent): the quality
    // regexes + md5 dedup window feed the simhash pair graph, the
    // component node set AND the canon join; without it the subtree
    // runs three times. Materialized by the first components() action.
    val kept = keepers(docs, minQuality).localCheckpoint(false)
    val comp = Dedup.components(
      kept.select(col("doc_id")),
      Dedup.simhashPairs(kept).select(col("doc_a"), col("doc_b"))
    )
    val canon = kept
      .join(comp, Seq("doc_id"))
      .filter(col("doc_id") === col("comp_id"))
      .select(col("doc_id"), col("text"), col("quality"))
    val assigned = canon.withColumn("split", splitCol)
    val contaminated = decontamCounts(
      assigned.filter(col("split") === "train"),
      assigned.filter(col("split") === "test")
    ).select(col("doc_id"))
    assigned
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), Dsp.round6(avg(col("quality"))).as("avg_quality"))
  }

  /** Deterministic stratified sampling + temperature-scaled mixture
    * weights — the data-mix stage: each source keeps a fixed fraction
    * chosen by content-independent md5 hashing (reproducible across
    * runs and engines, no RNG state), and the kept counts produce
    * n^alpha-normalized sampling weights (multinomial temperature
    * mixing à la multilingual training recipes). One aggregation; the
    * weight normalization runs over the handful of source rows.
    */
  def sampleMix(docs: DataFrame, alpha: Double = 0.7): DataFrame = {
    val h1000 = md5Bucket(concat(col("doc_id").cast("string"), lit(":"), col("source")), 1000)
    val rate = when(col("source") === "src0", 900)
      .when(col("source") === "src1", 500)
      .when(col("source") === "src2", 250)
      .otherwise(100)
    val perSource = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(h1000 < rate, 1L).otherwise(0L)).as("n_kept")
      )
    // normalization total via the constant-key broadcast shape (bm25
    // precedent) — a partition-less window would be the global
    // single-partition exchange the plan audit bans
    val tot = perSource
      .agg(sum(pow(col("n_kept"), alpha)).as("wsum"))
      .withColumn("k", lit(1))
    perSource
      .withColumn("k", lit(1))
      .join(broadcast(tot), Seq("k"))
      .select(
        col("source"),
        col("n_total"),
        col("n_kept"),
        Dsp.round6(pow(col("n_kept"), alpha) / col("wsum")).as("mix_weight")
      )
  }

  /** Token-budget mixture PLAN — the calculator that turns
    * temperature-scaled weights into an actual run config: for a total
    * training-token budget B, each source's target token draw and the
    * implied epoch count (passes over the source — > 1 means the
    * budget repeats it, the number a mixing config actually needs;
    * cf. the epoch-per-source tables in Llama/Gopher data recipes).
    *
    * Cross-engine float discipline (band_power_tc integer-accumulation
    * pattern): each pow(n_tok, α) term is quantized ONCE to integer
    * micros (`p_micro = floor(pow·1e6 + 0.5)` BIGINT), the
    * normalization sum runs over those integers (exact,
    * order-independent — the cross-engine sum-order hazard is gone),
    * and `w_micro = (2·p_micro·1e6 + wsum) div (2·wsum)` is exact
    * BIGINT round-half-up. The target is `w_micro × B/1e6` in exact
    * BIGINT arithmetic (B required divisible by 1e6), so the budget
    * split can never flip on a floor-of-double ulp. Bound: p_micro·2e6
    * must stay below 2^63, i.e. pow(n_tok, α) < ~4.6e6 per source
    * (n_tok < ~3.5e9 at α = 0.7) — per-SOURCE aggregate scale, fine
    * for any real mixture table. Empty sources (n_tok = 0) get
    * epochs = 0 rather than a division crash. One documents
    * aggregation; the normalization joins over the handful of source
    * rows (broadcast, constant-key — the bm25 shape).
    */
  def sampleBudget(docs: DataFrame, alpha: Double = 0.7, budget: Long = 10000000L): DataFrame = {
    require(budget % 1000000L == 0, "budget must be a whole number of Mtokens")
    val perSource = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tok")
      )
      .withColumn(
        "p_micro",
        expr(s"CAST(floor(pow(n_tok, ${Dsp.lit(alpha)}) * 1.0e6 + 0.5e0) AS BIGINT)")
      )
    val tot = perSource
      .agg(sum(col("p_micro")).as("wsum"))
      .withColumn("k", lit(1))
    perSource
      .withColumn("k", lit(1))
      .join(broadcast(tot), Seq("k"))
      .withColumn("w_micro", expr("(2L * p_micro * 1000000L + wsum) div (2L * wsum)"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tok"),
        (col("w_micro").cast("double") / lit(1000000.0)).as("mix_weight"),
        (col("w_micro") * lit(budget / 1000000L)).as("target_tok"),
        when(col("n_tok") === 0L, lit(0.0))
          .otherwise(
            Dsp.round6(
              (col("w_micro") * lit(budget / 1000000L)).cast("double") / col("n_tok").cast("double")
            )
          )
          .as("epochs")
      )
  }

  /** The k → p → w CTE chain shared by the budget PLAN oracle and the
    * budget-executing DRAW oracle: per-source totals, micro-quantized
    * pow terms, exact-integer-normalized w_micro.
    */
  private def budgetCtes(alpha: Double): String =
    s"k AS (SELECT source, count(*) AS n_docs, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok FROM documents GROUP BY source), " +
      s"p AS (SELECT source, n_docs, n_tok, CAST(floor(pow(n_tok, ${Dsp.lit(alpha)}) " +
      "* 1.0e6 + 0.5e0) AS BIGINT) AS p_micro FROM k), " +
      "w AS (SELECT source, n_docs, n_tok, " +
      "CAST((2 * p_micro * 1000000 + sum(p_micro) OVER ()) // (2 * sum(p_micro) OVER ()) AS BIGINT) AS w_micro FROM p)"

  def sampleBudgetSql(alpha: Double = 0.7, budget: Long = 10000000L): String = {
    val bM = budget / 1000000L
    s"WITH ${budgetCtes(alpha)} " +
      "SELECT source, n_docs, n_tok, CAST(w_micro AS DOUBLE) / 1000000.0e0 AS mix_weight, " +
      s"w_micro * $bM AS target_tok, " +
      s"CASE WHEN n_tok = 0 THEN 0.0e0 ELSE ${Dsp.round6Sql(s"CAST(w_micro * $bM AS DOUBLE) / CAST(n_tok AS DOUBLE)")} END AS epochs FROM w"
  }

  /** Budget-EXECUTING sampler — the pass that turns [[sampleBudget]]'s
    * per-source plan into an actual materialized draw: each doc gets
    * `n_copies = floor(epochs)` guaranteed copies plus one residual
    * Bernoulli copy at rate frac(epochs), drawn DETERMINISTICALLY from
    * the doc's md5 (the sample_mix keyed-hash convention — any two
    * runs and any two engines draw the same docs). The arithmetic is
    * EXACT BIGINT end to end: base = target div src_tok, residual
    * threshold frac_micro = (target mod src_tok)·10⁶ div src_tok —
    * zero float surface, so the draw can never flip on an ulp.
    * Σ n_copies·n_tok per source concentrates on target_tok (exact
    * when epochs is integral; binomial around the residual otherwise).
    *
    * Scale shape: one documents scan projected row-local, one
    * BROADCAST equi-join on source (the plan table is
    * sources-cardinality — KBs at any corpus), plus [[sampleBudget]]'s
    * own aggregates. Never pairwise, never a corpus shuffle.
    */
  def sampleDraw(docs: DataFrame, alpha: Double = 0.7, budget: Long = 10000000L): DataFrame = {
    val plan = sampleBudget(docs, alpha, budget)
      .select(col("source"), col("target_tok"), col("n_tok").as("src_tok"))
    val perDoc = docs.select(
      col("doc_id"),
      col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok")
    )
    perDoc
      .join(broadcast(plan), Seq("source"))
      .withColumn("base", expr("target_tok div src_tok"))
      .withColumn("frac_micro", expr("((target_tok % src_tok) * 1000000L) div src_tok"))
      .withColumn(
        "h",
        expr(
          "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', source)), 1, 8), 16, 10) AS BIGINT) % 1000000"
        )
      )
      .select(
        col("doc_id"),
        col("source"),
        col("n_tok"),
        (col("base") + when(col("h") < col("frac_micro"), 1L).otherwise(0L)).as("n_copies")
      )
  }

  def sampleDrawSql(alpha: Double = 0.7, budget: Long = 10000000L): String = {
    val bM = budget / 1000000L
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8)) AS BIGINT) % 1000000"
    s"WITH ${budgetCtes(alpha)}, " +
      "d AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
      s"j AS (SELECT d.doc_id, d.source, d.n_tok, w.n_tok AS src_tok, w.w_micro * $bM AS target_tok FROM d JOIN w USING (source)) " +
      "SELECT doc_id, source, n_tok, " +
      "CAST((target_tok // src_tok) + (CASE WHEN " +
      s"($h) < ((target_tok % src_tok) * 1000000) // src_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_copies " +
      "FROM j"
  }

  def sampleMixSql(alpha: Double = 0.7): String = {
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8)) AS BIGINT) % 1000"
    val rate = "CASE source WHEN 'src0' THEN 900 WHEN 'src1' THEN 500 WHEN 'src2' THEN 250 ELSE 100 END"
    s"WITH k AS (SELECT source, count(*) AS n_total, " +
      s"CAST(sum(CASE WHEN $h < $rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept FROM documents GROUP BY source) " +
      s"SELECT source, n_total, n_kept, " +
      s"${Dsp.round6Sql(s"pow(n_kept, ${Dsp.lit(alpha)}) / sum(pow(n_kept, ${Dsp.lit(alpha)})) OVER ()")} AS mix_weight FROM k"
  }

  /** Training-shard count for the gate corpus. At production the shard
    * count is sized so one shard ≈ one write task's file (100 TB →
    * ~100k shards), which keeps every window partition below at-task
    * size by construction — the plan shape is identical, only the
    * modulus grows with the corpus.
    */
  val nShards = 16

  /** Deterministic global shuffle into training shards — the
    * "randomize example order once, before training" pass every LLM
    * data pipeline ends with, with no RNG state: the md5 of the doc id
    * is both the shard assignment (row-local, mod [[nShards]]) and the
    * within-shard sort key, so any two runs (and any two engines)
    * produce the identical permutation. (doc_id, shard, pos).
    *
    * Plan shape: one shuffle total — the hash partition the per-shard
    * position window needs; at production the same plan is written as
    * `repartition(nShards, shard).sortWithinPartitions(k)` and `pos`
    * falls out of the file row order for free.
    */
  def corpusShard(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
      .withColumn("shard", md5Bucket(col("doc_id").cast("string"), nShards))
    keyed
      .withColumn(
        "pos",
        row_number().over(Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))).cast("long")
      )
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  def corpusShardSql: String = {
    val h = s"CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $nShards"
    s"WITH keyed AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k, $h AS shard FROM documents) " +
      "SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos " +
      "FROM keyed"
  }

  /** Per-source corpus profile — the "what is in this corpus" pass
    * every curation run starts with: doc/token counts, mean quality and
    * the exact-duplicate surplus, one row per source. A single
    * two-phase aggregation (countDistinct expands internally); all
    * other stats are map-side-combinable.
    */
  def corpusStats(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        Dsp.round6(avg(qualityScore)).as("avg_quality"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups")
      )

  val corpusStatsSql: String =
    "WITH b AS (SELECT source, text, CAST(length(text) AS DOUBLE) AS n_chars, " +
      "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
      "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
      "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents) " +
      "SELECT source, count(*) AS n_docs, CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS n_tokens, " +
      s"${Dsp.round6Sql(s"avg($qualitySql)")} AS avg_quality, " +
      "CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups FROM b GROUP BY source"

  /** The CORPUS CARD — the per-source datasheet row (Gebru et al.
    * "Datasheets for Datasets" rendered as a query): volume (docs,
    * tokens), vocabulary size (HLL estimate — the sketch answer, no
    * distinct-join), mean quality, exact-dup surplus, chunk-level
    * duplicated-token share, line-dedup-hit docs, non-Latin-script doc
    * fraction, and mean FK grade. Each column family is the EXISTING
    * proven pass composed per source and joined on the tiny source
    * key; mean FK grade follows the integer-micros discipline (the
    * per-doc grades are exact 6dp values — sum micros as BIGINT,
    * divide once).
    */
  def corpusCard(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"), col("source"))
    val cs = corpusStats(docs)
    val hl = Sketches.hllDistinct(docs).select(col("source"), col("est_hll"))
    val dr = Dedup
      .dedupReport(docs)
      .select(col("source"), col("chunk_dup_frac"), col("n_line_dup_docs"))
    val sc = TextStats
      .textScripts(docs)
      .join(ids, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        Dsp.round6(
          sum(when(col("script") =!= "none", 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")
        ).as("frac_nonlatin")
      )
    val rd = TextStats
      .textReadability(docs)
      .join(ids, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        Dsp.round6(
          sum(expr("CAST(floor(fk_grade * 1.0e6 + 0.5e0) AS BIGINT)")).cast("double") /
            (lit(1000000.0) * count(lit(1)).cast("double"))
        ).as("avg_fk")
      )
    cs.join(hl, Seq("source"))
      .join(dr, Seq("source"))
      .join(sc, Seq("source"))
      .join(rd, Seq("source"))
  }

  def corpusCardSql: String =
    s"WITH cs AS (SELECT * FROM ($corpusStatsSql) q1), " +
      s"hl AS (SELECT source, est_hll FROM (${Sketches.hllDistinctSql}) q2), " +
      s"dr AS (SELECT source, chunk_dup_frac, n_line_dup_docs FROM (${Dedup.dedupReportSql}) q3), " +
      s"sc AS (SELECT d.source, ${Dsp.round6Sql(
          "CAST(sum(CASE WHEN s.script <> 'none' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
        )} AS frac_nonlatin " +
      s"FROM (${TextStats.textScriptsSql}) s JOIN documents d USING (doc_id) GROUP BY d.source), " +
      s"rd AS (SELECT d.source, ${Dsp.round6Sql(
          "CAST(sum(CAST(floor(fk_grade * 1.0e6 + 0.5e0) AS BIGINT)) AS DOUBLE) / (1000000.0e0 * CAST(count(*) AS DOUBLE))"
        )} AS avg_fk " +
      s"FROM (${TextStats.textReadabilitySql}) r JOIN documents d USING (doc_id) GROUP BY d.source) " +
      "SELECT cs.source, n_docs, n_tokens, avg_quality, n_exact_dups, est_hll, " +
      "chunk_dup_frac, n_line_dup_docs, frac_nonlatin, avg_fk " +
      "FROM cs JOIN hl USING (source) JOIN dr USING (source) JOIN sc USING (source) JOIN rd USING (source)"

  /** Exact-k deterministic stratified sample: within each source, rank
    * docs by (md5(doc_id:source), doc_id) and keep the first k — the
    * content-independent, engine-reproducible way to cut a FIXED-size
    * holdout per stratum ([[sampleMix]]'s rate-based hash keep can't
    * hit an exact count). One window shuffle keyed on source; stratum
    * skew is bounded by the strata themselves, never a global window.
    */
  def sampleStratified(docs: DataFrame, k: Int = 50): DataFrame = {
    val h = md5(concat(col("doc_id").cast("string"), lit(":"), col("source")))
    val w = Window.partitionBy(col("source")).orderBy(h.asc, col("doc_id").asc)
    docs
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  def sampleStratifiedSql(k: Int = 50): String =
    "SELECT doc_id, source, rk FROM (SELECT doc_id, source, " +
      "row_number() OVER (PARTITION BY source " +
      "ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || source) ASC, doc_id ASC) AS rk " +
      s"FROM documents) WHERE rk <= $k"

  /** Weighted sampling WITHOUT replacement, exact-k per stratum —
    * Efraimidis & Spirakis 2006 (A-ES): each doc draws a deterministic
    * uniform u from its md5 (13 hex digits = 52 exact bits, +1 so
    * u ∈ (0, 2⁻⁵²·(2⁵²)] never hits 0) and ranks by u^(1/w) — realized
    * as ln(u)/w, monotone-equivalent and overflow-free; the k largest
    * keys per source are EXACTLY a weight-proportional without-
    * replacement draw. The weight here is doc length (chars, clamped
    * ≥ 1) — the "sample long docs proportionally more" curation knob
    * ([[sampleStratified]] is the unweighted special case).
    *
    * Scale shape: the key is row-local; per-source top-k is one
    * source-keyed window (strata bound the partitions). The SAME key
    * makes a single-pass k-heap reservoir per partition, merged by
    * keeping the k largest — mergeable across 1000 executors with
    * O(k) state, which rate-based Bernoulli sampling can't give when
    * an exact count is required. Cross-engine: u's numerator and the
    * 2⁻⁵² scale are exact; ln is the one libm call (filter_response
    * precedent), quantized to integer micros immediately — BOTH
    * engines run the ONE shared expression string, and the ranking
    * uses (key_micros, doc_id) so order is deterministic wherever the
    * rounded key agrees.
    */
  def sampleWeighted(docs: DataFrame, k: Int = 25): DataFrame = {
    val keySql =
      "CAST(floor((ln((CAST(h52 AS DOUBLE) + 1.0e0) / 4503599627370496.0e0) / " +
        "CAST(w AS DOUBLE)) * 1.0e6 + 0.5e0) AS BIGINT)"
    val base = docs
      .select(
        col("doc_id"),
        col("source"),
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("source"))), 1, 13), 16, 10)
          .cast("long")
          .as("h52"),
        greatest(col("n_chars"), lit(1L)).as("w")
      )
      .withColumn("key_micros", expr(keySql))
    val wTop = Window
      .partitionBy(col("source"))
      .orderBy(col("key_micros").desc, col("doc_id").asc)
    base
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("w"), col("key_micros"), col("rk"))
  }

  def sampleWeightedSql(k: Int = 25): String = {
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 13)) AS BIGINT)"
    val key =
      "CAST(floor((ln((CAST(h52 AS DOUBLE) + 1.0e0) / 4503599627370496.0e0) / " +
        "CAST(w AS DOUBLE)) * 1.0e6 + 0.5e0) AS BIGINT)"
    s"WITH b AS (SELECT doc_id, source, $h AS h52, greatest(n_chars, 1) AS w FROM documents), " +
      s"kx AS (SELECT doc_id, source, w, $key AS key_micros FROM b), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY key_micros DESC, doc_id ASC) AS rk FROM kx) " +
      s"SELECT doc_id, source, CAST(w AS BIGINT) AS w, key_micros, rk FROM r WHERE rk <= $k"
  }

  /** License / usage-restriction screen — the Code-LLM curation stage
    * (The Stack's license filtering, opt-out compliance): detect
    * license markers row-locally and classify each doc `restrictive`
    * (GPL / all-rights-reserved), `permissive` (MIT / Apache / BSD /
    * CC), or `none` — restrictive wins on mixed signals (the
    * conservative compliance rule). The synthetic corpus carries no
    * licenses, so the gate PLANTS deterministic markers in-query (the
    * piiPlant convention; %11 ∧ %13 docs exercise the mixed arm).
    * Pure row-local regexp counts off one scan; the marker patterns
    * parse identically in Java regex and RE2.
    */
  private val licPlant: String =
    "concat(text, " +
      "CASE WHEN doc_id % 11 = 0 THEN ' this work is licensed under the mit license' ELSE '' END, " +
      "CASE WHEN doc_id % 13 = 0 THEN ' copyright 2024 all rights reserved' ELSE '' END, " +
      "CASE WHEN doc_id % 17 = 0 THEN ' distributed under the gnu general public license v3' ELSE '' END)"

  private val licRestrictiveRe = "all rights reserved|gnu general public license|gpl v[0-9]"
  private val licPermissiveRe = "mit license|apache license|bsd license|creative commons|cc-by"

  def licenseScreen(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(licPlant).as("text"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(licPermissiveRe), lit(0)))
          .cast("long")
          .as("n_permissive"),
        size(regexp_extract_all(col("text"), lit(licRestrictiveRe), lit(0)))
          .cast("long")
          .as("n_restrictive")
      )
      .withColumn(
        "license_class",
        when(col("n_restrictive") > 0, lit("restrictive"))
          .when(col("n_permissive") > 0, lit("permissive"))
          .otherwise(lit("none"))
      )

  val licenseScreenSql: String =
    s"WITH aug AS (SELECT doc_id, $licPlant AS text FROM documents), " +
      s"c AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '$licPermissiveRe')) AS BIGINT) AS n_permissive, " +
      s"CAST(len(regexp_extract_all(text, '$licRestrictiveRe')) AS BIGINT) AS n_restrictive FROM aug) " +
      "SELECT doc_id, n_permissive, n_restrictive, " +
      "CASE WHEN n_restrictive > 0 THEN 'restrictive' WHEN n_permissive > 0 THEN 'permissive' ELSE 'none' END AS license_class " +
      "FROM c"

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2) as one
    * row-local projection: keep only lines that end in terminal
    * punctuation, have ≥ 3 words, and don't mention javascript; flag
    * the whole page when it contains "lorem ipsum" or "{" or keeps
    * fewer than 3 lines. Emits the cleaned text's md5 (the
    * dedup_span_removal convention — a rewrite regression breaks the
    * hash) plus the line counts. No shuffle, no UDF.
    */
  def c4Clean(docs: DataFrame): DataFrame = {
    val lines = "split(text, '\n')"
    val kept = s"filter($lines, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"') " +
      "AND size(filter(split(l, ' '), t -> t != '')) >= 3 " +
      "AND NOT contains(lower(l), 'javascript'))"
    docs.select(
      col("doc_id"),
      expr(s"size($lines)").cast("long").as("n_lines"),
      expr(s"size($kept)").cast("long").as("n_kept"),
      md5(expr(s"concat_ws('\n', $kept)")).as("md5_clean"),
      (expr("contains(lower(text), 'lorem ipsum')") ||
        expr("contains(text, '{')") ||
        expr(s"size($kept)") < 3).as("drop_page")
    )
  }

  val c4CleanSql: String = c4CleanSqlFrom("documents")

  def c4CleanSqlFrom(table: String): String = {
    val NL = "chr(10)"
    val lines = s"string_split(text, $NL)"
    val kept = s"list_filter($lines, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"') " +
      "AND len(list_filter(string_split(l, ' '), t -> t <> '')) >= 3 " +
      "AND NOT contains(lower(l), 'javascript'))"
    // coalesce: DuckDB array_to_string of an empty list is NULL where
    // Spark concat_ws is '' (dedup_span_removal precedent)
    s"SELECT doc_id, CAST(len($lines) AS BIGINT) AS n_lines, CAST(len($kept) AS BIGINT) AS n_kept, " +
      s"md5(coalesce(array_to_string($kept, $NL), '')) AS md5_clean, " +
      s"(contains(lower(text), 'lorem ipsum') OR contains(text, '{') OR len($kept) < 3) AS drop_page " +
      s"FROM $table"
  }

  // ---------------------------------------------------------------
  // text_html_extract — jusText/trafilatura-class boilerplate removal
  // ---------------------------------------------------------------

  /** Deterministic doc_id-derived HTML page around each document's
    * text (the licPlant convention — the synthetic corpus has no HTML,
    * so the gate plants it in-query): head with title + style + script,
    * a nav bar of links, three content paragraphs sliced from the
    * text, and two per-doc-id boilerplate offenders — a link farm
    * (%7: drops ONLY on link density; its stopword density passes) and
    * a copyright line (%5: drops ONLY on stopword density; it has no
    * links and ≥3 words). Pure concat/CASE — parses identically in
    * Spark SQL and DuckDB.
    */
  private[graft] val htmlPlantExpr: String =
    "concat('<html><head><title>Doc ', CAST(doc_id AS STRING), '</title>', " +
      "'<style>body { color: #333; margin: 0 }</style>', " +
      "'<script>var tracker = 1; function f() { return 2; }</script>', " +
      "'</head><body>', " +
      "'<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/contact\">Contact</a> <a href=\"/login\">Login</a></div>', " +
      "'<p>', substr(text, 1, 80), '</p>', " +
      "'<p>', substr(text, 81, 80), '</p>', " +
      "'<p>', substr(text, 161, 120), '</p>', " +
      "CASE WHEN doc_id % 7 = 0 THEN '<p>See <a href=\"/x\">the partner links</a> and <a href=\"/y\">more of the deals</a> now</p>' ELSE '' END, " +
      "CASE WHEN doc_id % 5 = 0 THEN '<p>Copyright 2024 MegaCorp Inc</p>' ELSE '' END, " +
      // r14 robustness offenders, in a block that must be KEPT (9/15
      // stopwords, link text 8·2 < plain length): a quoted '>' inside
      // an href (naive '<[^>]*>' stripping leaks '2\">the deal' into
      // the text) and entities the extraction must decode AFTER the
      // tag strip (so &lt;now&gt; stays literal text, not a tag)
      "CASE WHEN doc_id % 11 = 0 THEN '<p>see <a href=\"/q?x=1>2\">the deal</a> for AT&amp;T and the rest of it &lt;now&gt; is fine on a mat</p>' ELSE '' END, " +
      "'</body></html>')"

  /** Space-delimited stopword sentinel — membership via
    * contains(' list ', ' w ') parses identically in both engines (no
    * IN-inside-lambda dialect risk). */
  private val htmlStops = "' the a an of to and in is it for on with '"

  /** Quote-AWARE tag pattern (r14): an attribute value may contain '>'
    * (`<a href="/q?x=1>2">`), which the naive `<[^>]*>` cuts mid-tag,
    * leaking `2">…` into the text. Alternation consumes quoted
    * attribute values wholesale; no backrefs, so it parses identically
    * under Java regex and RE2. Rendered with SQL-escaped quotes ('').
    */
  private val htmlTagRe = """<(?:[^>"'']|"[^"]*"|''[^'']*'')*>"""
  private val htmlATagRe = """<a (?:[^>"'']|"[^"]*"|''[^'']*'')*>([^<]*)</a>"""

  /** Common-entity decode, applied AFTER the tag strip (so a decoded
    * `&lt;now&gt;` stays literal text, never a strippable tag) and
    * with `&amp;` LAST (so `&amp;lt;` renders the literal `&lt;`).
    * One replace chain, identical in both engines.
    */
  private def htmlDecode(x: String): String =
    s"replace(replace(replace(replace(replace(replace($x, " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&')"

  private def htmlPlainSpark(b: String): String = {
    val dec = htmlDecode(s"regexp_replace($b, '$htmlTagRe', ' ')")
    s"trim(regexp_replace($dec, ' +', ' '))"
  }
  private def htmlPlainDuck(b: String): String = {
    val dec = htmlDecode(s"regexp_replace($b, '$htmlTagRe', ' ', 'g')")
    s"trim(regexp_replace($dec, ' +', ' ', 'g'))"
  }

  /** Block keep rule (jusText-style, integer arithmetic only — no
    * float-threshold parity hazard): ≥ 3 words, stopword density
    * ≥ 10% (n_stop·10 ≥ n_words), and anchor-text length below half
    * the plain length (link density < 0.5).
    */
  private def htmlKeepSpark(b: String): String = {
    val plain = htmlPlainSpark(b)
    s"size(filter(split($plain, ' '), w -> w != '')) >= 3 " +
      s"AND size(filter(split($plain, ' '), w -> contains($htmlStops, concat(' ', lower(w), ' ')))) * 10 " +
      s">= size(filter(split($plain, ' '), w -> w != '')) " +
      s"AND length(concat_ws('', regexp_extract_all($b, '$htmlATagRe', 1))) * 2 < length($plain)"
  }
  private def htmlKeepDuck(b: String): String = {
    val plain = htmlPlainDuck(b)
    s"len(list_filter(string_split($plain, ' '), w -> w <> '')) >= 3 " +
      s"AND len(list_filter(string_split($plain, ' '), w -> contains($htmlStops, concat(' ', lower(w), ' ')))) * 10 " +
      s">= len(list_filter(string_split($plain, ' '), w -> w <> '')) " +
      s"AND length(coalesce(array_to_string(regexp_extract_all($b, '$htmlATagRe', 1), ''), '')) * 2 < length($plain)"
  }

  /** HTML → text boilerplate extraction, one row-local scan (the
    * text_c4_clean shape): strip script/style WITH contents, pull the
    * title, segment on block-closing tags, keep/drop each block by the
    * integer jusText rule above, and emit the per-doc summary — block
    * counts, clean-text length, and the extracted text's md5 (a rewrite
    * regression breaks the hash). Designed offenders in the plant pin
    * each rule: nav + head fragment (min-words / link density),
    * copyright line (stopword density), link farm (link density with
    * PASSING stopword density), script/style (tag strip). No shuffle,
    * no UDF — at 100 TB this is a pure map over the page scan.
    */
  /** Shared first stages over a REAL (doc_id, html) frame — what a
    * WARC-fed pipeline hands in: strip script/style, pull the title,
    * segment into blocks.
    */
  private def htmlStages(pages: DataFrame): DataFrame =
    pages
      .select(
        col("doc_id"),
        expr(
          "regexp_replace(regexp_replace(html, '(?s)<script.*?</script>', ''), '(?s)<style.*?</style>', '')"
        ).as("page")
      )
      .select(
        col("doc_id"),
        expr("regexp_extract(page, '<title>([^<]*)</title>', 1)").as("title"),
        expr("split(page, '</p>|</div>|</head>')").as("blocks")
      )

  /** Extraction summary over a real (doc_id, html) frame. */
  def htmlExtractPages(pages: DataFrame): DataFrame = {
    val kept = s"filter(blocks, b -> ${htmlKeepSpark("b")})"
    val cleaned = s"concat_ws('\\n', transform($kept, b -> ${htmlPlainSpark("b")}))"
    htmlStages(pages).select(
      col("doc_id"),
      col("title"),
      expr("size(blocks)").cast("long").as("n_blocks"),
      expr(s"size($kept)").cast("long").as("n_kept"),
      expr(s"length($cleaned)").cast("long").as("n_clean_chars"),
      expr(s"md5($cleaned)").as("md5_clean")
    )
  }

  def htmlExtract(docs: DataFrame): DataFrame =
    htmlExtractPages(docs.select(col("doc_id"), expr(htmlPlantExpr).as("html")))

  /** The extraction as a (doc_id, title, text) producer over a real
    * (doc_id, html) frame — the form the downstream curation stack
    * (quality → dedup → splits) consumes when the corpus enters as
    * HTML/WARC; spec-verified composition with [[qualityScore]] and
    * the WARC reader.
    */
  def htmlExtractTextPages(pages: DataFrame): DataFrame = {
    val kept = s"filter(blocks, b -> ${htmlKeepSpark("b")})"
    val cleaned = s"concat_ws('\\n', transform($kept, b -> ${htmlPlainSpark("b")}))"
    htmlStages(pages).select(col("doc_id"), col("title"), expr(cleaned).as("text"))
  }

  def htmlExtractText(docs: DataFrame): DataFrame =
    htmlExtractTextPages(docs.select(col("doc_id"), expr(htmlPlantExpr).as("html")))

  /** The extraction chain's CTE prefix, ending at
    * `outp(doc_id, title, n_blocks, n_kept, cleaned)` — shared by the
    * text_html_extract oracle and the WET/WAT round-trip oracles (r15:
    * the derivative formats must hash against the SAME extraction).
    */
  private[graft] val htmlExtractCtes: String = {
    val NL = "chr(10)"
    val kept = s"list_filter(blocks, b -> ${htmlKeepDuck("b")})"
    val cleaned =
      s"coalesce(array_to_string(list_transform($kept, b -> ${htmlPlainDuck("b")}), $NL), '')"
    s"aug AS MATERIALIZED (SELECT doc_id, $htmlPlantExpr AS html FROM documents), " +
      "strip AS MATERIALIZED (SELECT doc_id, " +
      "regexp_replace(regexp_replace(html, '(?s)<script.*?</script>', '', 'g'), '(?s)<style.*?</style>', '', 'g') AS page FROM aug), " +
      "seg AS MATERIALIZED (SELECT doc_id, regexp_extract(page, '<title>([^<]*)</title>', 1) AS title, " +
      "string_split_regex(page, '</p>|</div>|</head>') AS blocks FROM strip), " +
      s"outp AS MATERIALIZED (SELECT doc_id, title, CAST(len(blocks) AS BIGINT) AS n_blocks, " +
      s"CAST(len($kept) AS BIGINT) AS n_kept, $cleaned AS cleaned FROM seg)"
  }

  val htmlExtractSql: String =
    s"WITH $htmlExtractCtes " +
      "SELECT doc_id, title, n_blocks, n_kept, CAST(length(cleaned) AS BIGINT) AS n_clean_chars, " +
      "md5(cleaned) AS md5_clean FROM outp"

  /** The round-7 operators composed end-to-end: quality gate →
    * exact-dedup keepers → DSIR importance weights → per-source
    * profile carrying the Gopher screen as a diagnostic column. The
    * curate_full lesson applied to the LLM-selection stack — per-op
    * gates prove pieces, this proves the composition.
    *
    * The per-source MEAN of round6-grid log-weights uses the
    * integer-micro trick (eeg_workflow precedent): floor(lw·1e6+0.5)
    * recovers each weight's exact micros, the bigint sum is
    * order-independent, and one final division is deterministic on
    * both engines — an avg(double) over grid values coin-flips
    * exact-half roundings.
    */
  def curateLlm(docs: DataFrame, minQuality: Double = 0.45): DataFrame = {
    // lazy checkpoint: the kept subtree feeds the DSIR gram stream
    // (twice, via its train/score fan-out) and the final join
    val kept = keepers(docs, minQuality, "source")
      .select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint(false)
    val w = Dsir.weights(kept).select(col("doc_id"), col("log_weight"))
    val gp = TextStats.gopher(docs).select(col("doc_id"), col("pass"))
    kept
      .join(w, Seq("doc_id"), "left")
      .join(gp, Seq("doc_id"))
      .select(
        col("source"),
        col("pass"),
        floor(coalesce(col("log_weight"), lit(0.0)) * lit(1e6) + lit(0.5)).cast("long").as("m")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_gopher_pass"),
        sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_target_leaning"),
        sum(col("m")).as("sm")
      )
      .select(
        col("source"),
        col("n_kept"),
        col("n_gopher_pass"),
        col("n_target_leaning"),
        Dsp.round6(col("sm").cast("double") / (col("n_kept").cast("double") * lit(1e6)))
          .as("avg_log_weight")
      )
  }

  def curateLlmSql(minQuality: Double = 0.45): String =
    "WITH base AS (SELECT doc_id, text, source, CAST(length(text) AS DOUBLE) AS n_chars, " +
      "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
      "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
      "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents), " +
      s"q AS (SELECT doc_id, text, source FROM base WHERE $qualitySql >= ${Dsp.lit(minQuality)}), " +
      "k AS MATERIALIZED (SELECT doc_id, text, source FROM " +
      "(SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM q) WHERE doc_id = keep_id), " +
      Dsir.weightsCtes("k") + ", " +
      s"w AS (SELECT doc_id, ${Dsp.round6Sql("sum(lr)")} AS log_weight FROM gr JOIN tab USING (b) GROUP BY doc_id), " +
      s"gop AS MATERIALIZED (${TextStats.gopherSqlFrom("documents")}), " +
      "kk AS (SELECT k.source AS source, g2.pass AS pass, " +
      "CAST(floor(coalesce(w.log_weight, 0.0) * 1.0e6 + 0.5e0) AS BIGINT) AS m " +
      "FROM k LEFT JOIN w ON w.doc_id = k.doc_id JOIN gop g2 ON g2.doc_id = k.doc_id) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass, " +
      "CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_leaning, " +
      s"${Dsp.round6Sql("CAST(sum(m) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1.0e6)")} AS avg_log_weight " +
      "FROM kk GROUP BY source"

  /** Training-data EXPORT capstone — the composed proof that the
    * pipeline's ACTUAL PRODUCT is token-exact end to end: the curated
    * keep set (quality screen + exact-dedup keeper, [[curateLlm]]'s
    * selection verbatim) is BPE-tokenized under the trained merge
    * table ([[Bpe.gateMerges]]), assigned to deterministic training
    * shards (the [[corpusShard]] md5 key = shard AND within-shard
    * order), and each shard emits its MANIFEST row: doc count, EXACT
    * capped token count, packed-sequence count at [[Bpe.packCap]]
    * tokens/bin, and an order-sensitive content fingerprint
    * (md5 over the shard-ordered per-doc content md5s — a replay of
    * the shard file a writer would emit). Every piece is gated solo
    * (curate_llm / text_pack_bpe / corpus_shard); this gate pins the
    * COMPOSITION: a drift anywhere — selection, tokenizer, shard
    * assignment, shard order, packing arithmetic — moves a manifest
    * row.
    *
    * Scale shape: the quality/dedup window, one merge-table row-local
    * projection, ONE shard-keyed aggregation — at 100 TB the shard
    * modulus grows with the corpus (corpusShard's note) and the
    * content hash pipes through the same per-shard write task that
    * emits the file; nothing here is driver-sized (the manifest
    * itself is nShards rows).
    */
  def exportManifest(docs: DataFrame, minQuality: Double = 0.45, cap: Int = Bpe.packCap): DataFrame =
    manifestOf(docs, Bpe.gateMerges(docs), minQuality, cap)

  private def manifestOf(docs: DataFrame, merges: Seq[String], minQuality: Double, cap: Int): DataFrame =
    manifestAgg(keyedOf(docs, merges, minQuality), cap)

  /** The export's shard-keyed frame: curated keep set with shard
    * assignment key, within-shard order key, and the capped BPE token
    * count under the pinned merge table.
    */
  private def keyedOf(docs: DataFrame, merges: Seq[String], minQuality: Double): DataFrame = {
    val kept = keepers(docs, minQuality).select(col("doc_id"), col("text"))
    kept.select(
      col("doc_id"),
      col("text"),
      md5(col("doc_id").cast("string")).as("sk"),
      md5Bucket(col("doc_id").cast("string"), nShards).as("shard"),
      least(
        graft.functions.exprs.bpe_count(split(col("text"), " "), merges),
        lit(TextStats.maxTokens)
      ).cast("long").as("n_tok")
    )
  }

  private def manifestAgg(keyed: DataFrame, cap: Int): DataFrame =
    // sk is a unique fixed-width hex prefix of each element, so the
    // lexicographic array_sort IS the shard order (sitemap render
    // precedent for deterministic collect_list ordering)
    keyed
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        md5(array_join(array_sort(collect_list(concat(col("sk"), md5(col("text"))))), ""))
          .as("content_md5")
      )
      .select(
        col("shard"),
        col("n_docs"),
        col("n_tokens"),
        expr(s"(n_tokens + ${cap - 1}) div $cap").as("n_bins"),
        col("content_md5")
      )

  /** PHYSICAL export: write the curated keep set as real per-shard
    * parquet files (`partitionBy(shard)` — one directory per training
    * shard, the layout a data loader reads) and return the manifest
    * computed from the SAME materialized frame the writer consumed.
    * The keyed frame is checkpointed once so selection/tokenization
    * run a single time for both the files and the manifest.
    */
  def exportShards(
      docs: DataFrame,
      outDir: String,
      merges: Seq[String],
      minQuality: Double = 0.45,
      cap: Int = Bpe.packCap
  ): DataFrame = {
    val keyed = keyedOf(docs, merges, minQuality).localCheckpoint()
    keyed
      .select(col("doc_id"), col("text"), col("shard"))
      .write
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(outDir)
    manifestAgg(keyed, cap)
  }

  /** Shard-integrity verification — the LOADER-side consumer of
    * [[exportShards]]: trust ONLY the files and the pinned tokenizer
    * artifact, recompute every manifest column from file rows (order
    * key, token counts, shard-ordered content fingerprint), and
    * null-safe-compare against the shipped manifest per shard. A doc
    * lost, duplicated, reordered, or bit-flipped in any shard file
    * flips exactly that shard's `ok` (spec-pinned via a planted
    * tamper); a shard directory missing entirely or present without a
    * manifest row surfaces through the full outer join. Verification
    * cost is one scan of the exported bytes + one shard-keyed
    * aggregation — the pre-training integrity check a 100 TB run
    * executes before burning accelerator time.
    */
  /** Re-derive the export's keyed frame from SHARD FILES alone (order
    * key, capped BPE counts under the pinned merges) — the verifier's
    * and the streaming manifest maintainer's shared read path.
    */
  private def fileKeyedOf(s: SparkSession, dir: String, merges: Seq[String]): DataFrame =
    s.read
      .parquet(dir)
      .select(
        col("doc_id"),
        col("text"),
        md5(col("doc_id").cast("string")).as("sk"),
        col("shard").cast("long").as("shard"),
        least(
          graft.functions.exprs.bpe_count(split(col("text"), " "), merges),
          lit(TextStats.maxTokens)
        ).cast("long").as("n_tok")
      )

  def exportVerify(
      s: SparkSession,
      dir: String,
      expected: DataFrame,
      merges: Seq[String],
      cap: Int = Bpe.packCap
  ): DataFrame = {
    manifestAgg(fileKeyedOf(s, dir, merges), cap)
      .join(
        expected.select(
          col("shard"),
          col("n_docs").as("e_docs"),
          col("n_tokens").as("e_tokens"),
          col("n_bins").as("e_bins"),
          col("content_md5").as("e_md5")
        ),
        Seq("shard"),
        "full_outer"
      )
      .select(
        col("shard"),
        col("n_docs"),
        col("n_tokens"),
        col("n_bins"),
        col("content_md5"),
        (col("n_docs") <=> col("e_docs") && col("n_tokens") <=> col("e_tokens") &&
          col("n_bins") <=> col("e_bins") && col("content_md5") <=> col("e_md5")).as("ok")
      )
  }

  /** Seed the three persisted stores [[exportStream]] maintains:
    * shard files, per-shard manifest rows, and the seen-content
    * screen. Empty frames with the production schemas so the first
    * micro-batch's reads succeed.
    */
  def seedExportStores(
      s: SparkSession,
      storeDir: String,
      manifestDir: String,
      seenDir: String
  ): Unit = {
    import s.implicits._
    Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "text", "shard")
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(storeDir)
    Seq.empty[(Long, Long, Long, Long, String)]
      .toDF("shard", "n_docs", "n_tokens", "n_bins", "content_md5")
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(manifestDir)
    Seq.empty[(String, Long)].toDF("h", "doc_id").write.mode("overwrite").parquet(seenDir)
  }

  /** CONTINUOUS export — the streaming leg of [[exportShards]]: a doc
    * stream feeds the SAME physical shard layout and manifest a batch
    * export produces, with per-batch cost proportional to the batch
    * and its dirty shards, never the store. Each micro-batch:
    *
    *  1. batch keep set (quality screen + within-batch exact-dedup
    *     keeper — [[exportShards]]'s selection verbatim);
    *  2. at-most-once-EVER per content: anti-join on md5(text)
    *     against the persisted seen store (the urlDedup first-arrival
    *     rule at the content granularity — a refetched or re-crawled
    *     doc never re-exports), then the fresh set appends to the
    *     seen store;
    *  3. fresh rows append into the per-shard parquet layout
    *     (`partitionBy(shard)` — new part files in existing shard
    *     dirs, the layout [[exportVerify]] reads);
    *  4. manifest maintenance re-reads ONLY the shards this batch
    *     touched (partition-pruned store scan; dirty-shard set ≤
    *     nShards rides a bounded collect) and rewrites exactly those
    *     manifest partitions (dynamic partition overwrite) — the
    *     [[exportManifestInc]] dirty-shard economics realized in a
    *     stream: untouched shards' manifest rows are byte-identical
    *     across batches.
    *
    * The maintained manifest is always the FULL-recompute manifest of
    * the store (spec-pinned), so [[exportVerify]] over (store,
    * manifest) passes at every point in the stream's life.
    *
    * Crash semantics: the seen store is appended BEFORE the shard
    * files, so a retry of a batch that died in between re-screens its
    * rows as already-seen and appends nothing — AT-MOST-ONCE delivery
    * (a duplicate-producing order would corrupt shard files; a
    * dropped doc re-enters on its next crawl, and the manifest stays
    * consistent because it always recomputes from the store).
    */
  def exportStream(
      in: DataFrame,
      storeDir: String,
      manifestDir: String,
      seenDir: String,
      merges: Seq[String],
      minQuality: Double = 0.45,
      cap: Int = Bpe.packCap
  ): org.apache.spark.sql.streaming.StreamingQuery =
    in.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val prior = s.read.parquet(seenDir)
        val fresh = keyedOf(batch.select(col("doc_id"), col("text")), merges, minQuality)
          .withColumn("h", md5(col("text")))
          .join(prior.select(col("h")), Seq("h"), "left_anti")
          .localCheckpoint() // seen append + shard append + dirty set
        fresh.select(col("h"), col("doc_id")).write.mode("append").parquet(seenDir)
        fresh
          .select(col("doc_id"), col("text"), col("shard"))
          .write
          .mode("append")
          .partitionBy("shard")
          .parquet(storeDir)
        val dirty = fresh.select(col("shard")).distinct().collect().map(_.getLong(0))
        if (dirty.nonEmpty) {
          manifestAgg(
            fileKeyedOf(s, storeDir, merges).filter(col("shard").isin(dirty.map(Long.box): _*)),
            cap
          )
            .write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard")
            .parquet(manifestDir)
        }
        ()
      }
      .start()

  /** The loader's SEEK TABLE: (doc_id, shard, pos) over the exported
    * store, with `pos` = the manifest's shard order (rank by the md5
    * order key) — maps a scheduled doc to its physical (shard dir,
    * row) coordinate. One per-shard rank window over the store.
    */
  def exportCoords(s: SparkSession, storeDir: String): DataFrame =
    s.read
      .parquet(storeDir)
      .select(
        col("doc_id"),
        col("shard").cast("long").as("shard"),
        md5(col("doc_id").cast("string")).as("sk")
      )
      .select(
        col("doc_id"),
        col("shard"),
        (row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard")).orderBy(col("sk"))
        ) - 1).cast("long").as("pos")
      )

  /** export_verify gate: real shard files written under scratch, then
    * verified from the files alone against the shipped manifest. The
    * oracle renders the manifest arithmetically from `documents` with
    * `ok = true` — a hash match proves the parquet round-trip is
    * content-exact AND the verifier agrees with the writer on every
    * column (warc_roundtrip's file-backed-gate pattern).
    */
  def exportVerifyGate(s: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(s, sfDir).select(col("doc_id"), col("text"))
    val merges = Bpe.gateMerges(docs)
    val out = graft.sources.Scratch.dir("export_verify")
    val expected = exportShards(docs, out, merges).localCheckpoint()
    exportVerify(s, out, expected, merges)
  }

  def exportVerifySql(minQuality: Double = 0.45, cap: Int = Bpe.packCap): String =
    s"SELECT shard, n_docs, n_tokens, n_bins, content_md5, true AS ok FROM (${exportManifestSql(minQuality, cap)}) m"

  /** INCREMENTAL export — the economics a 100 TB re-export runs on:
    * between two corpus snapshots, only shards whose CONTENT
    * fingerprint moved need rewriting. Both snapshots manifest under
    * the SAME tokenizer artifact (merges trained on the CURRENT
    * corpus — a production incremental export pins merges.txt, it
    * never retrains per snapshot), and `dirty` is a null-safe
    * fingerprint compare per shard — a doc added, removed, or edited
    * anywhere flips exactly its shard's flag, every other shard's
    * manifest row is byte-identical and its file is NOT rewritten.
    * A shard present only in the OLD snapshot (the corpus lost every
    * doc that hashed to it) emits a DELETE record: zero counts, NULL
    * fingerprint, dirty — the consumer removes the file (spec-pinned;
    * the gate plant never loses a whole shard, so its output carries
    * none). Two shard-keyed aggregations + a nShards-row join.
    */
  def exportManifestInc(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      minQuality: Double = 0.45,
      cap: Int = Bpe.packCap
  ): DataFrame = {
    val merges = Bpe.gateMerges(newDocs)
    val newM = manifestOf(newDocs, merges, minQuality, cap)
    val oldM = manifestOf(oldDocs, merges, minQuality, cap)
    newM
      .join(oldM.select(col("shard"), col("content_md5").as("old_md5")), Seq("shard"), "full_outer")
      .select(
        col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"),
        col("content_md5"),
        (!(col("content_md5") <=> col("old_md5"))).as("dirty")
      )
  }

  /** Gate plant: a SPARSE snapshot delta over fixed ids present at
    * every sf — docs 3/103 added (absent from the old snapshot), 7/207
    * removed (absent from the new), 11 edited — so the dirty set is a
    * handful of shards and BOTH flag arms stay non-vacuous at every sf
    * (a mod-arm delta touches every shard at sf0.1 — probed).
    */
  def exportManifestIncGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val newDocs = docs
      .filter(!col("doc_id").isin(7L, 207L))
      .select(
        col("doc_id"),
        when(col("doc_id") === 11, concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text")
      )
    val oldDocs = docs.filter(!col("doc_id").isin(3L, 103L)).select(col("doc_id"), col("text"))
    exportManifestInc(oldDocs, newDocs)
  }

  def exportManifestSql(minQuality: Double = 0.45, cap: Int = Bpe.packCap): String =
    "WITH base AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars, " +
      "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
      "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
      "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents), " +
      s"q AS (SELECT doc_id, text FROM base WHERE $qualitySql >= ${Dsp.lit(minQuality)}), " +
      "k AS MATERIALIZED (SELECT doc_id, text FROM " +
      "(SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM q) WHERE doc_id = keep_id), " +
      Bpe.bpeCtes().mkString(", ") + ", " +
      "kd AS MATERIALIZED (SELECT kk.doc_id AS doc_id, kk.text AS text, " +
      "md5(CAST(kk.doc_id AS VARCHAR)) AS sk, " +
      s"CAST(concat('0x', substr(md5(CAST(kk.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $nShards AS shard, " +
      s"CAST(least(coalesce(g.n_bpe, 0), ${TextStats.maxTokens}) AS BIGINT) AS n_tok " +
      "FROM k kk LEFT JOIN agg g ON g.doc_id = kk.doc_id) " +
      "SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      s"(CAST(sum(n_tok) AS BIGINT) + ${cap - 1}) // $cap AS n_bins, " +
      "md5(string_agg(sk || md5(text), '' ORDER BY sk)) AS content_md5 FROM kd GROUP BY shard"

  /** Oracle of [[exportManifestInc]]: one BPE-CTE chain trained on the
    * NEW snapshot (the pinned tokenizer artifact), applied to the old
    * snapshot through the same per-word `app` table (the plant has no
    * old-only words — the synthetic vocabulary is corpus-wide), the
    * manifest chain rendered per snapshot, dirty = IS DISTINCT FROM.
    */
  def exportManifestIncSql(minQuality: Double = 0.45, cap: Int = Bpe.packCap): String = {
    def manifestCtes(pfx: String, src: String, agg: String): String =
      s"base$pfx AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
        s"CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM $src), " +
        s"q$pfx AS (SELECT doc_id, text FROM base$pfx WHERE $qualitySql >= ${Dsp.lit(minQuality)}), " +
        s"k$pfx AS MATERIALIZED (SELECT doc_id, text FROM " +
        s"(SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM q$pfx) WHERE doc_id = keep_id), " +
        s"kd$pfx AS MATERIALIZED (SELECT kk.doc_id AS doc_id, kk.text AS text, " +
        "md5(CAST(kk.doc_id AS VARCHAR)) AS sk, " +
        s"CAST(concat('0x', substr(md5(CAST(kk.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $nShards AS shard, " +
        s"CAST(least(coalesce(g.n_bpe, 0), ${TextStats.maxTokens}) AS BIGINT) AS n_tok " +
        s"FROM k$pfx kk LEFT JOIN $agg g ON g.doc_id = kk.doc_id), " +
        s"m$pfx AS MATERIALIZED (SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        s"md5(string_agg(sk || md5(text), '' ORDER BY sk)) AS content_md5 FROM kd$pfx GROUP BY shard)"
    "WITH nd AS MATERIALIZED (SELECT doc_id, " +
      "CASE WHEN doc_id = 11 THEN text || ' rev2' ELSE text END AS text " +
      "FROM documents WHERE doc_id NOT IN (7, 207)), " +
      "od AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id NOT IN (3, 103)), " +
      Bpe.bpeCtes("nd").mkString(", ") + ", " +
      "tokso AS (SELECT doc_id, u.tok AS tok FROM od, unnest(string_split(text, ' ')) AS u(tok) WHERE u.tok <> ''), " +
      "aggo AS (SELECT t.doc_id AS doc_id, CAST(sum(a.n_sub) AS BIGINT) AS n_bpe " +
      "FROM tokso t JOIN app a ON t.tok = a.word GROUP BY t.doc_id), " +
      manifestCtes("n", "nd", "agg") + ", " +
      manifestCtes("o", "od", "aggo") + " " +
      "SELECT coalesce(mn.shard, mo.shard) AS shard, coalesce(mn.n_docs, 0) AS n_docs, " +
      "coalesce(mn.n_tokens, CAST(0 AS BIGINT)) AS n_tokens, " +
      s"coalesce((mn.n_tokens + ${cap - 1}) // $cap, 0) AS n_bins, mn.content_md5, " +
      "(mn.content_md5 IS DISTINCT FROM mo.content_md5) AS dirty " +
      "FROM mn mn FULL JOIN mo mo ON mo.shard = mn.shard"
  }

  /** Corpus snapshot diff — the versioning pass a continuously-ingested
    * corpus runs between snapshots: per doc_id, `added` / `removed` /
    * `changed` (content md5 moved) / `unchanged`. ONE full-outer
    * equi-join on the id; content hashes are row-local projections. At
    * 100 TB both snapshots live in the doc_id-bucketed layout
    * (`sink_bucketed`), so the diff joins bucket-to-bucket with zero
    * exchange. The gate config derives two synthetic snapshots from
    * the one documents table (old = id % 7 ≠ 0, new = id % 5 ≠ 0 with
    * id % 3 = 0 docs edited) so every status arm is exercised.
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val a = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"))
    val b = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged")
          .as("status")
      )
  }

  def corpusDiffGate(docs: DataFrame): DataFrame = corpusDiff(
    docs.filter(col("doc_id") % 7 =!= 0),
    docs
      .filter(col("doc_id") % 5 =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))
          .as("text")
      )
  )

  val corpusDiffSql: String =
    "WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 7 <> 0), " +
      "b AS (SELECT doc_id, md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS h_new " +
      "FROM documents WHERE doc_id % 5 <> 0) " +
      "SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, " +
      "CASE WHEN a.h_old IS NULL THEN 'added' WHEN b.h_new IS NULL THEN 'removed' " +
      "WHEN a.h_old <> b.h_new THEN 'changed' ELSE 'unchanged' END AS status " +
      "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id"

  /** DoReMi-style domain reweighting (Xie et al. 2023, arXiv
    * 2305.10429) in its deterministic one-round form: the mixture
    * optimizer's exponentiated-gradient update, driven by each
    * domain's EXCESS loss over the corpus-wide reference — here the
    * per-token NLL under the corpus unigram LM (the engine's own
    * `unigramLogProb` proxy; the published method uses a small proxy
    * model, the UPDATE RULE is what this operator implements):
    *
    *   w_s ∝ base_s · exp(η · max(0, loss_s − loss_ref)),  base_s =
    *   token share — domains the reference model finds HARDER than
    *   average get upweighted, at-or-below-average domains keep their
    *   token-proportional base.
    *
    * Cross-engine float discipline (band_power_tc / sample_budget
    * pattern): per-doc log-prob sums quantize ONCE to integer micros,
    * per-source sums run over exact BIGINTs, loss/excess/exp evaluate
    * on those integers in one identical expression tree (libm last-ulp
    * class under round6), and the normalization quantizes each
    * unnormalized weight to micros before the integer wsum. RESIDUAL
    * hazard (r16 advice, shared verbatim with `unigramLogProb`): the
    * per-doc `sum(log …)` itself is a float sum whose accumulation
    * order neither engine fixes, so a last-ulp shift could flip the
    * micro-quantization on an exact half boundary — a fully order-free
    * form needs per-TOKEN micro-quantization (a semantics + oracle
    * change). Mitigation is the standing CLAUDE.md cadence: this query
    * rides every full sf0.1 sweep; all per-source sums PAST the
    * quantization are exact. Two constant-key 1-row
    * totals joins (the bm25/sample_budget broadcast shape, PlanAudit
    * allowlisted). Scale shape: one token-keyed aggregation + one
    * doc-keyed aggregation + source-row arithmetic — dedup_exact
    * class at any corpus size.
    */
  def mixDoremi(docs: DataFrame, eta: Double = 100.0): DataFrame = {
    val scored = doremiScored(docs, eta)
    val ws = scored.agg(sum(col("u6")).as("wsum")).withColumn("k", lit(1))
    scored
      .withColumn("k", lit(1))
      .join(broadcast(ws), Seq("k"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tok"),
        Dsp.round6(col("loss")).as("loss"),
        Dsp.round6(col("excess")).as("excess"),
        Dsp.round6(col("u6").cast("double") / col("wsum").cast("double")).as("mix_weight")
      )
  }

  /** The DoReMi chain through the EXACT integer unnormalized weight
    * `u6` (micros) — shared by [[mixDoremi]]'s normalized view and
    * [[mixSchedule]]'s integer quota arithmetic.
    */
  private def doremiScored(docs: DataFrame, eta: Double = 100.0): DataFrame = {
    val toks = TextStats.tokens(docs).select(col("doc_id"), col("tok"))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("ctf"))
    val tot = tf.agg(sum(col("ctf")).as("ntok")).withColumn("k", lit(1))
    val perDoc = toks
      .join(tf, Seq("tok"))
      .withColumn("k", lit(1))
      .join(broadcast(tot), Seq("k"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok_d"),
        floor(sum(log(col("ctf") / col("ntok"))) * 1e6 + 0.5).cast("long").as("lp6")
      )
    // checkpoint BEFORE the fan-out: perSrc feeds the totals aggregate
    // AND the scored rows (components() rule) — ≤ sources rows
    val perSrc = perDoc
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok_d")).as("n_tok"),
        sum(col("lp6")).as("lp6_s")
      )
      .localCheckpoint()
    val tot2 = perSrc
      .agg(sum(col("n_tok")).as("ntok_tot"), sum(col("lp6_s")).as("lp6_tot"))
      .withColumn("k", lit(1))
    val scored = perSrc
      .withColumn("k", lit(1))
      .join(broadcast(tot2), Seq("k"))
      .withColumn("loss", -(col("lp6_s") / lit(1e6)) / col("n_tok"))
      .withColumn("ref_loss", -(col("lp6_tot") / lit(1e6)) / col("ntok_tot"))
      .withColumn("excess", greatest(lit(0.0), col("loss") - col("ref_loss")))
      .withColumn(
        "u6",
        floor((col("n_tok") / col("ntok_tot")) * exp(lit(eta) * col("excess")) * 1e6 + 0.5)
          .cast("long")
      )
      .localCheckpoint()
    scored
  }

  /** Deterministic weighted-interleave LOADER ORDER — the consumer of
    * [[mixDoremi]]'s weights: the schedule a data loader replays to
    * realize the optimized mixture over actual shard files. Exact
    * integer arithmetic end to end (no RNG, no float ordering):
    *
    *  1. per-source step quotas over `nSteps` by LARGEST REMAINDER on
    *     the integer weights (q_s sums to nSteps exactly; remainder
    *     ties break on source name — and the rank is an S²-row
    *     self-join over the ≤sources-row frame, not a global window);
    *  2. each source cycles its docs in md5 order (corpus_shard's key)
    *     with explicit `epoch` wraparound — a small high-weight source
    *     is UPSAMPLED across epochs, the standard loader semantics;
    *  3. the global order key `ord` = ((2k−1)·10¹²) div (2q_s) places
    *     source s's k-th draw at its exact fractional position — the
    *     balanced interleave (sorting by (ord, source, k) yields the
    *     training order; no global step window, so the order is
    *     cluster-parallel by construction).
    *
    * Scale shape: quota arithmetic on an S-row frame, one per-source
    * rank window over the corpus, one explode bounded by nSteps, one
    * (source, pos) equi-join. At production nSteps is the training
    * step budget; everything stays keyed or bounded.
    */
  val mixScheduleSteps = 240

  def mixSchedule(docs: DataFrame, nSteps: Int = mixScheduleSteps): DataFrame =
    mixScheduleFrom(docs, doremiScored(docs).select(col("source"), col("u6")), nSteps)

  /** Schedule core over explicit integer weights (source, u6 > 0). */
  def mixScheduleFrom(docs: DataFrame, weights: DataFrame, nSteps: Int): DataFrame = {
    val wt = weights.agg(sum(col("u6")).as("wsum")).withColumn("j", lit(1))
    val q0 = weights
      .withColumn("j", lit(1))
      .join(broadcast(wt), Seq("j"))
      .select(
        col("source"),
        expr(s"($nSteps * u6) div wsum").as("base"),
        expr(s"($nSteps * u6) % wsum").as("rem")
      )
      .localCheckpoint() // deficit agg + rank self-join (both sides)
    val bs = q0.agg(sum(col("base")).as("bsum")).withColumn("j", lit(1))
    // rank-by-remainder WITHOUT a global window (GlobalWindowCheck):
    // ahead = how many sources out-rank me — an S²-row self-join
    val ahead = q0
      .as("a")
      .join(
        q0.select(col("rem").as("b_rem"), col("source").as("b_source")),
        col("b_rem") > col("rem") || (col("b_rem") === col("rem") && col("b_source") < col("source")),
        "left"
      )
      .groupBy(col("source"), col("base"), col("rem"))
      .agg(count(col("b_source")).as("ahead"))
    val q = ahead
      .withColumn("j", lit(1))
      .join(broadcast(bs), Seq("j"))
      .select(
        col("source"),
        (col("base") + when(col("ahead") < lit(nSteps.toLong) - col("bsum"), 1L).otherwise(0L))
          .as("q")
      )
      .filter(col("q") > 0)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val ranked = docs.select(
      col("source"),
      col("doc_id"),
      (row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      ) - 1).cast("long").as("pos")
    )
    q.select(col("source"), col("q"), explode(sequence(lit(1L), col("q"))).as("k"))
      .join(counts, Seq("source"))
      .select(
        col("source"),
        col("k"),
        expr("(k - 1) % n_s").as("pos"),
        expr("(k - 1) div n_s").as("epoch"),
        expr("((2 * k - 1) * 1000000000000) div (2 * q)").as("ord")
      )
      .join(ranked, Seq("source", "pos"))
      .select(col("source"), col("k"), col("epoch"), col("ord"), col("doc_id"))
  }

  def mixScheduleSql(nSteps: Int = mixScheduleSteps): String =
    s"WITH ${doremiCtes()}, " +
      "w AS MATERIALIZED (SELECT source, u6 FROM sc), " +
      "wt AS (SELECT CAST(sum(u6) AS BIGINT) AS wsum FROM w), " +
      s"q0 AS MATERIALIZED (SELECT source, ($nSteps * u6) // wsum AS base, ($nSteps * u6) % wsum AS rem FROM w, wt), " +
      "bs AS (SELECT CAST(sum(base) AS BIGINT) AS bsum FROM q0), " +
      "rk AS (SELECT a.source AS source, a.base AS base, count(b.source) AS ahead FROM q0 a " +
      "LEFT JOIN q0 b ON (b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source)) " +
      "GROUP BY a.source, a.base, a.rem), " +
      s"qq AS MATERIALIZED (SELECT source, base + CASE WHEN ahead < $nSteps - bsum THEN 1 ELSE 0 END AS q " +
      "FROM rk, bs), " +
      "cnt AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source), " +
      "rkd AS MATERIALIZED (SELECT source, doc_id, " +
      "row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos " +
      "FROM documents), " +
      s"ks AS (SELECT source, q, g.k AS k FROM qq, generate_series(1, $nSteps) g(k) WHERE q > 0 AND g.k <= q), " +
      "sched AS (SELECT ks.source AS source, k, (k - 1) % n_s AS pos, (k - 1) // n_s AS epoch, " +
      "((2 * k - 1) * 1000000000000) // (2 * q) AS ord FROM ks JOIN cnt ON cnt.source = ks.source) " +
      "SELECT s.source, s.k AS k, s.epoch, s.ord, r.doc_id " +
      "FROM sched s JOIN rkd r ON r.source = s.source AND r.pos = s.pos"

  /** The doremi CTE chain through `sc` (exact integer u6 weights) and
    * `ws` (their sum) — shared by the mix_doremi and mix_schedule
    * oracles.
    */
  private def doremiCtes(eta: Double = 100.0): String = {
    val e = Dsp.lit(eta)
    val lossE = "-(lp6_s / 1.0e6) / n_tok"
    val refE = "-(lp6_tot / 1.0e6) / ntok_tot"
    val excessE = s"greatest(0.0e0, $lossE - ($refE))"
    s"${TextStats.tokensSql}, " +
      "tf AS MATERIALIZED (SELECT tok, count(*) AS ctf FROM tokens GROUP BY tok), " +
      "tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS ntok FROM tf), " +
      "perdoc AS MATERIALIZED (SELECT doc_id, count(*) AS n_tok_d, " +
      "CAST(floor(sum(ln(ctf / ntok)) * 1.0e6 + 0.5e0) AS BIGINT) AS lp6 " +
      "FROM tokens t JOIN tf USING (tok), tot GROUP BY doc_id), " +
      "persrc AS MATERIALIZED (SELECT d.source, count(*) AS n_docs, " +
      "CAST(sum(p.n_tok_d) AS BIGINT) AS n_tok, CAST(sum(p.lp6) AS BIGINT) AS lp6_s " +
      "FROM perdoc p JOIN documents d USING (doc_id) GROUP BY d.source), " +
      "tot2 AS (SELECT CAST(sum(n_tok) AS BIGINT) AS ntok_tot, " +
      "CAST(sum(lp6_s) AS BIGINT) AS lp6_tot FROM persrc), " +
      s"sc AS MATERIALIZED (SELECT source, n_docs, n_tok, $lossE AS loss, $excessE AS excess, " +
      s"CAST(floor((n_tok / ntok_tot) * exp($e * ($excessE)) * 1.0e6 + 0.5e0) AS BIGINT) AS u6 " +
      "FROM persrc, tot2), " +
      "ws AS (SELECT CAST(sum(u6) AS BIGINT) AS wsum FROM sc)"
  }

  def mixDoremiSql(eta: Double = 100.0): String =
    s"WITH ${doremiCtes(eta)} " +
      s"SELECT source, n_docs, n_tok, ${Dsp.round6Sql("loss")} AS loss, " +
      s"${Dsp.round6Sql("excess")} AS excess, " +
      s"${Dsp.round6Sql("u6 / wsum")} AS mix_weight FROM sc, ws"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_diff" -> { (s, dir) => corpusDiffGate(Tables.documents(s, dir)) },
    "curate_llm" -> { (s, dir) => curateLlm(Tables.documents(s, dir)) },
    // export_manifest's gate retired r17 (budget review): export_verify's
    // oracle IS the manifest SQL + a constant ok — a drift anywhere in
    // the manifest chain moves export_verify's hash, and the verify gate
    // additionally pins the physical file round-trip
    "export_manifest_inc" -> { (s, dir) => exportManifestIncGate(s, dir) },
    "export_verify" -> { (s, dir) => exportVerifyGate(s, dir) },
    "text_c4_clean" -> { (s, dir) => c4Clean(Tables.documents(s, dir)) },
    "text_html_extract" -> { (s, dir) => htmlExtract(Tables.documents(s, dir)) },
    "curate_license" -> { (s, dir) => licenseScreen(Tables.documents(s, dir)) },
    "corpus_shard" -> { (s, dir) => corpusShard(Tables.documents(s, dir)) },
    "sample_mix" -> { (s, dir) => sampleMix(Tables.documents(s, dir)) },
    "sample_budget" -> { (s, dir) => sampleBudget(Tables.documents(s, dir)) },
    "sample_draw" -> { (s, dir) => sampleDraw(Tables.documents(s, dir)) },
    "mix_doremi" -> { (s, dir) => mixDoremi(Tables.documents(s, dir)) },
    "mix_schedule" -> { (s, dir) => mixSchedule(Tables.documents(s, dir)) },
    "corpus_card" -> { (s, dir) => corpusCard(Tables.documents(s, dir)) },
    "sample_stratified" -> { (s, dir) => sampleStratified(Tables.documents(s, dir)) },
    "sample_weighted" -> { (s, dir) => sampleWeighted(Tables.documents(s, dir)) },
    "corpus_stats" -> { (s, dir) => corpusStats(Tables.documents(s, dir)) },
    "curate_splits" -> { (s, dir) =>
      curate(Tables.documents(s, dir))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), Dsp.round6(avg(col("quality"))).as("avg_quality"))
    },
    "curate_full" -> { (s, dir) => curateFull(Tables.documents(s, dir)) },
    "decontam" -> { (s, dir) => decontam(Tables.documents(s, dir)) }
  )

  private val qualityBaseSql: String =
    "base AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars, " +
      "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
      "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
      "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents), " +
      s"scored AS (SELECT doc_id, text, $qualitySql AS quality FROM base)"

  private val splitCaseSql: String =
    "CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train' " +
      "WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val' " +
      "ELSE 'test' END"

  /** SQL twin of [[curateFull]]: the standalone stages' CTE chains
    * composed — quality/keepers, the simhash pair chain re-rooted at
    * `kept`, the recursive transitive-min components, split
    * assignment, and the shingle-overlap decontam (the w=3 shingle
    * CTE reuses the kept-rooted `toks` the simhash chain already
    * built).
    */
  val curateFullSql: String = {
    val shinglesPart = {
      val s = TextStats.shinglesSql
      s.substring(s.indexOf("shingles AS"))
    }
    s"WITH RECURSIVE $qualityBaseSql, " +
      "kept AS MATERIALIZED (SELECT doc_id, text, quality FROM (SELECT doc_id, text, quality, " +
      "min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM scored WHERE quality >= 0.45e0) " +
      "WHERE doc_id = keep_id), " +
      Dedup.simhashPairsCtesFrom("kept") + ", " +
      "edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
      "reach AS (SELECT doc_id, doc_id AS anc FROM kept " +
      "UNION SELECT r.doc_id AS doc_id, e.dst AS anc FROM reach r JOIN edges e ON e.src = r.anc), " +
      "comp AS MATERIALIZED (SELECT doc_id, min(anc) AS comp_id FROM reach GROUP BY doc_id), " +
      "canon AS MATERIALIZED (SELECT k.doc_id, k.text, k.quality FROM kept k " +
      "JOIN comp c ON c.doc_id = k.doc_id AND c.comp_id = k.doc_id), " +
      s"assigned AS MATERIALIZED (SELECT doc_id, text, quality, $splitCaseSql AS split FROM canon), " +
      shinglesPart + ", " +
      "dsh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM shingles), " +
      "bsh AS MATERIALIZED (SELECT DISTINCT sh FROM dsh JOIN assigned a USING (doc_id) WHERE a.split = 'test'), " +
      "contam AS (SELECT DISTINCT d.doc_id FROM dsh d " +
      "JOIN assigned a ON a.doc_id = d.doc_id AND a.split = 'train' JOIN bsh b ON b.sh = d.sh) " +
      s"SELECT split, count(*) AS n_docs, ${Dsp.round6Sql("avg(quality)")} AS avg_quality " +
      "FROM assigned WHERE doc_id NOT IN (SELECT doc_id FROM contam) GROUP BY split"
  }

  def oracleSql: Map[String, String] = Map(
    "corpus_diff" -> corpusDiffSql,
    "curate_llm" -> curateLlmSql(),
    "export_manifest_inc" -> exportManifestIncSql(),
    "export_verify" -> exportVerifySql(),
    "text_c4_clean" -> c4CleanSql,
    "text_html_extract" -> htmlExtractSql,
    "curate_license" -> licenseScreenSql,
    "corpus_shard" -> corpusShardSql,
    "sample_mix" -> sampleMixSql(),
    "sample_budget" -> sampleBudgetSql(),
    "sample_draw" -> sampleDrawSql(),
    "mix_doremi" -> mixDoremiSql(),
    "mix_schedule" -> mixScheduleSql(),
    "corpus_card" -> corpusCardSql,
    "sample_stratified" -> sampleStratifiedSql(),
    "sample_weighted" -> sampleWeightedSql(),
    "corpus_stats" -> corpusStatsSql,
    "curate_full" -> curateFullSql,
    "curate_splits" ->
      ("WITH base AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n_chars, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
        "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents), " +
        s"scored AS (SELECT doc_id, text, $qualitySql AS quality FROM base), " +
        "kept AS (SELECT doc_id, quality FROM (SELECT doc_id, quality, " +
        "min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM scored WHERE quality >= 0.45e0) " +
        "WHERE doc_id = keep_id), " +
        "assigned AS (SELECT doc_id, quality, CASE " +
        "WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train' " +
        "WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val' " +
        "ELSE 'test' END AS split FROM kept) " +
        s"SELECT split, count(*) AS n_docs, ${Dsp.round6Sql("avg(quality)")} AS avg_quality " +
        "FROM assigned GROUP BY split"),
    "decontam" ->
      (s"WITH ${TextStats.shinglesSql}, " +
        "dsh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM shingles), " +
        "sp AS MATERIALIZED (SELECT doc_id, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h100 FROM documents), " +
        "bsh AS (SELECT DISTINCT sh FROM dsh JOIN sp USING (doc_id) WHERE h100 >= 95) " +
        "SELECT d.doc_id, count(*) AS n_contam FROM dsh d " +
        "JOIN sp s ON s.doc_id = d.doc_id AND s.h100 < 90 " +
        "JOIN bsh b ON b.sh = d.sh GROUP BY d.doc_id")
  )
}
